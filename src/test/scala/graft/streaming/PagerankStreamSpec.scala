package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.betfair.SparkSpec
import graft.ops.TextOps

/** Streaming PageRank maintenance: per-batch edge deltas advanced by the
  * t145 touched-node overlay must serve BIT-exactly the full power
  * iteration over the accumulated graph — the stream ≡ batch identity,
  * here with the extra teeth that the served trajectory is the EXACT
  * fixed-depth trajectory, not an approximation. Also pins the
  * incremental write volume: a delta batch's first-iteration overlay
  * covers only the directly-perturbed nodes, never the corpus.
  */
class PagerankStreamSpec extends SparkSpec {

  test("streamed edge deltas serve the full-recompute trajectory") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val dir = Files.createTempDirectory("prstream").toString

    val docs = graft.Tables.documents(s, "/root/testdata/sf0.001")
      .select("doc_id").persist()
    val nodes = docs.collect().map(_.getLong(0)).sorted
    val nn = nodes.length.toLong

    // deterministic synthetic edges over the node set — exactness under
    // ANY edge set is the claim, so a simple affine index rule suffices
    def edge(i: Int, j: Int): (Long, Long) =
      (nodes(i), nodes(((i * 31 + j * 17 + 7) % nn).toInt))
    val batch1 = nodes.indices
      .flatMap(i => Seq(edge(i, 0), edge(i, 1)))
      .filter(e => e._1 != e._2).distinct
    // a small delta: two srcs gain a third outlink
    val batch2 = nodes.indices.filter(_ % 29 == 0).map(edge(_, 2))
      .filter(e => e._1 != e._2).distinct
    assert(batch2.exists(e => !batch1.contains(e)),
      "the delta batch must add at least one novel edge")

    val state = s"$dir/state"
    val mem = MemoryStream[(Long, Long)]
    val q = StreamOps.pagerankDeltaStream(s,
      mem.toDF().toDF("src", "dst"), docs, state)
    mem.addData(batch1: _*)
    q.processAllAvailable()
    mem.addData(batch2: _*)
    q.processAllAvailable()
    q.stop()

    val served = StreamOps.pagerankState(s, state)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getDouble(1)))

    // one-shot: the full power iteration over the union graph
    val union = (batch1 ++ batch2).distinct.toDF("src", "dst")
    val outdeg = union.groupBy("src").agg(count(lit(1)).as("outdeg"))
    var ranks = TextOps.prInit(docs, nn)
    for (_ <- 1 to TextOps.PrIters)
      ranks = TextOps.prStep(docs, ranks, union, outdeg, nn)
    val oneShot = ranks.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))

    assert(served.length == nn)
    assert(served.toSeq == oneShot.toSeq,
      "served ranks must equal the full recompute bit-exactly")

    // localization: the delta batch's first-iteration overlay holds only
    // the directly-perturbed nodes, a strict subset of the graph
    val ov1 = s.read.parquet(s"$state/pr/iter=1")
      .filter(col("batch") === 1).count()
    assert(ov1 > 0 && ov1 < nn,
      s"delta overlay must be node-local (got $ov1 of $nn)")
    // and the full build really did publish all nodes once
    assert(s.read.parquet(s"$state/pr/iter=${TextOps.PrIters}")
      .filter(col("batch") === 0).count() == nn)

    // compaction: each iteration collapses to ONE partition under the max
    // batch id, the served trajectory is unchanged, and a re-run is a
    // no-op rewrite
    StreamOps.compactPagerankState(s, state)
    StreamOps.compactPagerankState(s, state)
    for (i <- 1 to TextOps.PrIters) {
      val parts = new java.io.File(s"$state/pr/iter=$i")
        .listFiles.filter(_.getName.startsWith("batch=")).map(_.getName)
      assert(parts.toSeq == Seq("batch=1"),
        s"iter $i must hold exactly the max-batch partition, got ${parts.toSeq}")
    }
    val servedC = StreamOps.pagerankState(s, state)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(servedC.toSeq == oneShot.toSeq,
      "compaction must not change the served trajectory")
    docs.unpersist()
  }

  test("edge compaction: read barrier, bucket-pruned novelty, no state exchange") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val dir = Files.createTempDirectory("predges").toString
    s.sql("DROP TABLE IF EXISTS g_pr_edges_spec_v1")
    s.sql("DROP TABLE IF EXISTS g_pr_edges_spec_v2")

    val docs = graft.Tables.documents(s, "/root/testdata/sf0.001")
      .select("doc_id").persist()
    val nodes = docs.collect().map(_.getLong(0)).sorted
    val nn = nodes.length.toLong
    def edge(i: Int, j: Int): (Long, Long) =
      (nodes(i), nodes(((i * 13 + j * 41 + 3) % nn).toInt))
    val batch1 = nodes.indices
      .flatMap(i => Seq(edge(i, 0), edge(i, 1)))
      .filter(e => e._1 != e._2).distinct
    val batch2 = nodes.indices.filter(_ % 23 == 0).map(edge(_, 2))
      .filter(e => e._1 != e._2).distinct.filter(!batch1.contains(_))
    val batch3 = nodes.indices.filter(_ % 31 == 0).map(edge(_, 3))
      .filter(e => e._1 != e._2).distinct
      .filter(e => !batch1.contains(e) && !batch2.contains(e))
    assert(batch2.nonEmpty && batch3.nonEmpty)

    val state = s"$dir/state"
    val mem = MemoryStream[(Long, Long)]
    val q = StreamOps.pagerankDeltaStream(s,
      mem.toDF().toDF("src", "dst"), docs, state)
    mem.addData(batch1: _*)
    q.processAllAvailable()
    mem.addData(batch2: _*)
    q.processAllAvailable()

    // maintenance at a quiescent point: generation v=1 absorbs batches 0,1
    StreamOps.compactPagerankEdges(s, state, "g_pr_edges_spec")
    val v1 = StreamOps.prEdgeVersion(s, state)
    assert(v1.exists(_._1 == 1L), s"expected generation 1, got $v1")
    assert(v1.exists(_._2 == "g_pr_edges_spec_v1"))

    // a delta batch arriving AFTER compaction must serve exactly the
    // full recompute over the union graph
    mem.addData(batch3: _*)
    q.processAllAvailable()
    q.stop()
    val union = (batch1 ++ batch2 ++ batch3).distinct.toDF("src", "dst")
    val outdeg = union.groupBy("src").agg(count(lit(1)).as("outdeg"))
    var ranks = TextOps.prInit(docs, nn)
    for (_ <- 1 to TextOps.PrIters)
      ranks = TextOps.prStep(docs, ranks, union, outdeg, nn)
    val oneShot = ranks.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val served = StreamOps.pagerankState(s, state)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(served.toSeq == oneShot.toSeq,
      "post-compaction delta must serve the full-recompute trajectory")

    // plan shape of a post-compaction delta batch's novelty probe: the
    // batch's srcs bucket-prune the compacted scan, and NO shuffle
    // exchange moves the accumulated edge state (the only allowed
    // shuffle is over the batch's own rows)
    val probeBatch = Seq(edge(1, 4), edge(5, 4)).toDF("src", "dst")
    val delta = StreamOps.prNoveltyDelta(s, probeBatch, state, 99L)
    delta.collect()
    val dplan = delta.queryExecution.executedPlan
    val dnodes = graft.PlanWalk.allNodesThroughCaches(dplan)
    // the prior view is persist()ed so the broadcast-gate count and the
    // anti-join share ONE evaluation of the pruned scan — the join plan
    // must read it through an InMemoryTableScan, and the bucket-pruned
    // compacted scan lives in that cache's build plan
    assert(dnodes.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.columnar.InMemoryTableScanExec]),
      s"the prior view must be cached (one evaluation per batch):\n$dplan")
    assert(dnodes.exists {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.bucketedScan && f.toString.contains("SelectedBucketsCount")
      case _ => false
    }, s"novelty probe must bucket-prune the compacted edge table:\n$dplan")
    // a shuffle is offending only if edge-state ROWS flow through it —
    // a state scan below a broadcast inside the subtree is shipped as a
    // broadcast variable, not moved by the shuffle
    val edgeStateShuffles = dnodes
      .collect { case e: org.apache.spark.sql.execution.exchange
        .ShuffleExchangeExec => e }
      .filter(e => graft.PlanWalk.nonBroadcastNodes(e).exists {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.rootPaths.exists(_.toString.contains("/edges"))
        case _ => false
      })
    assert(edgeStateShuffles.isEmpty,
      s"the accumulated edge state must never be exchanged:\n$dplan")

    // served outdegree comes from the mergeable count state — its plan
    // never reads an edge row, and its values match a recompute
    val od = StreamOps.prServedOutdeg(s, state)
    val odRows = od.orderBy("src").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val odPlan = od.queryExecution.executedPlan
    assert(!graft.PlanWalk.allNodes(odPlan).exists {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.exists(_.toString.contains("/edges"))
      case _ => false
    }, s"outdegree must merge count partials, not re-scan edges:\n$odPlan")
    val odExpect = union.groupBy("src").agg(count(lit(1)).as("outdeg"))
      .orderBy("src").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(odRows.toSeq == odExpect.toSeq)

    // second compaction: absorbs batch 2, retires partitions <= v1 but
    // KEEPS generation v1 on disk for readers that pinned it
    StreamOps.compactPagerankEdges(s, state, "g_pr_edges_spec")
    val v2 = StreamOps.prEdgeVersion(s, state)
    assert(v2.exists(_._1 == 2L))
    val leftover = new java.io.File(s"$state/edges")
      .listFiles.filter(_.getName.startsWith("batch=")).map(_.getName).toSeq
    assert(leftover == Seq("batch=2"),
      s"partitions <= v1 must be retired, got $leftover")
    assert(new java.io.File(s"$state/edgesc/v=1").exists,
      "the pinned-reader generation must survive one cycle")
    // idempotence: nothing new ingested => a re-run is a no-op
    StreamOps.compactPagerankEdges(s, state, "g_pr_edges_spec")
    assert(StreamOps.prEdgeVersion(s, state).exists(_._1 == 2L))
    // served trajectory unchanged through both compactions
    val served2 = StreamOps.pagerankState(s, state)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(served2.toSeq == oneShot.toSeq)

    docs.unpersist()
    graft.ops.CacheRegistry.harness.release()
    s.sql("DROP TABLE IF EXISTS g_pr_edges_spec_v1")
    s.sql("DROP TABLE IF EXISTS g_pr_edges_spec_v2")
  }

  test("tiered edge compaction: minor absorbs only new partitions, major bounds the tier") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val dir = Files.createTempDirectory("prtier").toString
    (1 to 5).foreach(v => s.sql(s"DROP TABLE IF EXISTS g_pr_tier_spec_v$v"))

    val docs = graft.Tables.documents(s, "/root/testdata/sf0.001")
      .select("doc_id").persist()
    val nodes = docs.collect().map(_.getLong(0)).sorted
    val nn = nodes.length.toLong
    def edge(i: Int, j: Int): (Long, Long) =
      (nodes(i), nodes(((i * 19 + j * 53 + 11) % nn).toInt))
    val batches = Seq(
      nodes.indices.flatMap(i => Seq(edge(i, 0), edge(i, 1))),
      nodes.indices.filter(_ % 17 == 0).map(edge(_, 2)),
      nodes.indices.filter(_ % 19 == 0).map(edge(_, 3)),
      nodes.indices.filter(_ % 23 == 0).map(edge(_, 4)),
      nodes.indices.filter(_ % 29 == 0).map(edge(_, 5)),
      nodes.indices.filter(_ % 31 == 0).map(edge(_, 6)))
      .map(_.filter(e => e._1 != e._2).distinct)
    val state = s"$dir/state"
    val mem = MemoryStream[(Long, Long)]
    val q = StreamOps.pagerankDeltaStream(s,
      mem.toDF().toDF("src", "dst"), docs, state)
    def oneShot(upTo: Int): Seq[(Long, Double)] = {
      val union = batches.take(upTo).flatten.distinct.toDF("src", "dst")
      val outdeg = union.groupBy("src").agg(count(lit(1)).as("outdeg"))
      var ranks = TextOps.prInit(docs, nn)
      for (_ <- 1 to TextOps.PrIters)
        ranks = TextOps.prStep(docs, ranks, union, outdeg, nn)
      ranks.orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    }
    def served(): Seq[(Long, Double)] =
      StreamOps.pagerankState(s, state).orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq

    mem.addData(batches(0): _*); q.processAllAvailable()
    mem.addData(batches(1): _*); q.processAllAvailable()
    // first compaction: major by construction (no prior), absorbs 0-1
    StreamOps.compactPagerankEdges(s, state, "g_pr_tier_spec")
    assert(StreamOps.prLiveEdgeGens(s, state).map(g =>
      (g.version, g.major)) == Seq((1L, true)))

    mem.addData(batches(2): _*); q.processAllAvailable()
    val batch2Novel = s.read.parquet(s"$state/edges")
      .filter(col("batch") === 2).count()
    assert(batch2Novel > 0)
    // MINOR compaction: generation 2 holds ONLY the absorbed partition's
    // rows — write volume proportional to the delta, never the graph
    StreamOps.compactPagerankEdges(s, state, "g_pr_tier_spec")
    val gens2 = StreamOps.prLiveEdgeGens(s, state)
    assert(gens2.map(g => (g.version, g.major)) ==
      Seq((1L, true), (2L, false)), s"got $gens2")
    assert(s.table("g_pr_tier_spec_v2").count() == batch2Novel,
      "a minor generation must hold only the partitions it absorbed")
    assert(s.table("g_pr_tier_spec_v1").count() > batch2Novel)

    // a post-minor delta batch serves the full recompute, and its
    // novelty probe bucket-prunes EVERY live generation with no
    // edge-state exchange
    mem.addData(batches(3): _*); q.processAllAvailable()
    assert(served() == oneShot(4),
      "post-minor-compaction delta must serve the full recompute")
    val probeBatch = Seq(edge(2, 6), edge(7, 6)).toDF("src", "dst")
    val delta = StreamOps.prNoveltyDelta(s, probeBatch, state, 99L)
    delta.collect()
    val dnodes = graft.PlanWalk.allNodesThroughCaches(
      delta.queryExecution.executedPlan)
    val prunedScans = dnodes.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.bucketedScan && f.toString.contains("SelectedBucketsCount") => f
    }
    assert(prunedScans.length == 2,
      s"both live generations must serve bucket-pruned, got ${prunedScans.length}")
    assert(!dnodes.exists {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        graft.PlanWalk.nonBroadcastNodes(e).exists {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.relation.location.rootPaths.exists(
              _.toString.contains("/edges"))
          case _ => false
        }
      case _ => false
    }, "the accumulated edge state must never be exchanged")
    graft.ops.CacheRegistry.harness.release()

    // MAJOR compaction: one generation absorbs the whole read set;
    // superseded generations stay on disk for their grace cycle
    StreamOps.compactPagerankEdges(s, state, "g_pr_tier_spec",
      major = true)
    assert(StreamOps.prLiveEdgeGens(s, state).map(g =>
      (g.version, g.major)) == Seq((3L, true)))
    assert(new java.io.File(s"$state/edgesc/v=1").exists &&
      new java.io.File(s"$state/edgesc/v=2").exists,
      "superseded generations must survive one cycle for pinned readers")
    assert(served() == oneShot(4))

    // next (minor) compaction retires what the major superseded
    mem.addData(batches(4): _*); q.processAllAvailable()
    StreamOps.compactPagerankEdges(s, state, "g_pr_tier_spec")
    assert(StreamOps.prLiveEdgeGens(s, state).map(g =>
      (g.version, g.major)) == Seq((3L, true), (4L, false)))
    assert(!new java.io.File(s"$state/edgesc/v=1").exists &&
      !new java.io.File(s"$state/edgesc/v=2").exists,
      "generations superseded a full cycle ago must be retired")
    assert(served() == oneShot(5),
      "the tiered lifecycle must keep serving the full recompute")

    // the maxGens backstop: a minor that would push the live set past
    // the cap upgrades itself to a major — bounded read set without
    // operator discipline
    mem.addData(batches(5): _*); q.processAllAvailable()
    q.stop()
    StreamOps.compactPagerankEdges(s, state, "g_pr_tier_spec",
      maxGens = 2)
    assert(StreamOps.prLiveEdgeGens(s, state).map(g =>
      (g.version, g.major)) == Seq((5L, true)),
      "exceeding maxGens must auto-upgrade the minor to a major")
    assert(served() == oneShot(6))
    docs.unpersist()
    (1 to 5).foreach(v => s.sql(s"DROP TABLE IF EXISTS g_pr_tier_spec_v$v"))
  }

  test("HITS rebuild consumes the maintained edge state") {
    // the shared edge infrastructure is "what either centrality's
    // rebuild reads": HITS served from the compacted state (generations
    // + uncompacted partitions) must equal the in-query trajectory over
    // the same edge set — across a compaction, so both layout kinds feed
    // the rebuild
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val dir = Files.createTempDirectory("hitsstate").toString
    s.sql("DROP TABLE IF EXISTS g_pr_hits_spec_v1")

    val docs = graft.Tables.documents(s, "/root/testdata/sf0.001")
      .select("doc_id").persist()
    val nodes = docs.collect().map(_.getLong(0)).sorted
    val nn = nodes.length.toLong
    def edge(i: Int, j: Int): (Long, Long) =
      (nodes(i), nodes(((i * 37 + j * 29 + 5) % nn).toInt))
    val batch1 = nodes.indices
      .flatMap(i => Seq(edge(i, 0), edge(i, 1)))
      .filter(e => e._1 != e._2).distinct
    val batch2 = nodes.indices.filter(_ % 13 == 0).map(edge(_, 2))
      .filter(e => e._1 != e._2).distinct

    val state = s"$dir/state"
    val mem = MemoryStream[(Long, Long)]
    val q = StreamOps.pagerankDeltaStream(s,
      mem.toDF().toDF("src", "dst"), docs, state)
    mem.addData(batch1: _*); q.processAllAvailable()
    StreamOps.compactPagerankEdges(s, state, "g_pr_hits_spec")
    mem.addData(batch2: _*); q.processAllAvailable()
    q.stop()

    val union = (batch1 ++ batch2).distinct.toDF("src", "dst")
    val expected = TextOps.hitsOverEdges(s, docs, union, nn)
      .collect().map(_.toSeq).toSeq
    graft.ops.CacheRegistry.harness.release()
    val served = StreamOps.hitsFromEdgeState(s, state, docs)
      .collect().map(_.toSeq).toSeq
    graft.ops.CacheRegistry.harness.release()
    assert(served == expected,
      "state-served HITS must equal the in-query trajectory")
    docs.unpersist()
    s.sql("DROP TABLE IF EXISTS g_pr_hits_spec_v1")
  }

  test("a batch replaying at or below the compacted generation fails fast") {
    // the quiescent-point contract, ENFORCED: if compaction absorbed a
    // batch whose streaming checkpoint had not committed, the replayed
    // batch would find its edges already in the compacted generation,
    // compute an empty delta, and silently skip its overlays. The sink
    // must fail the query instead. Simulated by a fresh stream (first
    // batch id 0) against a state pinning generation v=5.
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val dir = Files.createTempDirectory("prguard").toString
    val state = s"$dir/state"
    new java.io.File(s"$state/edgesc").mkdirs()
    val ok = new java.io.PrintWriter(s"$state/edgesc/v=5.ok")
    ok.print("g_pr_guard_spec_v5"); ok.close()
    val docs = Seq(1L, 2L, 3L).toDF("doc_id")
    val mem = MemoryStream[(Long, Long)]
    val q = StreamOps.pagerankDeltaStream(s,
      mem.toDF().toDF("src", "dst"), docs, state)
    mem.addData((1L, 2L))
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: chain(t.getCause)
    assert(chain(ex).exists(c =>
      c.isInstanceOf[IllegalStateException] &&
        c.getMessage.contains("replayed at or below")),
      s"expected the compaction-overrun guard, got: $ex")
    q.stop()
  }

  test("edge compaction retires outdeg partials and outdegc generations one cycle late") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val dir = Files.createTempDirectory("prretire").toString
    val state = s"$dir/state"
    val base = "g_pr_retire_spec"
    (0 to 5).foreach(v => s.sql(s"DROP TABLE IF EXISTS ${base}_v$v"))
    val docs = (1L to 40L).toDF("doc_id").persist()
    def batchesOn(side: String): Seq[Long] =
      new java.io.File(s"$state/$side").listFiles.map(_.getName)
        .filter(_.startsWith("batch=")).map(_.stripPrefix("batch=").toLong)
        .toSeq.sorted
    def sidesOn(): Seq[Seq[Long]] = Seq("edges", "outdeg").map(batchesOn)
    def genOnDisk(v: Long): Seq[Boolean] =
      Seq(new java.io.File(s"$state/edgesc/v=$v").exists,
        new java.io.File(s"$state/edgesc/v=$v.ok").exists,
        new java.io.File(s"$state/outdegc/v=$v").exists,
        s.catalog.tableExists(s"${base}_v$v"))
    val mem = MemoryStream[(Long, Long)]
    val q = StreamOps.pagerankDeltaStream(s,
      mem.toDF().toDF("src", "dst"), docs, state)
    // every batch carries edges no earlier batch had, so each publishes
    def ingest(b: Int): Unit = {
      mem.addData((1L to 40L).filter(_ % 6 == b).map(i =>
        (i, (i + b + 1) % 40 + 1)): _*)
      q.processAllAvailable()
    }

    ingest(0); ingest(1)
    StreamOps.compactPagerankEdges(s, state, base)
    assert(sidesOn() == Seq(Seq(0L, 1L), Seq(0L, 1L)),
      "the first generation has no earlier frontier: nothing retires")
    ingest(2)
    StreamOps.compactPagerankEdges(s, state, base)
    assert(sidesOn() == Seq(Seq(2L), Seq(2L)),
      "major -> minor retires both sides at or below v=1 only")
    ingest(3)
    StreamOps.compactPagerankEdges(s, state, base)
    assert(StreamOps.prEdgeGens(s, state).map(_.major) ==
      Seq(true, false, false))
    assert(sidesOn() == Seq(Seq(3L), Seq(3L)),
      "minor -> minor retires both sides at or below v=2 only")

    // a major supersedes v=1..3; they stay for one cycle
    ingest(4)
    StreamOps.compactPagerankEdges(s, state, base, major = true)
    (1L to 3L).foreach(v => assert(genOnDisk(v).forall(identity),
      s"generation v=$v must survive the cycle that superseded it"))
    // the next minor retires edgesc, its sentinel, outdegc and the table
    ingest(5)
    StreamOps.compactPagerankEdges(s, state, base)
    (1L to 3L).foreach(v => assert(!genOnDisk(v).exists(identity),
      s"superseded generation v=$v must be retired, got ${genOnDisk(v)}"))
    assert(genOnDisk(4L).forall(identity) && genOnDisk(5L).forall(identity))
    assert(sidesOn() == Seq(Seq(5L), Seq(5L)))
    q.stop()
    docs.unpersist()
    graft.ops.CacheRegistry.harness.release()
    (0 to 5).foreach(v => s.sql(s"DROP TABLE IF EXISTS ${base}_v$v"))
  }
}
