package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.betfair.SparkSpec
import graft.ops.TextOps

/** The second tiered append-only state: the URL keeper state's
  * minor/major generations must serve the one-shot d93-shape keeper
  * state over every document ever ingested at every lifecycle point —
  * across minor compactions (whose write volume must be the ABSORBED
  * batches' own merged rows, not the corpus), an uncompacted tail batch,
  * a major fold, and the auto-major upgrade at maxGens. The bounded
  * keeper lookup must probe every generation bucket-pruned, and a batch
  * replaying under a compacted generation must fail fast (the enforced
  * quiescent contract, shared with the PageRank sink).
  */
class UrlStateStreamSpec extends SparkSpec {

  test("tiered URL keeper state serves the one-shot across minor/major") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val dir = Files.createTempDirectory("urlstate").toString
    val state = s"$dir/state"
    val corpus = graft.Tables.documents(s, "/root/testdata/sf0.001")
      .select(col("doc_id"),
        TextOps.syntheticUrl(col("doc_id"), col("source")).as("url"))
      .as[(Long, String)].collect().toSeq

    def oneShot(sofar: Seq[(Long, String)]): Seq[(String, Long, Long)] =
      sofar.toDF("doc_id", "url")
        .select(col("doc_id"),
          TextOps.canonicalizeUrl(col("url")).as("canon_url"))
        .groupBy("canon_url")
        .agg(min("doc_id").as("keeper_id"), count(lit(1)).as("n_docs"))
        .orderBy("canon_url").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    def served(): Seq[(String, Long, Long)] =
      StreamOps.urlKeeperState(s, state).orderBy("canon_url").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    def mergedRowsOf(b: Seq[(Long, String)]): Long =
      b.toDF("doc_id", "url")
        .select(TextOps.canonicalizeUrl(col("url")).as("c"))
        .distinct().count()

    val mem = MemoryStream[(Long, String)]
    val q = StreamOps.urlStateStream(s,
      mem.toDF().toDF("doc_id", "url"), state)
    val b1 = corpus.filter(_._1 % 3 == 0)
    val b2 = corpus.filter(_._1 % 3 == 1)
    val b3 = corpus.filter(_._1 % 3 == 2)

    mem.addData(b1: _*); q.processAllAvailable()
    StreamOps.compactUrlState(s, state, "url_keeper_spec")
    assert(served() == oneShot(b1),
      "the first (major-by-construction) generation must serve the one-shot")

    mem.addData(b2: _*); q.processAllAvailable()
    StreamOps.compactUrlState(s, state, "url_keeper_spec")
    val gens = StreamOps.stateGens(s, s"$state/urlsc")
    assert(gens.map(_.major) == Seq(true, false),
      s"expected major+minor, got $gens")
    // the tiering claim: the minor generation's write volume is the
    // absorbed batch's OWN merged rows, not a rewrite of the full state
    assert(s.table(gens.last.table).count() == mergedRowsOf(b2))
    assert(mergedRowsOf(b2) < served().size.toLong,
      "the minor must be strictly smaller than the full state")
    assert(served() == oneShot(b1 ++ b2),
      "major + minor must re-merge to the one-shot")
    // the pure-generation serve is exchange-free: each ladder step is a
    // co-bucketed full-outer join (both sides canon_url-bucketed+sorted)
    val serve2 = StreamOps.urlKeeperState(s, state)
    serve2.collect()
    val shuffles = graft.PlanWalk.allNodesThroughCaches(
      serve2.queryExecution.executedPlan).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        e
    }
    assert(shuffles.isEmpty,
      s"the generation merge must move nothing:\n" +
        serve2.queryExecution.executedPlan)
    // the mergeable-state point: some URL class spans both generations
    val n1 = oneShot(b1).map(r => r._1 -> r._3).toMap
    assert(oneShot(b1 ++ b2).exists(r =>
      n1.get(r._1).exists(prev => r._3 > prev)),
      "no URL class spans the two generations — weak test data")

    // an uncompacted tail batch rides above the generations
    mem.addData(b3: _*); q.processAllAvailable()
    assert(served() == oneShot(corpus),
      "generations + uncompacted batches must serve the one-shot")

    // bounded keeper lookup: every generation scan bucket-pruned at the
    // canonical-literal cut
    val someUrls = corpus.take(7).map(_._2)
    val probe = StreamOps.urlKeeperProbe(s, state, someUrls)
    val got = probe.orderBy("canon_url").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val canonSet = got.map(_._1).toSet
    assert(got == served().filter(r => canonSet.contains(r._1)),
      "the probe must agree with the full serve on the probed URLs")
    assert(got.nonEmpty)
    val pruned = graft.PlanWalk.allNodesThroughCaches(
      probe.queryExecution.executedPlan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.bucketedScan && f.toString.contains("SelectedBucketsCount") =>
        f.relation.location.rootPaths.head.toString
    }
    assert(pruned.count(_.contains("urlsc")) == 2,
      s"both generation scans must be bucket-pruned:\n" +
        probe.queryExecution.executedPlan)

    // major fold: one generation, same serve
    StreamOps.compactUrlState(s, state, "url_keeper_spec", major = true)
    val gens2 = StreamOps.stateGens(s, s"$state/urlsc")
    assert(StreamOps.liveGens(gens2).map(_.major) == Seq(true))
    assert(served() == oneShot(corpus),
      "the major fold must preserve the serve")

    // auto-major at maxGens: the next minor would exceed the cap, so the
    // run upgrades itself (enforced, not operator discipline)
    val b4 = (0 until 40).map(i =>
      (1000000L + i, s"http://late.example.com/p/${i % 10}"))
    mem.addData(b4: _*); q.processAllAvailable()
    StreamOps.compactUrlState(s, state, "url_keeper_spec", maxGens = 1)
    val live3 = StreamOps.liveGens(
      StreamOps.stateGens(s, s"$state/urlsc"))
    assert(live3.map(_.major) == Seq(true),
      s"maxGens=1 must force the auto-major upgrade, got $live3")
    assert(served() == oneShot(corpus ++ b4))
    q.stop()
    s.sql("SHOW TABLES").collect().map(_.getString(1))
      .filter(_.startsWith("url_keeper_spec"))
      .foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("a url batch replaying at or below the compacted generation fails fast") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val dir = Files.createTempDirectory("urlguard").toString
    val state = s"$dir/state"
    new java.io.File(s"$state/urlsc").mkdirs()
    val ok = new java.io.PrintWriter(s"$state/urlsc/v=5.ok")
    ok.print("url_guard_spec_v5"); ok.close()
    val mem = MemoryStream[(Long, String)]
    val q = StreamOps.urlStateStream(s,
      mem.toDF().toDF("doc_id", "url"), state)
    mem.addData((1L, "http://a.example.com/x"))
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

  test("url compaction retires absorbed batches and superseded generations one cycle late") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val dir = Files.createTempDirectory("urlretire").toString
    val state = s"$dir/state"
    val base = "url_retire_spec"
    (0 to 5).foreach(v => s.sql(s"DROP TABLE IF EXISTS ${base}_v$v"))
    def batchesOn(): Seq[Long] =
      new java.io.File(s"$state/urls").listFiles.map(_.getName)
        .filter(_.startsWith("batch=")).map(_.stripPrefix("batch=").toLong)
        .toSeq.sorted
    def genOnDisk(v: Long): Seq[Boolean] =
      Seq(new java.io.File(s"$state/urlsc/v=$v").exists,
        new java.io.File(s"$state/urlsc/v=$v.ok").exists,
        s.catalog.tableExists(s"${base}_v$v"))
    val mem = MemoryStream[(Long, String)]
    val q = StreamOps.urlStateStream(s,
      mem.toDF().toDF("doc_id", "url"), state)
    def ingest(b: Int): Unit = {
      mem.addData((0 until 6).map(i =>
        (b * 100L + i, s"http://h$i.example.com/p/${(b + i) % 4}")): _*)
      q.processAllAvailable()
    }

    ingest(0); ingest(1)
    StreamOps.compactUrlState(s, state, base)
    assert(batchesOn() == Seq(0L, 1L),
      "the first generation has no earlier frontier: nothing retires")
    ingest(2)
    StreamOps.compactUrlState(s, state, base)
    assert(batchesOn() == Seq(2L),
      "major -> minor retires the partitions at or below v=1 only")
    ingest(3)
    StreamOps.compactUrlState(s, state, base)
    assert(StreamOps.stateGens(s, s"$state/urlsc").map(_.major) ==
      Seq(true, false, false))
    assert(batchesOn() == Seq(3L),
      "minor -> minor retires the partitions at or below v=2 only")

    // a major supersedes v=1..3; they stay for one cycle
    ingest(4)
    StreamOps.compactUrlState(s, state, base, major = true)
    assert(batchesOn() == Seq(4L))
    (1L to 3L).foreach(v => assert(genOnDisk(v) == Seq(true, true, true),
      s"generation v=$v must survive the cycle that superseded it"))
    // the next minor retires them: data dir, sentinel and catalog table
    ingest(5)
    StreamOps.compactUrlState(s, state, base)
    (1L to 3L).foreach(v => assert(genOnDisk(v) == Seq(false, false, false),
      s"superseded generation v=$v must be retired, got ${genOnDisk(v)}"))
    assert(genOnDisk(4L) == Seq(true, true, true) &&
      genOnDisk(5L) == Seq(true, true, true))
    assert(batchesOn() == Seq(5L))
    q.stop()
    (0 to 5).foreach(v => s.sql(s"DROP TABLE IF EXISTS ${base}_v$v"))
  }
}
