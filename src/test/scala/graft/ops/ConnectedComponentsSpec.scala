package graft.ops

import java.util.UUID
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.util.Random
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import graft.betfair.SparkSpec

/** Fixpoint behavior of the min-label propagation loop on synthetic graphs
  * (the oracle checks d46 end-to-end on real minhash pairs; these pin the
  * loop's convergence on shapes the corpus may not contain).
  */
class ConnectedComponentsSpec extends SparkSpec {

  private def cc(pairs: (Long, Long)*): Map[Long, Long] = {
    import spark.implicits._
    val edges = pairs.toSeq.toDF("d1", "d2")
    TextOps.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("chain: labels cross the full diameter") {
    // path 1-2-3-4-5-6: min label must travel 5 hops
    val labels = cc(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L, 5L -> 6L)
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 1L, 6L -> 1L))
  }

  test("two components stay separate; star collapses in one round") {
    val labels = cc(
      // star centered at 10
      10L -> 11L, 10L -> 12L, 10L -> 13L,
      // disjoint triangle with smaller ids
      1L -> 2L, 2L -> 3L, 1L -> 3L)
    assert(labels(11L) == 10L && labels(12L) == 10L && labels(13L) == 10L)
    assert(labels(1L) == 1L && labels(2L) == 1L && labels(3L) == 1L)
  }

  test("1000-node path graph converges well under the round cap") {
    // diameter 999, with ids in path order: the best case of an id
    // layout (the shuffled-id paths below are the hard one) — no
    // exception, and every node labeled with the path's minimum id
    import spark.implicits._
    val edges = (1L until 1000L).map(i => (i, i + 1)).toDF("d1", "d2")
    val labels = TextOps.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 1000)
    assert(labels.values.forall(_ == 1L))
  }

  test("empty edge list yields empty labeling") {
    import spark.implicits._
    val edges = Seq.empty[(Long, Long)].toDF("d1", "d2")
    assert(TextOps.connectedComponents(edges).count() == 0)
  }

  test("fused modality fixpoint equals one fixpoint per modality") {
    import spark.implicits._
    // three modalities reusing doc ids: 1-2 linked in modality 0 and 2-3
    // in modality 1 (one untagged graph would merge {1, 2, 3}); 1, 6, 7
    // and 9 each occur in one modality only; -5 is negative and sits in
    // modalities 0 and 2, where a truncating div or a plain % would untag
    // it wrongly
    val graphs = Seq(
      "image" -> Seq(1L -> 2L, -5L -> 4L),
      "audio" -> Seq(2L -> 3L, 4L -> 6L),
      "video" -> Seq(7L -> 9L, 3L -> -5L))
    val rows = graft.multimodal.Multimodal.modalityComponents(
      graphs.map { case (n, es) => n -> es.toDF("d1", "d2") }).collect()
    def column(n: String): Map[Long, Long] = rows
      .filter(r => !r.isNullAt(r.fieldIndex(s"${n}comp")))
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long](s"${n}comp")).toMap
    graphs.foreach { case (n, es) => assert(column(n) == cc(es: _*), n) }
    assert(rows.map(_.getAs[Long]("doc_id")).sorted.toSeq ==
      graphs.flatMap(_._2.flatMap(e => Seq(e._1, e._2))).distinct.sorted)
    // no component crosses modalities
    assert(column("audio")(3L) == 2L && column("video")(3L) == -5L)
    assert(!column("image").contains(3L) && !column("audio").contains(1L))
  }

  /** Both paths of [[TextOps.connectedComponents]]: every non-empty graph
    * forced onto the distributed rounds, and the default bound, under
    * which the graphs here fold in one task.
    */
  private val paths: Seq[(String, SparkContext => Long)] = Seq(
    "distributed" -> (_ => 0L),
    "default" -> TextOps.unionFindEdgeBound)

  private def ccOn(pairs: Seq[(Long, Long)],
      bound: SparkContext => Long): Map[Long, Long] = {
    import spark.implicits._
    TextOps.connectedComponents(pairs.toDF("d1", "d2"),
      localEdgeBound = bound)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  /** Each node mapped to the minimum id of its component, by a plain
    * driver-side flood fill over the edge list.
    */
  private def expected(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupMap(_._1)(_._2)
    adj.keys.foldLeft(Map.empty[Long, Long]) { (acc, v) =>
      if (acc.contains(v)) acc else {
        var seen = Set(v)
        var frontier = Seq(v)
        while (frontier.nonEmpty) {
          frontier = frontier.flatMap(adj).filterNot(seen)
          seen ++= frontier
        }
        acc ++ seen.map(_ -> seen.min)
      }
    }
  }

  for ((name, bound) <- paths) {
    test(s"$name: shuffled-id 1000-node paths label every node with the " +
      "minimum id") {
      for (seed <- 1 to 3) {
        val ids = new Random(seed).shuffle((1L to 1000L).toVector)
        val labels = ccOn(ids.zip(ids.tail), bound)
        assert(labels.size == 1000, s"seed $seed")
        assert(labels.values.forall(_ == 1L), s"seed $seed")
      }
    }

    test(s"$name: a random forest labels every node with its tree's " +
      "minimum id") {
      val rnd = new Random(7)
      // two trees over interleaved shuffled ids: each node hangs off a
      // random earlier node of its own tree
      val ids = rnd.shuffle((1L to 600L).toVector)
      val trees = Seq(ids.take(400), ids.drop(400))
      val pairs = trees.flatMap(t =>
        (1 until t.size).map(i => t(i) -> t(rnd.nextInt(i))))
      val labels = ccOn(pairs, bound)
      assert(labels == expected(pairs))
      assert(labels.values.toSet == trees.map(_.min).toSet)
    }

    test(s"$name: a node whose only edge is a self-loop is labeled as " +
      "itself") {
      val pairs = Seq(5L -> 5L, 3L -> 1L, 1L -> 2L, 2L -> 2L)
      assert(ccOn(pairs, bound) == Map(5L -> 5L, 1L -> 1L, 2L -> 1L,
        3L -> 1L))
    }

    test(s"$name: an edge with a null endpoint is no edge") {
      import spark.implicits._
      val edges = Seq[(Option[Long], Option[Long])](
        (Some(1L), None), (None, Some(9L)), (None, None),
        (Some(3L), Some(2L)), (Some(9L), Some(4L))).toDF("d1", "d2")
      val labels = TextOps.connectedComponents(edges, localEdgeBound = bound)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // 1 is named by no other edge; 9 is, by (9, 4)
      assert(labels == Map(2L -> 2L, 3L -> 2L, 4L -> 4L, 9L -> 4L))
    }
  }

  test("both paths keep the input's id type") {
    import spark.implicits._
    val edges = Seq(3 -> 1, 1 -> 2, 7 -> 8).toDF("d1", "d2")
    for ((name, bound) <- paths) {
      val labels = TextOps.connectedComponents(edges, localEdgeBound = bound)
      assert(labels.schema.map(_.dataType.typeName) == Seq("integer",
        "integer"), name)
      assert(labels.collect().map(r => r.getInt(0) -> r.getInt(1)).toMap ==
        Map(1 -> 1, 2 -> 1, 3 -> 1, 7 -> 7, 8 -> 7), name)
    }
  }

  test("at the default bound one call runs at most 2 jobs") {
    // the edge checkpoint, whose job also counts the edges, and the label
    // checkpoint, whose one task folds them
    val MaxJobs = 2
    import spark.implicits._
    val edges = new Random(3).shuffle((1L to 1000L).toVector)
      .sliding(2).map(p => p(0) -> p(1)).toSeq.toDF("d1", "d2")
    val group = s"graft-cc-${UUID.randomUUID}"
    val sentinel = s"$group-sentinel"
    val jobs = new AtomicInteger
    val drained = new CountDownLatch(1)
    // listener events arrive in submission order: once the sentinel job's
    // start is seen, every job of the call has been counted
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(`sentinel`) => drained.countDown()
          case _ =>
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "connectedComponents")
      val labels =
        try TextOps.connectedComponents(edges) finally sc.clearJobGroup()
      sc.setJobGroup(sentinel, "listener sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(drained.await(60, TimeUnit.SECONDS))
      assert(labels.count() == 1000)
    } finally sc.removeSparkListener(listener)
    assert(jobs.get <= MaxJobs,
      s"connectedComponents ran ${jobs.get} jobs, more than $MaxJobs")
  }
}
