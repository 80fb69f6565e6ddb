package graft.ops

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
    // worst case for plain propagation (diameter 999 > cap 50); pointer
    // jumping must collapse it in ~log2(1000) rounds — no exception, and
    // every node labeled with the path's minimum id
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
}
