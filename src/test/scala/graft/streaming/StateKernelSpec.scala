package graft.streaming

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.betfair.{Fixtures, SparkSpec}

/** The state lifecycle kernel's publish step, checked directly: a
  * foreachBatch replay publishes the same (root, rel) twice, and the
  * table must end up holding the replay's rows once, with no staging
  * leftovers inside the root or beside it.
  */
class StateKernelSpec extends SparkSpec {

  private def tree(dir: Path): Seq[String] =
    if (!Files.exists(dir)) Seq.empty
    else Files.walk(dir).iterator().asScala.filter(_ != dir)
      .map(p => dir.relativize(p).toString).toSeq.sorted

  test("publish: a replayed (root, rel) leaves one partition with the " +
      "second frame's rows and no staging directory") {
    val s = spark
    import s.implicits._
    val base = Fixtures.tempDir("graftkernel")
    val root = base.resolve("state")
    StreamOps.publish(Seq(1L, 2L).toDF("doc_id"), root.toString, "batch=7")
    StreamOps.publish(Seq(3L).toDF("doc_id"), root.toString, "batch=7")

    val rows = s.read.parquet(root.toString).as[(Long, Int)].collect().toSeq
    assert(rows == Seq((3L, 7)))
    // exactly one partition dir, holding only the written files
    val inRoot = tree(root)
    assert(inRoot.filterNot(_.contains("/")) == Seq("batch=7"), inRoot)
    assert(!inRoot.exists(p => p.contains("_temporary") || p.contains(".tmp")),
      inRoot)
    // the staging dir was renamed away both times, not left behind
    assert(tree(base.resolve("state.tmp")).isEmpty)
  }
}
