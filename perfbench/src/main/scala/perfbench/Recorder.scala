package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Times the benchmark's operations, checks each result, and — on a traced
  * run — attributes engine and file-system usage to each operation kind.
  *
  * Every timed operation counts as attempted; one that throws or whose
  * check fails counts as failed. Checks run after the clock stops.
  */
final class Recorder(spark: SparkSession, traced: Boolean) {
  val collector: Option[Collector] =
    if (traced) Some(new Collector(spark.sparkContext)) else None

  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val usage = mutable.LinkedHashMap.empty[String, Usage]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  var maxPersisted = 0

  /** Run one timed operation of `kind`; `check` returns an error message
    * for a wrong result. Caches the operation left behind are dropped after
    * the clock stops, as a long-lived session would have to.
    */
  def op[T](kind: String)(body: => T)(check: T => Option[String]): Option[T] = {
    attempted += 1
    try {
      val (out, dt, u) = timed(body)
      log(f"$kind%s $dt%.3f s")
      samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += dt
      u.foreach(x => usage(kind) = usage.getOrElse(kind, Usage.zero) + x)
      collector.foreach(c => maxPersisted = math.max(maxPersisted, c.persistedRdds))
      check(out) match {
        case Some(msg) => fail(s"$kind: wrong result: $msg"); None
        case None => Some(out)
      }
    } catch {
      case NonFatal(e) => fail(s"$kind: ${e.getClass.getName}: ${e.getMessage}"); None
    } finally release()
  }

  /** Wall seconds of `body`, plus its usage on a traced run. */
  def timed[T](body: => T): (T, Double, Option[Usage]) = collector match {
    case Some(c) =>
      val (out, dt, u) = c.measure(body)
      (out, dt, Some(u))
    case None =>
      val t0 = System.nanoTime()
      val out = body
      (out, (System.nanoTime() - t0) / 1e9, None)
  }

  def fail(msg: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += msg.take(300)
    System.err.println(s"[perfbench] FAILED $msg")
  }

  private val t0 = System.nanoTime()

  /** Progress on stderr, stamped with seconds since the recorder started. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%7.2f] $msg")

  def release(): Unit = {
    spark.catalog.clearCache()
    graft.ops.CacheRegistry.harness.release()
  }

  def median(kind: String): Double = Stats.median(samples(kind).toSeq)

  def layer(name: String, v: Double): Unit = layers(name) = v
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p / 100 * s.size).toInt - 1)))
  }

  /** The highest of the standard percentiles with at least ten samples
    * beyond it, or None when there are too few samples for any.
    */
  def tailPercentile(n: Int): Option[Double] =
    Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0).find(p => n * (1 - p / 100) >= 10)
}
