package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler._

/** Counters of one window of work, read from the engine (a SparkListener)
  * and from Hadoop's `file`-scheme FileSystem statistics, in [[Usage.Names]]
  * order.
  */
final case class Usage(values: Vector[Double]) {
  def -(o: Usage): Usage = Usage(values.zip(o.values).map(t => t._1 - t._2))
  def +(o: Usage): Usage = Usage(values.zip(o.values).map(t => t._1 + t._2))
  def apply(name: String): Double = values(Usage.Names.indexOf(name))
}

object Usage {
  val Names: Vector[String] = Vector("jobs", "stages", "tasks",
    "executor_cpu_ms", "executor_run_ms", "gc_ms", "shuffle_read_bytes",
    "shuffle_write_bytes", "input_records", "input_bytes", "output_bytes",
    "fs_bytes_read", "fs_bytes_written")
  val zero: Usage = Usage(Vector.fill(Names.size)(0.0))
}

/** Attaches around calls only: the program carries no hooks. Registered on
  * traced runs; untraced runs never construct one.
  */
final class Collector(sc: SparkContext) extends SparkListener {
  private val jobs, stages, tasks = new AtomicLong
  private val cpuNs, runMs, gcMs = new AtomicLong
  private val shRead, shWrite, inRec, inBytes, outBytes = new AtomicLong

  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    stages.addAndGet(e.stageInfos.size)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      runMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      shRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      inRec.addAndGet(m.inputMetrics.recordsRead)
      inBytes.addAndGet(m.inputMetrics.bytesRead)
      outBytes.addAndGet(m.outputMetrics.bytesWritten)
    }
  }

  /** Current totals, after every event posted so far has been delivered. */
  def snapshot(): Usage = {
    PerfbenchBus.drain(sc)
    val fs = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    Usage(Vector(jobs.get, stages.get, tasks.get, cpuNs.get / 1e6,
      runMs.get, gcMs.get, shRead.get, shWrite.get, inRec.get, inBytes.get,
      outBytes.get, fs.map(_.getBytesRead).sum, fs.map(_.getBytesWritten).sum)
      .map(_.toDouble))
  }

  /** Run `body`, returning its result, wall seconds and usage. */
  def measure[T](body: => T): (T, Double, Usage) = {
    val before = snapshot()
    val t0 = System.nanoTime()
    val out = body
    val dt = (System.nanoTime() - t0) / 1e9
    (out, dt, snapshot() - before)
  }

  def persistedRdds: Int = sc.getPersistentRDDs.size
}
