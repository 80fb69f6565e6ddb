package graft.multimodal

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Observable signal for capped Hamming candidate generation.
  *
  * [[Multimodal.HammingBucketCap]] excludes hot cells from cross-hash
  * candidate generation — a well-characterized, spec-quantified recall
  * trade (HammingCapSpec) — but in production nothing flagged WHEN a cell
  * actually went hot, so recall loss at scale was invisible until an
  * oracle run caught it. Both paths of
  * [[Multimodal.incrementalHammingPairs]] carry a `Dataset.observe`
  * metric computed inline with their own job, with no second scan and no
  * extra action: the distributed path on its hot-cell table, which
  * already materializes to drive the exclusion anti-join, and the one-task
  * fold on the totals it emits as a marker row. Named under
  * [[MetricPrefix]], the metrics are read
  * back by a per-session QueryExecutionListener that logs a warning and
  * bumps process-wide counters whenever a query excluded at least one
  * cell. A metrics deployment taps the same named observations from its
  * own listener; the counters here make the signal assertable in-process
  * (HammingCapSpec) without any metrics backend.
  *
  * Contract: after any action whose plan capped candidate generation,
  * [[hotQueries]] is eventually (the listener bus is async) incremented
  * and a warning logged naming the metric and the excluded-cell count.
  * The per-metric numbers are a detection signal, not an exact audit: a
  * plan that executes the same exclusion table or fold several times (in
  * several subtrees, or once more to sample a range partitioning)
  * re-counts it each time — zero iff no hot cell,
  * which is the property an operator alerts on.
  */
object HotCellSignal {

  val MetricPrefix = "graft.hamming.hot_cells"

  /** Completed queries that excluded ≥1 hot cell (process lifetime). */
  val hotQueries = new AtomicLong(0)
  /** Hot-cell occurrences summed across those queries. */
  val hotCells = new AtomicLong(0)
  /** Distinct-hash rows those cells held (the excluded candidate mass). */
  val excludedHashes = new AtomicLong(0)

  private val nextId = new AtomicLong(0)
  // WEAK keys: this set only dedups listener registration, so it must not
  // pin sessions (a long-lived process creating/stopping many sessions
  // would otherwise leak every one of them plus its listeners). The
  // registered listener itself lives on the session's listenerManager and
  // dies with the session; once the session is collected its entry here
  // vanishes with it.
  private val sessions = java.util.Collections.newSetFromMap(
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]))
  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Wrap `df` with a uniquely-named observation of its hot-cell totals
    * (`cells` and `hashes`, two aggregates over its rows) and make sure the
    * session's listener is installed. Names are unique per call, so
    * composed pipelines (several incremental Hamming steps inside one
    * final plan — d118/d119) can never collide on the CollectMetrics name
    * check.
    */
  def attach(df: DataFrame, cells: Column, hashes: Column): DataFrame = {
    register(df.sparkSession)
    df.observe(s"$MetricPrefix.${nextId.incrementAndGet()}",
      coalesce(cells, lit(0L)).as("n_hot_cells"),
      coalesce(hashes, lit(0L)).as("n_excluded_hashes"))
  }

  private def register(s: SparkSession): Unit =
    if (sessions.add(s))
      s.listenerManager.register(new QueryExecutionListener {
        override def onSuccess(funcName: String, qe: QueryExecution,
            durationNs: Long): Unit =
          qe.observedMetrics.foreach { case (name, row) =>
            if (name.startsWith(MetricPrefix)) {
              val cells = row.getAs[Long]("n_hot_cells")
              if (cells > 0) {
                val hashes = row.getAs[Long]("n_excluded_hashes")
                hotQueries.incrementAndGet()
                hotCells.addAndGet(cells)
                excludedHashes.addAndGet(hashes)
                log.warn(
                  s"$name: $cells hot cell(s) holding $hashes distinct " +
                    "hashes excluded from Hamming candidate generation — " +
                    "recall may be reduced for pairs whose every clean " +
                    "window is hot (raise HammingBucketCap or re-shard)")
              }
            }
          }
        override def onFailure(funcName: String, qe: QueryExecution,
            exception: Exception): Unit = ()
      })
}
