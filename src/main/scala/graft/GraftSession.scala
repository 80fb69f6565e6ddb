package graft

import org.apache.spark.sql.SparkSession

/** The one session profile of the driver mains (Bench, Verify, Cli): the
  * verified configuration is the benched one and the one the CLI serves.
  * Each caller passes the master it already derives and adds only what is
  * its own (shuffle partitions, app name, log level).
  */
object GraftSession {
  def builder(master: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the native vector/text expressions, injected into every session
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // Generated-CLASS cache (static conf, default 100 entries): a
      // 181-query session generates thousands of codegen classes, so at
      // the default every query's classes are evicted before its next
      // execution and warm iterations RE-COMPILE everything (Janino).
      // Measured at sf0.1/local[32], second in-JVM iteration: v-family
      // 53.3 s -> 32.0 s, relational floor 17.2 s -> 11.1 s at 5000
      // entries. This caches compiled BYTECODE keyed on generated source
      // (like the JIT), never results or plans — every query still plans
      // and computes from parquet; cold numbers still pay compilation.
      // Scale-independent: any multi-query driver session benefits; the
      // memory cost is bounded (generated classes, far below the pinned
      // heap). Root cause of the r19 "v* drift": v* sorts LAST, so its
      // classes were always evicted by the 150 queries before it, and
      // any upstream plan reshape moved the eviction pattern.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // Let AQE re-pick the output partitioning INSIDE cache/checkpoint
      // materialization (public conf, default false since SPARK-38410):
      // the iterative operators persist compact tables (CC's per-round
      // edge and label tables, verdict lists) whose cache builds
      // otherwise freeze the full shuffle-partition fan-out, so every
      // fixpoint round runs `cpus` tiny tasks over KB-scale blocks — the
      // dominant cost of the gate/CC family at bench scale. With the
      // conf on, AQE coalesces those cached layouts from their ACTUAL
      // sizes (measured at sf0.1/local[32], warm: d118 6.5 -> 3.9 s,
      // d128 6.9 -> 4.0 s), and at production sizes it keeps the wide
      // layout — a scale-adaptive choice, not a local-mode constant.
      // Results are unaffected (partitioning only); the full oracle gate
      // re-proved 181/181.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
}
