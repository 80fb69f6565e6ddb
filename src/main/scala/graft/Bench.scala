package graft

object Bench {
  /** Raw /proc/loadavg — stamped at start/end so a contention-polluted run
    * is identifiable from the artifact alone (this host's known failure
    * mode: uniform 2x+ inflation across unrelated queries).
    */
  private def loadAvg(): String =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim finally src.close()
    } catch { case _: Exception => "unavailable" }

  /** Total JVM GC time (ms) across all collectors since JVM start. */
  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }

  /** Sentinel duration for a FAILED query iteration: large, finite (JSON has
    * no Infinity/NaN), and impossible to mistake for a measurement — so a
    * fast-failing iteration can never win the per-query min and masquerade
    * as a perf improvement. Failures are also listed by name in the record.
    */
  private val FailedSentinel = 1e9

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val loadStart = loadAvg()
    val gcStart = gcMillis()
    // JVM/session warm-up outside the timed region: JIT + codegen + parquet
    // footer/page caches otherwise land entirely on the first timed query
    // (alphabetically d24 — which made it look 8x its steady-state cost).
    // Each warm-up is individually guarded: a broken reader must cost only
    // its own queries (they fail with the sentinel below), never the whole
    // artifact — round 8 lost ALL measurements to one unguarded warm-up.
    // NonFatal only: an OOM/interrupt during warm-up must fail the run
    // loudly, not let a half-dead JVM publish garbage as a valid artifact.
    def warmUp(action: => Unit): Unit =
      try action
      catch { case scala.util.control.NonFatal(_) => () }
    warmUp(spark.range(1000000).selectExpr("sum(id)").collect())
    Seq("nation", "region", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings").foreach { t =>
      warmUp(spark.read.parquet(s"$sfDir/$t.parquet").count())
    }
    // events needs the Tables reader (historically TIMESTAMP(NANOS), which a
    // raw parquet read rejects; the reader branches on the observed type)
    warmUp(Tables.events(spark, sfDir).count())
    // sorted: stable execution order across rounds (Map order is hash-based)
    // dev-only targeted runs (PLANS.md stress rows): comma-separated name
    // filter; the driver never sets it, so round artifacts stay whole-suite
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    only.foreach(_.diff(SparkEntry.queries.keySet).foreach(n =>
      System.err.println(s"[bench] SPARK_GRAFT_ONLY name '$n' matches no " +
        "query — check for a typo (it would otherwise silently not run)")))
    // per-query GC attribution (the r16→r17 variance-study instrument):
    // the JVM-total GC delta across a query's execution, in ms. Not a
    // perfect per-query cost (GC triggered by query N can be paying for
    // garbage query N-1 allocated) but summed per iteration it separates
    // "the suite got slower" from "the suite spent more time in GC".
    // monotonic run-start anchor for per-query start-offset stamps: the
    // round-17 contention-window diagnosis had to INFER "contiguous in
    // time" from "contiguous in alphabetical order"; with each query's
    // start offset in the record, a pollution window is locatable in
    // time from the artifact alone (scripts/variance_summary.py reads
    // these for its window detector)
    val runStart = System.nanoTime()
    def runAll(): Seq[(String, Double, Boolean, Long, Double)] =
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (name, _) => only.forall(_.contains(name)) }
        .map { case (name, fn) =>
        val g0 = gcMillis()
        val t0 = System.nanoTime()
        val t0Off = (t0 - runStart) / 1e9
        val ok =
          try { fn(spark, sfDir).count(); true }
          catch { case _: Throwable => false }
        val dt =
          if (ok) (System.nanoTime() - t0) / 1e9 else FailedSentinel
        // several operators persist their compact signature/codebook tables
        // inside the query (by design — see PLANS.md); drop them between
        // queries so 81 queries x 3 iterations don't accumulate storage
        // blocks and leak one query's cache pressure into the next's timing
        spark.catalog.clearCache()
        // the harness registry holds the query's persisted intermediates
        // (covered by clearCache) AND the RDD-level localCheckpoint blocks
        // of CC-based queries (d26/d46/t65 — invisible to clearCache);
        // drain it per query so nothing accumulates across iterations
        ops.CacheRegistry.harness.release()
        (name, dt, ok, gcMillis() - g0, t0Off)
      }
    def json(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    // three consecutive in-JVM iterations: cold is comparable to earlier
    // rounds' numbers; per-query MIN over all three is the contention-robust
    // signal (host load inflates some iterations, never deflates one)
    // loadavg stamped after each iteration: contention is then diagnosable
    // PER ITERATION from the artifact (a single polluted iteration can be
    // discounted instead of the whole record — per-query min already does
    // that for timings; these stamps say WHICH iteration was polluted)
    val cold = runAll(); val loadIter1 = loadAvg()
    val warm = runAll(); val loadIter2 = loadAvg()
    val warm2 = runAll(); val loadIter3 = loadAvg()
    // per-query best over iterations that SUCCEEDED; a query with zero
    // successful iterations has no measurement and is excluded from best —
    // it is reported by name in `failed` instead. Keeping the sentinel out
    // of best means totals and slowest_min stay sums/rankings of real
    // measurements (one transient failure must not turn total_cold into
    // ~1e9 or crowd the slowest-10 list with sentinels).
    val best = cold.indices.flatMap { i =>
      val ok = Seq(cold(i), warm(i), warm2(i))
        .collect { case (_, t, true, _, _) => t }
      if (ok.isEmpty) None else Some(cold(i)._1 -> ok.min)
    }
    val failed = (cold ++ warm ++ warm2)
      .collect { case (n, _, false, _, _) => n }
      .distinct.sorted
    def times(rs: Seq[(String, Double, Boolean, Long, Double)])
        : Seq[(String, Double)] =
      rs.map { case (n, t, _, _, _) => n -> t }
    def gcs(rs: Seq[(String, Double, Boolean, Long, Double)])
        : Seq[(String, Double)] =
      rs.map { case (n, _, _, g, _) => n -> g.toDouble }
    // per-query start offsets (seconds since runStart, monotonic clock):
    // with these, "which queries ran inside the polluted wall-clock
    // window" is a read of the record, not an alphabetical inference
    def t0s(rs: Seq[(String, Double, Boolean, Long, Double)])
        : Seq[(String, Double)] =
      rs.map { case (n, _, _, _, o) => n -> o }
    // iteration totals over that iteration's successful queries only (the
    // per-query maps still carry the sentinel so a failed iteration is
    // visible in the full record)
    val total = cold.collect { case (_, t, true, _, _) => t }.sum
    val totalWarm = warm.collect { case (_, t, true, _, _) => t }.sum
    val totalMin = best.map(_._2).sum
    val loadEnd = loadAvg()
    val gcEnd = gcMillis()
    // heap stamp: the variance study pins -Xmx (SPARK_DRIVER_MEM); the
    // record carries the actual limit so two records are comparable on
    // their faces
    val maxHeapMb = Runtime.getRuntime.maxMemory() / (1024 * 1024)
    val fullRecord = s"""{"metric":"total","value":$total,"unit":"sec","queries":${
      json(times(cold))},"total_warm":$totalWarm,"queries_warm":${
      json(times(warm))},"queries_warm2":${
      json(times(warm2))},"total_min":$totalMin,"queries_min":${
      json(best)},"queries_gc_cold":${json(gcs(cold))},"queries_gc_warm":${
      json(gcs(warm))},"queries_gc_warm2":${json(gcs(warm2))
      },"queries_t0_cold":${json(t0s(cold))},"queries_t0_warm":${
      json(t0s(warm))},"queries_t0_warm2":${json(t0s(warm2))
      },"failed":${failed.map("\"" + _ + "\"").mkString("[", ",", "]")
      },"loadavg_start":"$loadStart","loadavg_end":"$loadEnd","gc_ms_start":$gcStart,"gc_ms_end":$gcEnd,"max_heap_mb":$maxHeapMb,"sf":"$sfDir"}"""
    println(fullRecord)
    // ALSO persist the full per-query record to a stable file: the driver
    // keeps only a ~3 KB tail of stdout, which the 181-query record
    // outgrew (PERF_r18/r19 both show prev/now_bench_ok: false with empty
    // per_query/scaling even though the bench succeeded). The stdout
    // contract above is unchanged — this is an addition so the per-query
    // comparison is consumable again. Best-effort: an unwritable path
    // must not fail a finished measurement run.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "scripts/bench_last.json")
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
        (fullRecord + "\n").getBytes("UTF-8"))
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] could not write $outPath: $e")
    }
    // Compact summary printed LAST (<1 KB): the driver keeps only the final
    // ~2000 chars of output, and the full record above (~8 KB at 81 queries)
    // overflows that window — round 6 recorded "parsed": null and lost
    // total_min plus 18 of 80 min entries. Whatever truncation window the
    // driver applies, this tail line always survives complete and parseable.
    val slowest = best.sortBy(-_._2).take(10)
    val loadIters = Seq(loadIter1, loadIter2, loadIter3)
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    // per-iteration GC totals: a slow iteration with proportionally high
    // GC is heap pressure; a slow one with flat GC is host contention
    val gcIters = Seq(cold, warm, warm2)
      .map(_.map(_._4).sum).mkString("[", ",", "]")
    println(s"""{"metric":"summary","total_cold":$total,"total_warm":$totalWarm,"total_min":$totalMin,"n_queries":${
      best.length},"n_failed":${failed.length},"slowest_min":${
      json(slowest)},"loadavg_end":"$loadEnd","loadavg_iter":$loadIters,"gc_ms":${gcEnd - gcStart},"gc_ms_iter":$gcIters,"max_heap_mb":$maxHeapMb,"sf":"$sfDir"}""")
    spark.stop()
  }
}
