package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.betfair._

/** The JVM side of the bfdb benchmark (driven by perfbench/run.py).
  *
  * {{{
  * Main --workload bfdb|suite_gates --work DIR
  *      --trace 0|1 --cores N [--expect FILE] [--data DIR]
  *      [--pins FILE]
  * Main --workload suite_dump --work DIR --data DIR --cores N
  * }}}
  *
  * Prints one line `PERFBENCH {json}`: set-up parts, every timed sample by
  * operation kind, the named end-to-end figures, the check outcome and, on
  * a traced run, the per-layer table.
  */
object Main {
  /** The gate family, the CC fixpoints with localCheckpoint and the
    * StreamOps state queries, all pinned in suite_fingerprints.json.
    */
  val PinnedQueries: Seq[String] = Seq(
    "d118_full_multimodal_gate", "d119_incremental_multimodal",
    "t125_training_manifest", "t159_curated_manifest",
    "d91_incremental_cc", "d128_tombstone_cc",
    "d151_incremental_postings", "d155_incremental_dsir")

  /** The ones suite_gates runs: one per family. */
  val SuiteQueries: Seq[String] = Seq(
    "d119_incremental_multimodal", "d91_incremental_cc", "d155_incremental_dsir")

  val Policies: Seq[String] = Seq("update", "skip", "replace")

  /** Select-mix rounds per maintenance cycle. */
  val SelectRounds = 4

  /** Timed passes of the suite queries per suite_gates run (after the
    * fingerprint-checked warm-up pass).
    */
  val SuitePasses = 1

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val cores = a("cores")
    val work = Paths.get(a("work")).toAbsolutePath
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      // the session profile of graft.Bench and the bfdb CLI
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      // keep every scratch write inside the benchmark's work directory
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val out = a("workload") match {
      case "suite_dump" => suiteDump(spark, a("data"), work)
      case w =>
        val r = new Recorder(spark, a("trace") == "1")
        val body = w match {
          case "bfdb" => bfdb(spark, r, work, Json.read(a("expect")))
          case "suite_gates" => suiteGates(spark, r, a("data"), Json.read(a("pins")))
        }
        body ++ Json.obj(
          "workload" -> w, "cores" -> cores.toInt, "traced" -> r.collector.isDefined,
          "session_s" -> sessionS,
          "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
          "attempted" -> r.attempted, "failed" -> r.failed,
          "error_rate" -> r.failed.toDouble / math.max(1L, r.attempted),
          "failures" -> r.failures,
          "samples" -> r.samples.map { case (k, v) => k -> v.toSeq },
          "layers" -> (if (r.collector.isDefined) r.layers ++ roundLayers(r, body)
            else Map.empty))
    }
    println("PERFBENCH " + Json.write(out))
    spark.stop()
  }

  // ------------------------------------------------------------------- bfdb

  def bfdb(spark: SparkSession, r: Recorder, work: Path, expect: JsonNode)
      : collection.Map[String, Any] = {
    val pristine = work.resolve("corpus")
    val dbDir = work.resolve("db")
    val db = new BetfairDatabase(spark, dbDir.toString)
    val rows = expect.get("counters").get("rowsInserted").asLong
    val base = expect.get("baseRows").asLong
    def counters(c: IndexPipeline.Counters, exp: JsonNode): Option[String] = {
      val got = Map("totalMarkets" -> c.totalMarkets,
        "marketsWithoutData" -> c.marketsWithoutData,
        "marketsWithoutMetadata" -> c.marketsWithoutMetadata,
        "corruptFiles" -> c.corruptFiles, "rowsInserted" -> c.rowsInserted)
      val bad = got.filter { case (k, v) => exp.get(k).asLong != v }
      if (bad.nonEmpty) Some(s"counters $bad, expected $exp")
      else if (!c.consistent) Some(s"inconsistent counters $c")
      else None
    }
    def checkIndex(c: IndexPipeline.Counters): Option[String] =
      counters(c, expect.get("counters")).orElse {
        val size = db.size
        lazy val raced = db.indexDF.filter(col("raceId").isNotNull).count()
        if (size != rows) Some(s"size $size != $rows")
        else if (raced != expect.get("raceIdRows").asLong)
          Some(s"raceId rows $raced != ${expect.get("raceIdRows")}")
        else None
      }
    // set-up: pristine copies of the insert batches (insert moves a batch's
    // files into the database; a traced run builds each batch again after
    // the cycle)
    val batchCopies = work.resolve("batches-pristine")
    Files2.copy(work.resolve("batches"), batchCopies)
    def pristineBatch(dir: String) = batchCopies.resolve(Paths.get(dir).getFileName)

    // timed, 1: one index(force = true), which builds the live database, over
    // a fresh untimed copy of the corpus (extraction writes <id>.json beside
    // each stream file, so the corpus itself is never indexed). It runs
    // cold, as in the bfdb CLI, where each command starts a fresh JVM; a
    // warm-up index before it would cost more time than a run can spend.
    Files2.copy(pristine, dbDir)
    r.op("index")(db.index(force = true))(checkIndex)
    val indexBytes = Files2.size(dbDir.resolve(BetfairDatabase.IndexDirName))

    // timed, 2: one maintenance cycle on the live database
    val c = r.collector
    val ops = expect.get("ops").elements.asScala.toSeq
    for (o <- ops) {
      val pol = o.get("policy").asText
      val want = o.get("counters")
      r.op(s"insert_$pol")(db.insert(o.get("dir").asText, onDuplicates = pol)) { got =>
        val g = Map("totalMarkets" -> got.totalMarkets,
          "rowsInserted" -> got.rowsInserted,
          "marketsUpdated" -> got.marketsUpdated,
          "marketsSkipped" -> got.marketsSkipped,
          "corruptFiles" -> got.corruptFiles)
        val bad = g.filter { case (k, v) => want.get(k).asLong != v }
        if (bad.nonEmpty || !got.consistent) Some(s"$got, expected $want")
        else None
      }
    }
    val selects = expect.get("selects").elements.asScala.toSeq
    var returned = 0L
    for (_ <- 0 until SelectRounds; s <- selects) {
      val want = s.get("rows").asLong
      r.op(s"select.${s.get("name").asText}")(runSelect(db, s)) { n =>
        returned += n
        if (n != want) Some(s"$n rows, expected $want") else None
      }
    }
    val doomed = expect.get("cleanDelete").elements.asScala.map(_.asText).toSeq
    doomed.foreach(p => Files.delete(Paths.get(p)))
    r.op("clean")(db.clean()) { n =>
      if (n != doomed.size) Some(s"removed $n, expected ${doomed.size}") else None
    }
    val exportPath = work.resolve("export").resolve("bfdb.csv")
    Files.createDirectories(exportPath.getParent)
    r.op("export")(db.export(exportPath.toString)) { p =>
      val lines = Files2.lineCount(Paths.get(p))
      if (lines != base + 1) Some(s"$lines csv lines, expected ${base + 1}")
      else None
    }

    val selNames = selects.map(s => s"select.${s.get("name").asText}")
    val selAll = selNames.flatMap(r.samples.getOrElse(_, Nil))
    val tail = Stats.tailPercentile(selAll.size)
    val indexS = r.median("index")
    val named = Json.obj(
      "index_markets_per_s" -> rows / indexS,
      "index_bytes_per_market" -> indexBytes.toDouble / rows,
      "insert_update_s" -> r.median("insert_update"),
      "insert_skip_s" -> r.median("insert_skip"),
      "insert_replace_s" -> r.median("insert_replace"),
      "clean_s" -> r.median("clean"),
      "export_s" -> r.median("export"),
      "select_p50_ms" -> Stats.median(selAll) * 1000,
      "select_tail_ms" -> tail.map(p => Stats.percentile(selAll, p) * 1000),
      "select_tail_percentile" -> tail,
      "select_samples" -> selAll.size,
      "index_rows" -> rows, "db_rows" -> base,
      "corpus_files" -> expect.get("files").asLong,
      "corpus_bytes" -> expect.get("bytes").asLong)
    val opKinds = Seq("index") ++ Policies.map("insert_" + _) ++
      Seq("clean", "export")
    val workS = opKinds.map(r.median).sum + selNames.map(r.median).sum
    if (c.isDefined) {
      // each batch's own build, for the insert.rest_s attribution, on its
      // pristine copy after the cycle, so the timed inserts see the same
      // state as in an untraced run
      for (o <- ops) {
        val (_, bs, _) = c.get.measure(IndexPipeline.build(spark,
          pristineBatch(o.get("dir").asText).toString, writeMetadataFiles = false))
        r.release()
        r.layer(s"insert_${o.get("policy").asText}.build_s", bs)
      }
      indexLayers(spark, r, work, pristine)
      r.layer("index.write_s", indexS - r.layers("build.s"))
      maintainLayers(spark, r, db, dbDir.toString, base, doomed.size, selNames,
        returned, named)
    }
    Json.obj("warmup_s" -> 0.0, "rounds" -> 1, "work_s" -> workS,
      "named" -> named)
  }

  /** Per-layer attribution of the index path, over the pristine corpus
    * (extraction runs with writeMetadataFiles = false, so it stays pristine).
    */
  def indexLayers(spark: SparkSession, r: Recorder, work: Path,
      corpus: Path): Unit = {
    import spark.implicits._
    val c = r.collector.get
    val dir = corpus.toString
    val (entries, discS, _) = c.measure {
      val e = Discover.scan(spark, dir).cache(); e.count(); e
    }
    r.layer("discover.s", discS)
    entries.groupBy("kind").count().collect().foreach(row =>
      r.layer(s"discover.files.${row.getString(0)}", row.getLong(1).toDouble))
    // the same files spread over more than 64 top-level directories, so
    // Discover lists on the executors
    val flat = work.resolve("flat")
    val topDirs = 96
    val files = Files2.regularFiles(corpus)
    files.foreach { f =>
      val name = f.getFileName.toString
      val bucket = flat.resolve(s"d${math.floorMod(name.split('.').take(2)
        .mkString(".").hashCode, topDirs)}")
      Files.createDirectories(bucket)
      Files.copy(f, bucket.resolve(name), StandardCopyOption.REPLACE_EXISTING)
    }
    val (_, flatS, _) = c.measure(Discover.scan(spark, flat.toString).count())
    r.layer("discover.distributed_s", flatS)
    r.layer("discover.distributed_top_dirs", topDirs.toDouble)
    Files2.delete(flat)
    // stream-only data files: no per-market metadata, no bulk file beside
    val meta = entries.filter(col("kind") === "metadata").select("stem")
    val bulkDirs = entries.filter(col("kind") === "bulk").select("dir")
    val streams = entries.filter(col("kind") === "data")
      .join(meta, Seq("stem"), "left_anti").join(bulkDirs, Seq("dir"), "left_anti")
      .select("stem", "path").as[(String, String)].collect().toSeq
    def extract(files: Seq[(String, String)]): (Map[String, Long], Double, Usage) =
      c.measure {
        MarketDefExtract.extract(spark, files.toDS(), writeMetadataFiles = false)
          .groupBy("outcome").count().collect()
          .map(x => x.getString(0) -> x.getLong(1)).toMap
      }
    val (outcomes, extS, _) = extract(streams)
    r.layer("extract.s", extS)
    r.layer("extract.files", streams.size.toDouble)
    r.layer("extract.ok_ratio",
      outcomes.getOrElse("ok", 0L).toDouble / math.max(1, streams.size))
    val compressed = Seq(".gz", ".bz2", ".zip")
    val (packed, plain) = streams.partition(s => compressed.exists(s._2.endsWith))
    for ((name, set) <- Seq("plaintext" -> plain, "compressed" -> packed)
        if set.nonEmpty) {
      val (_, _, u) = extract(set)
      r.layer(s"extract.bytes_read_per_file.$name", u("fs_bytes_read") / set.size)
      r.layer(s"extract.file_bytes_per_file.$name",
        set.map(s => Files.size(Paths.get(s._2))).sum.toDouble / set.size)
    }
    entries.unpersist()
    // reference claim: the tail read touches less than the whole file
    if (plain.nonEmpty)
      r.layer("claim.tail_read_bytes_over_file_bytes",
        r.layers("extract.bytes_read_per_file.plaintext") /
          r.layers("extract.file_bytes_per_file.plaintext"))
    val (_, buildS, bu) = c.measure(IndexPipeline.build(spark, dir,
      writeMetadataFiles = false))
    r.layer("build.s", buildS)
    for (k <- Seq("jobs", "stages", "tasks", "gc_ms")) r.layer(s"build.$k", bu(k))
    r.layer("build.persisted_rdds", c.persistedRdds.toDouble)
    r.release()
  }

  /** The engine row for one bfdb operation kind: per-operation means. */
  def opLayers(r: Recorder, kind: String, name: String): Unit =
    r.usage.get(kind).foreach { u =>
      val n = r.samples(kind).size
      for (k <- Seq("jobs", "tasks", "executor_cpu_ms", "gc_ms"))
        r.layer(s"$name.$k", u(k) / n)
    }

  def runSelect(db: BetfairDatabase, s: JsonNode): Long =
    if (s.has("size")) db.size
    else {
      val cols = Option(s.get("columns")).map(_.elements.asScala.map(_.asText).toSeq)
      val lim = Option(s.get("limit")).map(_.asInt).getOrElse(-1)
      db.select(columns = cols.orNull, where = s.get("where").asText,
        limit = lim).collect().length.toLong
    }

  def maintainLayers(spark: SparkSession, r: Recorder, db: BetfairDatabase,
      dbDir: String, base: Long, removed: Long, selNames: Seq[String],
      returned: Long, named: collection.Map[String, Any]): Unit = {
    val c = r.collector.get
    opLayers(r, "index", "index")
    for (pol <- Policies) {
      val u = r.usage(s"insert_$pol")
      r.layer(s"insert_$pol.rest_s",
        r.median(s"insert_$pol") - r.layers(s"insert_$pol.build_s"))
      r.layer(s"insert_$pol.bytes_written_per_row", u("fs_bytes_written") / base)
      opLayers(r, s"insert_$pol", s"insert_$pol")
    }
    // clean probes every row's data file once: the rows it scanned
    r.layer("clean.probes", (base + removed).toDouble)
    r.layer("clean.bytes_written_per_removed_row",
      r.usage("clean")("fs_bytes_written") / removed)
    opLayers(r, "clean", "clean")
    val su = selNames.flatMap(r.usage.get).reduce(_ + _)
    val sn = selNames.map(r.samples(_).size).sum
    for (k <- Seq("jobs", "tasks", "executor_cpu_ms", "gc_ms"))
      r.layer(s"select.$k", su(k) / sn)
    r.layer("select.rows_read_per_row_returned",
      su("input_records") / math.max(1L, returned))
    val reg = (0 until 20).map { _ =>
      val t0 = System.nanoTime()
      graft.fn.Compat.register(spark); Functions.register(spark)
      (System.nanoTime() - t0) / 1e6
    }
    r.layer("select.register_ms", Stats.median(reg))
    val eu = r.usage("export")
    r.layer("export.tasks", eu("tasks"))
    r.layer("export.bytes_written", eu("fs_bytes_written"))
    opLayers(r, "export", "export")
    // reference claims: insert and clean against re-indexing at this size
    val (ri, reS, _) = c.measure(db.index(force = true))
    r.release()
    r.layer("reindex.s", reS)
    r.layer("reindex.rows", ri.rowsInserted.toDouble)
    r.layer("claim.insert_update_over_reindex",
      named("insert_update_s").asInstanceOf[Double] / reS)
    r.layer("claim.clean_over_reindex", named("clean_s").asInstanceOf[Double] / reS)
  }

  // ------------------------------------------------------------ suite_gates

  /** Row count plus an order-independent hash of every row (columns in
    * name order), as pinned in suite_fingerprints.json.
    */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val cols = df.columns.sorted.map { n =>
      val c = col(s"`$n`")
      df.schema(n).dataType match {
        case _: org.apache.spark.sql.types.MapType => to_json(c)
        case _ => c
      }
    }
    val row = df.select(count(lit(1)),
      coalesce(sum(xxhash64(cols: _*).bitwiseAND(0xFFFFFFFFL)), lit(0L)))
      .collect().head
    (row.getLong(0), row.getLong(1))
  }

  def suiteGates(spark: SparkSession, r: Recorder, data: String, pins: JsonNode)
      : collection.Map[String, Any] = {
    // set-up: table read plus one untimed, fingerprint-checked pass
    val t0 = System.nanoTime()
    spark.read.parquet(s"$data/documents.parquet").count()
    for (q <- SuiteQueries) {
      val want = pins.get(q)
      try {
        val (n, h) = fingerprint(graft.SparkEntry.queries(q)(spark, data))
        if (n != want.get("rows").asLong || h != want.get("hash").asLong)
          r.fail(s"suite.$q: fingerprint ($n, $h), pinned $want")
      } catch {
        case scala.util.control.NonFatal(e) => r.fail(s"suite.$q warm-up: $e")
      }
      r.release()
    }
    val warmS = (System.nanoTime() - t0) / 1e9
    for (_ <- 0 until SuitePasses) {
      for (q <- SuiteQueries) {
        val rows = pins.get(q).get("rows").asLong
        r.op(s"suite.$q")(graft.SparkEntry.queries(q)(spark, data).count()) { n =>
          if (n != rows) Some(s"$n rows, pinned $rows") else None
        }
      }
    }
    val suiteS = SuiteQueries.map(q => r.median(s"suite.$q")).sum
    for (q <- SuiteQueries if r.collector.isDefined) {
      val u = r.usage(s"suite.$q")
      val n = r.samples(s"suite.$q").size
      r.layer(s"suite.$q.s", r.median(s"suite.$q"))
      r.layer(s"suite.$q.jobs", u("jobs") / n)
      r.layer(s"suite.$q.tasks", u("tasks") / n)
      r.layer(s"suite.$q.shuffle_bytes",
        (u("shuffle_read_bytes") + u("shuffle_write_bytes")) / n)
    }
    Json.obj("warmup_s" -> warmS, "rounds" -> SuitePasses, "work_s" -> suiteS,
      "named" -> Json.obj("suite_s" -> suiteS, "passes" -> SuitePasses))
  }

  /** Write each suite query's result (and fingerprint) for the one-off
    * DuckDB cross-check in oracle_check.py.
    */
  def suiteDump(spark: SparkSession, data: String, work: Path)
      : collection.Map[String, Any] = {
    val pins = PinnedQueries.map { q =>
      val df = graft.SparkEntry.queries(q)(spark, data)
      df.write.mode("overwrite").parquet(work.resolve(q).toString)
      val (n, h) = fingerprint(spark.read.parquet(work.resolve(q).toString))
      val (n2, h2) = fingerprint(graft.SparkEntry.queries(q)(spark, data))
      spark.catalog.clearCache()
      graft.ops.CacheRegistry.harness.release()
      q -> Json.obj("rows" -> n2, "hash" -> h2, "dumped_rows" -> n,
        "dumped_hash" -> h)
    }
    val oracles = PinnedQueries.map(q => q -> graft.SparkEntry.oracleSql(q))
    Files.write(work.resolve("oracle_sql.json"),
      Json.write(oracles.toMap).getBytes("UTF-8"))
    Json.obj("pins" -> pins.toMap)
  }

  // ----------------------------------------------------- per-round layers

  /** The workload-independent layer metrics: engine and file-system usage
    * per round of the workload's operation mix, over its timed operations.
    */
  def roundLayers(r: Recorder, body: collection.Map[String, Any])
      : collection.Map[String, Double] = {
    val rounds = body("rounds").asInstanceOf[Int].toDouble
    val u = r.usage.values.reduceOption(_ + _).getOrElse(Usage.zero)
    val wallMs = r.samples.values.flatten.sum * 1000
    val cores = Runtime.getRuntime.availableProcessors.toDouble
    mutable.LinkedHashMap(
      "round.jobs" -> u("jobs") / rounds,
      "round.stages" -> u("stages") / rounds,
      "round.tasks" -> u("tasks") / rounds,
      "round.executor_cpu_ms" -> u("executor_cpu_ms") / rounds,
      "round.gc_ms" -> u("gc_ms") / rounds,
      "round.shuffle_bytes" ->
        (u("shuffle_read_bytes") + u("shuffle_write_bytes")) / rounds,
      "round.input_records" -> u("input_records") / rounds,
      "round.fs_bytes_read" -> u("fs_bytes_read") / rounds,
      "round.fs_bytes_written" -> u("fs_bytes_written") / rounds,
      "round.executor_busy_share" -> u("executor_run_ms") / (wallMs * cores),
      "round.persisted_rdds_max" -> r.maxPersisted.toDouble)
  }
}

/** Plain local-file helpers for corpus copies (untimed). */
object Files2 {
  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    }

  def copy(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { src =>
      val dst = to.resolve(from.relativize(src).toString)
      if (Files.isDirectory(src)) Files.createDirectories(dst)
      else Files.copy(src, dst, StandardCopyOption.COPY_ATTRIBUTES)
    } finally s.close()
  }

  def size(p: Path): Long = {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally s.close()
  }

  def regularFiles(root: Path): Seq[Path] = {
    val s = Files.walk(root)
    try s.filter(Files.isRegularFile(_)).toArray.toSeq.map(_.asInstanceOf[Path])
    finally s.close()
  }

  def lineCount(p: Path): Long = {
    val s = Files.lines(p)
    try s.count() finally s.close()
  }
}
