package graft.betfair

import java.nio.file.{Files, Path}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

/** Integration tests over the synthesized multi-sport fixture database —
  * golden value-count assertions and the WHERE-dialect matrix, mirroring the
  * shape of the reference's tests/test_integration.py.
  */
class BetfairDatabaseSpec extends SparkSpec {

  private def freshDb(): (Path, BetfairDatabase) = {
    val dir = Fixtures.tempDir("graftdb")
    Fixtures.multiSportDb(dir)
    (dir, new BetfairDatabase(spark, dir.toString))
  }

  test("index: builds, counts, column contract") {
    val (dir, db) = freshDb()
    val counters = db.index()
    assert(counters.rowsInserted == 6)
    assert(counters.marketsWithoutData == 1)
    assert(counters.corruptFiles == 1)
    assert(counters.marketsWithoutMetadata == 0)
    assert(counters.totalMarkets == 8)
    assert(counters.consistent)
    assert(db.size == 6)
    assert(db.columns == Schemas.IndexColumns)
    assert(db.indexDF.columns.toSeq == Schemas.IndexColumns)
    // definition extraction wrote metadata files beside the stream files
    assert(Files.exists(dir.resolve("streams/1.200000005.json")))
    assert(Files.exists(dir.resolve("streams/1.200000006.json")))
    // double-index without force fails; with force succeeds
    intercept[IllegalStateException] { db.index() }
    assert(db.index(force = true).rowsInserted == 6)
  }

  test("select: where-dialect matrix (B1-B9)") {
    val (_, db) = freshDb()
    db.index()
    // B1 equality on strings + booleans
    assert(db.select(where = "eventTypeId='4339'").count() == 4)
    assert(db.select(where = "bspMarket=true").count() >= 4)
    // README flagship query shape
    assert(db.select(
      where = "eventTypeId='4339' AND eventVenue='Sheffield'").count() == 4)
    // B2 AND/OR/NOT
    assert(db.select(
      where = "eventTypeId='7' OR eventTypeId='1'").count() == 2)
    assert(db.select(where = "NOT eventTypeId='4339'").count() == 2)
    // B3 IN
    assert(db.select(where = "eventTypeId IN ('7','4339')").count() == 5)
    // B4 BETWEEN on ISO strings (lexical == chronological)
    assert(db.select(where =
      "marketStartTime BETWEEN '2023-06-01T00:00:00' AND '2023-06-02T00:00:00'")
      .count() == 3)
    // B5 IS NULL / IS NOT NULL
    assert(db.select(where = "competitionId IS NULL").count() == 6)
    assert(db.select(where = "eventVenue IS NOT NULL").count() == 5)
    // B6/B7 time()/strftime() compat (SQLite `==` also parses)
    assert(db.select(where =
      "time(to_timestamp(marketStartTime)) > '12:00:00'").count() == 6)
    assert(db.select(where =
      "time(to_timestamp(marketStartTime)) < '18:00:00'").count() == 3)
    assert(db.select(where =
      "strftime('%m', to_timestamp(marketStartTime)) == '06'").count() == 4)
    // B8 projection with arbitrary column order
    val proj = db.select(columns = Seq("eventVenue", "marketId"))
    assert(proj.columns.toSeq == Seq("eventVenue", "marketId"))
    // B9 limit
    assert(db.select(limit = 3).count() == 3)
  }

  test("derived columns: local times, alias, runners, definition fields") {
    val (_, db) = freshDb()
    db.index()
    val rows = db.indexDF.filter(col("marketId") === "1.200000001")
      .collect()
    assert(rows.length == 1)
    val r = rows.head
    // marketTime == marketStartTime alias holds for catalogue too
    assert(r.getAs[String]("marketStartTime") == "2023-06-01T17:09:37.000Z")
    assert(r.getAs[String]("marketTime") == "2023-06-01T17:09:37.000Z")
    // London summer time: UTC+1
    assert(r.getAs[String]("localMarketStartTime") == "2023-06-01 18:09:37+01:00")
    assert(r.getAs[String]("localDayOfWeek") == "Thursday")
    assert(r.getAs[Int]("runners") == 6)
    assert(r.getAs[String]("priceLadderDescriptionType") == "CLASSIC")
    // extracted definition market: alias + numberOfWinners present
    val d = db.indexDF.filter(col("marketId") === "1.200000005").collect().head
    assert(d.getAs[String]("marketName") == "R4 405m Gr3/4")
    assert(d.getAs[Int]("numberOfWinners") == 2)
    assert(d.getAs[String]("marketStartTime") ==
      d.getAs[String]("marketTime"))
  }

  test("racing join: WIN metadata propagated to PLACE of the same race") {
    val (_, db) = freshDb()
    db.index()
    val win = db.indexDF.filter(col("marketId") === "1.200000001")
      .collect().head
    val place = db.indexDF.filter(col("marketId") === "1.200000002")
      .collect().head
    assert(win.getAs[Double]("raceDistanceMeters") == 462.0)
    assert(win.getAs[String]("raceTypeFromName") == "A2")
    // PLACE market inherits via the race key
    assert(place.getAs[Double]("raceDistanceMeters") == 462.0)
    assert(place.getAs[String]("raceTypeFromName") == "A2")
    assert(place.getAs[String]("raceId") == win.getAs[String]("raceId"))
    assert(win.getAs[String]("raceId") ==
      "4339,GB,Sheffield,2023-06-01T17:09:37.000Z")
    // extracted-definition race linkage (gz WIN -> zip PLACE)
    val p5 = db.indexDF.filter(col("marketId") === "1.200000006")
      .collect().head
    assert(p5.getAs[Double]("raceDistanceMeters") == 405.0)
    // non-racing market: all race fields null
    val foot = db.indexDF.filter(col("marketId") === "1.200000004")
      .collect().head
    assert(foot.getAs[String]("raceId") == null)
    assert(foot.isNullAt(foot.fieldIndex("raceDistanceMeters")))
  }

  test("typed Dataset boundary decodes the full index") {
    val (_, db) = freshDb()
    db.index()
    val rows = db.typedIndex.collect()
    assert(rows.length == 6)
    val win = rows.find(_.marketId == "1.200000001").get
    assert(win.isRacing)
    assert(win.eventVenue.contains("Sheffield"))
    assert(win.raceDistanceMeters.contains(462.0))
    assert(rows.find(_.marketId == "1.200000004").exists(!_.isRacing))
  }

  test("clean: drops rows whose data file vanished") {
    val (dir, db) = freshDb()
    db.index()
    Files.delete(dir.resolve("gh/1.200000001"))
    Files.delete(dir.resolve("foot/1.200000004"))
    val removed = db.clean()
    assert(removed == 2)
    assert(db.size == 4)
    assert(db.select(where = "marketId='1.200000001'").count() == 0)
  }

  test("export: csv round-trips the index") {
    val (dir, db) = freshDb()
    db.index()
    // dest names a (non-existent) file -> exactly that single CSV file
    val out = dir.resolve("export_csv").toString
    val written = db.export(out)
    assert(written == out)
    assert(Files.isRegularFile(java.nio.file.Paths.get(out)))
    val back = spark.read.option("header", "true").csv(out)
    assert(back.count() == 6)
    assert(back.columns.toSeq == Schemas.IndexColumns)
    // dest is an existing directory -> "<database dir name>.csv" inside it
    // (reference database.py:176-178, tests/test_integration.py:395-429)
    val destDir = Fixtures.tempDir("graftexp")
    val written2 = db.export(destDir.toString)
    assert(new java.io.File(written2).getName == dir.getFileName.toString + ".csv")
    assert(Files.isRegularFile(java.nio.file.Paths.get(written2)))
    assert(spark.read.option("header", "true").csv(written2).count() == 6)
  }

  test("insert: moves source files in and indexes them (flat pattern)") {
    val (dbDir, db) = freshDb()
    db.index()
    val srcDir = Fixtures.tempDir("graftsrc")
    Fixtures.write(srcDir.resolve("1.300000001.json"),
      Fixtures.catalogueJson("1.300000001", "6f Mdn", "WIN", "7",
        "Horse Racing", "York"))
    Fixtures.writeLines(srcDir.resolve("1.300000001"),
      Seq("""{"op":"mcm","mc":[{"id":"1.300000001","rc":[]}]}"""))
    val inserted = db.insert(srcDir.toString, copy = false,
      pattern = ImportPatterns.flat, onDuplicates = "update")
    assert(inserted.rowsInserted == 1)
    assert(inserted.marketsAdded == 1 && inserted.marketsUpdated == 0 &&
      inserted.marketsSkipped == 0)
    assert(inserted.consistent)
    assert(db.size == 7)
    // moved, not copied
    assert(!Files.exists(srcDir.resolve("1.300000001")))
    assert(Files.exists(dbDir.resolve("1.300000001")))
    assert(db.select(where = "marketId='1.300000001'").count() == 1)
  }

  test("insert: betfair_historical pattern lays out year/month/day/event") {
    val (dbDir, db) = freshDb()
    db.index()
    val srcDir = Fixtures.tempDir("graftsrc2")
    Fixtures.write(srcDir.resolve("1.300000002.json"),
      Fixtures.catalogueJson("1.300000002", "Match Odds", "MATCH_ODDS", "1",
        "Soccer", null, eventId = "99887766",
        startTime = "2023-06-01T17:09:37.000Z"))
    Fixtures.writeLines(srcDir.resolve("1.300000002"),
      Seq("""{"op":"mcm","mc":[{"id":"1.300000002","rc":[]}]}"""))
    db.insert(srcDir.toString, copy = true,
      pattern = ImportPatterns.betfairHistorical, onDuplicates = "update")
    assert(Files.exists(
      dbDir.resolve("2023/Jun/1/99887766/1.300000002.json")))
    // copy keeps the source
    assert(Files.exists(srcDir.resolve("1.300000002")))
  }

  test("insert duplicate policies: skip / update / replace") {
    val (dbDir, db) = freshDb()
    db.index()
    def mkSource(marketName: String, dataLines: Seq[String]): Path = {
      val s = Fixtures.tempDir("graftdup")
      Fixtures.write(s.resolve("1.300000010.json"),
        Fixtures.catalogueJson("1.300000010", marketName, "WIN", "7",
          "Horse Racing", "York"))
      Fixtures.writeLines(s.resolve("1.300000010"), dataLines)
      s
    }
    val line = """{"op":"mcm","mc":[{"id":"1.300000010","rc":[]}]}"""
    // first insert: a pure add (reference counter semantics,
    // processor.py:47-53 — rows_inserted = added + updated)
    val ins1 = db.insert(mkSource("6f Mdn", Seq(line)).toString, copy = false,
      pattern = ImportPatterns.flat, onDuplicates = "update")
    assert(ins1.rowsInserted == 1 && ins1.marketsAdded == 1 &&
      ins1.marketsUpdated == 0 && ins1.marketsSkipped == 0)
    assert(ins1.consistent)
    assert(db.size == 7)
    // skip: same market again -> nothing changes, counted as skipped
    val ins2 = db.insert(mkSource("6f Mdn", Seq(line)).toString, copy = false,
      pattern = ImportPatterns.flat, onDuplicates = "skip")
    assert(ins2.rowsInserted == 0 && ins2.marketsAdded == 0 &&
      ins2.marketsUpdated == 0 && ins2.marketsSkipped == 1)
    assert(ins2.consistent)
    assert(db.size == 7)
    // update with identical metadata: row untouched (skipped), but bigger
    // data file replaces the existing one
    val bigger = Seq(line, line, line)
    val ins3 = db.insert(mkSource("6f Mdn", bigger).toString, copy = false,
      pattern = ImportPatterns.flat, onDuplicates = "update")
    assert(ins3.rowsInserted == 0 && ins3.marketsSkipped == 1)
    assert(ins3.consistent)
    assert(db.size == 7)
    assert(Files.size(dbDir.resolve("1.300000010")) > line.length + 1)
    // update with changed metadata: row is updated, not added
    val ins4 = db.insert(mkSource("7f Mdn", bigger).toString, copy = false,
      pattern = ImportPatterns.flat, onDuplicates = "update")
    assert(ins4.rowsInserted == 1 && ins4.marketsAdded == 0 &&
      ins4.marketsUpdated == 1 && ins4.marketsSkipped == 0)
    assert(ins4.consistent)
    assert(db.size == 7)
    val updated = db.indexDF.filter(col("marketId") === "1.300000010")
      .collect().head
    assert(updated.getAs[String]("marketName") == "7f Mdn")
    // replace: always overwrites -> counted as an update of the existing row
    val ins5 = db.insert(mkSource("8f Mdn", Seq(line)).toString, copy = false,
      pattern = ImportPatterns.flat, onDuplicates = "replace")
    assert(ins5.rowsInserted == 1 && ins5.marketsAdded == 0 &&
      ins5.marketsUpdated == 1 && ins5.marketsSkipped == 0)
    assert(ins5.consistent)
    assert(db.size == 7)
    val replaced = db.indexDF.filter(col("marketId") === "1.300000010")
      .collect().head
    assert(replaced.getAs[String]("marketName") == "8f Mdn")
  }

  test("zip-lzma stream files decode via commons-compress") {
    val dir = Fixtures.tempDir("graftlzma")
    val in = getClass.getResourceAsStream("/1.600000001.zip")
    Files.copy(in, dir.resolve("1.600000001.zip"))
    val db = new BetfairDatabase(spark, dir.toString)
    val counters = db.index()
    assert(counters.rowsInserted == 1)
    val r = db.indexDF.collect().head
    assert(r.getAs[String]("marketId") == "1.600000001")
    assert(r.getAs[String]("marketName") == "6f Mdn")
    assert(r.getAs[String]("eventVenue") == "York")
    // the last marketDefinition line won (not the first)
    assert(Files.exists(dir.resolve("1.600000001.json")))
  }

  test("bulk metadata.json takes precedence and pairs within its directory") {
    val dir = Fixtures.tempDir("graftbulk")
    val e1 = Fixtures.catalogueJson("1.400000001", "Bulk WIN", "WIN", "7",
      "Horse Racing", "Ascot")
    val e2 = Fixtures.catalogueJson("1.400000002", "Bulk Place", "PLACE", "7",
      "Horse Racing", "Ascot")
    Fixtures.write(dir.resolve("bulk/metadata.json"), s"[$e1,$e2]")
    Fixtures.writeLines(dir.resolve("bulk/1.400000001"),
      Seq("""{"op":"mcm","mc":[{"id":"1.400000001","rc":[]}]}"""))
    Fixtures.writeLines(dir.resolve("bulk/1.400000002"),
      Seq("""{"op":"mcm","mc":[{"id":"1.400000002","rc":[]}]}"""))
    // a per-market metadata file that the bulk file supersedes
    Fixtures.write(dir.resolve("bulk/1.400000001.json"),
      Fixtures.catalogueJson("1.400000001", "Shadowed", "WIN", "7",
        "Horse Racing", "Ascot"))
    val db = new BetfairDatabase(spark, dir.toString)
    db.index()
    assert(db.size == 2)
    val r = db.indexDF.filter(col("marketId") === "1.400000001")
      .collect().head
    assert(r.getAs[String]("marketName") == "Bulk WIN")
    assert(r.getAs[String]("marketMetadataFilePath").endsWith("metadata.json"))
  }

  test("index and insert free every cache they create") {
    val (_, db) = freshDb()
    def persisted: Int = spark.sparkContext.getPersistentRDDs.size
    val beforeIndex = persisted
    db.index(force = true)
    assert(persisted == beforeIndex,
      "index(force = true) left RDDs persisted")
    val srcDir = Fixtures.tempDir("graftsrccache")
    Fixtures.write(srcDir.resolve("1.300000003.json"),
      Fixtures.catalogueJson("1.300000003", "7f Hcap", "WIN", "7",
        "Horse Racing", "York"))
    Fixtures.writeLines(srcDir.resolve("1.300000003"),
      Seq("""{"op":"mcm","mc":[{"id":"1.300000003","rc":[]}]}"""))
    val beforeInsert = persisted
    assert(db.insert(srcDir.toString, pattern = ImportPatterns.flat)
      .rowsInserted == 1)
    assert(persisted == beforeInsert, "insert left RDDs persisted")
  }

  test("scan: a tree wider than the driver-listing threshold lists on " +
      "executors and classifies every file") {
    val dir = Fixtures.tempDir("graftwide")
    val ids = (1 to 70).map(i => f"1.7000$i%05d")
    ids.zipWithIndex.foreach { case (id, i) =>
      Fixtures.write(dir.resolve(f"ev$i%02d/$id.json"), "{}")
      Fixtures.write(dir.resolve(f"ev$i%02d/$id.bz2"), "")
      Fixtures.write(dir.resolve(f"ev$i%02d/notes.txt"), "")
    }
    Fixtures.write(dir.resolve("1.799999999.json"), "{}")
    val got = Discover.scan(spark, dir.toString)
      .select("fileName", "kind", "stem").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    val expected = ids.flatMap(id =>
      Seq(s"$id.json" -> "metadata", s"$id.bz2" -> "data")) :+
      ("1.799999999.json" -> "metadata")
    assert(got.map(r => (r._1, r._2)).sorted.toSeq == expected.sorted)
    // each file pairs by stem: the path minus its classifying suffix
    assert(got.forall { case (name, _, stem) =>
      stem.endsWith("/" + name.stripSuffix(".json").stripSuffix(".bz2")) })
  }

  test("scan: the driver listing classifies every regular file of a " +
      "year/Mon/day/event tree") {
    val dir = Fixtures.tempDir("graftdeep")
    val event = dir.resolve("2023/Jun/1/32000001")
    Files.createDirectories(dir.resolve("2023/Jun/2/32000002")) // empty
    Fixtures.write(event.resolve(".DS_Store"), "")
    Fixtures.write(event.resolve("_SUCCESS"), "")
    Fixtures.write(event.resolve("notes.txt"), "")
    // one market downloaded twice: plaintext and bz2
    Fixtures.write(event.resolve("1.216418252"), "")
    Fixtures.write(event.resolve("1.216418252.bz2"), "")
    Fixtures.write(event.resolve("metadata.json"), "[]")
    val expected = Files.walk(dir).iterator.asScala
      .filter(Files.isRegularFile(_))
      .flatMap(p => Discover.classify(p.toString)).toSeq
    import spark.implicits._
    val got = Discover.scan(spark, dir.toString).as[Discover.Entry]
      .collect().toSeq
    assert(got.sortBy(_.path) == expected.sortBy(_.path))
    assert(got.map(_.fileName).sorted == Seq("1.216418252", "1.216418252.bz2",
      "metadata.json"))
    assert(got.filter(_.kind == "data").map(_.stem).distinct ==
      Seq(event.resolve("1.216418252").toString))
  }

  test("build over the fixture corpus runs a bounded number of jobs") {
    // the count measured once each pairing join ran once and the counters
    // came from one tally action (local[4], AQE on); the earlier build,
    // which re-derived the pairing for every counter's count(), ran 41
    val MaxBuildJobs = 33
    val (dir, _) = freshDb()
    val group = s"graft-build-${java.util.UUID.randomUUID}"
    val sentinel = s"$group-sentinel"
    val jobs = new AtomicInteger
    val drained = new CountDownLatch(1)
    // listener events arrive in submission order: once the sentinel job's
    // start is seen, every job of the build has been counted
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
      sc.setJobGroup(group, "IndexPipeline.build")
      try IndexPipeline.build(spark, dir.toString).index.unpersist()
      finally sc.clearJobGroup()
      sc.setJobGroup(sentinel, "listener sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(drained.await(60, TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)
    assert(jobs.get <= MaxBuildJobs,
      s"IndexPipeline.build ran ${jobs.get} jobs, more than $MaxBuildJobs")
  }
}
