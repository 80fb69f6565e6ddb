package graft.betfair

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._
import Schemas._

/** The index-build dataflow (SURVEY.md §3.2): discover → pair → parse →
  * flatten → derive → racing join → 37-column projection. One lazy plan; the
  * only shuffle is the (broadcast) racing join and the final write.
  */
object IndexPipeline {

  /** Audit counters (A20; reference betfairdatabase/processor.py:35-79).
    *
    * `rowsInserted` counts index rows written (adds + updates, like the
    * reference's INSERT-per-market); `marketsUpdated`/`marketsSkipped` split
    * an import by duplicate-policy outcome, and `marketsAdded` is the derived
    * add count (processor.py:51-53). The invariant mirrors
    * `Counters.validate` (processor.py:68-79).
    */
  case class Counters(totalMarkets: Long, marketsWithoutData: Long,
      marketsWithoutMetadata: Long, corruptFiles: Long, rowsInserted: Long,
      marketsUpdated: Long = 0L, marketsSkipped: Long = 0L) {
    def marketsAdded: Long = rowsInserted - marketsUpdated
    def consistent: Boolean =
      totalMarkets == rowsInserted + marketsSkipped + marketsWithoutData +
        marketsWithoutMetadata + corruptFiles
  }

  /** `index` is cached; the caller owns that cache and unpersists it. */
  case class BuildResult(index: DataFrame, counters: Counters)

  private val localTimeUdf: UserDefinedFunction =
    udf((ts: String, tz: String) => Functions.localTimeString(ts, tz))
  private val localDowUdf: UserDefinedFunction =
    udf((ts: String, tz: String) => Functions.localDayOfWeek(ts, tz))
  private val raceMetaUdf: UserDefinedFunction =
    udf((name: String) => Functions.extractRaceMetadata(name))

  /** input_file_name() → the pipeline's canonical path form (decodes the
    * percent-encoded URI and matches Discover's key — see [[PathCanon]];
    * `strip` is decided from the driver conf and captured as a boolean).
    */
  private def canonPathUdf(strip: Boolean): UserDefinedFunction =
    udf((s: String) => PathCanon.canonicalUri(s, strip))

  /** Read the metadata JSON files whose names match `glob` — per-market
    * catalogue or definition files (`1.*.json`, one object per file) or
    * bulk `metadata.json` files (JSON arrays of metadata dicts; A3).
    * multiLine tolerates pretty-printing, PERMISSIVE routes corrupt bodies
    * to _corrupt_record (reference A22).
    *
    * The file set comes from a recursive glob scan of the tree, NOT a
    * driver-collected path list — a 100 TB archive has millions of metadata
    * files, and both the driver array and the serialized path list in the
    * scan would be the bottleneck. Spark parallelizes the listing above
    * `parallelPartitionDiscovery.threshold` dirs; the downstream inner join
    * on the canonical path keeps exactly the paired markets.
    */
  private def readMetadata(spark: SparkSession, dir: String, glob: String)
      : DataFrame =
    spark.read
      .schema(metadataSchema)
      .option("multiLine", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", glob)
      .json(dir)
      .withColumn("metaPath",
        canonPathUdf(PathCanon.stripFileScheme(
          spark.sparkContext.hadoopConfiguration))(input_file_name()))

  /** Parse extracted definition JSON strings (from MarketDefExtract). */
  private def parseExtracted(extracted: DataFrame): DataFrame = {
    val parsed = extracted
      .filter(col("outcome") === "ok")
      .withColumn("m", from_json(col("json"),
        metadataSchema.asInstanceOf[org.apache.spark.sql.types.StructType]))
    parsed.select(
      (metadataSchema.fieldNames.filterNot(_ == "_corrupt_record")
        .map(f => col(s"m.$f").as(f)) :+
        lit(null).cast("string").as("_corrupt_record") :+
        col("metaPath") :+ col("stem").as("_stem") :+
        col("dataPath").as("_dataPath")): _*)
  }

  /** Build the full index DataFrame for a source directory. Returns the
    * 37-column index plus audit counters.
    */
  def build(spark: SparkSession, sourceDir: String,
      writeMetadataFiles: Boolean = true): BuildResult = {
    import spark.implicits._
    Functions.register(spark)
    // the recursive JSON scans below hit Spark's session FileStatusCache
    // (no TTL): a rebuild after extraction wrote new metadata files would
    // otherwise see the previous listing
    spark.catalog.refreshByPath(sourceDir)

    val entries = Discover.scan(spark, sourceDir).cache()
    val meta = entries.filter(col("kind") === "metadata")
      .select(col("stem"), col("path").as("metaPath"))
    val data = entries.filter(col("kind") === "data")
      .select(col("stem"), col("path").as("dataPath"), col("dir"))

    // ---- A3 bulk metadata: explode arrays, pair within the same directory,
    // take precedence over per-market files (consume the data file).
    // (.cache(): Spark disallows querying only _corrupt_record off a raw
    // JSON scan; the parsed result must be materialized first.)
    val bulkRaw = readMetadata(spark, sourceDir, "metadata.json").cache()
    val bulkValid = bulkRaw
      .filter(col("_corrupt_record").isNull && col("marketId").isNotNull)
      // reference: file_cache keyed by marketId — last entry per id wins
      .withColumn("_dir", regexp_replace(col("metaPath"), "/metadata\\.json$", ""))
      .withColumn("_stemWanted", concat(col("_dir"), lit("/"), col("marketId")))
      .dropDuplicates("_stemWanted")
    // bulkPaired and dataFree feed several counters and the index: cached,
    // so each pairing join runs once per build rather than once per use
    val bulkPaired = bulkValid.join(data,
        bulkValid("_stemWanted") === data("stem"))
      .withColumn("_stem", col("stem"))
      .withColumn("_dataPath", col("dataPath"))
      .drop("stem", "dataPath", "dir", "_dir", "_stemWanted")
      .cache()
    val consumedStems = bulkPaired.select(col("_stem").as("stem")).distinct()

    // ---- data/metadata pairing after bulk consumption (A2)
    val dataFree = data.join(consumedStems, Seq("stem"), "left_anti").cache()
    val pairedMeta = meta.join(dataFree, Seq("stem"))
    val metaWithoutData = meta.join(dataFree, Seq("stem"), "left_anti")

    // ---- A4: definitions for data files with no per-market metadata
    val dataNoMeta = dataFree.join(meta, Seq("stem"), "left_anti")
      .select(col("stem"), col("dataPath")).as[(String, String)]
    val extracted = MarketDefExtract
      .extract(spark, dataNoMeta, writeMetadataFiles).cache()
    val extractedDefs = parseExtracted(extracted)

    // ---- per-market metadata reads (A5-A9): recursive glob scan, no
    // driver-side path collection; the inner join below narrows to paired
    val perMarketRaw = readMetadata(spark, sourceDir, "1.*.json").cache()
    val pathPairs = pairedMeta
      .select(col("metaPath"), col("stem").as("_stem"),
        col("dataPath").as("_dataPath"))
    val perMarket = perMarketRaw.join(pathPairs, Seq("metaPath"))

    val unified = perMarket.unionByName(bulkPaired)
      .unionByName(extractedDefs)

    val corrupt = unified.filter(col("_corrupt_record").isNotNull)
    val good = unified.filter(col("_corrupt_record").isNull)

    val flat = flatten(good)
    val withRacing = racingJoin(flat)
    // cache: the caller both counts (counters, invariant) and writes the
    // index; without this the whole parse+join pipeline runs twice
    val index = project(withRacing).cache()

    // ---- counters (A20): total = |data ∪ metadata| stems before bulk
    // consumption (reference: betfairdatabase/processor.py:147-149).
    // All of them come from ONE action: each counter's rows are tagged with
    // its name, and one groupBy tallies the union.
    // This call owns the six intermediate caches and frees them once the
    // counters are taken; by then the index sits in its own cache, which
    // the caller owns (or this call frees, if counting fails).
    val counters = try {
      def tag(df: DataFrame, name: String): DataFrame =
        df.select(lit(name).as("counter"))
      // a paired metadata file that produced NO parsed row (empty/whitespace
      // file — nothing for PERMISSIVE mode to route to _corrupt_record) is a
      // parse error in the reference (json.load raises; "Error parsing …")
      // — count it corrupt or the market vanishes from the audit entirely
      val unreadableMeta = pathPairs
        .join(perMarketRaw.select("metaPath"), Seq("metaPath"), "left_anti")
      val tally = Seq(
        tag(entries.filter(col("kind").isin("metadata", "data"))
          .select("stem").distinct(), "total"),
        tag(metaWithoutData, "withoutData"),
        tag(extracted.filter(col("outcome") === "missing"), "withoutMeta"),
        tag(corrupt, "corrupt"),
        tag(extracted.filter(col("outcome") === "corrupt"), "corrupt"),
        tag(bulkRaw.filter(col("_corrupt_record").isNotNull), "corrupt"),
        tag(unreadableMeta, "corrupt"),
        tag(index, "rows")
      ).reduce(_ unionByName _).groupBy("counter").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap.withDefaultValue(0L)
      Counters(tally("total"), tally("withoutData"), tally("withoutMeta"),
        tally("corrupt"), tally("rows"))
    } catch {
      case e: Throwable => index.unpersist(); throw e
    } finally Seq(entries, bulkRaw, bulkPaired, dataFree, extracted,
        perMarketRaw).foreach(_.unpersist())
    BuildResult(index, counters)
  }

  /** A5-A9 + A12 flattening: one wide select with catalogue/definition
    * branches chosen per row (`numberOfWinners` present => definition).
    */
  private[betfair] def flatten(df: DataFrame): DataFrame = {
    val isDef = col("numberOfWinners").isNotNull
    def branch(defCol: Column, catCol: Column): Column =
      when(isDef, defCol).otherwise(catCol)

    val marketName = branch(col("name"), col("marketName"))
    val marketStartTime = branch(col("marketTime"), col("marketStartTime"))
    val eventTimezone = branch(col("timezone"), col("event.timezone"))
    val eventOpenDate = branch(col("openDate"), col("event.openDate"))
    val marketSettledTime =
      branch(col("settledTime"), col("description.settledTime"))
    // reference KeyError semantics: catalogue local times need BOTH
    // event.timezone and event.openDate present
    // (betfairdatabase/metadata.py:87-102)
    val hasLocal = when(isDef, col("timezone").isNotNull)
      .otherwise(col("event.timezone").isNotNull && col("event.openDate").isNotNull)

    df.select(
      col("marketId"),
      marketName.as("marketName"),
      marketStartTime.as("marketStartTime"),
      branch(col("persistenceEnabled"), col("description.persistenceEnabled"))
        .as("persistenceEnabled"),
      branch(col("bspMarket"), col("description.bspMarket")).as("bspMarket"),
      branch(col("marketTime"), col("description.marketTime")).as("marketTime"),
      branch(col("suspendTime"), col("description.suspendTime"))
        .as("suspendTime"),
      branch(col("bettingType"), col("description.bettingType"))
        .as("bettingType"),
      branch(col("turnInPlayEnabled"), col("description.turnInPlayEnabled"))
        .as("turnInPlayEnabled"),
      branch(col("marketType"), col("description.marketType")).as("marketType"),
      col("numberOfWinners"),
      branch(col("priceLadderDefinition.type"),
        col("description.priceLadderDescription.type"))
        .as("priceLadderDescriptionType"),
      when(isDef, lit(null).cast("string"))
        .otherwise(col("description.lineRangeInfo.marketUnit"))
        .as("lineRangeInfoMarketUnit"),
      branch(col("eachWayDivisor"), col("description.eachWayDivisor"))
        .as("eachWayDivisor"),
      branch(col("raceType"), col("description.raceType")).as("raceType"),
      when(col("runners").isNotNull, size(col("runners")))
        .cast("int").as("runners"),
      branch(col("eventTypeId"), col("eventType.id")).as("eventTypeId"),
      when(isDef, lit(null).cast("string")).otherwise(col("eventType.name"))
        .as("eventTypeName"),
      when(isDef, lit(null).cast("string")).otherwise(col("competition.id"))
        .as("competitionId"),
      when(isDef, lit(null).cast("string")).otherwise(col("competition.name"))
        .as("competitionName"),
      branch(col("eventId"), col("event.id")).as("eventId"),
      branch(col("eventName"), col("event.name")).as("eventName"),
      branch(col("countryCode"), col("event.countryCode"))
        .as("eventCountryCode"),
      eventTimezone.as("eventTimezone"),
      eventOpenDate.as("eventOpenDate"),
      branch(col("venue"), col("event.venue")).as("eventVenue"),
      marketSettledTime.as("marketSettledTime"),
      when(hasLocal && marketStartTime.isNotNull,
        localDowUdf(marketStartTime, eventTimezone)).as("localDayOfWeek"),
      when(hasLocal && marketStartTime.isNotNull,
        localTimeUdf(marketStartTime, eventTimezone)).as("localMarketStartTime"),
      when(hasLocal && eventOpenDate.isNotNull,
        localTimeUdf(eventOpenDate, eventTimezone)).as("localEventOpenDate"),
      when(hasLocal && marketSettledTime.isNotNull,
        localTimeUdf(marketSettledTime, eventTimezone))
        .as("localMarketSettledTime"),
      col("metaPath").as("marketMetadataFilePath"),
      col("_dataPath").as("marketDataFilePath"))
  }

  /** A10/A11: race metadata from WIN-market names, propagated to all markets
    * of the same race via broadcast left join on the race key
    * (eventTypeId,countryCode,venue,marketTime — reference
    * betfairdatabase/racing.py:86-113).
    */
  private[betfair] def racingJoin(flat: DataFrame): DataFrame = {
    val racing = col("eventTypeId").isin(RacingEventTypeIds: _*)
    val keyValid = col("eventTypeId").isNotNull &&
      col("eventCountryCode").isNotNull && col("eventVenue").isNotNull &&
      col("marketStartTime").isNotNull
    val withKey = flat.withColumn("_raceKey",
      when(racing && keyValid,
        concat_ws(",", col("eventTypeId"), col("eventCountryCode"),
          col("eventVenue"), col("marketStartTime"))))
    val winSide = withKey
      .filter(col("_raceKey").isNotNull && col("marketType") === "WIN" &&
        col("marketName").isNotNull)
      .withColumn("_rm", raceMetaUdf(col("marketName")))
      .groupBy(col("_raceKey").as("_winKey"))
      // deterministic last-writer (reference dict is insertion-order-last)
      .agg(max_by(col("_rm"), col("marketMetadataFilePath")).as("_rm"))
    withKey.join(broadcast(winSide),
        withKey("_raceKey") === winSide("_winKey"), "left_outer")
      .withColumn("raceId", when(col("_winKey").isNotNull, col("_raceKey")))
      .withColumn("raceTypeFromName",
        when(col("_winKey").isNotNull, col("_rm._1")))
      .withColumn("raceDistanceMeters",
        when(col("_winKey").isNotNull, col("_rm._2")))
      .withColumn("raceDistanceFurlongs",
        when(col("_winKey").isNotNull, col("_rm._3")))
      .drop("_raceKey", "_winKey", "_rm")
  }

  /** A12: the fixed 37-column contract projection, in order. */
  private[betfair] def project(df: DataFrame): DataFrame =
    df.select(IndexColumns.map(col): _*)
}
