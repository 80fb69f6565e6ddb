package graft.betfair

import java.nio.charset.StandardCharsets
import java.util.concurrent.TimeoutException

import scala.concurrent.Await
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonMappingException, ObjectMapper}
import org.apache.commons.io.IOUtils
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo,
  JsonToStructs}
import org.apache.spark.sql.expressions.{UserDefinedFunction, Window}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType}
import org.apache.spark.util.SerializableConfiguration
import Schemas._

/** The index-build dataflow (SURVEY.md §3.2): one plan over the [[Discover]]
  * listing, with one shuffle before the racing window.
  *   1. Classify: one narrow pass tags every listed file with its pairing
  *      key. Data and per-market metadata files are keyed by stem; each bulk
  *      `metadata.json` is read once and split into its elements, keyed
  *      `dir/marketId` (A3).
  *   2. Pair: one hash shuffle on the key brings a key's files together and
  *      applies the reference's pairing rules ([[pair]]).
  *   3. Read: in the same tasks, each paired metadata file is read or the
  *      definition extracted from the data file (A4); one `from_json` then
  *      parses them all (A5-A9).
  * Then flatten → derive → racing window → 37-column projection. The
  * build is a lazy plan: the caller's action that consumes it (`index`'s
  * snapshot write, `insert`'s plan checkpoint) runs it, once, and one
  * [[Observation]] on the resolved pairs takes every counter on that
  * action. Nothing is cached or counted on the side.
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

  /** How long [[BuildResult.counters]] waits for its observation. The
    * consuming action's metrics reach it through the listener bus, moments
    * after the action returns; before that action they never come.
    */
  private val CountersWait = 10.seconds

  /** One build: `index` is the uncached plan, which the caller consumes with
    * one action. `counters` are observed on that action; read before it,
    * they throw after [[CountersWait]] instead of waiting for an action that
    * may never run.
    */
  final class BuildResult private[IndexPipeline] (val index: DataFrame,
      observed: Observation) {
    def counters: Counters = {
      try Await.ready(observed.future, CountersWait)
      catch {
        case _: TimeoutException => throw new IllegalStateException(
          "build: counters read before an action consumed the index")
      }
      val n = observed.get.view.mapValues(_.asInstanceOf[Long]).toMap
      // the optimizer prunes the metrics of an empty listing with the plan
      def get(name: String) = n.getOrElse(name, 0L)
      Counters(get("total"), get("withoutData"), get("withoutMeta"),
        get("corrupt"), get("rows"))
    }
  }

  private val localTimeUdf: UserDefinedFunction =
    udf((ts: String, tz: String) => Functions.localTimeString(ts, tz))
  private val localDowUdf: UserDefinedFunction =
    udf((ts: String, tz: String) => Functions.localDayOfWeek(ts, tz))
  private val raceMetaUdf: UserDefinedFunction =
    udf((name: String) => Functions.extractRaceMetadata(name))

  /** One listed file's claim on a pairing key. kind: data | metadata |
    * bulk (one element of a bulk file: `json` is its text, `ord` its
    * position in the file) | bulkCorrupt (an unparseable bulk file, keyed
    * by its own path).
    */
  private[betfair] case class Keyed(key: String, kind: String, path: String,
      ord: Int, json: String)

  /** One pair of a market's files, or one counted outcome. step, as
    * [[pair]] emits it: read (a per-market metadata file) | parse (metadata
    * text in `json`: a bulk element) | extract (the definition is in the
    * data file) | withoutData | corrupt; as [[resolve]] leaves it: parse |
    * def (an extracted definition) | withoutData | withoutMeta | corrupt.
    * `total` marks one row per market stem.
    */
  private[betfair] case class Step(step: String, metaPath: String,
      dataPath: String, stem: String, json: String, total: Boolean)

  private def readText(conf: Configuration, path: String): String = {
    val p = new Path(path)
    val in = p.getFileSystem(conf).open(p)
    try new String(IOUtils.toByteArray(in), StandardCharsets.UTF_8)
    finally in.close()
  }

  /** The elements of a bulk metadata file (A3): an array of metadata dicts,
    * or one dict; an empty file has none. Each element with a `marketId`
    * is keyed `dir/marketId` and keeps its JSON text for `from_json`.
    * Throws on a file that does not parse, as the reference's json.load.
    */
  private def bulkElements(mapper: ObjectMapper, path: String, text: String)
      : Seq[Keyed] = {
    val root = mapper.readTree(text)
    val elements =
      if (root.isArray) root.elements.asScala.toSeq
      else if (root.isObject) Seq(root)
      else if (root.isMissingNode) Nil
      else throw new JsonMappingException(null, s"bulk metadata root $root")
    val prefix = path.stripSuffix("metadata.json")
    elements.zipWithIndex.collect {
      case (e, ord) if e.hasNonNull("marketId") &&
          e.get("marketId").isValueNode =>
        Keyed(prefix + e.get("marketId").asText, "bulk", path, ord,
          mapper.writeValueAsString(e))
    }
  }

  /** Stage 1 for one listed file. */
  private def classify(conf: Configuration, mapper: ObjectMapper,
      e: Discover.Entry): Seq[Keyed] =
    if (e.kind != "bulk") Seq(Keyed(e.stem, e.kind, e.path, 0, null))
    else
      try bulkElements(mapper, e.path, readText(conf, e.path))
      catch {
        case _: java.io.IOException =>
          Seq(Keyed(e.path, "bulkCorrupt", e.path, 0, null))
      }

  /** Stage 2: the reference's pairing rules over one key's files (A2, A3).
    * A bulk element (the last one, when its file lists the id twice, as the
    * reference's dict keeps it) takes every data file of its key and
    * shadows the per-market file there, which then counts as a market
    * without data. Otherwise a per-market file pairs with each data file of
    * its stem, or is a market without data; a data file with no metadata
    * gets its definition extracted. The first row of a key with a data or
    * per-market file counts the market in `totalMarkets`.
    */
  private def pair(key: String, files: Seq[Keyed]): Seq[Step] = {
    val data = files.filter(_.kind == "data").map(_.path).sorted
    val meta = files.find(_.kind == "metadata").map(_.path)
    val bulk = files.filter(_.kind == "bulk").maxByOption(_.ord)
    def step(s: String, metaPath: String, dataPath: String,
        json: String = null) = Step(s, metaPath, dataPath, key, json, false)
    val market = (bulk, meta) match {
      case (Some(b), _) if data.nonEmpty =>
        data.map(step("parse", b.path, _, b.json)) ++
          meta.map(step("withoutData", _, null))
      case (_, Some(m)) if data.nonEmpty => data.map(step("read", m, _))
      case (_, Some(m)) => Seq(step("withoutData", m, null))
      case _ => data.map(step("extract", key + ".json", _))
    }
    val corruptBulk = files.filter(_.kind == "bulkCorrupt")
      .map(f => step("corrupt", f.path, null))
    market.take(1).map(_.copy(total = true)) ++ market.drop(1) ++ corruptBulk
  }

  /** Stage 3 for one step: read the per-market file (an empty one is a
    * parse error in the reference, so corrupt) or extract the definition.
    */
  private def resolve(conf: Configuration, mapper: ObjectMapper, s: Step,
      writeMetadataFiles: Boolean): Step = s.step match {
    case "read" =>
      val text = try readText(conf, s.metaPath)
      catch { case _: java.io.IOException => "" }
      if (text.trim.isEmpty) s.copy(step = "corrupt")
      else s.copy(step = "parse", json = text)
    case "extract" =>
      val x = MarketDefExtract.extractFile(conf, mapper, s.stem, s.dataPath,
        writeMetadataFiles)
      x.outcome match {
        case "ok" => s.copy(step = "def", json = x.json)
        case "missing" => s.copy(step = "withoutMeta")
        case _ => s.copy(step = "corrupt")
      }
    case _ => s
  }

  /** Build the 37-column index plan for a source directory, with its audit
    * counters observed on the action that consumes it.
    */
  def build(spark: SparkSession, sourceDir: String,
      writeMetadataFiles: Boolean = true): BuildResult = {
    import spark.implicits._
    val sconf = new SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val keyed = Discover.scan(spark, sourceDir).as[Discover.Entry]
      .mapPartitions { it =>
        val (conf, mapper) = (sconf.value, new ObjectMapper())
        it.flatMap(classify(conf, mapper, _))
      }
    // an explicit partition count: AQE would coalesce the few small rows
    // of a key shuffle into one task and run every file read in it
    val steps = keyed.repartition(spark.sparkContext.defaultParallelism,
        col("key"))
      .groupBy("key")
      .agg(collect_list(struct(keyed.columns.toSeq.map(col): _*)))
      .as[(String, Seq[Keyed])]
      .mapPartitions { it =>
        val (conf, mapper) = (sconf.value, new ObjectMapper())
        it.flatMap { case (key, files) => pair(key, files) }
          .map(resolve(conf, mapper, _, writeMetadataFiles))
      }
    val parsed = steps.withColumn("m", parseMetadata(spark, col("json")))
    val step = col("step")
    // an extracted definition keeps whatever of it fits the schema
    val corrupt = step === "corrupt" || (step === "parse" &&
      (col("m").isNull || col("m._corrupt_record").isNotNull))
    val good = step.isin("parse", "def") && !corrupt

    // counters (A20): observed on the consuming action; total = |data ∪
    // metadata| stems before bulk consumption (reference:
    // betfairdatabase/processor.py:147-149); every good pair is one row
    val observed = Observation()
    def tally(c: Column, name: String) = count(when(c, 1)).as(name)
    val pairs = parsed.observe(observed, tally(col("total"), "total"),
      tally(step === "withoutData", "withoutData"),
      tally(step === "withoutMeta", "withoutMeta"),
      tally(corrupt, "corrupt"), tally(good, "rows"))
      .filter(good).select(col("m.*"), col("metaPath"), col("dataPath"))
    new BuildResult(project(racingJoin(flatten(pairs))), observed)
  }

  private val ParseMetadata = FunctionIdentifier("bf_parse_metadata")

  /** `from_json(json, metadataSchema)`, built from the `StructType`
    * itself: Spark's `from_json` hands the schema to the analyzer as DDL
    * text, which it parses again (cold, about half a second). A native
    * function-registry builder, registered once per session, as
    * `graft.fn.Compat.register` does for `strftime`.
    */
  private def parseMetadata(spark: SparkSession, json: Column): Column = {
    val reg = spark.sessionState.functionRegistry
    if (!reg.functionExists(ParseMetadata))
      reg.registerFunction(ParseMetadata,
        new ExpressionInfo(getClass.getName, ParseMetadata.funcName),
        (children: Seq[Expression]) => children match {
          case Seq(c) => JsonToStructs(metadataSchema, Map.empty, c)
          case _ => throw new IllegalArgumentException(
            s"${ParseMetadata.funcName}(json) takes one argument")
        })
    call_function(ParseMetadata.funcName, json)
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
      when(isDef, lit(null).cast(StringType))
        .otherwise(col("description.lineRangeInfo.marketUnit"))
        .as("lineRangeInfoMarketUnit"),
      branch(col("eachWayDivisor"), col("description.eachWayDivisor"))
        .as("eachWayDivisor"),
      branch(col("raceType"), col("description.raceType")).as("raceType"),
      when(col("runners").isNotNull, size(col("runners")))
        .cast(IntegerType).as("runners"),
      branch(col("eventTypeId"), col("eventType.id")).as("eventTypeId"),
      when(isDef, lit(null).cast(StringType)).otherwise(col("eventType.name"))
        .as("eventTypeName"),
      when(isDef, lit(null).cast(StringType)).otherwise(col("competition.id"))
        .as("competitionId"),
      when(isDef, lit(null).cast(StringType)).otherwise(col("competition.name"))
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
      col("dataPath").as("marketDataFilePath"))
  }

  /** A10/A11: race metadata from WIN-market names, propagated to all markets
    * of the same race by a window over the race key
    * (eventTypeId,countryCode,venue,marketTime — reference
    * betfairdatabase/racing.py:86-113). A window, not a self-join: a join
    * would run the uncached upstream — the file reads and the extraction,
    * which writes files — twice.
    */
  private[betfair] def racingJoin(flat: DataFrame): DataFrame = {
    val racing = col("eventTypeId").isin(RacingEventTypeIds: _*)
    val keyValid = col("eventTypeId").isNotNull &&
      col("eventCountryCode").isNotNull && col("eventVenue").isNotNull &&
      col("marketStartTime").isNotNull
    val raceKey = col("_raceKey")
    val win = raceKey.isNotNull && col("marketType") === "WIN" &&
      col("marketName").isNotNull
    // a market outside any race is a group of its own, so the non-racing
    // majority spreads over the partitions instead of one null-key group
    val race = Window.partitionBy(raceKey,
      when(raceKey.isNull, col("marketDataFilePath")))
    flat.withColumn("_raceKey",
        when(racing && keyValid,
          concat_ws(",", col("eventTypeId"), col("eventCountryCode"),
            col("eventVenue"), col("marketStartTime"))))
      // deterministic last-writer (reference dict is insertion-order-last);
      // max_by skips the null orderings of non-WIN rows, so _rm is non-null
      // exactly when the race has a WIN market (the UDF returns a struct
      // for every name)
      .withColumn("_rm", max_by(when(win, raceMetaUdf(col("marketName"))),
        when(win, col("marketMetadataFilePath"))).over(race))
      .withColumn("raceId", when(col("_rm").isNotNull, raceKey))
      .withColumn("raceTypeFromName", col("_rm._1"))
      .withColumn("raceDistanceMeters", col("_rm._2"))
      .withColumn("raceDistanceFurlongs", col("_rm._3"))
      .drop("_raceKey", "_rm")
  }

  /** A12: the fixed 37-column contract projection, in order. */
  private[betfair] def project(df: DataFrame): DataFrame =
    df.select(IndexColumns.map(col): _*)
}
