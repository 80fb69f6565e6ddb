package graft.betfair

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.types._

/** Schemas for the betfair market-index engine. The 37-column index
  * contract is declared once, by [[MarketIndexRow]]; its names, order and
  * types here are derived from that case class.
  */
object Schemas {

  val indexSchema: StructType = Encoders.product[MarketIndexRow].schema

  /** Index column names, in contract order. */
  val IndexColumns: Seq[String] = indexSchema.fieldNames.toSeq

  private val runnerSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("selectionId", LongType),
    StructField("runnerName", StringType),
    StructField("status", StringType),
    StructField("sortPriority", IntegerType),
    StructField("metadata", MapType(StringType, StringType))))

  /** Unified schema for per-market metadata JSON: the top-level superset of a
    * market catalogue (nested: description/eventType/competition/event,
    * reference: betfairdatabase/metadata.py:78-111) and a market definition
    * (flat, reference: betfairdatabase/metadata.py:122-160). Discrimination:
    * `numberOfWinners` present => definition
    * (reference: betfairdatabase/market.py:60-68). Extra JSON keys are
    * dropped, missing keys become null — matching the reference's
    * `.get(k, None)` semantics via PERMISSIVE mode.
    */
  val metadataSchema: StructType = StructType(Seq(
    // shared
    StructField("marketId", StringType),
    StructField("runners", ArrayType(runnerSchema)),
    // catalogue top level
    StructField("marketName", StringType),
    StructField("marketStartTime", StringType),
    StructField("description", StructType(Seq(
      StructField("persistenceEnabled", BooleanType),
      StructField("bspMarket", BooleanType),
      StructField("marketTime", StringType),
      StructField("suspendTime", StringType),
      StructField("settledTime", StringType),
      StructField("bettingType", StringType),
      StructField("turnInPlayEnabled", BooleanType),
      StructField("marketType", StringType),
      StructField("raceType", StringType),
      StructField("eachWayDivisor", DoubleType),
      StructField("priceLadderDescription", StructType(Seq(
        StructField("type", StringType)))),
      StructField("lineRangeInfo", StructType(Seq(
        StructField("maxUnitValue", DoubleType),
        StructField("minUnitValue", DoubleType),
        StructField("interval", DoubleType),
        StructField("marketUnit", StringType)))),
      StructField("regulator", StringType)))),
    StructField("eventType", StructType(Seq(
      StructField("id", StringType), StructField("name", StringType)))),
    StructField("competition", StructType(Seq(
      StructField("id", StringType), StructField("name", StringType)))),
    StructField("event", StructType(Seq(
      StructField("id", StringType),
      StructField("name", StringType),
      StructField("countryCode", StringType),
      StructField("timezone", StringType),
      StructField("venue", StringType),
      StructField("openDate", StringType)))),
    // definition top level (flat)
    StructField("name", StringType),
    StructField("marketTime", StringType),
    StructField("suspendTime", StringType),
    StructField("settledTime", StringType),
    StructField("persistenceEnabled", BooleanType),
    StructField("bspMarket", BooleanType),
    StructField("turnInPlayEnabled", BooleanType),
    StructField("bettingType", StringType),
    StructField("marketType", StringType),
    StructField("numberOfWinners", IntegerType),
    StructField("eachWayDivisor", DoubleType),
    StructField("raceType", StringType),
    StructField("priceLadderDefinition", StructType(Seq(
      StructField("type", StringType)))),
    StructField("eventId", StringType),
    StructField("eventName", StringType),
    StructField("eventTypeId", StringType),
    StructField("countryCode", StringType),
    StructField("timezone", StringType),
    StructField("venue", StringType),
    StructField("openDate", StringType),
    // corrupt-record routing (A22)
    StructField("_corrupt_record", StringType)))

  /** Horse racing + greyhound racing
    * (reference: betfairdatabase/market.py:20-23).
    */
  val RacingEventTypeIds: Seq[String] = Seq("7", "4339")
}
