package graft.betfair

import java.time.format.DateTimeFormatter
import java.time.{DateTimeException, Instant, ZoneId, ZonedDateTime}
import java.util.Locale

import org.apache.spark.sql.SparkSession

/** Scalar functions for the betfair index pipeline.
  *
  * Registered as Scala UDFs: they run once per market at index-build time
  * (not in the query hot path), and their semantics — Python `str(datetime)`
  * formatting, two-pass regex stripping — don't decompose into built-in
  * expressions cleanly (SURVEY.md §7.4).
  */
object Functions {

  // -------------------------------------------------------------------
  // A8: per-row-timezone local times.
  // Reference: betfairdatabase/metadata.py:40-72; format goldens
  // tests/test_metadata.py:23-55 ("2025-03-15 20:09:37+03:00").
  // -------------------------------------------------------------------

  private val isoMillis =
    DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss[.SSS]['Z']")

  /** Parse Betfair ISO-8601 UTC ("2023-06-01T17:09:37.000Z") to an Instant.
    * Returns null on unparseable input (reference would raise; we keep rows
    * and null the derived columns — corrupt inputs are counted upstream).
    */
  private[betfair] def parseIso(ts: String): Instant =
    try Instant.parse(if (ts.endsWith("Z")) ts else ts + "Z")
    catch {
      case _: Exception =>
        try java.time.LocalDateTime.parse(ts, isoMillis)
          .toInstant(java.time.ZoneOffset.UTC)
        catch { case _: Exception => null }
    }

  /** `ts` in zone `tz`, or null when either is null or does not parse. An
    * unknown zone id keeps the row and nulls the derived columns, like an
    * unparseable timestamp (the reference would raise).
    */
  private def atZone(ts: String, tz: String): ZonedDateTime = {
    if (ts == null || tz == null) return null
    val inst = parseIso(ts)
    if (inst == null) return null
    try inst.atZone(ZoneId.of(tz))
    catch { case _: DateTimeException => null }
  }

  /** Python str(datetime)-compatible local time: "yyyy-MM-dd HH:mm:ss",
    * fractional seconds only when nonzero (6 digits), offset "+HH:MM"
    * (":SS" suffix only for historic sub-minute offsets).
    */
  private[betfair] def localTimeString(ts: String, tz: String): String = {
    val zdt = atZone(ts, tz)
    if (zdt == null) return null
    val base = zdt.format(DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
    val micros = zdt.getNano / 1000
    val frac = if (micros != 0) f".$micros%06d" else ""
    val totalSec = zdt.getOffset.getTotalSeconds
    val sign = if (totalSec < 0) "-" else "+"
    val abs = math.abs(totalSec)
    val hm = f"$sign${abs / 3600}%02d:${(abs % 3600) / 60}%02d"
    val off = if (abs % 60 != 0) hm + f":${abs % 60}%02d" else hm
    s"$base$frac$off"
  }

  /** English weekday name of the local market start (Python %A). */
  private[betfair] def localDayOfWeek(ts: String, tz: String): String = {
    val zdt = atZone(ts, tz)
    if (zdt == null) null
    else zdt.format(DateTimeFormatter.ofPattern("EEEE", Locale.ENGLISH))
  }

  // -------------------------------------------------------------------
  // A10: racing-name metadata extraction.
  // Reference: betfairdatabase/racing.py:16-72; goldens
  // tests/test_racing.py:23-76.
  // -------------------------------------------------------------------

  val MetersPerFurlong = 201.168

  private val distRegex = "(?:(\\d*)[Mm])?(?:(\\d*)f)?".r
  private val typeRegex = "(?:R\\d+)?(?:\\s+)?(.*\\S)".r

  /** (raceTypeFromName, raceDistanceMeters, raceDistanceFurlongs) from a WIN
    * market name like "2m Mdn Hrd" or "R4 405m Gr3/4". Mirrors the
    * reference's first-nonempty-findall + strip-then-match semantics.
    */
  private[betfair] def extractRaceMetadata(marketName: String)
      : (String, Option[Double], Option[Double]) = {
    if (marketName == null) return (null, None, None)
    val firstDist = distRegex.findAllMatchIn(marketName)
      .map(m => (Option(m.group(1)).getOrElse(""), Option(m.group(2)).getOrElse("")))
      .find(t => t._1.nonEmpty || t._2.nonEmpty)
    var name = marketName
    val (meters, furlongs) = firstDist match {
      case Some((g1, g2)) =>
        val mValue = if (g1.nonEmpty) g1.toDouble else 0.0
        val fValue = if (g2.nonEmpty) g2.toDouble else 0.0
        val (mt, fl) =
          if (fValue != 0.0 || mValue < 20)
            ((mValue * 8 + fValue) * MetersPerFurlong, mValue * 8 + fValue)
          else (mValue, mValue / MetersPerFurlong)
        if (mValue > 0) {
          name = name.replace(s"${g1}m", "").replace(s"${g1}M", "")
        }
        if (fValue > 0) name = name.replace(s"${g2}f", "")
        (Some(mt), Some(fl))
      case None => (None, None)
    }
    val raceType = typeRegex.findFirstMatchIn(name).map(_.group(1)).orNull
    (raceType, meters, furlongs)
  }

  /** Register the UDFs on a session. Idempotent. */
  def register(spark: SparkSession): Unit = {
    spark.udf.register("bf_local_time",
      (ts: String, tz: String) => localTimeString(ts, tz))
    spark.udf.register("bf_local_dow",
      (ts: String, tz: String) => localDayOfWeek(ts, tz))
    spark.udf.register("bf_race_meta",
      (name: String) => extractRaceMetadata(name))
  }
}
