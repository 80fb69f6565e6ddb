package graft.betfair

/** One index row: the single declaration of the 37-column index contract.
  * [[Schemas.indexSchema]] and [[Schemas.IndexColumns]] are derived from
  * it, and it is the typed Dataset boundary of the public API (SURVEY.md
  * §1.4: DataFrame for the column-name-driven ETL, one typed Dataset at the
  * API edge).
  *
  * Names and order mirror the reference's SQL_TABLE_COLUMNS
  * (reference: betfairdatabase/const.py:17-58) and are part of the public
  * API. Types follow SURVEY.md §1.3: ids and ISO timestamps stay strings
  * (lexical compare == chronological for ISO-8601 UTC), booleans are real
  * booleans, counts ints, distances doubles. The derived schema marks
  * every column nullable, the plain `String` fields included.
  */
case class MarketIndexRow(
    marketId: String,
    marketName: Option[String],
    marketStartTime: Option[String],
    persistenceEnabled: Option[Boolean],
    bspMarket: Option[Boolean],
    marketTime: Option[String],
    suspendTime: Option[String],
    bettingType: Option[String],
    turnInPlayEnabled: Option[Boolean],
    marketType: Option[String],
    numberOfWinners: Option[Int],
    priceLadderDescriptionType: Option[String],
    lineRangeInfoMarketUnit: Option[String],
    eachWayDivisor: Option[Double],
    raceType: Option[String],
    runners: Option[Int],
    eventTypeId: Option[String],
    eventTypeName: Option[String],
    competitionId: Option[String],
    competitionName: Option[String],
    eventId: Option[String],
    eventName: Option[String],
    eventCountryCode: Option[String],
    eventTimezone: Option[String],
    eventVenue: Option[String],
    eventOpenDate: Option[String],
    marketSettledTime: Option[String],
    localDayOfWeek: Option[String],
    localMarketStartTime: Option[String],
    localEventOpenDate: Option[String],
    localMarketSettledTime: Option[String],
    raceId: Option[String],
    raceTypeFromName: Option[String],
    raceDistanceMeters: Option[Double],
    raceDistanceFurlongs: Option[Double],
    marketMetadataFilePath: String,
    marketDataFilePath: String) {

  def isRacing: Boolean = eventTypeId.exists(Schemas.RacingEventTypeIds.contains)
}
