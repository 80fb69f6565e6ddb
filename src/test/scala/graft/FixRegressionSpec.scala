package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.betfair.{BetfairDatabase, Fixtures, ImportPatterns, PathCanon, SparkSpec}
import graft.fn.Compat

/** Regression tests for the round-2 correctness fixes: as-of strict-inequality
  * tie semantics, SQLite %w weekday compilation, canonical path pairing, and
  * the idempotent/in-place-safe insert file placement.
  */
class FixRegressionSpec extends SparkSpec {

  test("q15 as-of join: same-timestamp events are not 'prior'") {
    import spark.implicits._
    // user 1: np(1)@1000ns, np(2)@2000, purchase(3)@2000, np(4)@2000,
    //         purchase(5)@3000; user 2: purchase(6)@1000 with no prior.
    // The np events sharing ts=2000 with purchase 3 must NOT be its prior
    // (oracle: e.ts < p.ts strictly) — the old (ts, event_id) window order
    // leaked np(2) (smaller id than the purchase) into the frame.
    val rows = Seq(
      (1L, 1L, "view", 1000L), (2L, 1L, "view", 2000L),
      (3L, 1L, "purchase", 2000L), (4L, 1L, "click", 2000L),
      (5L, 1L, "purchase", 3000L), (6L, 2L, "purchase", 1000L))
    val dir = Fixtures.tempDir("asof")
    rows.toDF("event_id", "user_id", "event_type", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = ops.Relational.q15AsOfJoin(spark, dir.toString)
      .collect()
      .map(r => (r.getLong(0), Option(r.get(2)).map(_.toString).orNull))
      .toSeq
    assert(got == Seq((3L, "1"), (5L, "4"), (6L, null)))
  }

  test("strftime %w compiles to SQLite weekday digits (0=Sunday)") {
    import spark.implicits._
    val df = Seq("2023-07-30 10:00:00", "2023-07-31 10:00:00",
      "2023-08-05 10:00:00")
      .toDF("s").withColumn("ts", to_timestamp(col("s")))
    // Sunday, Monday, Saturday
    assert(df.select(Compat.strftime("%w", col("ts"))).as[String].collect()
      .toSeq == Seq("0", "1", "6"))
    assert(df.select(Compat.strftime("%Y-%m-%d %w", col("ts"))).as[String]
      .collect().toSeq ==
      Seq("2023-07-30 0", "2023-07-31 1", "2023-08-05 6"))
    // registered UDF path (raw-SQL where strings)
    Compat.register(spark)
    assert(df.selectExpr("strftime('%w', ts)").as[String].collect()
      .toSeq == Seq("0", "1", "6"))
    // pattern-only formats still translate; %w alone has no pattern form
    assert(Compat.translate("%Y-%m") == "yyyy-MM")
    intercept[IllegalArgumentException] { Compat.translate("%w") }
    // extended codes: %u ISO weekday (Mon=1), %s epoch, %T/%R/%p patterns
    assert(df.select(Compat.strftime("%u", col("ts"))).as[String].collect()
      .toSeq == Seq("7", "1", "6"))
    assert(df.select(Compat.strftime("%s", col("ts"))).as[String].collect()
      .head == "1690711200") // 2023-07-30T10:00:00Z
    assert(df.select(Compat.strftime("%T", col("ts"))).as[String].collect()
      .head == "10:00:00")
    assert(df.select(Compat.strftime("%R %p", col("ts"))).as[String].collect()
      .head == "10:00 AM")
  }

  test("strftime with a column-valued format falls back to the UDF path") {
    import spark.implicits._
    Compat.register(spark)
    val df = Seq(
      ("%Y-%m-%d", "2023-07-30 10:00:00"),
      ("%H:%M", "2023-07-31 10:20:00"),
      ("%w", "2023-08-05 10:00:00"))
      .toDF("fmt", "s").withColumn("ts", to_timestamp(col("s")))
    // fmt is a column, so the analysis-time expansion can't apply — the
    // builder must route to sqlite_strftime instead of failing
    assert(df.selectExpr("strftime(fmt, ts)").as[String].collect()
      .toSeq == Seq("2023-07-30", "10:20", "6"))
  }

  test("PathCanon: decoded file paths, scheme-qualified remote paths") {
    def uri(s: String) = new org.apache.hadoop.fs.Path(new java.net.URI(s))
    assert(PathCanon.canonical(uri("file:///data%20dir/1.23.json"))
      == "/data dir/1.23.json")
    assert(PathCanon.canonical(uri("file:/data/1.23")) == "/data/1.23")
    assert(PathCanon.canonical(uri("hdfs://nn:8020/x/1.2"))
      == "hdfs://nn:8020/x/1.2")
    assert(PathCanon.canonical(new org.apache.hadoop.fs.Path("/plain/p"))
      == "/plain/p")
    // remote default FS (ADVICE r2): file paths keep a decoded file:// scheme
    // so later Path resolution can't land on the wrong filesystem
    assert(PathCanon.canonical(uri("file:///data%20dir/1.23.json"),
      stripFile = false) == "file:///data dir/1.23.json")
    assert(PathCanon.canonical(uri("hdfs://nn:8020/x/1.2"), stripFile = false)
      == "hdfs://nn:8020/x/1.2")
    val localConf = new org.apache.hadoop.conf.Configuration(false)
    localConf.set("fs.defaultFS", "file:///")
    assert(PathCanon.stripFileScheme(localConf))
    val remoteConf = new org.apache.hadoop.conf.Configuration(false)
    remoteConf.set("fs.defaultFS", "hdfs://nn:8020")
    assert(!PathCanon.stripFileScheme(remoteConf))
  }

  test("snapshot swap crash between retire and publish self-heals") {
    val dir = Fixtures.tempDir("graftdb")
    Fixtures.multiSportDb(dir)
    val db = new BetfairDatabase(spark, dir.toString)
    db.index()
    val n = db.size
    // simulate the crash window: live index retired, new one never published
    Files.move(dir.resolve(".betfairdatabaseindex"),
      dir.resolve(".betfairdatabaseindex_old"))
    assert(db.indexExists) // recovery happens inside the check
    assert(db.size == n)
    assert(Files.exists(dir.resolve(".betfairdatabaseindex")))
    assert(!Files.exists(dir.resolve(".betfairdatabaseindex_old")))
  }

  test("insert replace-policy onto itself leaves files intact (idempotent place)") {
    val dir = Fixtures.tempDir("graftdb")
    Fixtures.multiSportDb(dir)
    val db = new BetfairDatabase(spark, dir.toString)
    db.index()
    val before = db.size
    // 1st flat self-insert relocates every market to the db root (the rows
    // for the old subdir locations go stale — clean() purges them, like the
    // reference workflow after files move)
    db.insert(dir.toString, copy = false,
      pattern = ImportPatterns.flat, onDuplicates = "replace")
    db.clean()
    assert(db.size == before)
    val rootPaths = db.select(columns = Seq("marketDataFilePath")).collect()
      .map(_.getString(0))
    // 2nd flat self-insert is a true in-place pass: source == destination
    // for every file. replace policy forces UPDATE + data placement; the old
    // code deleted the destination and then renamed the (now missing) source
    // onto it, losing the file.
    db.insert(dir.toString, copy = false,
      pattern = ImportPatterns.flat, onDuplicates = "replace")
    rootPaths.foreach { p =>
      assert(Files.exists(java.nio.file.Paths.get(p)), s"lost $p")
    }
    assert(db.size == before)
  }
}
