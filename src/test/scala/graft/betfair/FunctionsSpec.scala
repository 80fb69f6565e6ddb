package graft.betfair

import org.scalatest.funsuite.AnyFunSuite

/** Goldens mirror the reference's unit tests:
  * local times — reference tests/test_metadata.py:23-55;
  * racing regex — reference tests/test_racing.py:23-76.
  */
class FunctionsSpec extends AnyFunSuite {

  private val MPF = Functions.MetersPerFurlong

  test("local time: London winter (UTC+0)") {
    assert(Functions.localTimeString("2025-03-15T17:09:37.000Z",
      "Europe/London") == "2025-03-15 17:09:37+00:00")
    assert(Functions.localDayOfWeek("2025-03-15T17:09:37.000Z",
      "Europe/London") == "Saturday")
  }

  test("local time: Moscow (+03:00), day rollover") {
    assert(Functions.localTimeString("2025-03-15T17:09:37.000Z",
      "Europe/Moscow") == "2025-03-15 20:09:37+03:00")
    assert(Functions.localTimeString("2025-03-17T23:39:22.000Z",
      "Europe/Moscow") == "2025-03-18 02:39:22+03:00")
  }

  test("local time: fractional seconds rendered like Python str(datetime)") {
    assert(Functions.localTimeString("2025-03-15T17:09:37.500Z",
      "Europe/London") == "2025-03-15 17:09:37.500000+00:00")
  }

  test("local time: nulls and garbage return null") {
    assert(Functions.localTimeString(null, "Europe/London") == null)
    assert(Functions.localTimeString("2025-03-15T17:09:37.000Z", null) == null)
    assert(Functions.localTimeString("not-a-time", "Europe/London") == null)
    assert(Functions.localTimeString("2025-03-15T17:09:37.000Z", "Not/AZone")
      == null)
    assert(Functions.localDayOfWeek("2025-03-15T17:09:37.000Z", "Not/AZone")
      == null)
  }

  private val goldens: Seq[(String, Option[Double], Option[Double], String)] =
    Seq(
      ("2m Mdn Hrd", Some(16 * MPF), Some(16.0), "Mdn Hrd"),
      ("3m1f Beg Chs", Some(25 * MPF), Some(25.0), "Beg Chs"),
      ("6f Mdn", Some(6 * MPF), Some(6.0), "Mdn"),
      ("3m Grd3 Nov Chs", Some(24 * MPF), Some(24.0), "Grd3 Nov Chs"),
      ("R1 7f Claim", Some(7 * MPF), Some(7.0), "Claim"),
      ("R3 1m Stks", Some(8 * MPF), Some(8.0), "Stks"),
      ("PA Hcap", None, None, "PA Hcap"),
      ("R4 405m Gr3/4", Some(405.0), Some(405 / MPF), "Gr3/4"),
      ("A2 462m", Some(462.0), Some(462 / MPF), "A2"),
      ("D2 275m", Some(275.0), Some(275 / MPF), "D2"),
      ("OR 500m", Some(500.0), Some(500 / MPF), "OR"),
      ("R10 405m Gr5", Some(405.0), Some(405 / MPF), "Gr5"),
      ("R2 1200m Plt", Some(1200.0), Some(1200 / MPF), "Plt"),
      ("R5 2185m Pace M", Some(2185.0), Some(2185 / MPF), "Pace M"),
      ("415m", Some(415.0), Some(415 / MPF), null))

  test("racing regex goldens") {
    goldens.foreach { case (name, meters, furlongs, raceType) =>
      val (t, m, f) = Functions.extractRaceMetadata(name)
      assert(t == raceType, s"raceType for '$name'")
      (m, meters) match {
        case (Some(a), Some(b)) => assert(math.abs(a - b) < 1e-3, s"m '$name'")
        case (a, b) => assert(a == b, s"meters for '$name'")
      }
      (f, furlongs) match {
        case (Some(a), Some(b)) => assert(math.abs(a - b) < 1e-3, s"f '$name'")
        case (a, b) => assert(a == b, s"furlongs for '$name'")
      }
    }
  }

  test("racing regex is total (never throws)") {
    val rnd = new scala.util.Random(42)
    (1 to 500).foreach { _ =>
      val len = rnd.nextInt(40)
      val s = new String(Array.fill(len)(rnd.nextInt(0xffff).toChar))
      Functions.extractRaceMetadata(s) // must not throw on any input
    }
    (1 to 500).foreach { _ =>
      val len = rnd.nextInt(30)
      val s = new String(Array.fill(len)(
        "0123456789 MmfRd".charAt(rnd.nextInt(16))))
      Functions.extractRaceMetadata(s)
    }
    Functions.extractRaceMetadata(null)
  }

  test("strftime translation") {
    assert(graft.fn.Compat.translate("%Y-%m") == "yyyy-MM")
    assert(graft.fn.Compat.translate("%H:%M:%S") == "HH:mm:ss")
    assert(graft.fn.Compat.translate("%A") == "EEEE")
  }
}
