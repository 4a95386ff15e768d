package perfbench

import java.util.SplittableRandom

/** Seeded raw storm-report generator in the reference fixture's shape
  * (FIXTURES.md §1): every field a string, one magnitude column per event
  * type, the event mix of the 2024-04-26 fixture (hail 79, tornado 149,
  * wind 43 of 271), and about 1 % malformed JSON lines. */
object StormGen {
  private val States = Array("TX", "OK", "KS", "NE", "IA", "MO", "AR", "LA")
  private val Counties = Array("San Saba", "Tarrant", "Pittsburg", "Sedgwick",
    "Douglas", "Polk", "Pulaski", "Caddo")
  private val Places = Array("Chappel", "Mcalester", "Anthon", "Fort Worth",
    "Wichita", "Omaha", "Tulsa", "Norman", "Ada", "Ames")
  private val Dirs = Array("N", "NNE", "NE", "ENE", "E", "ESE", "SE", "SSE",
    "S", "SSW", "SW", "WSW", "W", "WNW", "NW", "NNW")
  private val Offices = Array("SJT", "TSA", "FWD", "OUN", "ICT", "OAX", "DMX",
    "SGF", "LZK", "SHV")
  private val FScales = Array("EF0", "EF1", "EF2", "EF3", "F2", "UNK", "1")

  final case class Batch(records: Array[String], planted: Int)

  private def pick(r: SplittableRandom, a: Array[String]) = a(r.nextInt(a.length))
  private def two(n: Int) = if (n < 10) "0" + n else n.toString
  private def centi(n: Int) = s"${n / 100}.${two(n % 100)}"

  def record(r: SplittableRandom): String = {
    val k = r.nextInt(271)
    val typ = if (k < 79) "hail" else if (k < 228) "tornado" else "wind"
    val h = r.nextInt(24); val m = r.nextInt(60)
    val time = r.nextInt(20) match {
      case 0 => s"2024-04-26T${two(h)}:${two(m)}:00Z"
      case 1 => s"$h${two(m)}"
      case _ => s"${two(h)}${two(m)}"
    }
    val size = if (typ != "hail") ""
      else if (r.nextBoolean()) (25 + r.nextInt(400)).toString
      else centi(25 + r.nextInt(400))
    val fScale = if (typ == "tornado") pick(r, FScales) else ""
    val speed = if (typ != "wind") ""
      else if (r.nextInt(10) == 0) "UNK" else (50 + r.nextInt(60)).toString
    val place = pick(r, Places)
    val location = if (r.nextInt(5) == 0) place
      else s"${1 + r.nextInt(20)} ${pick(r, Dirs)} $place"
    val lat = centi(2500 + r.nextInt(2000))
    val lon = "-" + centi(8000 + r.nextInt(2500))
    val office = if (r.nextInt(8) == 0) "" else s" (${pick(r, Offices)})"
    val comments = s"$typ report near $place$office"
    s"""{"Time":"$time","Size":"$size","F_Scale":"$fScale","Speed":"$speed",""" +
      s""""Location":"$location","County":"${pick(r, Counties)}",""" +
      s""""State":"${pick(r, States)}","Lat":"$lat","Lon":"$lon",""" +
      s""""Comments":"$comments","EventType":"$typ"}"""
  }

  /** `n` records from `seed`; each is malformed with probability 1/100, and
    * `planted` counts exactly those. */
  def generate(seed: Long, n: Int): Batch = {
    val r = new SplittableRandom(seed)
    var planted = 0
    val out = Array.tabulate(n) { i =>
      val rec = record(r)
      if (r.nextInt(100) != 0) rec
      else {
        planted += 1
        if (r.nextBoolean()) rec.substring(0, rec.length / 2)
        else s"not json #$i"
      }
    }
    Batch(out, planted)
  }
}
