package perfbench

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded Meetup-RSVP envelope generator that also keeps, in plain Scala,
  * the output each reference query must produce for what it generated:
  *
  *  - Q1: the set of US `rsvp_id`s;
  *  - Q2: every `us_meetups` payload, with the double-encoded `event`
  *    string and the full state name taken from [[RsvpGen.states]];
  *  - Q3: the sorted city set of every 1-minute window, late rows left out.
  *
  * Ingest times of a file lie within 30 s before its clock, so they arrive
  * out of order but never behind the 1-minute watermark. Late rows sit in
  * whole minutes at least five minutes behind the clock, one row per
  * window, so each is dropped and none is near the drop boundary.
  */
final class RsvpGen(seed: Long) {
  import RsvpGen._

  private val rnd = new SplittableRandom(seed)

  /** A few thousand pronounceable city names, drawn Zipf-distributed. */
  val cities: Array[String] = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 1)
    val syl = Array("ba", "ce", "di", "fo", "gu", "ha", "ke", "li", "mo", "nu",
      "pa", "re", "si", "to", "vu", "wa", "xe", "yo", "za", "lon", "ber", "ton",
      "ville", "burg", "port", "field", "dale", "ford")
    val names = mutable.LinkedHashSet.empty[String]
    while (names.size < NumCities)
      names += Seq.fill(2 + r.nextInt(3))(syl(r.nextInt(syl.length))).mkString
    names.toArray
  }
  private val zipfCdf: Array[Double] = {
    val w = Array.tabulate(NumCities)(i => 1.0 / math.pow(i + 1, 1.05))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }
  private def city(): String = {
    val i = java.util.Arrays.binarySearch(zipfCdf, rnd.nextDouble())
    cities(math.min(if (i >= 0) i else -i - 1, NumCities - 1))
  }

  val usIds = mutable.HashSet.empty[Long]
  val q2 = mutable.HashMap.empty[String, Int]
  private val windows = mutable.TreeMap.empty[Long, mutable.TreeSet[String]]
  var events = 0L
  var lateRows = 0L
  var maxTs = Long.MinValue
  private var nextId = 100000000L + (seed & 0xffffL) * 100000L

  /** One envelope file: `n` rows ingested in (clock - 30 s, clock], the
    * first exactly at the clock, plus `late` rows far behind the watermark.
    */
  def file(clockMs: Long, n: Int, late: Int): String = {
    val sb = new StringBuilder(n * 900)
    for (i <- 0 until n) row(sb, if (i == 0) clockMs else clockMs - rnd.nextLong(30000L), late = false)
    for (j <- 0 until late) {
      val w = Math.floorDiv(clockMs - (5 + 2 * j) * 60000L, 60000L) * 60000L
      row(sb, w + rnd.nextLong(60000L), late = true)
    }
    sb.toString
  }

  private def row(sb: StringBuilder, ts: Long, late: Boolean): Unit = {
    val id = nextId; nextId += 1
    val us = rnd.nextDouble() < UsShare
    val country = if (us) "us" else Countries(rnd.nextInt(Countries.length))
    val state =
      if (!us || rnd.nextDouble() < 0.9) states(rnd.nextInt(states.length))._2
      else Unmatched(rnd.nextInt(Unmatched.length))
    val c = city()
    val groupId = 1L + rnd.nextLong(50000L)
    val eventId = java.lang.Long.toHexString(rnd.nextLong() >>> 8)
    val eventName = s"meetup ${rnd.nextInt(5000)}"
    val eventTime = ts + 86400000L + rnd.nextLong(864000000L)
    val lon = -125.0 + rnd.nextDouble() * 60.0
    val lat = 25.0 + rnd.nextDouble() * 24.0
    val v = new StringBuilder(700)
    v ++= s"""{"venue":{"venue_name":"venue ${rnd.nextInt(9000)}","lon":${f4(lon)},"lat":${f4(lat)},"venue_id":${rnd.nextLong(1000000L)}},"""
    v ++= s""""visibility":"public","response":"${if (rnd.nextInt(5) == 0) "no" else "yes"}","guests":${rnd.nextInt(4)},"""
    v ++= s""""member":{"member_id":${rnd.nextLong(100000000L)},"photo":"https://photos.example/m/${rnd.nextInt(100000)}.jpeg","member_name":"member ${rnd.nextInt(100000)}"},"""
    v ++= s""""rsvp_id":$id,"mtime":${ts - rnd.nextLong(1000L)},"""
    v ++= s""""event":{"event_name":"$eventName","event_id":"$eventId","time":$eventTime,"event_url":"https://meetup.example/e/$eventId/"},"""
    v ++= s""""group":{"group_topics":[{"urlkey":"topic${rnd.nextInt(300)}","topic_name":"Topic ${rnd.nextInt(300)}"}],"""
    v ++= s""""group_city":"$c","group_country":"$country","group_id":$groupId,"group_name":"group $groupId","""
    v ++= s""""group_lon":${f4(lon)},"group_urlname":"g$groupId","group_state":"$state","group_lat":${f4(lat)}}}"""
    sb ++= "{\"value\":" ++= quote(v.toString) ++= ",\"timestamp\":\"" ++=
      IngestFormat.format(Instant.ofEpochMilli(ts)) ++= "\"}\n"

    events += 1
    maxTs = math.max(maxTs, ts)
    if (us) {
      usIds += id
      fullName.get(state).foreach { full =>
        val event = s"""{"event_id":"$eventId","event_name":"$eventName","time":"${JsonTime.format(Instant.ofEpochMilli(eventTime))}"}"""
        val p = s"""{"event":${quote(event)},"group_city":"$c","group_country":"us","group_id":$groupId,"group_state":"$full"}"""
        q2(p) = q2.getOrElse(p, 0) + 1
      }
    }
    if (late) lateRows += 1
    else windows.getOrElseUpdate(Math.floorDiv(ts, 60000L) * 60000L, mutable.TreeSet.empty) += c
  }

  /** Q3's payloads for every window closed by `watermarkMs`. */
  def q3(watermarkMs: Long): Map[String, Int] =
    windows.iterator.filter(_._1 + 60000L <= watermarkMs).map { case (start, cs) =>
      val t = Instant.ofEpochMilli(start).atOffset(ZoneOffset.UTC)
      s"""{"month":${t.getMonthValue},"day_of_the_month":${t.getDayOfMonth},"hour":${t.getHour},"minute":${t.getMinute},"cities":${cs.map(quote).mkString("[", ",", "]")}}"""
    }.toSeq.groupBy(identity).map { case (k, v) => k -> v.size }
}

object RsvpGen {
  /** The US share of `graft.StreamBench`'s envelope (`v % 10 < 7`). */
  val UsShare = 0.7
  val NumCities = 3000

  /** The reference's 56-row state lookup (full name, code), kept here
    * apart from the program's own copy.
    */
  val states: Array[(String, String)] = Array(
    "ALABAMA" -> "AL", "ALASKA" -> "AK", "ARIZONA" -> "AZ", "ARKANSAS" -> "AR",
    "CALIFORNIA" -> "CA", "COLORADO" -> "CO", "CONNECTICUT" -> "CT",
    "DELAWARE" -> "DE", "FLORIDA" -> "FL", "GEORGIA" -> "GA", "HAWAII" -> "HI",
    "IDAHO" -> "ID", "ILLINOIS" -> "IL", "INDIANA" -> "IN", "IOWA" -> "IA",
    "KANSAS" -> "KS", "KENTUCKY" -> "KY", "LOUISIANA" -> "LA", "MAINE" -> "ME",
    "MARYLAND" -> "MD", "MASSACHUSETTS" -> "MA", "MICHIGAN" -> "MI",
    "MINNESOTA" -> "MN", "MISSISSIPPI" -> "MS", "MISSOURI" -> "MO",
    "MONTANA" -> "MT", "NEBRASKA" -> "NE", "NEVADA" -> "NV",
    "NEW HAMPSHIRE" -> "NH", "NEW JERSEY" -> "NJ", "NEW MEXICO" -> "NM",
    "NEW YORK" -> "NY", "NORTH CAROLINA" -> "NC", "NORTH DAKOTA" -> "ND",
    "OHIO" -> "OH", "OKLAHOMA" -> "OK", "OREGON" -> "OR",
    "PENNSYLVANIA" -> "PA", "RHODE ISLAND" -> "RI", "SOUTH CAROLINA" -> "SC",
    "SOUTH DAKOTA" -> "SD", "TENNESSEE" -> "TN", "TEXAS" -> "TX",
    "UTAH" -> "UT", "VERMONT" -> "VT", "VIRGINIA" -> "VA",
    "WASHINGTON" -> "WA", "WEST VIRGINIA" -> "WV", "WISCONSIN" -> "WI",
    "WYOMING" -> "WY", "DISTRICT OF COLUMBIA" -> "DC", "PUERTO RICO" -> "PR",
    "GUAM" -> "GU", "AMERICAN SAMOA" -> "AS", "VIRGIN ISLANDS" -> "VI",
    "NORTHERN MARIANA IS" -> "MP")
  private val fullName: Map[String, String] = states.map(_.swap).toMap
  private val Countries = Array("gb", "de", "ca", "jp", "in", "br")
  private val Unmatched = Array("ZZ", "XX", "QQ", "UK", "EU")

  private val IngestFormat =
    DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS").withZone(ZoneOffset.UTC)
  /** How `to_json` renders a timestamp in a UTC session. */
  private val JsonTime =
    DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSXXX").withZone(ZoneOffset.UTC)

  private def f4(x: Double): String = "%.4f".formatLocal(java.util.Locale.ROOT, x)
  private def quote(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
}
