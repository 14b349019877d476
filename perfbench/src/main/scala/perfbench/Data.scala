package perfbench

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode

import graft.ingest.DynRecord

/** One generated event. Payload: user_id, event_type, value and a nested
  * `props` object (stored by the engine as JSON text). */
final case class Ev(id: String, ts: Long, user: Int, etype: Int, value: Double,
    country: Int, device: Int, session: Int) {
  def record: DynRecord = DynRecord(id, new java.sql.Timestamp(ts), Map(
    "user_id" -> s"u$user", "event_type" -> Events.Types(etype), "value" -> value,
    "props" -> Map("country" -> s"c$country", "device" -> s"d$device",
      "session" -> session.toDouble)))
  /** The record as a client would send it in a REST body: the user bytes. */
  def json: String =
    s"""{"id":"$id","timestamp":$ts,"payload":{"user_id":"u$user",""" +
      s""""event_type":"${Events.Types(etype)}","value":$value,"props":""" +
      s"""{"country":"c$country","device":"d$device","session":$session}}}"""
}

/** Event-shaped data at the scale of the sf0.1 `events` table: 30 days,
  * ~1,500 users with a skewed activity distribution, 8 event types. */
object Events {
  val Table = "events"
  val BaseMs = 1704067200000L // 2024-01-01T00:00:00Z
  val Days = 30
  val DayMs = 86400000L
  val HourMs = 3600000L
  val Users = 1500
  val Types = Array("view", "click", "search", "add_to_cart", "purchase",
    "share", "login", "logout")
  private val TypeCum = {
    val w = Array(40, 20, 12, 8, 4, 3, 7, 6).map(_.toDouble)
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
  }

  def generate(seed: Long, n: Int): Array[Ev] = {
    val r = new java.util.Random(seed)
    Array.tabulate(n) { i =>
      val ts = BaseMs + (r.nextDouble() * Days * DayMs).toLong / 1000L * 1000L
      val user = (math.pow(r.nextDouble(), 2) * Users).toInt
      val x = r.nextDouble()
      val etype = TypeCum.indexWhere(x < _) match { case -1 => 0; case k => k }
      Ev(f"e$i%07d", ts, user, etype, r.nextInt(100000) / 100.0,
        r.nextInt(12), r.nextInt(3), r.nextInt(500))
    }.sortBy(_.ts)
  }

  private val Fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss").withZone(ZoneOffset.UTC)
  def fmt(ms: Long): String = Fmt.format(Instant.ofEpochMilli(ms))
}

/** A query the benchmark sends, with its expected answer computed in
  * plain Scala from the generated records. */
sealed trait Q {
  def sql: String
  /** Whether a JSON array response is the right answer. */
  def check(rows: JsonNode, o: Oracle): Boolean
}

object Q {
  private def range(a: Long, b: Long) =
    s"timestamp >= TIMESTAMP '${Events.fmt(a)}' AND timestamp < TIMESTAMP '${Events.fmt(b)}'"
  private def num(n: JsonNode, f: String): Double =
    Option(n.get(f)).filter(_.isNumber).map(_.asDouble).getOrElse(Double.NaN)
  private def txt(n: JsonNode, f: String): String =
    Option(n.get(f)).filter(_.isTextual).map(_.asText).orNull
  private def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-6 * math.max(1.0, math.abs(b))
  private def one(rows: JsonNode)(f: JsonNode => Boolean): Boolean =
    rows.isArray && rows.size == 1 && f(rows.get(0))

  /** Time-filtered COUNT(*). */
  final case class Count(a: Long, b: Long) extends Q {
    val sql = s"SELECT COUNT(*) AS c FROM ${Events.Table} WHERE ${range(a, b)}"
    def check(rows: JsonNode, o: Oracle): Boolean =
      one(rows)(r => num(r, "c") == o.count(a, b))
  }

  /** Hourly COUNT(DISTINCT user_id) over 7 days for one event type. */
  final case class Hourly(a: Long, etype: Int) extends Q {
    val b = a + 7 * Events.DayMs
    val sql = s"SELECT CAST(date_trunc('HOUR', timestamp) AS STRING) AS h, " +
      s"COUNT(DISTINCT user_id) AS u FROM ${Events.Table} WHERE event_type = " +
      s"'${Events.Types(etype)}' AND ${range(a, b)} GROUP BY 1 ORDER BY 1"
    def check(rows: JsonNode, o: Oracle): Boolean = {
      val exp = o.hourlyUsers(a, b, etype)
      rows.isArray && rows.size == exp.size && rows.elements.asScala.zip(exp).forall {
        case (r, (h, u)) => txt(r, "h") == h && num(r, "u") == u
      }
    }
  }

  /** COUNT(DISTINCT user_id) for one event type in a time window. */
  final case class Distinct(a: Long, b: Long, etype: Int) extends Q {
    val sql = s"SELECT COUNT(DISTINCT user_id) AS u FROM ${Events.Table} WHERE " +
      s"event_type = '${Events.Types(etype)}' AND ${range(a, b)}"
    def check(rows: JsonNode, o: Oracle): Boolean =
      one(rows)(r => num(r, "u") == o.distinctUsers(a, b, etype))
  }

  /** Point lookup by id. */
  final case class Point(id: String) extends Q {
    val sql = s"SELECT id, user_id, event_type, value FROM ${Events.Table} WHERE id = '$id'"
    def check(rows: JsonNode, o: Oracle): Boolean = {
      val e = o.byId(id)
      one(rows)(r => txt(r, "id") == id && txt(r, "user_id") == s"u${e.user}" &&
        txt(r, "event_type") == Events.Types(e.etype) && num(r, "value") == e.value)
    }
  }

  /** Per-type GROUP BY with count and sum in a time window. */
  final case class ByType(a: Long, b: Long) extends Q {
    val sql = s"SELECT event_type, COUNT(*) AS c, SUM(value) AS s FROM ${Events.Table} " +
      s"WHERE ${range(a, b)} GROUP BY event_type ORDER BY event_type"
    def check(rows: JsonNode, o: Oracle): Boolean = {
      val exp = o.byType(a, b)
      rows.isArray && rows.size == exp.size && rows.elements.asScala.zip(exp).forall {
        case (r, (t, c, s)) => txt(r, "event_type") == t && num(r, "c") == c && close(num(r, "s"), s)
      }
    }
  }
}

/** Expected answers over the generated events (sorted by time). */
final class Oracle(evs: Array[Ev]) {
  private val ts = evs.map(_.ts)
  val byId: Map[String, Ev] = evs.iterator.map(e => e.id -> e).toMap

  private def lower(x: Long): Int = {
    var lo = 0
    var hi = ts.length
    while (lo < hi) { val m = (lo + hi) >>> 1; if (ts(m) < x) lo = m + 1 else hi = m }
    lo
  }
  private def slice(a: Long, b: Long): Iterator[Ev] = evs.iterator.slice(lower(a), lower(b))

  def count(a: Long, b: Long): Long = (lower(b) - lower(a)).toLong

  def distinctUsers(a: Long, b: Long, etype: Int): Long =
    slice(a, b).filter(_.etype == etype).map(_.user).toSet.size.toLong

  def hourlyUsers(a: Long, b: Long, etype: Int): Seq[(String, Long)] =
    slice(a, b).filter(_.etype == etype).toSeq
      .groupBy(e => e.ts / Events.HourMs * Events.HourMs).toSeq.sortBy(_._1)
      .map { case (h, es) => (Events.fmt(h), es.map(_.user).toSet.size.toLong) }

  def byType(a: Long, b: Long): Seq[(String, Long, Double)] =
    slice(a, b).toSeq.groupBy(e => Events.Types(e.etype)).toSeq.sortBy(_._1)
      .map { case (t, es) => (t, es.size.toLong, es.map(_.value).sum) }
}

/** Seeded query generator over minIODB's query shapes. Shapes come in
  * a fixed rotation, so every run sends the same mix; the literals are
  * drawn from the seed. */
final class QueryGen(seed: Long, evs: Array[Ev]) {
  private val r = new java.util.Random(seed)
  private val issued = scala.collection.mutable.HashSet[String]()
  private var turn = 0

  private def window(): (Long, Long) = {
    val a = Events.BaseMs + r.nextInt(Events.Days * 24 * 60) * 60000L
    (a, a + (1 + r.nextInt(72)) * Events.HourMs)
  }

  def next(): Q = { turn += 1; turn % 5 } match {
    case 0 => val (a, b) = window(); Q.Count(a, b)
    case 1 => Q.Hourly(Events.BaseMs + r.nextInt((Events.Days - 7) * 24) * Events.HourMs,
      r.nextInt(Events.Types.length))
    case 2 => val (a, b) = window(); Q.Distinct(a, b, r.nextInt(Events.Types.length))
    case 3 => Q.Point(evs(r.nextInt(evs.length)).id)
    case _ => val (a, b) = window(); Q.ByType(a, b)
  }

  /** Next query whose SQL this generator has not produced before. */
  def nextDistinct(): Q = synchronized {
    var q = next()
    while (!issued.add(q.sql)) q = next()
    q
  }
}
