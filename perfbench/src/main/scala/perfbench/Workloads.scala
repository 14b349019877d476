package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong, AtomicReference}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.catalog.TableStore
import graft.ingest.DynRecord
import graft.query.SqlGate
import graft.serve.{GrpcServer, RestServer, ServiceFacade}

/** Everything a workload needs from the run. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
    val clients: Int, val work: String, val tracer: Option[Tracer],
    val injectCorrupt: Boolean) {
  /** Client-side SqlGate timings (traced runs), ns. */
  val gateNs = new ConcurrentLinkedQueue[java.lang.Long]
  private val failures = new AtomicLong
  /** Report a failed operation (first few to stderr). */
  def fail(what: String): Unit =
    if (failures.incrementAndGet() <= 10) System.err.println(s"[perfbench] failed: $what")
  def timeGate(sql: String): Unit = if (tracer.isDefined) {
    val t0 = System.nanoTime()
    SqlGate.validate(spark, sql)
    gateNs.add(System.nanoTime() - t0)
  }
}

/** One client-observed operation. `keys` ties it to server-side spans. */
final case class Rec(verb: String, transport: String, keys: Seq[String],
    t0: Long, t1: Long, ok: Boolean, transportOk: Boolean) {
  def ms: Double = (t1 - t0) / 1e6
}

/** The served stack over one fresh store root: TableStore, facade,
  * RestServer and native GrpcServer on loopback ports, with auth on. */
final class Stack(ctx: Ctx, val root: String) {
  val store: TableStore = ctx.tracer.map(t => new TracedStore(ctx.spark, root, t))
    .getOrElse(new TableStore(ctx.spark, root))
  val facade: ServiceFacade = ctx.tracer.map(t => new TracedFacade(store, t, Stack.Secret))
    .getOrElse(new ServiceFacade(store, authSecret = Some(Stack.Secret)))
  private val rest = new RestServer(facade)
  private val grpc = new GrpcServer(facade)
  val restPort: Int = rest.start()
  val grpcPort: Int = grpc.start()
  /** Bearer token minted over REST, as a client would. */
  val token: String = {
    val c = new HttpConn(restPort)
    try {
      val r = c.call("POST", "/v1/auth/token",
        s"""{"subject":"perfbench","secret":"${Stack.Secret}"}""")
      require(r.status == 200, s"token request failed: ${r.status} ${r.text}")
      Json.readBytes(r.body).get("access_token").asText
    } finally c.close()
  }

  def stop(): Unit = { rest.stop(); grpc.stop() }

  /** (files, bytes) under a table's directory. */
  def tableFiles(table: String): (Long, Long) = {
    val p = new org.apache.hadoop.fs.Path(store.tablePath(table))
    val fs = p.getFileSystem(ctx.spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) (0L, 0L)
    else {
      val it = fs.listFiles(p, true)
      var n = 0L
      var b = 0L
      while (it.hasNext) { val f = it.next(); n += 1; b += f.getLen }
      (n, b)
    }
  }
}

object Stack {
  val Secret = "perfbench-secret"
}

/** Think time for a closed-loop client: `await` sleeps until the next
  * slot, one request per period, and never bursts to catch up after a
  * slow reply. Returns true so it can lead a loop condition. */
final class Pacer(periodNs: Long, start: Long) {
  private var next = start
  def await(): Boolean = {
    val wait = next - System.nanoTime()
    if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
    next = math.max(next + periodNs, System.nanoTime())
    true
  }
}

/** What a workload hands back to [[Main]]. */
final class Outcome {
  val recs = new ConcurrentLinkedQueue[Rec]
  /** Checks outside the timed requests (setup warm-up, closing checks). */
  val extraAttempted = new AtomicLong
  val extraFailed = new AtomicLong
  var primary = ""
  var windowStart = 0L
  var windowEnd = 0L
  var userBytes = 0L
  var tableBytes = 0L
  var tableFiles = 0L
  var compact: (Int, Int, Int) = (0, 0, 0)
  var compactNs = 0L
  var cacheHits = 0L
  var cacheMisses = 0L
  var selfCheckOk = false
  val info = mutable.LinkedHashMap[String, String]()
  def extra(ok: Boolean): Unit = { extraAttempted.incrementAndGet(); if (!ok) extraFailed.incrementAndGet() }
}

trait Workload {
  /** Percentile reported as `tail_ms`: the highest one with at least ten
    * samples beyond it at this workload's throughput. */
  def tailQ: Double
  /** A fresh stack over a fresh store root, with the workload's data loaded. */
  def build(ctx: Ctx, rep: Int, out: Outcome): Stack
  /** Served requests that make the stack ready for timed traffic. */
  def warmUp(ctx: Ctx, stack: Stack, out: Outcome): Unit
  /** Timed traffic, then the untimed closing steps. */
  def run(ctx: Ctx, stack: Stack, out: Outcome): Unit
}

object Workload {
  /** Runs `body(c)` on `n` client threads and waits for all. */
  def clients(n: Int)(body: Int => Unit): Unit = {
    val err = new AtomicReference[Throwable]
    val ts = (0 until n).map { c =>
      val t = new Thread(() => try body(c) catch { case e: Throwable => err.compareAndSet(null, e); () },
        s"perfbench-client-$c")
      t.start(); t
    }
    ts.foreach(_.join())
    Option(err.get).foreach(e => throw e)
  }

  /** A copy of a JSON response with one value changed: the answer
    * checkers must reject it. */
  def corrupt(body: Array[Byte]): Array[Byte] = {
    val n = Json.readBytes(body)
    if (n.isArray && n.size > 0 && n.get(0).isObject) {
      val o = n.get(0).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      val f = o.fieldNames.next()
      val v = o.get(f)
      if (v.isNumber) o.put(f, v.asDouble + 1) else o.put(f, v.asText + "x")
    } else if (n.isArray) {
      n.asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode].addObject().put("x", 1)
    }
    Json.mapper.writeValueAsBytes(n)
  }
}

/** `query_cold` (hot = false) and `query_hot` (hot = true): 100,000
  * events loaded once, four closed-loop REST clients sending QueryData. */
final class QueryWorkload(hot: Boolean) extends Workload {
  private val table = Events.Table
  val tailQ: Double = if (hot) 0.95 else 0.70
  val Rows = 100000
  val HotSet = 16
  val ColdWarmup = 16

  private var evs: Array[Ev] = _
  private var oracle: Oracle = _
  private var gen: QueryGen = _
  private var hotQs: IndexedSeq[Q] = _

  def build(ctx: Ctx, rep: Int, out: Outcome): Stack = {
    evs = Events.generate(ctx.seed, Rows)
    oracle = new Oracle(evs)
    val stack = new Stack(ctx, s"${ctx.work}/store-$rep")
    stack.store.write(table, evs.toSeq.map(_.record))
    stack.store.flush(table)
    out.userBytes = evs.iterator.map(_.json.getBytes("UTF-8").length.toLong).sum
    stack
  }

  /** Queries through the served path, answers checked: on query_hot
    * this fills the result cache with the whole hot set. */
  def warmUp(ctx: Ctx, stack: Stack, out: Outcome): Unit = {
    gen = new QueryGen(ctx.seed * 7919L + 17L, evs)
    val warm =
      if (hot) { hotQs = (0 until HotSet).map(_ => gen.nextDistinct()); hotQs }
      else (0 until ColdWarmup).map(_ => gen.nextDistinct())
    val next = new AtomicLong
    Workload.clients(ctx.clients) { _ =>
      val conn = new HttpConn(stack.restPort)
      try {
        var i = next.getAndIncrement()
        while (i < warm.size) {
          out.extra(send(ctx, stack, conn, warm(i.toInt), null))
          i = next.getAndIncrement()
        }
      } finally conn.close()
    }
  }

  /** One QueryData over REST; returns whether the answer was right.
    * Records it when `out` is given. */
  private def send(ctx: Ctx, stack: Stack, conn: HttpConn, q: Q, out: Outcome,
      corruptIt: Boolean = false): Boolean = {
    val r = conn.call("POST", "/v1/query", s"""{"sql":${Json.quote(q.sql)}}""", stack.token)
    val body = if (corruptIt) Workload.corrupt(r.body) else r.body
    val ok = r.status == 200 && scala.util.Try(q.check(Json.readBytes(body), oracle)).getOrElse(false)
    if (!ok) ctx.fail(s"query status=${r.status} sql=${q.sql} body=${r.text.take(200)}")
    if (out != null) {
      out.recs.add(Rec("query", "rest", Seq(q.sql), r.t0, r.t1, ok, r.status == 200))
      if (ok && !corruptIt && sample.get == null) sample.compareAndSet(null, (q, r.body))
    }
    ctx.timeGate(q.sql)
    ok
  }

  private val sample = new AtomicReference[(Q, Array[Byte])]

  def run(ctx: Ctx, stack: Stack, out: Outcome): Unit = {
    out.primary = "query"
    val m0 = stack.facade.metrics()
    val corruptOnce = new AtomicBoolean(ctx.injectCorrupt)
    out.windowStart = System.nanoTime()
    out.windowEnd = out.windowStart + ctx.seconds * 1000000000L
    Workload.clients(ctx.clients) { c =>
      val rng = new java.util.Random(ctx.seed * 1000003L + c)
      var conn = new HttpConn(stack.restPort)
      while (System.nanoTime() < out.windowEnd) {
        val q = if (hot) hotQs(rng.nextInt(hotQs.size)) else gen.nextDistinct()
        try send(ctx, stack, conn, q, out, corruptOnce.getAndSet(false))
        catch { case e: java.io.IOException =>
          val t = System.nanoTime()
          out.recs.add(Rec("query", "rest", Seq(q.sql), t, t, ok = false, transportOk = false))
          ctx.fail(s"query transport error: $e")
          conn.close(); conn = new HttpConn(stack.restPort)
        }
      }
      conn.close()
    }
    val m1 = stack.facade.metrics()
    out.cacheHits = m1.cacheHits - m0.cacheHits
    out.cacheMisses = m1.cacheMisses - m0.cacheMisses
    // the checker must reject a deliberately corrupted copy of a good answer
    out.selfCheckOk = Option(sample.get).exists { case (q, body) =>
      scala.util.Try(!q.check(Json.readBytes(Workload.corrupt(body)), oracle)).getOrElse(true)
    }
    val (files, bytes) = stack.tableFiles(table)
    out.tableFiles = files
    out.tableBytes = bytes
  }
}

/** `ingest`: a fresh table with the default config under mixed traffic.
  * Two native-gRPC unary WriteData clients, one native-gRPC StreamWrite
  * client (streams of 100 records) and one REST client alternating a
  * fresh read of the streamed ids with an UpdateData. Ends, untimed,
  * with a flush, a compaction and a restart check. */
final class IngestWorkload extends Workload {
  private val table = "ingest"
  val tailQ = 0.90
  /** Records loaded in set-up; the REST client updates them. */
  val BaseRecords = 10000
  // Clients pace themselves (a closed loop with think time): one unary
  // write per client every 100 ms, one 100-record stream and one read +
  // update pair every 5 s. Back to back, the writers saturated the table
  // lock, and the figures then followed the host's free CPU more than the
  // program.
  val WriteEveryNs = 100000000L
  val StreamEveryNs = 5000000000L
  val RestEveryNs = 5000000000L
  val Buckets = 16
  val StreamRecords = 100
  val PerMessage = 10
  private val WritePath = "/miniodb.v1.MinIODBService/WriteData"
  private val StreamPath = "/miniodb.v1.MinIODBService/StreamWrite"

  // initial timestamp of each update-set id (updates keep it: same partition)
  private var updateTs: Map[String, Long] = Map.empty

  private def tsFor(r: java.util.Random): Long =
    Events.BaseMs + r.nextInt(7 * 24 * 3600) * 1000L

  private def payload(kind: String, bucket: Int, value: Double, client: Int) =
    Seq("kind" -> kind, "bucket" -> bucket.toDouble, "value" -> value, "client" -> client.toDouble)

  private def json(id: String, ts: Long, kind: String, bucket: Int, value: Double, client: Int) =
    s"""{"id":"$id","timestamp":$ts,"payload":{"kind":"$kind","bucket":$bucket,""" +
      s""""value":$value,"client":$client}}"""

  def build(ctx: Ctx, rep: Int, out: Outcome): Stack = {
    val stack = new Stack(ctx, s"${ctx.work}/store-$rep")
    val r = new java.util.Random(ctx.seed * 31L + 5L)
    val ids = (0 until BaseRecords).map(i => f"u$i%05d")
    updateTs = ids.map(_ -> tsFor(r)).toMap
    stack.store.write(table, ids.map(id => DynRecord(id, new java.sql.Timestamp(updateTs(id)),
      payload("u", -1, 0.0, -1).toMap)))
    stack.store.flush(table)
    stack
  }

  /** Warms the write, stream, read and update paths on a scratch table. */
  def warmUp(ctx: Ctx, stack: Stack, out: Outcome): Unit = {
    val r = new java.util.Random(ctx.seed * 37L)
    val warm = "warmup"
    val h2 = new H2Conn(stack.grpcPort)
    val http = new HttpConn(stack.restPort)
    try {
      (0 until 40).foreach { i =>
        val id = s"ww$i"
        val rr = h2.call(WritePath, Pb.frame(Pb.w.string(1, warm)
          .msg(2, Pb.record(id, tsFor(r), payload("w", 0, 1.0, 0))).bytes), stack.token)
        out.extra(writeOk(rr, id))
      }
      (0 until 1).foreach { s =>
        val recs = (0 until StreamRecords).map(i => (s"ws$s-$i", tsFor(r)))
        out.extra(streamOk(h2.call(StreamPath, streamBody(warm, recs), stack.token), recs.size))
      }
      (0 until 2).foreach { i =>
        val q = http.call("POST", "/v1/query",
          s"""{"sql":"SELECT id FROM $warm WHERE kind = 's' AND bucket = $i"}""", stack.token)
        out.extra(q.status == 200)
        val u = http.call("PUT", "/v1/data",
          s"""{"table":"$warm","record":${json(s"ww$i", Events.BaseMs, "w", 0, 2.0, 0)}}""",
          stack.token)
        out.extra(u.status == 200)
      }
    } finally { h2.close(); http.close() }
  }

  private def writeOk(r: Reply, id: String): Boolean =
    r.status == 0 && Pb.unframe(r.body).headOption.exists { m =>
      val p = Pb.parse(m); Pb.long(p, 1) == 1L && Pb.str(p, 2) == id
    }

  private def streamOk(r: Reply, n: Int): Boolean =
    r.status == 0 && Pb.unframe(r.body).headOption.exists { m =>
      val p = Pb.parse(m)
      Pb.long(p, 1) == 1L && Pb.long(p, 2) == n.toLong && Pb.strs(p, 3).isEmpty
    }

  private def streamBody(t: String, recs: Seq[(String, Long)]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    recs.grouped(PerMessage).foreach { g =>
      val m = Pb.w
      g.foreach { case (id, ts) => m.msg(1, Pb.record(id, ts, payload("s", bucketOf(id), 1.5, 2))) }
      out.write(Pb.frame(m.string(2, t).bytes))
    }
    out.toByteArray
  }

  /** Bucket of a streamed id: derived from the id, so any reader can check it. */
  private def bucketOf(id: String): Int = Math.floorMod(id.hashCode, Buckets)

  /** Fresh read check: every id acknowledged before the read was sent is
    * visible, none appears twice, none was never sent. */
  private def readOk(body: Array[Byte], bucket: Int, sentAt: Long,
      acked: ConcurrentHashMap[String, java.lang.Long], sent: java.util.Set[String]): Boolean = {
    val rows = Json.readBytes(body)
    if (!rows.isArray) return false
    val ids = rows.elements.asScala.map(_.get("id").asText).toVector
    val seen = ids.toSet
    ids.size == seen.size &&
      ids.forall(id => sent.contains(id) && bucketOf(id) == bucket) &&
      acked.asScala.forall { case (id, t) => bucketOf(id) != bucket || t >= sentAt || seen(id) }
  }

  def run(ctx: Ctx, stack: Stack, out: Outcome): Unit = {
    out.primary = "write"
    val sent = ConcurrentHashMap.newKeySet[String]()
    val acked = new ConcurrentHashMap[String, java.lang.Long]() // streamed ids → ack time
    val ackedWrites = ConcurrentHashMap.newKeySet[String]()
    val lastUpdate = new ConcurrentHashMap[String, java.lang.Double]()
    val liveBytes = new ConcurrentHashMap[String, java.lang.Long]()
    updateTs.foreach { case (id, ts) => liveBytes.put(id, json(id, ts, "u", -1, 0.0, -1).length.toLong) }
    val readSample = new AtomicReference[(Array[Byte], Int, Long)]
    val corruptOnce = new AtomicBoolean(ctx.injectCorrupt)
    val m0 = stack.facade.metrics()
    out.windowStart = System.nanoTime()
    out.windowEnd = out.windowStart + ctx.seconds * 1000000000L
    def open = System.nanoTime() < out.windowEnd
    def transportFail(verb: String, tr: String, e: Throwable): Unit = {
      val t = System.nanoTime()
      out.recs.add(Rec(verb, tr, Nil, t, t, ok = false, transportOk = false))
      ctx.fail(s"$verb transport error: $e")
    }
    Workload.clients(4) {
      case c @ (0 | 1) => // unary WriteData over native gRPC
        val r = new java.util.Random(ctx.seed * 131L + c)
        val h2 = new H2Conn(stack.grpcPort)
        val pace = new Pacer(WriteEveryNs, out.windowStart + c * WriteEveryNs / 2)
        var i = 0
        while (pace.await() && open) {
          val id = s"w$c-$i"
          val ts = tsFor(r)
          val value = r.nextInt(100000) / 100.0
          val b = r.nextInt(Buckets)
          sent.add(id)
          try {
            val rep = h2.call(WritePath, Pb.frame(Pb.w.string(1, table)
              .msg(2, Pb.record(id, ts, payload("w", b, value, c))).bytes), stack.token)
            val ok = writeOk(rep, id)
            if (ok) { ackedWrites.add(id); liveBytes.put(id, json(id, ts, "w", b, value, c).length.toLong) }
            else ctx.fail(s"write $id grpc-status=${rep.status} ${rep.grpcMessage}")
            out.recs.add(Rec("write", "grpc", Seq(id), rep.t0, rep.t1, ok, rep.status == 0))
          } catch { case e: java.io.IOException => transportFail("write", "grpc", e) }
          i += 1
        }
        h2.close()
      case 2 => // StreamWrite over native gRPC
        val r = new java.util.Random(ctx.seed * 137L)
        val h2 = new H2Conn(stack.grpcPort)
        val pace = new Pacer(StreamEveryNs, out.windowStart)
        var s = 0
        while (pace.await() && open) {
          val recs = (0 until StreamRecords).map(i => (s"s$s-$i", tsFor(r)))
          recs.foreach { case (id, _) => sent.add(id) }
          try {
            val rep = h2.call(StreamPath, streamBody(table, recs), stack.token)
            val ok = streamOk(rep, recs.size)
            if (ok) recs.foreach { case (id, ts) =>
              acked.put(id, rep.t1)
              liveBytes.put(id, json(id, ts, "s", bucketOf(id), 1.5, 2).length.toLong)
            } else ctx.fail(s"stream $s grpc-status=${rep.status} ${rep.grpcMessage}")
            out.recs.add(Rec("stream", "grpc", recs.map(_._1), rep.t0, rep.t1, ok, rep.status == 0))
          } catch { case e: java.io.IOException => transportFail("stream", "grpc", e) }
          s += 1
        }
        h2.close()
      case _ => // REST: a fresh read of streamed ids, then an UpdateData
        val r = new java.util.Random(ctx.seed * 139L)
        var http = new HttpConn(stack.restPort)
        val pace = new Pacer(RestEveryNs, out.windowStart + RestEveryNs / 2)
        var v = 0
        while (pace.await() && open) {
          val bucket = r.nextInt(Buckets)
          val sql = s"SELECT id FROM $table WHERE kind = 's' AND bucket = $bucket"
          try {
            val rep = http.call("POST", "/v1/query", s"""{"sql":"$sql"}""", stack.token)
            val body = if (corruptOnce.getAndSet(false)) Workload.corrupt(rep.body) else rep.body
            val ok = rep.status == 200 &&
              scala.util.Try(readOk(body, bucket, rep.t0, acked, sent)).getOrElse(false)
            if (!ok) ctx.fail(s"fresh read status=${rep.status} bucket=$bucket")
            else readSample.compareAndSet(null, (rep.body, bucket, rep.t0))
            out.recs.add(Rec("read", "rest", Seq(sql), rep.t0, rep.t1, ok, rep.status == 200))
            ctx.timeGate(sql)
          } catch { case e: java.io.IOException =>
            transportFail("read", "rest", e); http.close(); http = new HttpConn(stack.restPort)
          }
          if (open) {
            v += 1
            val id = f"u${r.nextInt(BaseRecords)}%05d"
            val value = v.toDouble
            try {
              val rep = http.call("PUT", "/v1/data",
                s"""{"table":"$table","record":${json(id, updateTs(id), "u", -1, value, -1)}}""",
                stack.token)
              val ok = rep.status == 200 &&
                scala.util.Try(Json.readBytes(rep.body).get("updated").asLong == 1L).getOrElse(false)
              if (ok) {
                lastUpdate.put(id, value)
                liveBytes.put(id, json(id, updateTs(id), "u", -1, value, -1).length.toLong)
              } else ctx.fail(s"update $id status=${rep.status} ${rep.text.take(200)}")
              out.recs.add(Rec("update", "rest", Seq(id), rep.t0, rep.t1, ok, rep.status == 200))
            } catch { case e: java.io.IOException =>
              transportFail("update", "rest", e); http.close(); http = new HttpConn(stack.restPort)
            }
          }
        }
        http.close()
    }
    val m1 = stack.facade.metrics()
    out.cacheHits = m1.cacheHits - m0.cacheHits
    out.cacheMisses = m1.cacheMisses - m0.cacheMisses
    out.selfCheckOk = Option(readSample.get).exists { case (body, bucket, t0) =>
      val rows = Json.readBytes(body)
      // a duplicated id must be rejected (and so must a corrupted value)
      val dup = if (rows.size > 0) {
        rows.asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode].add(rows.get(0).deepCopy[com.fasterxml.jackson.databind.JsonNode]())
        !readOk(Json.mapper.writeValueAsBytes(rows), bucket, t0, acked, sent)
      } else true
      dup && !scala.util.Try(readOk(Workload.corrupt(body), bucket, t0, acked, sent)).getOrElse(false)
    }

    // closing, untimed: flush, compaction, stored size, restart check
    stack.store.flush(table)
    val c0 = System.nanoTime()
    out.compact = stack.facade.compactTable(table)
    out.compactNs = System.nanoTime() - c0
    val (files, bytes) = stack.tableFiles(table)
    out.tableFiles = files
    out.tableBytes = bytes
    out.userBytes = liveBytes.values.asScala.map(_.longValue).sum
    out.info("acked") = s"unary=${ackedWrites.size} streamed=${acked.size} updates=${lastUpdate.size}"

    val store2 = new TableStore(ctx.spark, stack.root)
    val facade2 = new ServiceFacade(store2)
    val back = facade2.queryData(s"SELECT id, kind, value FROM $table", 10000000)
    val expectIds = ackedWrites.asScala ++ acked.keySet.asScala ++ updateTs.keys
    val restartOk = back match {
      case Right(js) =>
        val rows = Json.read(js).elements.asScala.toVector
        val counts = rows.groupBy(_.get("id").asText).map { case (k, v) => k -> v.size }
        val values = rows.map(r => r.get("id").asText -> r.get("value").asDouble).toMap
        val missing = expectIds.count(id => !counts.contains(id))
        val dups = counts.count(_._2 > 1)
        val unknown = counts.keys.count(id => !sent.contains(id) && !updateTs.contains(id))
        val stale = updateTs.keys.count(id =>
          values.get(id).exists(_ != lastUpdate.getOrDefault(id, 0.0).doubleValue))
        out.info("restart_check") =
          s"rows=${rows.size} missing=$missing duplicated=$dups unknown=$unknown stale_updates=$stale"
        missing == 0 && dups == 0 && unknown == 0 && stale == 0
      case Left(err) =>
        out.info("restart_check") = s"query failed: $err"
        false
    }
    if (!restartOk) ctx.fail(s"restart check: ${out.info("restart_check")}")
    out.extra(restartOk)
  }
}
