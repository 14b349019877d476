package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.catalog.TableStore
import graft.ingest.DynRecord
import graft.serve.ServiceFacade

/** One timed call into a layer. Times are `System.nanoTime`. `key`
  * ties a server-side span to the client request that caused it (the
  * SQL text of a query, the record id of a write or update). */
final class Span(val id: Long, val parent: Long, val name: String,
    val key: String, val thread: Long, val start: Long) {
  @volatile var end: Long = 0L
  /** Rows a flush wrote (flush spans only). */
  @volatile var rows: Long = 0L
  def dur: Long = end - start
}

/** In-memory span recorder. The active span's id is also set as a Spark
  * local property, so [[SparkTally]] can attribute each job to the
  * innermost span that ran it. */
final class Tracer(sc: SparkContext) {
  private val seq = new AtomicLong
  private val current = new ThreadLocal[Span]
  val spans = new ConcurrentLinkedQueue[Span]

  def span[T](name: String, key: String = "")(f: Span => T): T = {
    val parent = current.get
    val s = new Span(seq.incrementAndGet(), if (parent == null) 0L else parent.id,
      name, key, Thread.currentThread.getId, System.nanoTime())
    val prevProp = sc.getLocalProperty(Tracer.SpanProperty)
    current.set(s)
    sc.setLocalProperty(Tracer.SpanProperty, s.id.toString)
    try f(s)
    finally {
      s.end = System.nanoTime()
      spans.add(s)
      current.set(parent)
      sc.setLocalProperty(Tracer.SpanProperty, prevProp)
    }
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"
}

/** Spark work of one job, attributed to the span that submitted it. */
final class JobTally(val span: Long, val startMs: Long) {
  @volatile var endMs: Long = startMs
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var inputBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
}

/** Listener that totals task metrics per job. Events arrive on Spark's
  * single listener thread; read the totals only after
  * `PerfbenchAccess.drainListenerBus`. */
final class SparkTally extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobTally]
  private val stageJob = new ConcurrentHashMap[Int, JobTally]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      .map(_.toLong).getOrElse(0L)
    val j = new JobTally(span, e.time)
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, j))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).foreach(_.stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val j = stageJob.get(e.stageId)
    val m = e.taskMetrics
    if (j != null && m != null) {
      j.tasks += 1
      j.cpuNs += m.executorCpuTime
      j.runMs += m.executorRunTime
      j.inputBytes += m.inputMetrics.bytesRead
      j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
}

/** `TableStore` whose public entry points are wrapped in spans. The
  * wrapper only times `super` calls; it changes no behaviour. */
final class TracedStore(spark: SparkSession, root: String, t: Tracer)
    extends TableStore(spark, root) {
  // rows buffered since the last flush, per table: what the next flush writes
  private val pending = new ConcurrentHashMap[String, LongAdder]
  private def pendingOf(table: String) =
    pending.computeIfAbsent(table, _ => new LongAdder)

  override def write(table: String, records: Seq[DynRecord]): Unit =
    t.span("catalog.write", table) { _ =>
      // counted under the table lock, before a flush the write may trigger
      withTableLock(table) {
        pendingOf(table).add(records.size.toLong)
        super.write(table, records)
      }
    }

  override def flush(table: String): Unit =
    t.span("catalog.flush", table) { s =>
      withTableLock(table) {
        s.rows = pendingOf(table).sumThenReset()
        super.flush(table)
      }
    }

  override def read(table: String): DataFrame =
    t.span("catalog.read", table)(_ => super.read(table))

  override def knownTable(table: String): Boolean =
    t.span("catalog.known", table)(_ => super.knownTable(table))
}

/** `ServiceFacade` whose verbs are wrapped in spans keyed so the
  * benchmark can match them to client requests. */
final class TracedFacade(store: TableStore, t: Tracer, secret: String)
    extends ServiceFacade(store, authSecret = Some(secret)) {

  override def queryData(sql: String, limit: Int): Either[String, String] =
    t.span("facade.query", sql)(_ => super.queryData(sql, limit))

  override def writeData(table: String, record: DynRecord): WriteResult =
    t.span("facade.write", record.id)(_ => super.writeData(table, record))

  override def updateData(table: String, record: DynRecord): Long =
    t.span("mutate.update", record.id)(_ => super.updateData(table, record))

  override def validateToken(token: String) =
    t.span("serve.auth")(_ => super.validateToken(token))

  override def compactTable(table: String): (Int, Int, Int) =
    t.span("maintain.compact", table)(_ => super.compactTable(table))
}

/** Self time and Spark time of every span, from the recorded spans and
  * the listener's jobs. A span's self time is its duration minus the
  * part covered by its child spans and by the Spark jobs it submitted
  * directly. */
final class SpanIndex(spans: Seq[Span], jobs: Seq[JobTally],
    nanoAtMs: Long => Long) {
  val children: Map[Long, Seq[Span]] = spans.groupBy(_.parent)
  val jobsBySpan: Map[Long, Seq[JobTally]] = jobs.groupBy(_.span)

  private def covered(s: Span, iv: Seq[(Long, Long)]): Long = {
    val clipped = iv.map { case (a, b) => (math.max(a, s.start), math.min(b, s.end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  private def jobIntervals(s: Span): Seq[(Long, Long)] =
    jobsBySpan.getOrElse(s.id, Nil).map(j => (nanoAtMs(j.startMs), nanoAtMs(j.endMs)))

  /** Wall time of the span's own Spark jobs (overlapping jobs count once). */
  def sparkNs(s: Span): Long = covered(s, jobIntervals(s))

  def selfNs(s: Span): Long = {
    val kids = children.getOrElse(s.id, Nil).map(c => (c.start, c.end))
    math.max(0L, s.dur - covered(s, kids ++ jobIntervals(s)))
  }

  def descendants(s: Span): Seq[Span] = {
    val out = ArrayBuffer[Span]()
    var frontier = children.getOrElse(s.id, Nil)
    while (frontier.nonEmpty) {
      out ++= frontier
      frontier = frontier.flatMap(c => children.getOrElse(c.id, Nil))
    }
    out.toSeq
  }

  /** Spark jobs submitted by the span or any of its descendants. */
  def jobsUnder(s: Span): Seq[JobTally] =
    (s +: descendants(s)).flatMap(d => jobsBySpan.getOrElse(d.id, Nil))
}

object SpanIndex {
  def apply(t: Tracer, tally: SparkTally): SpanIndex = {
    // one clock for spans (nanoTime) and listener events (wall millis)
    val nano0 = System.nanoTime()
    val ms0 = System.currentTimeMillis()
    new SpanIndex(t.spans.asScala.toSeq, tally.jobs.values.asScala.toSeq,
      ms => nano0 + (ms - ms0) * 1000000L)
  }
}
