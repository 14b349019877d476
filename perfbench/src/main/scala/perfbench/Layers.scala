package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import Main.Metric

/** Per-layer metrics of a traced run, from the recorded spans and the
  * Spark listener. Writes the spans and a per-verb breakdown next to the
  * results, then returns the declared per-layer metrics. */
object Layers {
  private val VerbSpan = Map("query" -> "facade.query", "read" -> "facade.query",
    "write" -> "facade.write", "stream" -> "facade.write", "update" -> "mutate.update")

  /** Blocking-path decomposition of one request, ns. */
  final case class Path(rec: Rec, spans: Seq[Span], serveSelf: Long, verbSelf: Long,
      byLayer: Map[String, Long], spark: Long) {
    def matched: Boolean = spans.size == rec.keys.size
    def total: Long = serveSelf + verbSelf + byLayer.values.sum + spark
  }

  private def p50(ns: Seq[Long]): Double =
    if (ns.isEmpty) 0.0 else Stats.quantile(ns.map(_ / 1e6), 0.5)

  def compute(t: Tracer, tally: SparkTally, out: Outcome, ctx: Ctx, primary: Seq[Rec],
      floor: (Double, Double), outDir: String, workload: String, seed: Long,
      stamp: collection.Map[String, Any],
      e2e: collection.Map[String, Metric]): mutable.LinkedHashMap[String, Metric] = {
    val idx = SpanIndex(t, tally)
    val spans = t.spans.asScala.toVector
    val byName = spans.groupBy(_.name).withDefaultValue(Vector.empty)

    // match each timed request to the facade span(s) that served it
    val pool = spans.filter(s => VerbSpan.values.toSet(s.name))
      .groupBy(s => (s.name, s.key)).map { case (k, v) => k -> v.sortBy(_.start) }
    val claimed = mutable.HashSet[Long]()
    def matchRec(r: Rec): Seq[Span] = r.keys.flatMap { k =>
      pool.getOrElse((VerbSpan(r.verb), k), Vector.empty)
        .find(s => !claimed(s.id) && s.start >= r.t0 && s.end <= r.t1)
        .map { s => claimed += s.id; s }
    }
    val timed = out.recs.asScala.toVector.filter(r => r.t0 < out.windowEnd && r.t1 > r.t0)
      .sortBy(_.t0)
    val paths = timed.map { r =>
      val f = matchRec(r)
      val under = f.flatMap(s => idx.descendants(s))
      val layer = under.groupBy(_.name).map { case (n, ss) => n -> ss.map(idx.selfNs).sum }
      Path(r, f, (r.t1 - r.t0) - f.map(_.dur).sum, f.map(idx.selfNs).sum, layer,
        (f ++ under).map(idx.sparkNs).sum)
    }
    val primaryPaths = paths.filter(p => primary.contains(p.rec))
    val queryPaths = paths.filter(p => p.rec.verb == "query" || p.rec.verb == "read")

    // flushes that wrote rows (an explicit flush of an empty buffer is a no-op)
    val flushes = byName("catalog.flush").filter(_.rows > 0)
    val jobs = tally.jobs.values.asScala.toVector
    val floorHttp = floor._1
    val floorH2 = floor._2
    val m = mutable.LinkedHashMap[String, Metric](
      "serve.self_ms" -> Metric(p50(primaryPaths.map(_.serveSelf)), "ms"),
      "serve.auth.validate_ms" -> Metric(p50(byName("serve.auth").map(_.dur)), "ms"),
      "serve.auth.calls" -> Metric(byName("serve.auth").size, "count"),
      "serve.errors" -> Metric(out.recs.asScala.count(!_.transportOk), "count"),
      "query.gate.validate_ms" -> Metric(p50(ctx.gateNs.asScala.map(_.longValue).toSeq), "ms"),
      "query.cache.hits" -> Metric(out.cacheHits, "count"),
      "query.cache.misses" -> Metric(out.cacheMisses, "count"),
      "query.cache.hit_ratio" -> Metric(
        if (out.cacheHits + out.cacheMisses == 0) 0.0
        else out.cacheHits.toDouble / (out.cacheHits + out.cacheMisses), "ratio"),
      "query.engine.self_ms" -> Metric(p50(queryPaths.map(_.verbSelf)), "ms"),
      "catalog.read_ms" -> Metric(p50(byName("catalog.read").map(_.dur)), "ms"),
      "catalog.read_calls" -> Metric(byName("catalog.read").size, "count"),
      "catalog.known_ms" -> Metric(p50(byName("catalog.known").map(_.dur)), "ms"),
      "catalog.write_ms" -> Metric(p50(byName("catalog.write").map(idx.selfNs)), "ms"),
      "catalog.write_calls" -> Metric(byName("catalog.write").size, "count"),
      "catalog.flush_ms" -> Metric(p50(flushes.map(_.dur)), "ms"),
      "catalog.flushes" -> Metric(flushes.size, "count"),
      "catalog.flush_rows" -> Metric(flushes.map(_.rows).sum, "count"),
      "catalog.files" -> Metric(out.tableFiles, "count"),
      "catalog.bytes" -> Metric(out.tableBytes, "bytes"),
      "mutate.update_calls" -> Metric(byName("mutate.update").size, "count"),
      "maintain.files_before" -> Metric(out.compact._2, "count"),
      "maintain.files_after" -> Metric(out.compact._3, "count"),
      "spark.jobs" -> Metric(jobs.size, "count"),
      "spark.stages" -> Metric(jobs.map(_.stages).sum, "count"),
      "spark.tasks" -> Metric(jobs.map(_.tasks).sum, "count"),
      "spark.task_cpu_ms" -> Metric(jobs.map(_.cpuNs).sum / 1e6, "ms"),
      "spark.executor_run_ms" -> Metric(jobs.map(_.runMs).sum.toDouble, "ms"),
      "spark.input_bytes" -> Metric(jobs.map(_.inputBytes).sum, "bytes"),
      "spark.shuffle_read_bytes" -> Metric(jobs.map(_.shuffleReadBytes).sum, "bytes"),
      "spark.shuffle_write_bytes" -> Metric(jobs.map(_.shuffleWriteBytes).sum, "bytes"),
      "spark.spill_bytes" -> Metric(jobs.map(_.spillBytes).sum, "bytes"),
      "client.floor.http1_ms" -> Metric(floorHttp, "ms"),
      "client.floor.h2c_ms" -> Metric(floorH2, "ms"),
      "trace.path_p50_ms" -> Metric(p50(primaryPaths.map(_.total)), "ms"))

    // per-verb breakdown of the timed window (detail file only)
    val detail = mutable.LinkedHashMap[String, Any]()
    paths.groupBy(p => s"${p.rec.verb}/${p.rec.transport}").toSeq.sortBy(_._1).foreach {
      case (k, ps) =>
        val reqJobs = ps.flatMap(_.spans).flatMap(idx.jobsUnder)
        detail(s"$k.n") = ps.size
        detail(s"$k.matched") = ps.count(_.matched)
        detail(s"$k.client_p50_ms") = p50(ps.map(p => p.rec.t1 - p.rec.t0))
        detail(s"$k.serve_self_p50_ms") = p50(ps.map(_.serveSelf))
        detail(s"$k.verb_self_p50_ms") = p50(ps.map(_.verbSelf))
        detail(s"$k.spark_p50_ms") = p50(ps.map(_.spark))
        ps.flatMap(_.byLayer.keys).distinct.sorted.foreach { l =>
          detail(s"$k.$l.self_p50_ms") = p50(ps.map(_.byLayer.getOrElse(l, 0L)))
        }
        detail(s"$k.path_p50_ms") = p50(ps.map(_.total))
        detail(s"$k.spark_jobs") = reqJobs.size
        detail(s"$k.spark_tasks") = reqJobs.map(_.tasks).sum
        detail(s"$k.spark_task_cpu_ms") = reqJobs.map(_.cpuNs).sum / 1e6
        detail(s"$k.spark_shuffle_bytes") =
          reqJobs.map(j => j.shuffleReadBytes + j.shuffleWriteBytes).sum
    }
    detail("mutate.update_ms") = p50(byName("mutate.update").map(_.dur))
    detail("maintain.compact_s") = byName("maintain.compact").map(_.dur).sum / 1e9
    detail("catalog.flush_max_ms") = flushes.map(_.dur / 1e6).maxOption.getOrElse(0.0)

    val dir = Paths.get(outDir)
    Files.createDirectories(dir)
    val spanLines = spans.sortBy(_.start).map { s =>
      Main.jsonObj(mutable.LinkedHashMap[String, Any]("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "key" -> s.key.take(160), "thread" -> s.thread,
        "start_ns" -> s.start, "end_ns" -> s.end, "self_ns" -> idx.selfNs(s),
        "spark_ns" -> idx.sparkNs(s), "rows" -> s.rows))
    }
    Files.write(dir.resolve(s"spans-$workload-s$seed.jsonl"),
      spanLines.mkString("", "\n", "\n").getBytes(UTF_8))
    val layerJson = Main.jsonObj(mutable.LinkedHashMap[String, Any](
      "stamp" -> Main.jsonObj(stamp), "traced_end_to_end" -> Main.jsonObj(e2e.map {
        case (k, v) => k -> v.value }),
      "per_layer" -> Main.jsonObj(m.map { case (k, v) => k -> v.value }),
      "detail" -> Main.jsonObj(detail)).map { case (k, v) => k -> RawJson(v.toString) })
    Files.write(dir.resolve(s"layers-$workload-s$seed.json"), (layerJson + "\n").getBytes(UTF_8))

    detail.foreach { case (k, v) => println(s"[perfbench] layer $k = $v") }
    println(f"[perfbench] blocking path p50 ${p50(primaryPaths.map(_.total))}%.3f ms " +
      f"vs traced client p50 ${p50(primaryPaths.map(p => p.rec.t1 - p.rec.t0))}%.3f ms " +
      s"(${primaryPaths.count(_.matched)}/${primaryPaths.size} requests matched to spans)")
    m
  }

  /** A pre-rendered JSON value for [[Main.jsonObj]]. */
  final case class RawJson(s: String) { override def toString: String = s }
}
