package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.core.GraftSession

/** Entry point: runs one workload and prints one JSON result line.
  *
  * {{{
  *   perfbench.Main --workload query_hot --seed 1 --seconds 10 --trace 0
  *     --work DIR --nproc N --commit ID --out DIR [--inject-corrupt]
  * }}}
  *
  * `--trace 0` prints the end-to-end metrics; `--trace 1` runs the same
  * workload with spans around each layer and prints the per-layer
  * metrics instead. */
object Main {
  /** Stack builds per run; `setup_s` counts their median. */
  val BuildReps = 3

  final case class Metric(value: Double, unit: String)

  def main(argv: Array[String]): Unit = {
    val args = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workloadName = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toInt
    val traced = args("trace") == "1"
    val work = args("work")
    val nproc = args.get("nproc").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
    val outDir = args.getOrElse("out", s"$work/out")
    val injectCorrupt = argv.contains("--inject-corrupt")
    val workload: Workload = workloadName match {
      case "query_cold" => new QueryWorkload(hot = false)
      case "query_hot" => new QueryWorkload(hot = true)
      case "ingest" => new IngestWorkload
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val os = ManagementFactory.getOperatingSystemMXBean
    val loadStart = os.getSystemLoadAverage
    val cpuStart = cpuTicks()

    val spark = GraftSession.builder("perfbench", nproc.toString)
      .master(s"local[$nproc]")
      .config("spark.local.dir", s"$work/spark")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sparkStartS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val tally = if (traced) Some(new SparkTally) else None
    tally.foreach(spark.sparkContext.addSparkListener)
    val tracer = if (traced) Some(new Tracer(spark.sparkContext)) else None
    val ctx = new Ctx(spark, seed, seconds, math.min(4, nproc), work, tracer, injectCorrupt)
    val out = new Outcome

    // set-up: the stack is built several times (the last one serves) and
    // warmed up once; setup_s = Spark start + median build + warm-up
    val buildS = mutable.ArrayBuffer[Double]()
    var stack: Stack = null
    for (rep <- 0 until BuildReps) {
      val t0 = System.nanoTime()
      val s = workload.build(ctx, rep, out)
      buildS += (System.nanoTime() - t0) / 1e9
      if (stack != null) { stack.stop(); deleteTree(stack.root) }
      stack = s
    }
    val w0 = System.nanoTime()
    workload.warmUp(ctx, stack, out)
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupS = sparkStartS + Stats.quantile(buildS.toSeq, 0.5) + warmS
    val heap = mutable.ArrayBuffer(liveHeapMb())

    workload.run(ctx, stack, out)
    heap += liveHeapMb()
    val floor = if (traced) Some(Floor.measure(300)) else None
    stack.stop()
    heap += liveHeapMb()
    val loadEnd = os.getSystemLoadAverage
    // share of CPU time the hypervisor gave to other guests during the run
    val stealShare = (cpuStart, cpuTicks()) match {
      case (Some((s0, t0)), Some((s1, t1))) if t1 > t0 => (s1 - s0).toDouble / (t1 - t0)
      case _ => Double.NaN
    }

    val recs = out.recs.asScala.toVector
    val timed = recs.filter(_.t0 < out.windowEnd)
    val primary = timed.filter(_.verb == out.primary)
    val primaryMs = primary.map(_.ms)
    // operations completed per second of the window: queries, or
    // acknowledged records (unary writes plus streamed records) on ingest.
    // A request straddling an edge of the window counts by the share of
    // its duration inside it, so the figure is not quantized to 1/window.
    val opsInWindow = timed.filter(r => r.ok && (r.verb == out.primary || r.verb == "stream"))
      .map { r =>
        val inside = math.min(r.t1, out.windowEnd) - math.max(r.t0, out.windowStart)
        r.keys.size * math.max(0L, inside).toDouble / math.max(1L, r.t1 - r.t0)
      }.sum
    val attempted = recs.size + out.extraAttempted.get
    val failed = recs.count(!_.ok) + out.extraFailed.get
    val correct = failed == 0 && out.selfCheckOk

    val tailBeyond = Stats.beyond(primaryMs.size, workload.tailQ)
    val e2e = mutable.LinkedHashMap[String, Metric](
      "setup_s" -> Metric(setupS, "s"),
      "p50_ms" -> Metric(Stats.quantile(primaryMs, 0.5), "ms"),
      "tail_ms" -> Metric(Stats.quantile(primaryMs, workload.tailQ), "ms"),
      "ops_per_s" -> Metric(opsInWindow / seconds.toDouble, "1/s"),
      "heap_peak_mb" -> Metric(heap.max, "MB"),
      "stored_bytes_per_user_byte" -> Metric(out.tableBytes.toDouble / out.userBytes, "ratio"))

    // run stamp and human-readable detail, before the result line
    val loaded = loadStart > nproc
    val stamp = mutable.LinkedHashMap[String, Any](
      "workload" -> workloadName, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "nproc" -> nproc, "load_avg_start" -> loadStart, "load_avg_end" -> loadEnd,
      "loaded_host" -> loaded, "cpu_steal_share" -> stealShare, "jvm" -> System.getProperty("java.runtime.version"),
      "spark" -> spark.version, "commit" -> args.getOrElse("commit", "unknown"),
      "spark_start_s" -> sparkStartS, "build_reps_s" -> buildS.mkString(","),
      "warm_up_s" -> warmS,
      "primary_verb" -> out.primary, "primary_samples" -> primaryMs.size,
      "tail_percentile" -> workload.tailQ * 100, "tail_samples_beyond" -> tailBeyond)
    if (loaded) System.err.println(f"[perfbench] WARNING: host loaded at start " +
      f"(1-min load $loadStart%.2f on $nproc cores); treat timings with care")
    println(s"[perfbench] stamp ${jsonObj(stamp)}")
    recs.groupBy(r => s"${r.verb}/${r.transport}").toSeq.sortBy(_._1).foreach { case (k, rs) =>
      println(s"[perfbench] ${Stats.describe(k, rs.filter(_.t0 < out.windowEnd).map(_.ms))}")
    }
    e2e.foreach { case (k, m) =>
      val n =
        if (k == "p50_ms") s" (${out.primary}, n=${primaryMs.size})"
        else if (k == "tail_ms") f" (${out.primary} p${workload.tailQ * 100}%.0f, n=${primaryMs.size}, $tailBeyond beyond)"
        else ""
      println(f"[perfbench] $k = ${m.value}%.4f ${m.unit}$n")
    }
    out.info.foreach { case (k, v) => println(s"[perfbench] $k: $v") }
    if (out.compactNs > 0) println(f"[perfbench] compaction ${out.compactNs / 1e9}%.3f s, " +
      s"files ${out.compact._2} -> ${out.compact._3}")
    println(s"[perfbench] self-check (corrupted answers rejected): ${if (out.selfCheckOk) "ok" else "FAILED"}")
    println(s"[perfbench] ops attempted=$attempted failed=$failed")

    val metrics =
      if (!traced) e2e
      else {
        org.apache.spark.PerfbenchAccess.drainListenerBus(spark.sparkContext)
        Layers.compute(tracer.get, tally.get, out, ctx, primary, floor.get, outDir,
          workloadName, seed, stamp, e2e)
      }
    spark.stop()

    val bad = metrics.filter { case (_, m) => m.value.isNaN || m.value.isInfinite }
    if (bad.nonEmpty || primaryMs.isEmpty) {
      System.err.println(s"[perfbench] could not measure: ${bad.keys.mkString(", ")}" +
        s" (primary samples ${primaryMs.size})")
      System.exit(3)
    }
    val result = s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${metrics.map { case (k, m) => s""""$k": {"value": ${m.value}, "unit": "${m.unit}"}""" }.mkString(", ")}}}"""
    Files.createDirectories(Paths.get(outDir))
    Files.write(Paths.get(outDir, s"result-$workloadName-s$seed-t${if (traced) 1 else 0}.json"),
      s"""{"stamp": ${jsonObj(stamp)}, "result": $result}\n""".getBytes(UTF_8))
    println(result)
    System.out.flush()
    System.exit(0)
  }

  /** (steal, total) CPU ticks from /proc/stat, where the kernel has it. */
  def cpuTicks(): Option[(Long, Long)] = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/stat")
    val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
    (if (f.length > 7) f(7) else 0L, f.take(8).sum)
  }.toOption

  /** Live heap after a full collection, MB. */
  def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
  }

  def jsonObj(m: collection.Map[String, Any]): String = m.map { case (k, v) =>
    val js = v match {
      case s: String => Json.quote(s)
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case other => other.toString
    }
    s"${Json.quote(k)}: $js"
  }.mkString("{", ", ", "}")
}
