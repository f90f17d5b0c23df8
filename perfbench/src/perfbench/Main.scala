package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** One benchmark run: set up a workload, then issue its operations as a
  * closed loop with one client for `--seconds`, always finishing the round
  * in progress. Untraced runs report the end-to-end metrics; traced runs
  * alternate traced and untraced executions of each operation and report
  * the per-layer metrics plus the tracing overhead. The result is written
  * as one JSON object to `--out`.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *          --work DIR --data DIR --fingerprints FILE --spans FILE --out FILE
  */
object Main {
  /** `pipeline_daily`: the reference's traffic, one small batch per day.
    * Five untimed warm-up days take the JVM past the steep part of its
    * JIT curve (on 4 vCPUs the first batch of a fresh JVM costs ~14 s, the
    * next ones fall from ~2.8 s to ~1.5 s over some twenty seconds). */
  private val DailyRows = 1000
  private val DailyDays = 30
  private val DailyWarmDays = 5

  /** Registry rows the `registry_sf0.01` workload runs: a fixed slice of
    * the registry across its families (relational, window, analytic SQL,
    * dedup, text, similarity, graph, streaming), sized so that two warm-up
    * passes plus timed passes fit one run. */
  val RegistryRows: Seq[String] = Seq(
    "q_join_fact_dim", "q_window_rank", "q_pricing_summary", "q_sessionize", "q_weather_stg",
    "q_simhash_dedup", "q_tfidf_topterms", "q_ann_lsh", "q_graph_degree_stats",
    "q_stream_neardup64", "q_stream_dedup")
  private val RegistryWarmPasses = 2

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = new File(a("work"))
    val ctxStart = context()

    val t0 = System.nanoTime()
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = graft.Sessions.build(cpus.toString,
      Map("spark.sql.warehouse.dir" -> new File(work, "warehouse").getAbsolutePath))
    spark.sparkContext.setLogLevel("WARN")
    System.err.println(f"[perfbench] session up after ${(System.nanoTime() - t0) / 1e9}%.2f s")
    val w: Workload = workload match {
      case "pipeline_daily" => new PipelineWorkload(spark, work, seed, DailyRows, DailyDays,
        DailyWarmDays)
      case "registry_sf0.01" => new RegistryWorkload(spark, a("data"), RegistryRows,
        Registry.loadFingerprints(new File(a("fingerprints"))), seed, RegistryWarmPasses)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    w.setup()
    val setupS = (System.nanoTime() - t0) / 1e9

    val tracer = if (trace) Some(new Tracer(spark)) else None
    val minRounds = if (trace) 2 else 1
    val samples = scala.collection.mutable.ArrayBuffer.empty[(Sample, Boolean)]
    val m0 = System.nanoTime()
    var k = 0
    var ops = w.round(0)
    while (ops.nonEmpty && (k < minRounds || (System.nanoTime() - m0) / 1e9 < seconds)) {
      ops.foreach { op =>
        val traced = trace && (k + op.slot) % 2 == 0
        samples += ((w.exec(op, if (traced) tracer else None), traced))
      }
      k += 1
      ops = w.round(k)
    }

    val all = samples.map(_._1).toSeq
    val failed = all.count(!_.ok)
    val metrics =
      if (trace) layerMetrics(samples.toSeq)
      else {
        val walls = all.filter(_.ok).map(_.wallS)
        // a run holds 8-11 batches or 44 registry rows: enough for a
        // median, too few for a tail percentile with ten samples beyond it
        Seq("setup_s" -> (setupS, "s"),
          "op_p50_s" -> (median(walls), "s"),
          "ops_per_s" -> (walls.size / walls.sum, "1/s"))
      }
    if (trace) writeSpans(new File(a("spans")), workload, samples.toSeq)
    val result = Map(
      "correct" -> (failed == 0 && all.nonEmpty),
      "attempted" -> all.size,
      "failed" -> failed,
      "metrics" -> metrics.map { case (n, (v, u)) => n -> Map("value" -> v, "unit" -> u) }.toMap,
      "context" -> Map("start" -> ctxStart, "end" -> context(), "rounds" -> k))
    Files.writeString(new File(a("out")).toPath, json.writeValueAsString(result),
      StandardCharsets.UTF_8)
    spark.stop()
  }

  /** Per-layer metrics of a traced run: means over the traced operations,
    * process totals for the JVM, and the traced-minus-untraced difference
    * of operations that ran both ways. */
  private def layerMetrics(samples: Seq[(Sample, Boolean)]): Seq[(String, (Double, String))] = {
    val traced = samples.collect { case (s, true) if s.ok && s.counts.isDefined => s }
    def mean(f: Sample => Double): Double =
      if (traced.isEmpty) 0.0 else traced.map(f).sum / traced.size
    def c(s: Sample): OpCounts = s.counts.get
    val gate = (j: String) => j == "count"
    val write = (j: String) => j == "parquet"
    val isPipeline = traced.exists(_.name == "batch")
    def pipe(v: Sample => Double): Double = if (isPipeline) mean(v) else 0.0
    val paired = samples.filter(_._1.ok).groupBy(_._1.name).values.flatMap { xs =>
      val (t, u) = xs.partition(_._2)
      if (t.isEmpty || u.isEmpty) None
      else Some((t.map(_._1.wallS).sum / t.size, u.map(_._1.wallS).sum / u.size))
    }.toSeq
    val overheadS = if (paired.isEmpty) 0.0 else paired.map(p => p._1 - p._2).sum / paired.size
    val overheadFrac = if (paired.isEmpty) 0.0 else paired.map(_._1).sum / paired.map(_._2).sum - 1
    val gcS = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
    val jitS = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
    Seq(
      "engine.jobs" -> (mean(c(_).jobs.size), "count"),
      "engine.jobs_per_action" -> (mean(s => c(s).jobs.size.toDouble / math.max(1, c(s).actions)), "jobs/action"),
      "engine.job_gap_s" -> (mean(c(_).jobGapS), "s"),
      "engine.plan_s" -> (mean(c(_).planS), "s"),
      "engine.build_s" -> (mean(_.buildS), "s"),
      "engine.stage_busy_s" -> (mean(c(_).stageBusyS), "s"),
      "engine.tasks" -> (mean(c(_).tasks.toDouble), "count"),
      "engine.shuffle_write_bytes" -> (mean(c(_).shuffleWriteBytes.toDouble), "bytes"),
      "engine.spill_bytes" -> (mean(c(_).spillBytes.toDouble), "bytes"),
      "engine.failed_tasks" -> (mean(c(_).failedTasks.toDouble), "count"),
      "pipeline.jobs" -> (pipe(c(_).jobs.size), "count"),
      "pipeline.gate_jobs" -> (pipe(c(_).jobsWith(gate).size), "count"),
      "pipeline.gate_s" -> (pipe(s => c(s).jobS(c(s).jobsWith(gate))), "s"),
      "pipeline.write_jobs" -> (pipe(c(_).jobsWith(write).size), "count"),
      "pipeline.write_s" -> (pipe(s => c(s).jobS(c(s).jobsWith(write))), "s"),
      "streaming.batches" -> (mean(c(_).streamBatches), "count"),
      "streaming.add_batch_s" -> (mean(c(_).addBatchS), "s"),
      "streaming.query_planning_s" -> (mean(c(_).queryPlanningS), "s"),
      "streaming.wal_commit_s" -> (mean(c(_).walCommitS), "s"),
      "jvm.gc_s" -> (gcS, "s"),
      "jvm.jit_s" -> (jitS, "s"),
      "trace.ops" -> (traced.size.toDouble, "count"),
      "trace.overhead_s" -> (overheadS, "s"),
      "trace.overhead_frac" -> (overheadFrac, "frac")) ++
      (Seq("pipeline.rows_in", "pipeline.rows_routed", "pipeline.rows_filtered",
        "pipeline.rows_kept", "sources.bytes_written", "sources.files_written",
        "caches.built", "caches.memos").map { k =>
        k -> (mean(_.layer.getOrElse(k, 0.0)), if (k == "sources.bytes_written") "bytes" else "count")
      })
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Host context recorded next to the metrics, so an outlier run can be
    * attributed to the host. */
  private def context(): Map[String, Any] = {
    val os = ManagementFactory.getOperatingSystemMXBean
    val mem = os match {
      case o: com.sun.management.OperatingSystemMXBean => o.getTotalMemorySize
      case _ => -1L
    }
    Map("nproc" -> Runtime.getRuntime.availableProcessors, "mem_total_bytes" -> mem,
      "loadavg" -> os.getSystemLoadAverage,
      "canary_cpu_s" -> graft.Canary.cpu(), "canary_io_s" -> graft.Canary.io())
  }

  /** One span per operation (registry rows get `build` and `action`
    * children) with the listener counts of traced operations, written
    * once at the end of the run. */
  private def writeSpans(f: File, workload: String, samples: Seq[(Sample, Boolean)]): Unit = {
    f.getParentFile.mkdirs()
    val spans = samples.zipWithIndex.map { case ((s, traced), i) =>
      val startS = s.startNs / 1e9
      val children =
        if (workload.startsWith("registry")) Seq(
          Map("name" -> "build", "start_s" -> startS, "end_s" -> (startS + s.buildS)),
          Map("name" -> "action", "start_s" -> (startS + s.buildS), "end_s" -> (startS + s.wallS)))
        else Nil
      val counts = s.counts.map { c =>
        Map("jobs" -> c.jobs.map(j => Map("id" -> j.id, "action" -> j.action,
            "start_ms" -> j.start, "end_ms" -> j.end)),
          "actions" -> c.actions, "plan_s" -> c.planS, "stage_busy_s" -> c.stageBusyS,
          "tasks" -> c.tasks, "failed_tasks" -> c.failedTasks,
          "shuffle_write_bytes" -> c.shuffleWriteBytes, "spill_bytes" -> c.spillBytes,
          "stream_batches" -> c.streamBatches, "add_batch_s" -> c.addBatchS,
          "query_planning_s" -> c.queryPlanningS, "wal_commit_s" -> c.walCommitS)
      }
      Map("op_id" -> i, "name" -> s.name, "traced" -> traced, "ok" -> s.ok,
        "start_s" -> startS, "end_s" -> (startS + s.wallS), "children" -> children,
        "counts" -> counts.orNull, "layer" -> s.layer)
    }
    Files.writeString(f.toPath,
      json.writeValueAsString(Map("workload" -> workload, "spans" -> spans)), StandardCharsets.UTF_8)
  }
}
