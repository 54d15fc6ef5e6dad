package perfbench

import java.io.File
import java.util.SplittableRandom
import graft.core.Catalog

/** Benchmark entry point: one process, one closed-loop client.
  *
  * {{{
  * Main --workload render|lifecycle --seed N --seconds S --trace 0|1
  *      --work DIR --out DIR
  * }}}
  *
  * Prints one JSON object as the last line of standard output: with
  * `--trace 0` the end-to-end metrics, with `--trace 1` the per-layer
  * metrics of a separate traced run (spans written to `--out`). */
object Main {

  val Setups = 3

  val EndToEnd: Vector[(String, String)] = Vector(
    "setup_s" -> "s", "cold_pass_s" -> "s", "ops_per_s" -> "1/s",
    "read_p50_ms" -> "ms")

  val SelfLayers: Vector[String] = Vector("bench", "engine", "registry_single",
    "registry_multi", "metastore", "ingest", "maintenance", "plan", "exec")

  val PerLayer: Vector[(String, String)] = Vector(
    "spark.construct_ms" -> "ms", "spark.construct_jobs" -> "count",
    "spark.plan_ms" -> "ms", "spark.exec_ms" -> "ms",
    "spark.jobs_per_op" -> "count", "spark.stages_per_op" -> "count",
    "spark.tasks_per_op" -> "count", "spark.task_busy_ms_per_op" -> "ms",
    "spark.sched_delay_ms_per_op" -> "ms", "spark.shuffle_bytes_per_op" -> "bytes",
    "spark.spill_bytes_per_op" -> "bytes", "spark.scan_bytes_per_op" -> "bytes",
    "jvm.gc_ms" -> "ms", "jvm.heap_peak_mb" -> "MB",
    "engine.fetch_p50_ms" -> "ms", "engine.pattern_p50_ms" -> "ms",
    "engine.find_p50_ms" -> "ms", "engine.aggregate_p50_ms" -> "ms",
    "engine.create_node_p50_ms" -> "ms", "engine.ingest_points_per_s" -> "1/s",
    "engine.maintain_s" -> "s", "engine.store_bytes_per_point" -> "bytes",
    "registry.function_p50_ms" -> "ms",
    "pipeline.call_p50_ms" -> "ms", "pipeline.cold_pass_s" -> "s",
    "metastore.put_ms" -> "ms", "metastore.read_ms" -> "ms",
    "metastore.log_files" -> "count",
    "catalog.points_build_ms" -> "ms", "catalog.cache_keys" -> "count",
    "catalog.cache_builds_per_op" -> "count", "catalog.cached_bytes" -> "bytes",
    "ingest.batch_ms" -> "ms", "ingest.trigger_ms" -> "ms",
    "ingest.add_batch_ms" -> "ms", "ingest.query_planning_ms" -> "ms",
    "ingest.wal_commit_ms" -> "ms", "ingest.files_written" -> "count",
    "ingest.write_bytes_per_point" -> "bytes",
    "maintenance.compact_store_ms" -> "ms", "maintenance.run_pruned_ms" -> "ms",
    "maintenance.noop_pass_ms" -> "ms", "maintenance.bytes_rewritten" -> "bytes",
    "maintenance.store_files" -> "count",
    "series.store_view_ms" -> "ms", "series.pruned_read_ms" -> "ms",
    "series.densify_ms" -> "ms", "series.reconcile_ms" -> "ms",
    "series.single_ms" -> "ms", "series.multi_ms" -> "ms",
    "text.cold_delta_ms" -> "ms", "text.warm_ms" -> "ms",
    "vector.cold_delta_ms" -> "ms", "vector.warm_ms" -> "ms",
    "events.warm_ms" -> "ms", "index.cold_delta_ms" -> "ms",
    "check.error_rate" -> "ratio", "trace.ops_per_s" -> "1/s",
    "trace.spans" -> "count") ++
    SelfLayers.map(l => s"trace.self_${l}_ms" -> "ms")

  private def workloadFor(name: String, seed: Long): Workload = name match {
    case "render" => new Render(seed)
    case "lifecycle" => new Lifecycle(seed)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  /** Exits the JVM either way, so no thread Spark leaves behind can keep a
    * finished or failed run alive. */
  def main(args: Array[String]): Unit =
    try { run(args); sys.exit(0) }
    catch { case e: Throwable => e.printStackTrace(); sys.exit(1) }

  private def run(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = new File(opts("work"))
    val out = new File(opts("out"))
    work.mkdirs()
    val cores = Runtime.getRuntime.availableProcessors

    // set up several times, each in a fresh session; keep the last
    var wl: Workload = null
    var spark: org.apache.spark.sql.SparkSession = null
    val setupS = (1 to Setups).map { _ =>
      if (spark != null) Harness.stop(spark)
      val t0 = System.nanoTime()
      spark = Harness.session(work, cores)
      wl = workloadFor(workload, seed)
      wl.setup(spark, work)
      Harness.nowMs(t0) / 1000.0
    }

    val tracer = if (trace) Some(new Tracer(spark)) else None
    val rec = new Recorder(spark, tracer)
    val t0 = System.nanoTime()
    wl.coldPass(rec)
    val coldS = Harness.nowMs(t0) / 1000.0
    val tw = System.nanoTime()
    wl.warmup(rec)
    val warmS = Harness.nowMs(tw) / 1000.0

    Jvm.resetPeak()
    val gc0 = Jvm.gcMs
    val r = new SplittableRandom(seed * 1000003L + 17)
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    // whole rounds only: another starts while half of the last still fits
    var lastRound = 0L
    while (System.nanoTime() + lastRound / 2 < deadline) {
      val t = System.nanoTime()
      wl.round(rec, r)
      lastRound = System.nanoTime() - t
    }
    val elapsedS = Harness.nowMs(start) / 1000.0
    val gcMs = (Jvm.gcMs - gc0).toDouble
    val heapMb = Jvm.heapPeakMb
    val timedOps = rec.allSamples.size
    val opsPerS = timedOps / elapsedS
    // layer probes may add checked ops, so failures are counted last
    def failed: Int = rec.failed + rec.wrong

    val metrics: Vector[(String, String, Double)] = tracer match {
      case None =>
        val values = Map(
          "setup_s" -> Harness.median(setupS),
          "cold_pass_s" -> coldS,
          "ops_per_s" -> opsPerS,
          "read_p50_ms" -> Harness.median(wl.headline(rec)))
        EndToEnd.map { case (n, u) => (n, u, values(n)) }
      case Some(tr) =>
        // the session cache as the timed phase left it, before the
        // workload's layer probes add tables of their own
        val cacheKeys = Catalog.cacheStats(spark).collect().length.toDouble
        val cachedBytes = spark.sparkContext.getRDDStorageInfo
          .map(i => i.memSize + i.diskSize).sum.toDouble
        val layers = wl.layerMetrics(rec, tr)
        val ops = math.max(1, tr.timedOpCount).toDouble
        val counters = tr.opCounters.toVector
        def perOp(i: Int): Double = counters.map(_(i)).sum / ops
        val self = tr.selfMsByLayer
        val facade = self.filter { case (l, _) => !Set("bench", "plan", "exec", "check")(l) }
        val generic = Map(
          "spark.construct_ms" -> facade.values.sum / ops,
          "spark.construct_jobs" -> perOp(0),
          "spark.plan_ms" -> self.getOrElse("plan", 0.0) / ops,
          "spark.exec_ms" -> self.getOrElse("exec", 0.0) / ops,
          "spark.jobs_per_op" -> perOp(1), "spark.stages_per_op" -> perOp(2),
          "spark.tasks_per_op" -> perOp(3), "spark.task_busy_ms_per_op" -> perOp(4),
          "spark.sched_delay_ms_per_op" -> perOp(5),
          "spark.shuffle_bytes_per_op" -> perOp(6),
          "spark.spill_bytes_per_op" -> perOp(7), "spark.scan_bytes_per_op" -> perOp(8),
          "jvm.gc_ms" -> gcMs, "jvm.heap_peak_mb" -> heapMb,
          "catalog.cache_keys" -> cacheKeys,
          "catalog.cache_builds_per_op" -> tr.cacheBuilds / ops,
          "catalog.cached_bytes" -> cachedBytes,
          "check.error_rate" -> failed.toDouble / math.max(1, rec.attempted),
          "trace.ops_per_s" -> opsPerS,
          "trace.spans" -> tr.spanCount.toDouble) ++
          SelfLayers.map(l => s"trace.self_${l}_ms" -> self.getOrElse(l, 0.0) / ops)
        val values = generic ++ layers
        tr.write(new File(out, s"spans-$workload-seed$seed.jsonl"))
        PerLayer.map { case (n, u) => (n, u, values.getOrElse(n, 0.0)) }
    }

    rec.problems.foreach(p => System.err.println(s"[perfbench] $p"))
    rec.times.foreach { case (k, v) =>
      System.err.println(f"[perfbench]   $k%-28s n=${v.size}%3d p50=${Harness.median(v.toSeq)}%9.1f ms")
    }
    System.err.println(f"[perfbench] setups ${setupS.map(x => f"$x%.2f").mkString(" ")} s, " +
      f"cold $coldS%.2f s, warm-up $warmS%.2f s, timed $elapsedS%.2f s, $timedOps timed ops")
    Harness.stop(spark)
    val body = metrics.map { case (n, u, v) =>
      val num = if (v.isNaN || v.isInfinite) "0.0" else v.toString
      s""""$n": {"value": $num, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": ${rec.attempted}, """ +
      s""""failed": $failed, "metrics": {$body}}""")
  }
}
