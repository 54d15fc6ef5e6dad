package perfbench

import java.io.File
import java.util.SplittableRandom
import org.apache.spark.sql.SparkSession
import graft.{Engine, SparkEntry}
import graft.core.{Catalog, Kernel}
import graft.operators.SeriesOps

/** `render`: read-only graphite traffic against the harness catalog
  * (`Engine.open` over a seeded events table). Mix per round: 24
  * `fetch`, two `fetchPattern`, one `find`, one `aggregate` and two
  * registered `series_*` queries, one single-metric and one `_multi`, from
  * a fixed sample of the registry. */
final class Render(seed: Long) extends Workload {
  private val events = Gen.events(seed, 100000)
  /** metric -> aligned ts -> value: what the compacted catalog must hold. */
  private val model: Map[String, Map[Long, Double]] =
    Model.compact(events.map(e => (s"events.${e.kind}", e.tsMicros / 1000000L, Some(e.value))))
  private val methods = Map("events.click" -> "average", "events.error" -> "max",
    "events.purchase" -> "sum", "events.signup" -> "last", "events.view" -> "average")
  private val metrics = model.keys.toVector.sorted

  /** A fixed sample of the registered graphite-function queries, the same
    * for every seed: every 46th single-metric form and every 15th `_multi`
    * form, two of each. */
  private val (multiSample, singleSample) = {
    def every[A](xs: Vector[A], n: Int) = xs.zipWithIndex.collect { case (k, i) if i % n == 0 => k }
    val (multi, single) = SparkEntry.queries.keys.filter(_.startsWith("series_"))
      .toVector.sorted.partition(_.endsWith("_multi"))
    (every(multi, 15), every(single, 46))
  }
  val seriesSample: Vector[String] = singleSample ++ multiSample

  private val globs = Vector("events.*", "events.p*", "events.[cv]*", "events.*e*",
    "events.?lick", "events.s*")

  private var dir: String = _
  private var engine: Engine = _
  val pointsBuildMs = scala.collection.mutable.ArrayBuffer.empty[Double]

  def setup(spark: SparkSession, work: File): Unit = {
    dir = new File(work, "render-data").getPath
    Gen.writeEvents(spark, events, dir)
    engine = Engine.open(spark, dir)
    val t0 = System.nanoTime()
    Catalog.pointsCached(spark, dir).count()
    pointsBuildMs += Harness.nowMs(t0)
  }

  /** A seeded window: 1 h to 30 d long, log-uniform (`u` is the length's
    * quantile), ending near the end of the data more often than not. */
  private def window(r: SplittableRandom, u: Double): (Long, Long) = {
    val end = Gen.EventsStart + Gen.EventsDays * 86400L
    val len = math.exp(u * math.log(30 * 24.0)) * 3600
    val back = (-math.log(1 - r.nextDouble()) * 2 * 86400).min(10 * 86400.0)
    val until = end - back.toLong
    (until - len.toLong, until)
  }

  private def fetchOp(rec: Recorder, r: SplittableRandom, timed: Boolean,
                      u: Double): Unit = {
    val m = metrics(r.nextInt(metrics.size))
    val (from, until) = window(r, u)
    val want = Model.grid(Model.fine(model(m)), methods(m), from, until)
    rec.query("fetch", "engine", timed)(engine.fetch(m, from, until))(_.collect()) { rows =>
      Model.sameGrid(rows.toSeq.map(r => (r.getLong(0), Option(r.get(1)).map(_ => r.getDouble(1)))), want)
    }
  }

  private def patternOp(rec: Recorder, r: SplittableRandom, timed: Boolean): Unit = {
    val g = globs(r.nextInt(globs.size))
    val (from, until) = window(r, r.nextDouble())
    val rx = Kernel.globToRegex(g)
    val want = metrics.filter(_.matches(rx)).flatMap { m =>
      Model.grid(Model.fine(model(m)), methods(m), from, until).map { case (t, v) => (m, t, v) }
    }
    rec.query("pattern", "engine", timed)(engine.fetchPattern(g, from, until))(_.collect()) { rows =>
      val got = rows.toSeq.map(r => (r.getString(0), r.getLong(1),
        Option(r.get(2)).map(_ => r.getDouble(2)))).sortBy(x => (x._1, x._2))
      got.size == want.size && got.zip(want).forall { case (a, b) =>
        a._1 == b._1 && a._2 == b._2 && Harness.close(a._3, b._3)
      }
    }
  }

  private def findOp(rec: Recorder, r: SplittableRandom, timed: Boolean): Unit = {
    val g = globs(r.nextInt(globs.size))
    val want = metrics.filter(_.matches(Kernel.globToRegex(g)))
    rec.query("find", "engine", timed)(engine.find(g))(_.collect()) { rows =>
      rows.map(_.getString(0)).toSeq == want
    }
  }

  private def aggregateOp(rec: Recorder, r: SplittableRandom, timed: Boolean): Unit = {
    val m = metrics(r.nextInt(metrics.size))
    val method = Kernel.ValidAggregationMethods.toVector.sorted.apply(r.nextInt(5))
    val (from, until) = window(r, r.nextDouble())
    val f = Kernel.align(from, Model.Step)
    val u = Kernel.alignUntil(until, Model.Step)
    val want = Model.aggregate(method,
      model(m).toSeq.filter { case (t, _) => t >= f && t < u }.sortBy(_._1).map(_._2))
    rec.call("aggregate", "engine", timed)(engine.aggregate(m, method, from, until))(
      got => Harness.close(got, want))
  }

  private val seriesCounts = scala.collection.mutable.Map.empty[String, Long]

  private def seriesOp(rec: Recorder, key: String, timed: Boolean): Unit = {
    val layer = if (key.endsWith("_multi")) "registry_multi" else "registry_single"
    rec.query(s"function:$key", layer, timed)(
      SparkEntry.queries(key)(rec.spark, dir))(_.count()) { n =>
      seriesCounts.getOrElseUpdate(key, n) == n
    }
  }

  private def pass(rec: Recorder, r: SplittableRandom, timed: Boolean): Unit = {
    fetchOp(rec, r, timed, r.nextDouble()); patternOp(rec, r, timed)
    findOp(rec, r, timed); aggregateOp(rec, r, timed)
    seriesSample.foreach(seriesOp(rec, _, timed))
  }

  /** First touch of every op kind in the fresh session. */
  def coldPass(rec: Recorder): Unit = pass(rec, new SplittableRandom(seed ^ 11), timed = false)

  /** A second pass: a probe run found the second pass over the
    * `series_*` queries 15 % faster than the first. */
  def warmup(rec: Recorder): Unit = pass(rec, new SplittableRandom(seed ^ 12), timed = false)

  private var rounds = 0

  /** Fetches per round, enough for a p50 that the seed moves little. Their
    * window lengths are stratified: one from each of 24 equal slices of
    * the log-uniform range, in seeded order. */
  private val Fetches = 24

  def round(rec: Recorder, r: SplittableRandom): Unit = {
    val lengths = Workload.shuffle(
      Vector.tabulate(Fetches)(i => (i + r.nextDouble()) / Fetches), r).iterator
    val kinds = Vector.fill(Fetches)(0) ++ Vector.fill(2)(1) ++ Vector(2, 3, 4, 5)
    Workload.shuffle(kinds, r).foreach {
      case 0 => fetchOp(rec, r, timed = true, lengths.next())
      case 1 => patternOp(rec, r, timed = true)
      case 2 => findOp(rec, r, timed = true)
      case 3 => aggregateOp(rec, r, timed = true)
      case 4 => seriesOp(rec, singleSample(rounds % singleSample.size), timed = true)
      case _ => seriesOp(rec, multiSample(rounds % multiSample.size), timed = true)
    }
    rounds += 1
  }

  def headline(rec: Recorder): Seq[Double] = rec.samples("fetch")

  def layerMetrics(rec: Recorder, tracer: Tracer): Map[String, Double] = {
    val spark = rec.spark
    val fn = rec.times.collect { case (k, v) if k.startsWith("function:") => k -> v.toSeq }
    val single = fn.filter(!_._1.endsWith("_multi")).values.flatten.toSeq
    val multi = fn.filter(_._1.endsWith("_multi")).values.flatten.toSeq
    val pts = Catalog.pointsCached(spark, dir)
    val meta = Catalog.metricsMeta(spark)
    val m = metrics.head
    val (from, until) = (Gen.EventsStart, Gen.EventsStart + Gen.EventsDays * 86400L)
    val twoStep = pts.unionByName(SeriesOps.rollupTier(pts, meta, Model.Step, Model.Day)
      .select(org.apache.spark.sql.functions.col("metric"),
        org.apache.spark.sql.functions.lit(Model.Day).as("step"),
        org.apache.spark.sql.functions.col("ts"), org.apache.spark.sql.functions.col("value")))
    // the pipeline layers, measured on the same session and catalog
    // directory: the probe's calls cold once, then warm once
    val pipeline = new PipelineProbe(seed)
    val prec = new Recorder(spark, None)
    val pipelineLayers = tracer.span("pipeline-probe", "pipeline") {
      pipeline.open(spark, dir)
      pipeline.coldPass(prec)
      pipeline.warmPass(prec)
      pipeline.layerMetrics(prec)
    }
    rec.attempted += prec.attempted
    rec.failed += prec.failed
    rec.wrong += prec.wrong
    rec.problems ++= prec.problems
    pipelineLayers ++ Map(
      "engine.fetch_p50_ms" -> Harness.median(rec.samples("fetch")),
      "engine.pattern_p50_ms" -> Harness.median(rec.samples("pattern")),
      "engine.find_p50_ms" -> Harness.median(rec.samples("find")),
      "engine.aggregate_p50_ms" -> Harness.median(rec.samples("aggregate")),
      "registry.function_p50_ms" -> Harness.median(fn.values.flatten.toSeq),
      "series.single_ms" -> Harness.mean(single),
      "series.multi_ms" -> Harness.mean(multi),
      "catalog.points_build_ms" -> Harness.median(pointsBuildMs.toSeq),
      "series.densify_ms" -> Workload.probe(tracer, "series")(
        SeriesOps.densifyGridFrom(pts, meta, m, from, until).collect()),
      "series.reconcile_ms" -> Workload.probe(tracer, "series")(
        SeriesOps.reconcileToCoarsest(twoStep, meta).count())
    )
  }
}
