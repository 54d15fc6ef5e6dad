package perfbench

import java.io.File
import java.util.SplittableRandom
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.Engine
import graft.core.{Kernel, MetaStore}
import graft.streaming.{Ingest, Maintenance}

/** `lifecycle`: the full ceres write path on a store the seed generates,
  * then reads of that store. One cycle, on a fresh store each time:
  * `createNode` for every node, two waves of (stream micro-batch via
  * `Ingest.stream` with `Trigger.AvailableNow`, `Engine.store` backfill),
  * a `fetch`, `compactStore` + `runPruned` at the cycle's `now`, a second
  * `runPruned` that has nothing to do, `fetch` and `fetchPattern` of the
  * maintained store, and the replay of one micro-batch followed by a
  * `fetch` that must not change. */
final class Lifecycle(seed: Long) extends Workload {
  import Lifecycle.Sample

  val Waves = 2
  val HistoryHours = 168
  /** Fine tier: hourly for 36 hours; coarse tier: daily for four days. */
  val Tiers: Seq[(Long, Long)] = Seq(Model.Step -> 36L, Model.Day -> 4L)
  private val methods = Vector("average", "sum", "max", "min", "last")

  private val r0 = new SplittableRandom(seed ^ 0x11FEC7L)
  private def pick[A](xs: Seq[A], n: Int): Vector[A] =
    Workload.shuffle(xs.toVector, r0).take(n)

  // the metric hierarchy: service.host.leaf, 2 x 3 x 1 nodes
  private val services = pick(Seq("api", "db", "web", "queue", "cache", "auth"), 2)
  private val hosts = pick((0 until 100).map(i => f"h$i%02d"), 3)
  private val leaves = pick(Seq("cpu", "mem", "disk", "net", "load", "errors"), 1)
  val nodes: Vector[String] =
    for (s <- services; h <- hosts; l <- leaves) yield s"$s.$h.$l"
  private val nodeMeta: Map[String, Model.Node] = {
    val ms = Workload.shuffle(Vector.tabulate(nodes.size)(i => methods(i % methods.size)), r0)
    nodes.zip(ms).map { case (n, m) =>
      n -> Model.Node(m, if (r0.nextDouble() < 0.5) 0.25 else 0.5)
    }.toMap
  }
  private val globs: Vector[String] = Vector(
    s"${services(0)}.*.${leaves(0)}", s"${services(1)}.${hosts(0)}.*",
    s"*.${hosts(1)}.*", s"*.h*.${leaves(0)}", s"${services(0)}.*.*")

  /** 2024-03-10T00:00Z plus a seeded, unaligned offset. */
  val now: Long = 1710028800L + r0.nextInt(86400)
  private val end1 = Kernel.align(now, Model.Step)
  private val first = end1 - HistoryHours * Model.Step
  private val recentFrom = end1 - Tiers.head._2 * Model.Step

  /** Raw samples: per node and hour, none (a gap) or one to three samples
    * at random seconds, a few with a missing value; each sample belongs to
    * one wave, recent ones to the stream, older ones to backfills. */
  private val samples: Vector[Sample] = {
    val b = Vector.newBuilder[Sample]
    for (m <- nodes; h <- 0 until HistoryHours) {
      val hour = first + h * Model.Step
      if (r0.nextDouble() >= 0.1) {
        for (_ <- 0 to r0.nextInt(3)) {
          val v = if (r0.nextDouble() < 0.05) None
                  else Some(math.round(r0.nextDouble() * 100000) / 100.0)
          b += Sample(m, hour + r0.nextInt(3600), v, r0.nextInt(Waves))
        }
      }
    }
    b.result()
  }
  private val streamed = samples.filter(_.ts >= recentFrom)
  private val backfilled = samples.filter(_.ts < recentFrom)

  private var work: File = _
  private var cycle = 0
  /** The mini cycle's nodes and the timed cycle's nodes. */
  private val coldNodes = nodes.take(2)

  /** The producer's side: every wave's stream micro-batch written as
    * parquet once, ahead of the cycles, which only land the files in the
    * stream's source directory (the replay lands the last one again). */
  private def drops(ns: Vector[String]): File = new File(work, s"drops-${ns.size}")

  def setup(spark: SparkSession, w: File): Unit = {
    work = w
    for ((ns, waves) <- Seq(coldNodes -> 1, nodes -> Waves)) {
      val mine = ns.toSet
      for (wave <- 0 until waves)
        rows(spark, streamed.filter(s => s.wave == wave && mine(s.metric)))
          .write.mode("overwrite").parquet(new File(drops(ns), s"wave-$wave").getPath)
    }
  }

  /** Land a prepared drop (its data files only) in the stream's source. */
  private def land(from: File, to: File): Unit = {
    to.mkdirs()
    Harness.dataFiles(from).foreach { f =>
      java.nio.file.Files.copy(f.toPath, new File(to, f.getName).toPath)
    }
  }

  private def rows(spark: SparkSession, ss: Seq[Sample]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      ss.map(s => Row(s.metric, s.ts, s.value.getOrElse(null))), 1), Ingest.inputSchema)

  private def window(r: SplittableRandom): (Long, Long) = {
    val len = (6 + r.nextInt(HistoryHours - 6)) * Model.Step + r.nextInt(3600)
    val until = end1 - r.nextInt(24) * Model.Step - r.nextInt(3600)
    (until - len, until)
  }

  /** Per-run outputs the per-layer metrics are made from. */
  private val createMs = mutable.ArrayBuffer.empty[Double]
  private val ingestMs = mutable.ArrayBuffer.empty[Double]
  private var ingestRows = 0L
  private val maintainS = mutable.ArrayBuffer.empty[Double]
  private val bytesPerPoint = mutable.ArrayBuffer.empty[Double]
  private val writeBytesPerPoint = mutable.ArrayBuffer.empty[Double]
  private val filesWritten = mutable.ArrayBuffer.empty[Double]
  private val storeFiles = mutable.ArrayBuffer.empty[Double]
  private val bytesRewritten = mutable.ArrayBuffer.empty[Double]
  private var lastStore: String = _
  private var lastMeta: String = _

  private def sameRows(got: Array[Row], want: Seq[(Long, Option[Double])]): Boolean =
    Model.sameGrid(got.toSeq.map(r => (r.getLong(0), Option(r.get(1)).map(_ => r.getDouble(1)))), want)

  private def fetchCheck(rec: Recorder, engine: Engine, r: SplittableRandom,
                         ns: Vector[String], cells: Map[String, Seq[Model.Cell]],
                         timed: Boolean, window: (Long, Long)): Unit = {
    val m = ns(r.nextInt(ns.size))
    val (from, until) = window
    val want = Model.grid(cells.getOrElse(m, Seq.empty), nodeMeta(m).method, from, until)
    rec.query("fetch", "engine", timed)(engine.fetch(m, from, until))(_.collect())(
      sameRows(_, want))
  }

  private def patternCheck(rec: Recorder, engine: Engine, r: SplittableRandom,
                           ns: Vector[String], cells: Map[String, Seq[Model.Cell]],
                           timed: Boolean, window: (Long, Long)): Unit = {
    val (from, until) = window
    val g = globs(r.nextInt(globs.size))
    val rx = Kernel.globToRegex(g)
    val wantP = ns.filter(_.matches(rx)).sorted.flatMap { n =>
      Model.grid(cells.getOrElse(n, Seq.empty), nodeMeta(n).method, from, until)
        .map { case (t, v) => (n, t, v) }
    }
    rec.query("pattern", "engine", timed)(engine.fetchPattern(g, from, until))(_.collect()) { rs =>
      val got = rs.toSeq.map(x => (x.getString(0), x.getLong(1),
        Option(x.get(2)).map(_ => x.getDouble(2)))).sortBy(x => (x._1, x._2))
      got.size == wantP.size && got.zip(wantP).forall { case (a, b) =>
        a._1 == b._1 && a._2 == b._2 && Harness.close(a._3, b._3)
      }
    }
  }

  private def bytesOf(dir: File): Long = Harness.dataFiles(dir).map(_.length).sum

  /** One lifecycle of nodes `ns` on a fresh store: every node created,
    * `waves` waves of stream + backfill, a fetch, maintenance, `reads`
    * fetches and a pattern read of the maintained store. The timed cycle
    * also reads a pattern before maintenance, runs a second maintenance
    * pass that has nothing to do and replays the last micro-batch, followed
    * by a fetch. */
  private def runCycle(rec: Recorder, r: SplittableRandom, timed: Boolean,
                       ns: Vector[String], waves: Int, reads: Int): Unit = {
    val spark = rec.spark
    val base = new File(work, s"lifecycle-$cycle")
    cycle += 1
    val store = new File(base, "store").getPath
    val meta = new File(base, "meta").getPath
    val src = new File(base, "src")
    val ckpt = new File(base, "ckpt").getPath
    val engine = Engine.openStore(spark, store, meta)
    lastStore = store
    lastMeta = meta

    Workload.shuffle(ns, r).foreach { n =>
      val node = nodeMeta(n)
      rec.call("create_node", "metastore", timed)(
        engine.createNode(n, Model.Step, node.method, node.xff,
          Tiers.map { case (p, k) => MetaStore.Retention(p, k) }))(_ => true)
    }
    if (timed) createMs ++= rec.samples("create_node").takeRight(ns.size)
    val mine = ns.toSet

    val written = mutable.ArrayBuffer.empty[Sample]
    def cellsSoFar: Map[String, Seq[Model.Cell]] =
      Model.compact(written.map(s => (s.metric, s.ts, s.value))).map { case (m, c) => m -> Model.fine(c) }
    var waveIngestMs = 0.0
    var waveRows = 0L
    for (w <- 0 until waves) {
      val drop = streamed.filter(s => s.wave == w && mine(s.metric))
      land(new File(drops(ns), s"wave-$w"), new File(src, s"wave-$w"))
      val t0 = System.nanoTime()
      rec.call("stream_wave", "ingest", timed) {
        val q = Ingest.stream(spark, src.getPath, store, ckpt, availableNow = true)
        q.awaitTermination()
        q.exception.isEmpty
      }(identity)
      val back = backfilled.filter(s => s.wave == w && mine(s.metric))
      rec.call("store", "ingest", timed)(engine.store(rows(spark, back)))(_ => true)
      waveIngestMs += Harness.nowMs(t0)
      waveRows += drop.size + back.size
      written ++= drop ++= back
    }
    fetchCheck(rec, engine, r, ns, cellsSoFar, timed, window(r))
    if (timed) patternCheck(rec, engine, r, ns, cellsSoFar, timed, window(r))
    val beforeMaint = new File(store)
    val preBytes = bytesOf(beforeMaint)
    val preFiles = Harness.dataFiles(beforeMaint).map(_.getPath).toSet

    val tm = System.nanoTime()
    rec.call("compact_store", "maintenance", timed)(
      Maintenance.compactStore(spark, store, store))(_ => true)
    rec.call("run_pruned", "maintenance", timed)(
      Maintenance.runPruned(spark, store, now, Some(engine.meta)))(_ => true)
    val maintMs = Harness.nowMs(tm)
    if (timed) rec.call("noop_pass", "maintenance", timed)(
      Maintenance.runPruned(spark, store, now, Some(engine.meta)))(_ => true)

    val maintained: Map[String, Seq[Model.Cell]] = cellsSoFar.map { case (m, cs) =>
      m -> Model.maintain(cs, nodeMeta(m), now, Tiers)
    }
    val livePoints = maintained.values.map(_.size).sum
    for (_ <- 0 until reads) fetchCheck(rec, engine, r, ns, maintained, timed, window(r))
    patternCheck(rec, engine, r, ns, maintained, timed, window(r))

    // replay the last wave's micro-batch: a second copy of the same drop
    if (timed) {
      land(new File(drops(ns), s"wave-${waves - 1}"), new File(src, "replay"))
      rec.call("replay", "ingest", timed) {
        val q = Ingest.stream(spark, src.getPath, store, ckpt, availableNow = true)
        q.awaitTermination()
        q.exception.isEmpty
      }(identity)
      fetchCheck(rec, engine, r, ns, maintained, timed,
        (recentFrom + r.nextInt(3600), end1 - r.nextInt(3600)))
    }

    if (timed) {
      ingestMs += waveIngestMs
      ingestRows += waveRows
      maintainS += maintMs / 1000.0
      val after = Harness.dataFiles(new File(store))
      bytesPerPoint += bytesOf(new File(store)).toDouble / livePoints
      writeBytesPerPoint += preBytes.toDouble / waveRows
      filesWritten += preFiles.size
      storeFiles += after.size
      bytesRewritten += after.filterNot(f => preFiles(f.getPath)).map(_.length).sum.toDouble
    }
  }

  /** First touch: a cycle on two of the nodes with one wave and no replay
    * or second maintenance pass, which repeat plan shapes already touched;
    * every plan the timed cycle runs is compiled once before timing. */
  def coldPass(rec: Recorder): Unit =
    runCycle(rec, new SplittableRandom(seed ^ 21), timed = false, coldNodes,
      waves = 1, reads = 1)

  def warmup(rec: Recorder): Unit = ()

  def round(rec: Recorder, r: SplittableRandom): Unit =
    runCycle(rec, r, timed = true, nodes, waves = Waves, reads = 4)

  def headline(rec: Recorder): Seq[Double] = rec.samples("fetch")

  def layerMetrics(rec: Recorder, tracer: Tracer): Map[String, Double] = {
    val spark = rec.spark
    val m = nodes.head
    val f = Kernel.align(first, Model.Step)
    val u = Kernel.alignUntil(end1, Model.Step)
    val view = Ingest.storeView(spark, lastStore)
    val meta = MetaStore.read(spark, lastMeta)
    Map(
      "engine.fetch_p50_ms" -> Harness.median(rec.samples("fetch")),
      "engine.pattern_p50_ms" -> Harness.median(rec.samples("pattern")),
      "engine.create_node_p50_ms" -> Harness.median(createMs.toSeq),
      "engine.ingest_points_per_s" -> ingestRows / (ingestMs.sum / 1000.0),
      "engine.maintain_s" -> Harness.median(maintainS.toSeq),
      "engine.store_bytes_per_point" -> Harness.median(bytesPerPoint.toSeq),
      "metastore.put_ms" -> Harness.mean(createMs.toSeq),
      "metastore.read_ms" -> Workload.probe(tracer, "metastore")(meta.collect()),
      "metastore.log_files" -> Harness.dataFiles(new File(lastMeta)).size.toDouble,
      "ingest.batch_ms" -> Harness.mean(rec.samples("store")),
      "ingest.trigger_ms" -> tracer.streams.meanMs("triggerExecution"),
      "ingest.add_batch_ms" -> tracer.streams.meanMs("addBatch"),
      "ingest.query_planning_ms" -> tracer.streams.meanMs("queryPlanning"),
      "ingest.wal_commit_ms" -> tracer.streams.meanMs("walCommit"),
      "ingest.files_written" -> Harness.median(filesWritten.toSeq),
      "ingest.write_bytes_per_point" -> Harness.median(writeBytesPerPoint.toSeq),
      "maintenance.compact_store_ms" -> Harness.median(rec.samples("compact_store")),
      "maintenance.run_pruned_ms" -> Harness.median(rec.samples("run_pruned")),
      "maintenance.noop_pass_ms" -> Harness.median(rec.samples("noop_pass")),
      "maintenance.bytes_rewritten" -> Harness.median(bytesRewritten.toSeq),
      "maintenance.store_files" -> Harness.median(storeFiles.toSeq),
      "series.store_view_ms" -> Workload.probe(tracer, "series")(view.count()),
      "series.pruned_read_ms" -> Workload.probe(tracer, "series")(
        Maintenance.prunedRead(spark, lastStore, m, f, u).count()),
      "series.densify_ms" -> Workload.probe(tracer, "series")(
        graft.operators.SeriesOps.densifyGridFrom(view, meta, m, f, u).collect()),
      "series.reconcile_ms" -> Workload.probe(tracer, "series")(
        graft.operators.SeriesOps.reconcileToCoarsest(view, meta).count())
    )
  }
}

object Lifecycle {
  private final case class Sample(metric: String, ts: Long, value: Option[Double], wave: Int)
}
