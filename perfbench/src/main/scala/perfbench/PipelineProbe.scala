package perfbench

import java.util.SplittableRandom
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Pipeline

/** The pipeline layers' probe, run at the end of the traced `render` run:
  * seven `graft.Pipeline` calls on seeded `documents` and `embeddings`
  * tables added to the render catalog's directory, one or more per layer.
  * A cold pass (every call once, first touch in the session, shared feature
  * tables built inside it) is followed by one warm pass in another seeded
  * order. Every warm answer must hash-equal its cold-pass answer. */
final class PipelineProbe(seed: Long) {
  private val r0 = new SplittableRandom(seed ^ 0x919E11L)
  private def qid(): Long = r0.nextInt(2000).toLong

  /** (module, name, call): each call's arguments are drawn once from the
    * seed, so the warm pass repeats the cold pass exactly. The PQ index
    * stands for streaming.FeatureIndex. */
  private val q1 = qid(); private val q2 = qid(); private val q3 = qid()
  private val t1 = Workload.shuffle(Gen.Vocab, r0).take(1 + r0.nextInt(2))
  private val calls: Vector[(String, String, Pipeline => DataFrame)] = Vector(
    ("text", "dedupExact", _.dedupExact()),
    ("text", "textStats", _.textStats()),
    ("text", "bm25Search", _.bm25Search(t1)),
    ("vector", "cosineTopk", _.cosineTopk(q1, 10)),
    ("vector", "annIvfTopk", _.annIvfTopk(q2, 10)),
    ("index", "indexedAnnPqTopk", _.indexedAnnPqTopk(q3, 10)),
    ("events", "sessionize", _.sessionize(3600)))

  private var pipeline: Pipeline = _

  /** Add the corpus tables to a directory that already holds `events`. */
  def open(spark: SparkSession, dir: String): Unit = {
    Gen.writeDocuments(spark, seed, 5000, dir)
    Gen.writeEmbeddings(spark, seed, 2000, dir)
    pipeline = Pipeline.open(spark, dir)
  }

  private val coldHash = mutable.Map.empty[String, Long]
  private val coldMs = mutable.Map.empty[String, Double]

  private def run(rec: Recorder, i: Int, timed: Boolean): Unit = {
    val (_, name, call) = calls(i)
    val t0 = System.nanoTime()
    rec.query(name, "pipeline", timed)(call(pipeline))(df => Harness.rowsHash(df.collect())) { h =>
      coldHash.getOrElseUpdate(name, h) == h
    }
    if (!timed) coldMs(name) = Harness.nowMs(t0)
  }

  def coldPass(rec: Recorder): Unit =
    Workload.shuffle(calls.indices.toVector, new SplittableRandom(seed ^ 31))
      .foreach(run(rec, _, timed = false))

  def warmPass(rec: Recorder): Unit =
    Workload.shuffle(calls.indices.toVector, new SplittableRandom(seed ^ 13))
      .foreach(run(rec, _, timed = true))

  def layerMetrics(rec: Recorder): Map[String, Double] = {
    def warm(module: String): Seq[Double] =
      calls.filter(_._1 == module).flatMap(c => rec.samples(c._2))
    def coldDelta(module: String): Double =
      calls.filter(_._1 == module).map { c =>
        coldMs.getOrElse(c._2, 0.0) - Harness.median(rec.samples(c._2))
      }.sum
    Map(
      "pipeline.call_p50_ms" -> Harness.median(rec.allSamples),
      "pipeline.cold_pass_s" -> coldMs.values.sum / 1000.0,
      "text.cold_delta_ms" -> coldDelta("text"),
      "text.warm_ms" -> Harness.mean(warm("text")),
      "vector.cold_delta_ms" -> coldDelta("vector"),
      "vector.warm_ms" -> Harness.mean(warm("vector")),
      "events.warm_ms" -> Harness.mean(warm("events")),
      "index.cold_delta_ms" -> coldDelta("index"))
  }
}
