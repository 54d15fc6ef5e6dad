package perfbench

import java.io.File
import java.util.SplittableRandom
import org.apache.spark.sql.SparkSession

/** One benchmark workload. `Main` calls `setup` several times (each in a
  * fresh session, the last one kept), then `coldPass` once, `warmup` once
  * and `round` until the timed phase ends. A round always runs whole, so
  * every timed phase has the same mix of calls. */
trait Workload {
  def setup(spark: SparkSession, work: File): Unit
  def coldPass(rec: Recorder): Unit
  def warmup(rec: Recorder): Unit
  def round(rec: Recorder, r: SplittableRandom): Unit
  /** Latencies of the workload's headline call (`read_p50_ms`). */
  def headline(rec: Recorder): Seq[Double]
  /** Per-layer metrics particular to this workload (traced run only). */
  def layerMetrics(rec: Recorder, tracer: Tracer): Map[String, Double]
}

object Workload {
  def shuffle[A](xs: Vector[A], r: SplittableRandom): Vector[A] = {
    val a = xs.toArray[Any]
    for (i <- a.length - 1 to 1 by -1) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toVector.asInstanceOf[Vector[A]]
  }

  /** Time one layer's shared core on its own: one untimed call, then the
    * median of five, each recorded as a span of that layer. */
  def probe(tracer: Tracer, layer: String)(body: => Any): Double = {
    body
    Harness.median((1 to 5).map { _ =>
      val t0 = System.nanoTime()
      tracer.span(layer, layer)(body)
      Harness.nowMs(t0)
    })
  }
}
