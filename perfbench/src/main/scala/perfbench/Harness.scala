package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Session building, the closed-loop op recorder and small statistics. */
object Harness {

  /** The one session shape every workload uses: `local[cores]`, one shuffle
    * partition per core, UI off, UTC. Spark's local files go where
    * SPARK_LOCAL_DIRS points (run.py sets it inside the run's work
    * directory). */
  def session(work: File, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.core.Catalog.configureSession(spark)
    spark
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Data files under a directory (Spark/Hadoop side files excluded). */
  def dataFiles(dir: File): Seq[File] = {
    val children = Option(dir.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
    children.flatMap { f =>
      if (f.isDirectory) dataFiles(f)
      else if (f.getName.endsWith(".parquet")) Seq(f)
      else Seq.empty
    }
  }

  def nowMs(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Order-independent content hash of collected rows. */
  def rowsHash(rows: Array[Row]): Long =
    rows.map(_.toString.hashCode.toLong).sorted
      .foldLeft(rows.length.toLong)((h, x) => h * 1000003L + x)

  /** Relative/absolute closeness for values whose summation order Spark
    * does not fix (avg/sum over a shuffle). */
  def close(a: Option[Double], b: Option[Double]): Boolean = (a, b) match {
    case (None, None) => true
    case (Some(x), Some(y)) =>
      x == y || math.abs(x - y) <= 1e-9 * math.max(1.0, math.max(math.abs(x), math.abs(y)))
    case _ => false
  }
}

/** The closed-loop client: one op at a time, each waiting for the last.
  * Every op is timed from the facade call to the end of its action; with a
  * tracer the same op is split into construct / plan / exec / check spans
  * and Spark counters are attributed to it. */
final class Recorder(val spark: SparkSession, val tracer: Option[Tracer]) {
  val times = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var attempted = 0
  var failed = 0
  var wrong = 0
  val problems = mutable.ArrayBuffer.empty[String]

  def samples(kind: String): Seq[Double] =
    times.get(kind).map(_.toSeq).getOrElse(Seq.empty)

  def allSamples: Seq[Double] = times.values.flatten.toSeq

  private def record(kind: String, ms: Double): Unit =
    times.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms

  private def note(kind: String, what: String): Unit =
    if (problems.size < 20) problems += s"$kind: $what"

  /** A DataFrame-returning facade call followed by an action. Returns the
    * action's result, or None when the op failed or its check did not
    * hold. */
  def query[A](kind: String, layer: String, timed: Boolean = true)
              (construct: => DataFrame)(action: DataFrame => A)
              (check: A => Boolean): Option[A] = {
    attempted += 1
    val t0 = System.nanoTime()
    val out = try {
      val result = tracer match {
        case None => action(construct)
        case Some(tr) =>
          tr.op(kind, timed) {
            val df = tr.span(kind, layer, countJobs = true)(construct)
            tr.span("plan", "plan")(df.queryExecution.executedPlan)
            tr.span("exec", "exec")(action(df))
          }
      }
      Right(result)
    } catch { case e: Throwable => Left(e) }
    val ms = Harness.nowMs(t0)
    settle(kind, ms, timed, out, check)
  }

  /** A call that is its own action (writes, node creation, maintenance). */
  def call[A](kind: String, layer: String, timed: Boolean = true)
             (body: => A)(check: A => Boolean): Option[A] = {
    attempted += 1
    val t0 = System.nanoTime()
    val out = try {
      val result = tracer match {
        case None => body
        case Some(tr) => tr.op(kind, timed)(tr.span(kind, layer)(body))
      }
      Right(result)
    } catch { case e: Throwable => Left(e) }
    val ms = Harness.nowMs(t0)
    settle(kind, ms, timed, out, check)
  }

  private def settle[A](kind: String, ms: Double, timed: Boolean,
                        out: Either[Throwable, A],
                        check: A => Boolean): Option[A] = out match {
    case Left(e) =>
      failed += 1
      note(kind, s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}")
      None
    case Right(v) =>
      val ok = tracer match {
        case None => check(v)
        case Some(tr) => tr.span("check", "check")(check(v))
      }
      if (timed) record(kind, ms)
      if (!ok) { wrong += 1; note(kind, "wrong answer"); None } else Some(v)
  }
}
