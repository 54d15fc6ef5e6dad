package perfbench

import java.util.SplittableRandom
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Every input the program sees is made here from
  * the run's seed; the same seed gives the same tables byte for byte. The
  * shapes follow the repository's test tables (events, documents,
  * embeddings) so the registered queries and facades run unchanged. */
object Gen {

  val EventTypes: Vector[String] = Vector("click", "error", "purchase", "signup", "view")
  /** 2024-01-01T00:00:00Z */
  val EventsStart: Long = 1704067200L
  val EventsDays: Int = 30

  final case class Event(id: Long, tsMicros: Long, user: Long, kind: String,
                         value: Double, props: String)

  /** `n` events over 30 days. Each event type has seeded outage hours (no
    * events at all), so fetched grids carry gaps. */
  def events(seed: Long, n: Int): Vector[Event] = {
    val r = new SplittableRandom(seed ^ 0x5EED0001L)
    val hours = EventsDays * 24
    val outage = EventTypes.map(_ -> Array.fill(hours)(r.nextDouble() < 0.08)).toMap
    val out = Vector.newBuilder[Event]
    var id = 0L
    while (id < n) {
      val kind = EventTypes(r.nextInt(EventTypes.size))
      val sec = r.nextLong(EventsDays * 86400L)
      if (!outage(kind)((sec / 3600).toInt)) {
        val micros = (EventsStart + sec) * 1000000L + r.nextLong(1000000L)
        val value = math.round(math.exp(3.5 + r.nextGaussian() * 0.8) * 100) / 100.0
        out += Event(id, micros, r.nextLong(1500), kind, value,
          s"""{"k": ${r.nextInt(100)}}""")
        id += 1
      }
    }
    out.result().sortBy(_.tsMicros)
  }

  def writeEvents(spark: SparkSession, evs: Seq[Event], dir: String): Unit = {
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    // int64 nanoseconds, one of the two `ts` encodings Catalog.events reads
    val rows = evs.map(e =>
      Row(e.id, e.tsMicros * 1000L, e.user, e.kind, e.value, e.props))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  val Vocab: Vector[String] = Vector("spark", "window", "merge", "table",
    "column", "vector", "stream", "value", "data", "small", "join", "filter",
    "big", "group", "hash", "customer", "sort", "order", "slow", "line",
    "part", "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")
  val Langs: Vector[String] = Vector("de", "en", "es", "fr", "zh")

  /** Word-salad documents with exact and near duplicates by construction. */
  def writeDocuments(spark: SparkSession, seed: Long, n: Int, dir: String): Unit = {
    val r = new SplittableRandom(seed ^ 0x5EED0002L)
    val texts = new Array[String](n)
    for (i <- 0 until n) {
      val roll = r.nextDouble()
      texts(i) =
        if (i > 10 && roll < 0.01) texts(r.nextInt(i))
        else if (i > 10 && roll < 0.03)
          texts(r.nextInt(i)) + " dup" * (1 + r.nextInt(2))
        else Seq.fill(10 + r.nextInt(91))(Vocab(r.nextInt(Vocab.size))).mkString(" ")
    }
    val rows = texts.indices.map { i =>
      Row(i.toLong, texts(i), Langs(r.nextInt(Langs.size)), s"src${i % 20}",
        texts(i).length.toLong)
    }
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  /** 64-dim float embeddings around ten labelled centres, a few near
    * duplicates among them. */
  def writeEmbeddings(spark: SparkSession, seed: Long, n: Int, dir: String): Unit = {
    val r = new SplittableRandom(seed ^ 0x5EED0003L)
    val dim = 64
    val centres = Array.fill(10, dim)(r.nextGaussian() * 0.12)
    val vecs = new Array[Array[Float]](n)
    val labels = new Array[Int](n)
    for (i <- 0 until n) {
      if (i > 10 && r.nextDouble() < 0.02) {
        val j = r.nextInt(i)
        vecs(i) = vecs(j).map(x => (x + r.nextGaussian() * 0.002).toFloat)
        labels(i) = labels(j)
      } else {
        labels(i) = r.nextInt(10)
        vecs(i) = Array.tabulate(dim)(d => (centres(labels(i))(d) + r.nextGaussian() * 0.1).toFloat)
      }
    }
    val rows = (0 until n).map(i => Row(i.toLong, vecs(i).toSeq, labels(i)))
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = true)),
      StructField("label", IntegerType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }
}
