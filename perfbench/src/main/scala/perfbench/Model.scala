package perfbench

import graft.core.Kernel

/** The in-process answer model: the grids a ceres read must return, rebuilt
  * from the generated points with the `graft.core.Kernel` scalar spec. It is
  * independent of every Spark code path it checks. */
object Model {
  val Step = 3600L
  val Day = 86400L

  /** One stored row of a series: its resolution, aligned time and value. */
  final case class Cell(step: Long, ts: Long, value: Double)

  final case class Node(method: String, xff: Double)

  /** Compact semantics (`Kernel.compact`): drop missing values, floor-align,
    * and on a duplicate aligned timestamp keep the maximum value. */
  def compact(raw: Iterable[(String, Long, Option[Double])]): Map[String, Map[Long, Double]] =
    raw.collect { case (m, ts, Some(v)) => (m, Kernel.align(ts, Step), v) }
      .groupBy(_._1)
      .map { case (m, rows) =>
        m -> rows.groupBy(_._2).map { case (ts, vs) => ts -> vs.map(_._3).max }
      }

  def fine(cells: Map[Long, Double]): Seq[Cell] =
    cells.toSeq.map { case (ts, v) => Cell(Step, ts, v) }

  /** `Kernel.aggregate` over values in time order. */
  def aggregate(method: String, inTimeOrder: Seq[Double]): Option[Double] =
    Kernel.aggregate(method, inTimeOrder.map(Some(_)))

  /** The dense grid one read of one series returns over [from, until): the
    * window aligned with `align`/`alignUntil`, every row in it reconciled to
    * the coarsest step present (buckets anchored at the window start) with
    * the node's method, one slot per grid step, None where empty. */
  def grid(rows: Seq[Cell], method: String, from: Long,
           until: Long): Vector[(Long, Option[Double])] = {
    val f = Kernel.align(from, Step)
    val u = Kernel.alignUntil(until, Step)
    val in = rows.filter(c => c.ts >= f && c.ts < u)
    val g = if (in.isEmpty) Step else in.map(_.step).max
    val buckets = in.groupBy(c => c.ts - Math.floorMod(c.ts - f, g)).map {
      case (b, cs) => b -> aggregate(method, cs.sortBy(_.ts).map(_.value))
    }
    (f until u by g).map(ts => ts -> buckets.getOrElse(ts, None)).toVector
  }

  private def q6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6

  /** One maintenance pass (rollup plugin) at `now` over a node's rows with a
    * two-tier ladder (fine step, coarse step): fine rows older than the fine
    * band roll into coarse buckets that pass the xFilesFactor gate (average
    * and sum rounded to six decimals), coarse rows older than the coarse
    * band expire. */
  def maintain(rows: Seq[Cell], node: Node, now: Long,
               tiers: Seq[(Long, Long)]): Seq[Cell] = {
    val Seq((p1, n1), (p2, n2)) = tiers
    val end1 = now - Math.floorMod(now, p1)
    val start1 = end1 - p1 * n1
    val end2 = start1 - Math.floorMod(start1, p2)
    val start2 = end2 - p2 * n2
    val (overflow, keep) = rows.filter(_.step == p1).partition(_.ts < start1)
    val expected = (p2 / p1).toDouble
    val rolled = overflow.groupBy(c => c.ts - Math.floorMod(c.ts, p2)).toSeq.flatMap {
      case (w, cs) if cs.size / expected >= node.xff =>
        val vs = cs.sortBy(_.ts).map(_.value)
        val v = node.method match {
          case "average" => q6(vs.sum / vs.size)
          case "sum" => q6(vs.sum)
          case m => aggregate(m, vs).get
        }
        Seq(Cell(p2, w, v))
      case _ => Seq.empty
    }
    val coarse = (rows.filter(_.step == p2) ++ rolled).filter(_.ts >= start2)
    keep ++ coarse
  }

  def sameGrid(got: Seq[(Long, Option[Double])], want: Seq[(Long, Option[Double])]): Boolean =
    got.size == want.size && got.zip(want).forall { case ((t1, v1), (t2, v2)) =>
      t1 == t2 && Harness.close(v1, v2)
    }
}
