package graft.perfbench

import graft.operators.TStep
import graft.plans.Lineage
import graft.score.{Scagnostics, Significance}

/** A returned chart as the client sees it: type, score, signature, its
  * channels as (core transform, lineage JSON) and its data rows. */
final case class Chart(chartType: String, score: Double, signature: String,
                       channels: Seq[(String, String, String)],
                       data: Seq[Map[String, Any]]) {
  def numericChannels: Seq[(String, String, String)] =
    channels.filterNot { case (_, coreT, _) => coreT.startsWith("null_nom") }
}

object Charts {

  /** Parses a channel description `coreT | fingerprint`, where a
    * fingerprint is the tpath's steps `op#inType#inCols#outMode#outName`
    * joined by " - ", back into the core transform and the lineage JSON
    * that /vis/addT and /vis/addV take. */
  def channel(desc: String): (String, String) = {
    val bar = desc.indexOf(" | ")
    require(bar > 0, s"not a channel description: $desc")
    val coreT = desc.substring(0, bar)
    val fp = desc.substring(bar + 3)
    val steps = if (fp.isEmpty) Vector.empty[TStep] else fp.split(" - ").toVector.map { s =>
      val f = s.split("#", -1)
      require(f.length == 5, s"not a tpath step: $s")
      TStep(op = f(0), inType = f(1), inCols = f(2).split(",").toSeq.filter(_.nonEmpty),
        outMode = f(3), outName = Some(f(4)).filter(_.nonEmpty))
    }
    (coreT, Lineage.toJson(steps))
  }

  /** Columns the lineage's closing select keeps. */
  def selected(lineage: String): Seq[String] =
    Lineage.fromJson(lineage).lastOption.filter(_.op == "select").map(_.inCols).getOrElse(Nil)

  /** Chart kinds whose data is the joined channel frames, exactly what
    * a vtype + channels rebuild returns (bars aggregate instead). */
  val Rebuildable: Set[String] = Set("num_scatter", "cat_scatter", "ord_line", "rel_line")

  private def num(v: Any): Option[Double] = v match {
    case d: Double => Some(d)
    case n: java.lang.Number => Some(n.doubleValue())
    case _ => None
  }

  /** Re-scores a chart's data with the score layer the search uses:
    * scagnostics for scatters, significance for lines and bars.
    * Returns the number of measures computed. */
  def score(c: Chart, key: Option[String]): Int = {
    val cols = c.data.headOption.map(_.keys.toSeq.filterNot(key.contains).sorted).getOrElse(Nil)
    val series = cols.map(k => c.data.flatMap(r => num(r(k))).toArray).filter(_.length == c.data.size)
    if (c.chartType.endsWith("scatter") && series.size >= 2) {
      val pts = series(0).zip(series(1))
      if (pts.length < Scagnostics.DotNumLimit) 0
      else {
        val g = new Scagnostics.Graph(pts)
        Seq(g.outlying, g.skewed, g.striated, g.stringy, g.straight, g.clumpy, g.monotonic).size
      }
    } else if (series.nonEmpty) {
      series.foreach { s => Significance.outstanding1(s); Significance.linearness(s.sorted) }
      if (series.size >= 2) Significance.correlation(series.toArray)
      series.size * 2
    } else 0
  }
}
