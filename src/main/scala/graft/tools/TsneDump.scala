package graft.tools

import org.apache.spark.sql.functions._

import graft.LocalSession
import graft.functions.{MirrorMath, TSNE}
import graft.sources.Tables

/** Scratch: dump the t-SNE intermediates for the q_coret_tsne input so
  * the DuckDB oracle can be developed and diffed stage by stage
  * (points → betas → pSym → y-init → final y). Not library surface. */
object TsneDump {
  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val spark = LocalSession("graft-tsne-dump")
    spark.sparkContext.setLogLevel("ERROR")
    // same key bound as the gate query (MLQueries.q_coret_tsne)
    val df = Tables.supplier(spark, dir)
      .where(col("s_suppkey") <= graft.TsneOracle.GateKeyBound)
    val norm = graft.operators.TBasic.minMaxNormalize(
      df.select("s_suppkey", "s_nationkey", "s_acctbal"), Seq("s_nationkey", "s_acctbal"))
    val rows = norm.orderBy(col("s_suppkey")).limit(2001).collect()
    val pts = rows.map(r => Array(
      Option(r.get(1)).map(_.toString.toDouble).getOrElse(0.0),
      Option(r.get(2)).map(_.toString.toDouble).getOrElse(0.0)))
    val n = pts.length
    def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)
    // replicate embed()'s P stage to expose betaUsed per row
    val d2 = Array.ofDim[Double](n, n)
    for (i <- 0 until n; j <- (i + 1) until n) {
      var s = 0.0; var k = 0
      while (k < 2) { val diff = pts(i)(k) - pts(j)(k); s += diff * diff; k += 1 }
      d2(i)(j) = s; d2(j)(i) = s
    }
    val targetH = MirrorMath.logm(math.min(5.0, n - 1.0))
    println(s"TGT ${bits(targetH)}")
    for (i <- 0 until n) {
      var betaMin = Double.NegativeInfinity
      var betaMax = Double.PositiveInfinity
      var beta = 1.0; var betaUsed = 1.0; var tries = 0; var done = false
      while (!done && tries < 50) {
        betaUsed = beta
        var sum = 0.0; var dsum = 0.0
        for (j <- 0 until n if j != i) {
          val e = MirrorMath.expm(-d2(i)(j) * beta); sum += e; dsum += d2(i)(j) * e
        }
        if (sum <= 0) sum = Double.MinPositiveValue
        val h = MirrorMath.logm(sum) + beta * dsum / sum
        if (math.abs(h - targetH) < 1e-5) done = true
        else if (h > targetH) { betaMin = beta; beta = if (betaMax.isInfinity) beta * 2 else (beta + betaMax) / 2 }
        else { betaMax = beta; beta = if (betaMin.isInfinity) beta / 2 else (beta + betaMin) / 2 }
        tries += 1
      }
      println(s"BETA $i ${bits(betaUsed)} $tries")
    }
    val emb = TSNE.embed(pts, 5.0)
    for (i <- 0 until n) println(s"Y $i ${bits(emb(i)(0))} ${bits(emb(i)(1))}")
    spark.stop()
  }
}
