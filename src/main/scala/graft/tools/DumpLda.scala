package graft.tools

import org.apache.spark.sql.functions._

import graft.LocalSession

/** Local-only dev harness for the q_coret_lda oracle: runs the exact
  * gate input pipeline and dumps the VB fit's intermediates as JSON so
  * each SQL CTE can be checked stage by stage (Double.toString
  * round-trips, so values compare exactly). */
object DumpLda {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = if (args.length > 1) args(1) else "/tmp/lda_trace.json"
    val spark = LocalSession("graft-dump-lda")
    spark.sparkContext.setLogLevel("ERROR")
    import org.apache.spark.sql.expressions.Window
    // this harness keeps the literal percent_rank form because it
    // mirrors the oracle SQL text; the OPERATOR (CoreT.lda) ranks via
    // Rank.rank with (row_number−1)/(n−1) — bit-identical under the
    // total key order (same division, then ×99, then ceil)
    val features = graft.LdaOracle.GateFeatures
    val carry = Seq("p_partkey")
    val df = graft.sources.Tables.part(spark, dir)
      .where(col("p_partkey") <= graft.LdaOracle.GateKeyBound)
    val ranked = features.foldLeft(df.select((carry ++ features).distinct.map(col): _*)) {
      (d, c) =>
        val ord = col(c) +: carry.map(col)
        d.withColumn(s"__rank_$c",
          (ceil(percent_rank().over(Window.orderBy(ord: _*)) * 99) + 1).cast("double"))
    }
    val rows = ranked
      .select((carry.map(col) ++ features.map(c => col(s"__rank_$c"))): _*)
      .orderBy(carry.map(col): _*).limit(200001).collect()
    val docs = rows.map(r => Array.tabulate(features.length)(i =>
      Option(r.get(carry.length + i)).map(_.toString.toDouble).getOrElse(0.0)))
    val fit = graft.functions.VBLda.fit(docs, 4, seed = 9L)
    val argmax = graft.functions.VBLda.argmaxTopics(fit)
    val labels = graft.functions.VBLda.topTerms(fit, 3).map {
      _.map { case (i, w) => s"${w.toString.take(6)}*${features(i)}" }.mkString(" + ")
    }
    def arr(a: Iterable[String]) = a.mkString("[", ",", "]")
    val json = new StringBuilder("{\n")
    json ++= "\"keys\": " + arr(rows.map(_.get(0).toString)) + ",\n"
    json ++= "\"docs\": " + arr(docs.map(d => arr(d.map(_.toString)))) + ",\n"
    json ++= "\"lambda\": " + arr(fit.lambda.map(r => arr(r.map(_.toString)))) + ",\n"
    json ++= "\"gamma\": " + arr(fit.gamma.map(g => arr(g.map(_.toString)))) + ",\n"
    json ++= "\"argmax\": " + arr(argmax.map(_.toString)) + ",\n"
    json ++= "\"labels\": " + arr(labels.map(l => "\"" + l + "\"")) + "\n}"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json.toString)
    println(s"wrote $out (n=${docs.length}, labels=${labels.toList})")
    spark.stop()
  }
}
