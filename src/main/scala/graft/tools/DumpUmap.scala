package graft.tools

import org.apache.spark.sql.functions._

import graft.LocalSession

/** Local-only dev harness for [[graft.UmapOracle]]: runs the exact
  * q_coret_umap input pipeline and dumps the fit's intermediates as
  * JSON so each SQL CTE of the oracle can be checked stage by stage
  * (Scala Double.toString round-trips, so values compare exactly). */
object DumpUmap {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = if (args.length > 1) args(1) else "/tmp/umap_trace.json"
    val epochs = if (args.length > 2) args(2).toInt else 300
    val spark = LocalSession("graft-dump-umap")
    spark.sparkContext.setLogLevel("WARN")
    // same key bound as the gate query (MLQueries.q_coret_umap)
    val norm = graft.operators.CoreT.normalized(
      graft.sources.Tables.supplier(spark, dir)
        .where(col("s_suppkey") <= graft.UmapOracle.GateKeyBound),
      Seq("s_nationkey", "s_acctbal"), Seq("s_suppkey"))
    val rows = norm.select(col("s_suppkey"), col("s_nationkey"), col("s_acctbal"))
      .orderBy(col("s_suppkey")).limit(2001).collect()
    val pts = rows.map(r => Array(
      Option(r.get(1)).map(_.toString.toDouble).getOrElse(0.0),
      Option(r.get(2)).map(_.toString.toDouble).getOrElse(0.0)))
    val tr = graft.functions.UMAP.embedTraced(pts, epochs = epochs)
    def arr(a: Iterable[String]) = a.mkString("[", ",", "]")
    def d(v: Double) = if (v.isInfinity || v.isNaN) "\"" + v + "\"" else v.toString
    val json = new StringBuilder("{\n")
    json ++= "\"keys\": " + arr(rows.map(_.get(0).toString)) + ",\n"
    json ++= "\"pts\": " + arr(pts.map(p => arr(p.map(d)))) + ",\n"
    json ++= "\"knn\": " + arr(tr.knn.map(r => arr(r.map(_.toString)))) + ",\n"
    json ++= "\"rho\": " + arr(tr.rho.map(d)) + ",\n"
    json ++= "\"sigma\": " + arr(tr.sigma.map(d)) + ",\n"
    json ++= "\"edges\": " + arr(tr.edges.map { case ((i, j), w) =>
      s"[$i,$j,${d(w)}]" }) + ",\n"
    json ++= "\"maxW\": " + d(tr.maxW) + ",\n"
    json ++= "\"init\": " + arr(tr.init.map(p => arr(p.map(d)))) + ",\n"
    json ++= "\"firings\": " + tr.firings + ",\n"
    json ++= "\"y\": " + arr(tr.y.map(p => arr(p.map(d)))) + "\n}"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json.toString)
    println(s"wrote $out (n=${pts.length}, edges=${tr.edges.length}, firings=${tr.firings})")
    spark.stop()
  }
}
