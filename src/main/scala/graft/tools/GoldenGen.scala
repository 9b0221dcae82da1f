package graft.tools

import graft.LocalSession
import graft.profiler.Profiler
import graft.plans.Enumerator
import graft.score.{Scagnostics, Significance}

/** Scratch: print the golden values GoldenSpec pins. */
object GoldenGen {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession("graft-golden-gen")
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val df = (1 to 50).map { i =>
      (s"id$i", if (i % 5 == 0) "gold" else "base",
        i * 1.0, i * 1.0 + 10, 2.0 * i, 100.0 - i)
    }.toDF("name", "tier", "m one", "m two", "m three", "other")
    val (_, p) = Profiler.profile(df)
    println("key=" + p.keyColumn)
    p.columns.foreach(c => println(s"col ${c.name}: ${c.logicalType.name} nd=${c.distinctCount} key=${c.isKey} min=${c.min} max=${c.max}"))
    println("dimClusters=" + p.dimClusters)
    println("nameClusters=" + p.nameClusters)
    println("W1(m one, m two)=" + p.distanceMatrix(("m one", "m two")))

    val pool = Enumerator.dedupe(Enumerator.enumerate(p, "pca"))
    println("pca pool size=" + pool.size)
    pool.take(6).foreach(tp => println("  fp: " + tp.fingerprint + "  load=" + tp.load))
    val n1 = Enumerator.enumerate(p, "null_num1")
    println("null_num1 pool size=" + n1.size)

    val pts = (0 until 40).map(i => (math.sin(i * 0.7) * 10, math.cos(i * 0.3) * 10)).toArray
    val g = new Scagnostics.Graph(pts)
    println(f"outlying=${g.outlying}%.10f skewed=${g.skewed}%.10f stringy=${g.stringy}%.10f")
    println(f"straight=${g.straight}%.10f striated=${g.striated}%.10f monotonic=${g.monotonic}%.10f clumpy=${g.clumpy}%.10f")
    val vals = Array(5.0, 7.0, 6.5, 8.0, 30.0, 6.0)
    println(f"outstanding1=${Significance.outstanding1(vals)}%.10f linearness=${Significance.linearness(vals.sorted)}%.10f")
    spark.stop()
  }
}
