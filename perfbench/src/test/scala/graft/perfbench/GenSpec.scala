package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{Lineage, TPathCandidate, Load}
import graft.operators.TStep

class GenSpec extends AnyFunSuite {

  test("a vis table is a function of its seed and shape") {
    for (shape <- Gen.Shapes) {
      val a = Gen.visTable(7, shape)
      assert(a == Gen.visTable(7, shape))
      assert(a != Gen.visTable(8, shape))
      assert(a.headers.size == shape.width && a.rows.forall(_.size == shape.width))
      assert(a.rows.size == Gen.Rows)
      assert(a.rows.map(_.head).distinct.size == a.rows.size, "the key column is unique")
      assert(a.csvJson == Gen.visTable(7, shape).csvJson)
    }
  }

  test("a seeded shuffle is a function of its seed") {
    def order(seed: Long) = Gen.shuffle(new java.util.SplittableRandom(seed), Batch.Queries)
    assert(order(3) == order(3))
    assert(order(3).sorted == Batch.Queries.sorted)
    assert((1 to 20).map(s => order(s.toLong)).distinct.size > 1)
  }

  test("a channel description parses back into its core transform and lineage") {
    val steps = Vector(
      TStep("sum", inCols = Seq("sales_a", "sales_b"), outMode = "append", outName = Some("sum: ()")),
      TStep("select", inCols = Seq("name", "sales_a", "sum: ()"), outMode = "new_table"))
    val fp = TPathCandidate(Load(0, 0, 0), steps).fingerprint
    val (coreT, lineage) = Charts.channel(s"pca | $fp")
    assert(coreT == "pca")
    assert(Lineage.fromJson(lineage) == steps)
    assert(Charts.selected(lineage) == Seq("name", "sales_a", "sum: ()"))
  }
}
