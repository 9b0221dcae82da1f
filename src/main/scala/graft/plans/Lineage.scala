package graft.plans

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.DataFrame

import graft.operators.{CoreT, TBasic, TStep}
import scala.jdk.CollectionConverters._

/** TPath IR ↔ JSON codec and lineage replay — the safe replacement for
  * the reference's interactive ops (/vis/addT, /vis/addV,
  * main.py:111-138), whose node ids are `eval()`-ed strings
  * (utils.py:245-246, a code-injection hazard noted in SURVEY §7.4.5).
  * Here a lineage id IS the JSON of its steps; replay folds the
  * expression builders over the source frame (search.py:1801-1810's
  * nid2ndata without eval), and addT/addCoreT append to it.
  */
object Lineage {
  private val mapper = new ObjectMapper()

  def toJson(steps: Seq[TStep]): String = {
    val arr = mapper.createArrayNode()
    steps.foreach { s =>
      val o = arr.addObject()
      o.put("t", s.op)
      o.put("i_type", s.inType)
      val ins = o.putArray("i")
      s.inCols.foreach(ins.add)
      o.put("o_type", s.outMode)
      s.outName.foreach(o.put("index", _))
      s.castTo.foreach(o.put("cast_to", _))
    }
    mapper.writeValueAsString(arr)
  }

  def fromJson(json: String): Vector[TStep] = {
    val arr = mapper.readTree(json).asInstanceOf[ArrayNode]
    arr.elements().asScala.map { n =>
      val o = n.asInstanceOf[ObjectNode]
      TStep(
        op = o.get("t").asText(),
        inType = if (o.has("i_type")) o.get("i_type").asText() else "==",
        inCols = if (o.has("i")) o.get("i").elements().asScala.map(_.asText()).toSeq else Nil,
        outMode = if (o.has("o_type")) o.get("o_type").asText() else "append",
        outName = Option(o.get("index")).map(_.asText()),
        castTo = Option(o.get("cast_to")).map(_.asText()))
    }.toVector
  }

  /** Re-execute a serialized lineage against the source frame. */
  def replay(source: DataFrame, json: String, carry: Seq[String]): DataFrame =
    fromJson(json).foldLeft(source)((d, s) => TBasic(d, s, carry))

  /** /vis/addT: extend a lineage with one more basic step under the
    * table's `route`; returns the new frame and the new lineage id. */
  def addStep(source: DataFrame, json: String, step: TStep, carry: Seq[String],
              route: CoreT.Route = CoreT.Route()): (DataFrame, String) = {
    val steps = fromJson(json) :+ step
    (steps.foldLeft(source)((d, s) => TBasic(d, s, carry, route)), toJson(steps))
  }

  /** /vis/addV-style terminal transform on a replayed lineage. */
  def addCoreT(source: DataFrame, json: String, coreT: String, carry: Seq[String],
               route: CoreT.Route = CoreT.Route()): Option[DataFrame] =
    CoreT.transform(source, coreT, fromJson(json), carry, route)
}

/** Demo-presentation reorder of the recommendation list
  * (BEAUTIFYCASEFLAG, utils.py:215-222): a fixed preferred prefix,
  * then the remainder in original order. */
object Beautify {
  def reorder[T](visList: Seq[T]): Seq[T] = {
    val preferred = if (visList.size >= 13) Seq(0, 2, 3, 6, 12) else Seq(3, 2, 0, 4, 8, 7)
    val order = preferred ++ visList.indices.filterNot(preferred.contains)
    order.filter(_ < visList.size).map(visList)
  }
}
