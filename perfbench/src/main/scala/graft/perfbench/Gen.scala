package graft.perfbench

import java.util.SplittableRandom

/** A generated table for one `vis_session`: a string key, nominal
  * columns and numeric clusters whose members share a name token, so
  * the profiler groups them the way it groups real measure families. */
final case class VisTable(headers: Vector[String], rows: Vector[Vector[Any]]) {
  /** The `/vis/csv` request body. */
  def csvJson: String = {
    val m = Gen.mapper
    val o = m.createObjectNode()
    val h = o.putArray("headers")
    headers.foreach(h.add)
    val b = o.putArray("body")
    rows.foreach { r =>
      val a = b.addArray()
      r.foreach {
        case d: Double => a.add(d)
        case s => a.add(s.toString)
      }
    }
    m.writeValueAsString(o)
  }
}

/** Shape of a vis table: nominal column count and numeric cluster sizes.
  * Width drives the tpath count, so each run visits every shape, in the
  * same order; the seed decides names and values. */
final case class Shape(nominals: Int, clusters: Seq[Int]) {
  def width: Int = 1 + nominals + clusters.sum
}

object Gen {
  private[perfbench] val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  val Shapes: Seq[Shape] = Seq(Shape(1, Seq(2, 2)), Shape(2, Seq(2, 3)))

  private val tokens = Vector("sales", "cost", "price", "load", "temp", "score", "depth", "speed")
  private val nominalSpecs = Vector(
    "region" -> Vector("north", "south", "east", "west"),
    "segment" -> Vector("retail", "wholesale", "online"))

  def shuffle[A](rng: SplittableRandom, xs: Seq[A]): Seq[A] = {
    val a = xs.toArray[Any]
    for (i <- a.indices.reverse if i > 0) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq.asInstanceOf[Seq[A]]
  }

  /** Rows of every vis table: the reference's cap. The row count moves
    * the cost of a session, so it is the same for every seed. */
  val Rows = 400

  /** A table of `shape` with [[Rows]] rows. */
  def visTable(seed: Long, shape: Shape): VisTable = {
    val rng = new SplittableRandom(seed)
    val n = Rows
    val picked = shuffle(rng, tokens).take(shape.clusters.size)
    val scales = shape.clusters.map(_ => math.pow(10, 1 + rng.nextDouble() * 2))
    val headers = Vector("name") ++ nominalSpecs.take(shape.nominals).map(_._1) ++
      picked.zip(shape.clusters).flatMap { case (t, k) => (0 until k).map(j => s"${t}_${('a' + j).toChar}") }
    val rows = (0 until n).map { i =>
      val noms = nominalSpecs.take(shape.nominals).map { case (_, levels) => levels(rng.nextInt(levels.size)) }
      val nums = shape.clusters.zip(scales).flatMap { case (k, s) =>
        val z = rng.nextGaussian()
        (0 until k).map { j =>
          val v = s * (1 + 0.3 * z + 0.1 * rng.nextGaussian()) + j * s * 0.05
          math.round(v * 100) / 100.0
        }
      }
      (Vector[Any](f"n$i%04d") ++ noms ++ nums)
    }.toVector
    VisTable(headers, rows)
  }
}
