package graft.tools

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.LocalSession
import graft.streaming.StreamingDemo

/** Real-data-scale equivalence + throughput probe for the streaming
  * near-dedup: the whole near-dup gate corpus (documents + truncated
  * copies, the q_dedup_stream_verdicts fixture) is fed through
  * [[StreamingDemo.minhashDedupStream]] in `nBatches` micro-batches in
  * ascending-id order, and the collapsed verdicts must EQUAL the batch
  * twin's row-for-row — the 5-doc StreamingSpec check at corpus scale,
  * plus wall-clock and state-size figures for BASELINE.md.
  *
  * Round 12: the probe runs the stream TWICE — once on the default
  * HDFS-backed state store and once on the RocksDB provider (the
  * operator's documented past-executor-heap posture) — and records
  * per-trigger latency (median/max), state rows, and state-store
  * size for BOTH, so the "run it on RocksDB at 100 TB-stream scale"
  * advice is backed by a measured number, not just the StreamingSpec
  * schema round-trip. Both arms must match the batch twin exactly.
  *
  * Usage: runMain graft.tools.StreamDedupProbe [sfDir] [nBatches]
  */
object StreamDedupProbe {
  private val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  def main(args: Array[String]): Unit = {
    val spark = LocalSession("graft-stream-dedup")
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val nBatches = args.lift(1).map(_.toInt).getOrElse(10)

    // the SAME planted-duplicate fixture the oracle gate runs on —
    // shared builder, so this probe's equivalence evidence cannot
    // silently drift from q_dedup_stream_verdicts' corpus
    val corpus = graft.ExtQueries.nearDupCorpus(spark, dir)
      .select(col("id"), coalesce(col("text"), lit("")).as("text"))
      .as[(Long, String)].collect().sortBy(_._1)
    println(s"[stream-dedup] corpus=${corpus.length} docs, $nBatches micro-batches")

    /** One full stream run under `provider` (None = session default,
      * the HDFS-backed store). Returns (collapsed verdicts, total sec,
      * per-trigger sec, state rows, state bytes, provider label). */
    def runArm(provider: Option[String], label: String)
        : (Set[(Long, Long, Long, Double)], Double, Seq[Double], Long, Long) = {
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prior = spark.conf.getOption(key)
      provider.foreach(spark.conf.set(key, _))
      try {
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
        val mem = MemoryStream[(Long, String)]
        val qName = s"stream_dedup_probe_$label"
        val q = StreamingDemo.minhashDedupStream(
            mem.toDF().toDF("doc_id", "text"), tau = 0.3)
          .writeStream.outputMode("append").format("memory")
          .queryName(qName).start()
        val perTrigger = scala.collection.mutable.ArrayBuffer.empty[Double]
        var stateRows = -1L
        var stateBytes = -1L
        val t0 = System.nanoTime()
        try {
          val per = math.max(1, (corpus.length + nBatches - 1) / nBatches)
          corpus.grouped(per).foreach { chunk =>
            val tb = System.nanoTime()
            mem.addData(chunk.toSeq: _*)
            q.processAllAvailable()
            perTrigger += (System.nanoTime() - tb) / 1e9
          }
          // state figures from the LAST trigger's progress (cumulative
          // totals: every bucket entry ever admitted, NoTimeout state)
          Option(q.lastProgress).flatMap(_.stateOperators.headOption)
            .foreach { so =>
              stateRows = so.numRowsTotal
              stateBytes = so.memoryUsedBytes
              val custom = so.customMetrics
              if (custom != null && !custom.isEmpty) {
                val interesting = custom.entrySet().iterator()
                val keep = scala.collection.mutable.ArrayBuffer.empty[String]
                while (interesting.hasNext) {
                  val e = interesting.next()
                  if (e.getKey.toLowerCase.contains("size") ||
                      e.getKey.toLowerCase.contains("memory"))
                    keep += s"${e.getKey}=${e.getValue}"
                }
                if (keep.nonEmpty)
                  println(s"[stream-dedup] $label custom: ${keep.sorted.mkString(", ")}")
              }
            }
        } finally q.stop()
        val total = (System.nanoTime() - t0) / 1e9
        val out = StreamingDemo.collapseNearDupVerdicts(spark.table(qName))
          .as[(Long, Long, Long, Double)].collect().toSet
        (out, total, perTrigger.toSeq, stateRows, stateBytes)
      } finally prior match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }

    def med(xs: Seq[Double]): Double =
      if (xs.isEmpty) 0.0 else xs.sorted.apply(xs.size / 2)

    val (hdfsOut, hdfsSec, hdfsTrig, hdfsRows, hdfsBytes) =
      runArm(None, "hdfs")
    val (rocksOut, rocksSec, rocksTrig, rocksRows, rocksBytes) =
      runArm(Some(RocksDb), "rocksdb")

    val t1 = System.nanoTime()
    val batch = StreamingDemo.collapseNearDupVerdicts(
        StreamingDemo.minhashDedupStream(
          corpus.toSeq.toDF("doc_id", "text"), tau = 0.3).toDF())
      .as[(Long, Long, Long, Double)].collect().toSet
    val batchSec = (System.nanoTime() - t1) / 1e9

    val nDup = hdfsOut.count(_._2 == 1L)
    println(f"[stream-dedup] hdfs:    stream=$hdfsSec%.1f s " +
      f"(${corpus.length / hdfsSec}%.0f docs/s, trigger med=${med(hdfsTrig)}%.2f " +
      f"max=${hdfsTrig.max}%.2f s), state rows=$hdfsRows bytes=$hdfsBytes")
    println(f"[stream-dedup] rocksdb: stream=$rocksSec%.1f s " +
      f"(${corpus.length / rocksSec}%.0f docs/s, trigger med=${med(rocksTrig)}%.2f " +
      f"max=${rocksTrig.max}%.2f s), state rows=$rocksRows bytes=$rocksBytes")
    println(f"[stream-dedup] batch=$batchSec%.1f s, verdicts=${hdfsOut.size}, " +
      s"dups=$nDup, hdfs==batch: ${hdfsOut == batch}, " +
      s"rocksdb==batch: ${rocksOut == batch}")
    require(hdfsOut == batch, "hdfs-arm streaming and batch verdicts diverged")
    require(rocksOut == batch, "rocksdb-arm streaming and batch verdicts diverged")
    spark.stop()
  }
}
