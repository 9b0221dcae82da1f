package graft.tools

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.LocalSession
import graft.operators.CorpusPipeline

/** Corpus-scale stream==batch pin for [[CorpusPipeline.cleanStream]]
  * — the one streaming twin that was verified only on a 4-doc spec
  * fixture while its batch sibling is oracle-gated (q_corpus_clean).
  *
  * The full q_corpus_clean fixture (documents + truncated twins,
  * [[graft.ExtQueries.nearDupCorpus]] — the shared builder, so this
  * evidence cannot drift from the gate corpus) is fed through the
  * stream in ascending-id micro-batches and the surviving
  * (id, quality, lang) set must EQUAL the batch run of the STREAMABLE
  * subset: `clean` with `nearDedupOn = false` — exact-fingerprint
  * dedup + quality/language gates. (Near-dedup needs a corpus
  * self-join and stays a batch compaction by design — the lambda
  * split documented on `cleanStream`.) Equivalence conditions the
  * feed upholds: every row carries the SAME event time, so the
  * watermark never evicts dedup state, and ids arrive ascending, so
  * the stream's first-arrival-wins matches the batch min-key keeper.
  *
  * Usage: runMain graft.tools.CleanStreamProbe [sfDir] [nBatches]
  */
object CleanStreamProbe {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession("graft-clean-stream")
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val nBatches = args.lift(1).map(_.toInt).getOrElse(10)

    val corpus = graft.ExtQueries.nearDupCorpus(spark, dir)
      .select(col("id"), coalesce(col("text"), lit("")).as("text"))
      .as[(Long, String)].collect().sortBy(_._1)
    println(s"[clean-stream] corpus=${corpus.length} docs, $nBatches micro-batches")

    // q_corpus_clean's gate config, minus the non-streamable stage
    val cfg = CorpusPipeline.Config(minQuality = 0.3, nearDedupOn = false)
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")

    val mem = MemoryStream[(Long, Timestamp, String)]
    val q = CorpusPipeline.cleanStream(
        mem.toDF().toDF("id", "ts", "text"), "text", "ts", cfg = cfg)
      .writeStream.outputMode("append").format("memory")
      .queryName("clean_stream_probe").start()
    val tStream = System.nanoTime()
    try {
      val per = math.max(1, (corpus.length + nBatches - 1) / nBatches)
      corpus.grouped(per).foreach { chunk =>
        mem.addData(chunk.toSeq.map { case (id, text) => (id, t0, text) }: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val streamSec = (System.nanoTime() - tStream) / 1e9

    val streamed = spark.table("clean_stream_probe")
      .select($"id", $"quality", $"lang")
      .as[(Long, Double, String)].collect().toSet

    val tBatch = System.nanoTime()
    val batch = CorpusPipeline.clean(
        corpus.toSeq.toDF("id", "text"), "id", "text", cfg)
      .select($"id", $"quality", $"lang")
      .as[(Long, Double, String)].collect().toSet
    val batchSec = (System.nanoTime() - tBatch) / 1e9

    val equal = streamed == batch
    println(f"[clean-stream] stream=$streamSec%.1f s over $nBatches batches " +
      f"(${corpus.length / streamSec}%.0f docs/s incl. per-batch overhead), " +
      f"batch=$batchSec%.1f s, survivors=${streamed.size}/${corpus.length}, " +
      s"stream==batch: $equal")
    if (!equal) {
      val onlyS = streamed.diff(batch).take(5)
      val onlyB = batch.diff(streamed).take(5)
      println(s"[clean-stream] only-in-stream: $onlyS\n[clean-stream] only-in-batch: $onlyB")
    }
    require(equal, "cleanStream and batch clean diverged")
    spark.stop()
  }
}
