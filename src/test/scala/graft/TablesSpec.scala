package graft

import graft.sources.Tables

class TablesSpec extends SparkSpec {

  test("documentsSpread probes a parquet rewritten at the same path again") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tables").toString
    val path = s"$dir/documents.parquet"
    val target = spark.sparkContext.defaultParallelism
    val docs = spark.range(600).withColumnRenamed("id", "doc_id")
    val conf = "spark.sql.files.maxPartitionBytes"
    val saved = spark.conf.getOption(conf)
    // one split per file: every file is far above the split budget
    spark.conf.set(conf, "1048576")
    try {
      // one file → one split, below the parallelism → hash-spread
      docs.coalesce(1).write.parquet(path)
      assert(Tables.documentsSpread(spark, dir).rdd.getNumPartitions == target)
      // rewritten as more files than the parallelism → already spread
      docs.repartition(target + 2).write.mode("overwrite").parquet(path)
      assert(Tables.documentsSpread(spark, dir).rdd.getNumPartitions == target + 2)
    } finally saved match {
      case Some(v) => spark.conf.set(conf, v)
      case None => spark.conf.unset(conf)
    }
  }
}
