package graft

import org.apache.spark.sql.SparkSession

/** The one local session every graft main runs on: `Bench`, `Verify`
  * and the `graft.tools` mains. `local[cpus]` with `cpus` shuffle
  * partitions, AQE on, FAIR scheduling (the recommender submits
  * concurrent jobs), UTC session time, no UI. `cpus` is
  * `SPARK_GRAFT_CPUS`, else the machine's cores capped at 32.
  *
  * The test sessions (`SparkSpec`) and the benchmark driver under
  * `perfbench/` build their own; those get the engine's optimizer rule
  * and SQL functions too, from `graft.functions.GraftExtensions`, which
  * Spark finds on the classpath for every session.
  */
object LocalSession {
  def apply(appName: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.min(32, Runtime.getRuntime.availableProcessors()).toString)
    SparkSession.builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }
}
