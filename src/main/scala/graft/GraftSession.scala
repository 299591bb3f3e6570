package graft

import org.apache.spark.sql.SparkSession

/** The one session config every graft main runs on — the driver
  * contract's (Bench, Verify), so a probe plans exactly what is judged.
  *
  *  - `local[SPARK_GRAFT_CPUS]` (default 4), shuffle partitions sized to
  *    the same count, as a cluster deploy sizes them to its parallelism;
  *  - AQE on (runtime shuffle coalescing + skew splitting), UTC;
  *  - [[Tables.nanosFlag]]: harmless for micros event files, required to
  *    read a nanos one at all;
  *  - `spark.sql.extensions=graft.GraftExtensions`: graft's functions,
  *    planner strategy and WindowTopKRewrite rule, as a cluster user
  *    gets them;
  *  - UI off, log level WARN.
  *
  * Takes no tuning parameters on purpose: a main that needs a different
  * plan view (Plans' AQE-off dump) changes it with `spark.conf.set` on
  * the returned session, in plain sight. */
object GraftSession {
  private val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** Input directory for mains that read one scale factor. */
  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  def apply(appName: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config(Tables.nanosFlag, "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
