package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.Tables

/** JVM side of the benchmark; run.py prepares the inputs, launches this and
  * turns what it writes into metrics.
  *
  * Args: --workload W --in DIR --out DIR --seed N --trace 0|1 --cpus N
  *       [--data DIR]
  *
  * Writes `<out>/result.json` (and, for ingest, per-item arrays). */
object Main {
  /** Set-ups per run; run.py reports their median. */
  private val Setups = 5

  private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum

  private def peakRssMb(): Double = try {
    val line = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/status"))
      .asScala.find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
  } catch { case _: Exception => Double.NaN }

  /** The session config Bench and Verify use. */
  def session(cpus: Int, localDir: String): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .appName("perfbench")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config(Tables.nanosFlag, "true")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", localDir)
    .getOrCreate()

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = o("workload")
    val (in, out) = (o("in"), o("out"))
    val seed = o("seed").toLong
    val trace = o("trace") == "1"
    val cpus = o("cpus").toInt
    val data = o.getOrElse("data", "")
    val ingest = workload == "ingest_steady"
    val workers = math.max(2, cpus)
    val localDir = s"$out/spark-local"

    // set-up: session, then the workload's first use of it (a pipeline's
    // first start() and flush, or Bench's warm-up query). The first set-up
    // is timed from JVM start; later ones from stopping the previous session.
    def warmUp(spark: SparkSession): Unit =
      if (ingest) {
        Ingest.ledger = new Ledger(1024)
        val p = Ingest.pipeline(spark, Ingest.config("setup", workers, Ingest.BackToBack), 0, 0, seed).start()
        p.putAll((0 until 1024).map(_.toLong)); p.flush(); p.stop()
      } else {
        val e = Queries.run(spark, data, "q01_pricing_summary", 0, "setup")
        require(e.error.isEmpty, s"warm-up query failed: ${e.error}")
      }
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    var spark = session(cpus, localDir)
    spark.sparkContext.setLogLevel("ERROR")
    warmUp(spark)
    val setupS = scala.collection.mutable.ArrayBuffer((Clock.ms() - jvmStartMs) / 1e3)
    for (_ <- 2 to Setups) {
      spark.stop()
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      val t0 = Clock.ms()
      spark = session(cpus, localDir)
      spark.sparkContext.setLogLevel("ERROR")
      warmUp(spark)
      setupS += (Clock.ms() - t0) / 1e3
    }

    val recorder = if (trace) Some(new Recorder) else None
    recorder.foreach(_.attach(spark))
    val gc0 = gcMs()
    val t0 = Clock.ms()
    val body: Map[String, Any] = workload match {
      case "ingest_steady" => Map(
        "steady" -> Ingest.steady(spark, in, out, seed, workers, trace),
        "burst" -> Ingest.burst(spark, seed, workers))
      case "query" =>
        val order = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(s"$in/order.txt"))
          .asScala.map(_.trim).filter(_.nonEmpty).toSeq
        val results = s"$out/results"
        val execs = Queries.workload(spark, data, order, results,
          s => recorder.foreach(_.watchPlans(s)))
        val oracle = graft.SparkEntry.oracleSql.filter(kv => order.contains(kv._1))
        Map("execs" -> execs.map(Queries.asMap), "oracle_sql" -> oracle,
          "fingerprints" -> Tables.names.map(t =>
            t -> Tables.fixtureFingerprint(data, s"$t.parquet").toString).toMap)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val wallS = (Clock.ms() - t0) / 1e3
    val gcS = (gcMs() - gc0) / 1e3
    recorder.foreach { r => org.apache.spark.perfbench.BusDrain(spark.sparkContext); r.detach(spark) }
    val result = body ++ Map(
      "workload" -> workload,
      "setup_s" -> setupS.toSeq,
      "wall_s" -> wallS,
      "gc_s" -> gcS,
      "peak_rss_mb" -> peakRssMb(),
      "cpus" -> cpus,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "spark_version" -> spark.version,
      "trace" -> recorder.map(_.dump()).getOrElse(Map.empty))
    Json.writeFile(s"$out/result.json", result)
    spark.stop()
  }
}
