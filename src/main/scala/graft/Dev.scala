package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Dev probes for iterating on registered queries, on the session Bench
  * and Verify run ([[GraftSession]]) against SPARK_GRAFT_SF_DIR:
  *
  *   runMain graft.Dev time <q...>                 — Bench's own timing
  *   runMain graft.Dev show <q...>                 — print result rows
  *   runMain graft.Dev plan <outDir> <suffix> <q...>
  *       — `explain("formatted")` into `<outDir>/<q>_<suffix>.txt`, the
  *         input format of tools/scan_rangesort.py
  *
  * All queries run in ONE JVM, in argument order. The first one soaks
  * JVM/codegen warm-up, so `time q01 qX qX` reads qX's later sample, and
  * `time q01 qA qB qA qB` interleaves an A/B of two registered queries.
  * `plan` dumps the pre-execution plan with AQE on (the benched config).
  */
object Dev {
  private val usage =
    "usage: graft.Dev time <q...> | show <q...> | plan <outDir> <suffix> <q...>"

  def main(args: Array[String]): Unit = {
    val sfDir = GraftSession.sfDir
    val (run, names) = args.toList match {
      case "time" :: qs => (time _, qs)
      case "show" :: qs => (show _, qs)
      case "plan" :: outDir :: suffix :: qs => (plan(outDir, suffix) _, qs)
      case _ => System.err.println(usage); sys.exit(2)
    }
    val unknown = names.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"unknown queries: ${unknown.mkString(", ")}")
      sys.exit(2)
    }
    val spark = GraftSession("graft-dev")
    val ok = try names.map(n => run(spark, sfDir, n)).forall(identity)
      finally spark.stop()
    if (!ok) sys.exit(1)
  }

  private def time(spark: SparkSession, sfDir: String, n: String): Boolean = {
    val secs = Bench.execute(spark, sfDir, n)
    if (secs >= 0) println(f"PROBE $n $secs%.2f s")
    secs >= 0
  }

  private def show(spark: SparkSession, sfDir: String, n: String): Boolean = {
    println(s"=== $n ===")
    try SparkEntry.queries(n)(spark, sfDir).show(50, truncate = false)
    finally spark.catalog.clearCache()
    true
  }

  private def plan(outDir: String, suffix: String)(
      spark: SparkSession, sfDir: String, n: String): Boolean = {
    Files.createDirectories(Paths.get(outDir))
    val text = try SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(FormattedMode)
      finally spark.catalog.clearCache()
    Files.writeString(Paths.get(outDir, s"${n}_$suffix.txt"), text)
    println(s"PLAN $n -> $outDir/${n}_$suffix.txt (${text.length} chars)")
    true
  }
}
