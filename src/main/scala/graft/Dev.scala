package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions.{broadcast, col, max}

/** Dev probes for iterating on registered queries, on the session Bench
  * and Verify run ([[GraftSession]]) against SPARK_GRAFT_SF_DIR:
  *
  *   runMain graft.Dev time <q...>                 — Bench's own timing
  *   runMain graft.Dev show <q...>                 — print result rows
  *   runMain graft.Dev plan <outDir> <suffix> <q...>
  *       — `explain("formatted")` into `<outDir>/<q>_<suffix>.txt`, the
  *         input format of tools/scan_rangesort.py
  *   runMain graft.Dev scale <factor> <outDir> <q...>
  *       — write every fixture table ×factor into `<outDir>` ([[amplify]])
  *         and ×1 into `<outDir>_warm`, then run each query once on the
  *         ×1 copy and time it on the base dir and on `<outDir>`:
  *         `SCALE <q> <base s> <scaled s> <ratio>` lines, and
  *         SCALE_LATEST.json in the working directory
  *
  * All queries run in ONE JVM, in argument order. The first one soaks
  * JVM/codegen warm-up, so `time q01 qX qX` reads qX's later sample, and
  * `time q01 qA qB qA qB` interleaves an A/B of two registered queries.
  * `scale` warms each query on its ×1 copy, so first-of-family cost
  * (class loading, codegen) lands on neither timed side; the copy has its
  * own fingerprints and memo keys, so memoized and persisted builds still
  * land on both.
  * `plan` dumps the pre-execution plan with AQE on (the benched config).
  * An unknown query exits 2, a failed one exits 1.
  */
object Dev {
  private val usage =
    "usage: graft.Dev time <q...> | show <q...> | plan <outDir> <suffix> <q...>" +
      " | scale <factor> <outDir> <q...>"

  def main(args: Array[String]): Unit = {
    val sfDir = GraftSession.sfDir
    def each(f: (SparkSession, String, String) => Boolean) =
      (spark: SparkSession, qs: List[String]) => qs.map(f(spark, sfDir, _)).forall(identity)
    val (run, names) = args.toList match {
      case "time" :: qs => (each(time), qs)
      case "show" :: qs => (each(show), qs)
      case "plan" :: outDir :: suffix :: qs => (each(plan(outDir, suffix)), qs)
      case "scale" :: factor :: outDir :: qs if factor.toIntOption.exists(_ >= 1) =>
        (scale(sfDir, factor.toInt, outDir) _, qs)
      case _ => System.err.println(usage); sys.exit(2)
    }
    val unknown = names.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"unknown queries: ${unknown.mkString(", ")}")
      sys.exit(2)
    }
    val spark = GraftSession("graft-dev")
    val ok = try run(spark, names) finally spark.stop()
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

  private def scale(sfDir: String, factor: Int, outDir: String)(
      spark: SparkSession, names: List[String]): Boolean = {
    amplify(spark, sfDir, outDir, factor)
    val warmDir = outDir.stripSuffix("/") + "_warm"
    amplify(spark, sfDir, warmDir, 1)
    val runs = names.map { n =>
      Bench.execute(spark, warmDir, n)
      val (base, scaled) = (Bench.execute(spark, sfDir, n), Bench.execute(spark, outDir, n))
      if (base >= 0 && scaled >= 0) println(f"SCALE $n $base%.2f $scaled%.2f ${scaled / base}%.2f")
      (n, base, scaled)
    }
    // a list, not a map: a query named twice keeps both runs
    val qs = runs.map { case (n, b, s) => s"""{"query":"$n","base_s":$b,"scaled_s":$s}""" }
      .mkString("[", ",", "]")
    val json = s"""{"factor":$factor,"base":"$sfDir","scaled":"$outDir",""" +
      s""""cpus":${spark.sparkContext.defaultParallelism},"utc":"${java.time.Instant.now}","runs":$qs}"""
    Files.writeString(Paths.get(sys.props("user.dir"), "SCALE_LATEST.json"), json + "\n")
    runs.forall { case (_, b, s) => b >= 0 && s >= 0 }
  }

  /** Tables replicated ×factor by [[amplify]], with the key columns each
    * replica shifts by `rep × Span`. */
  private[graft] val amplified: Seq[(String, Seq[String])] = Seq(
    "lineitem" -> Seq("l_orderkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "customer" -> Seq("c_custkey"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"),
    "events" -> Seq("event_id", "user_id"))

  /** One span for every key, above every base key, so replica r's keys sit
    * in [r·Span, (r+1)·Span): keys unique in the base stay unique, and every
    * FK join (lineitem→orders→customer, events.user_id→o_custkey) matches
    * inside one replica. It also stays clear of the ids queries plant at
    * fixed offsets up to 10⁷ past the base (d19/d21's +10⁶..3·10⁶
    * near-copies, s13's +10⁷ batch). */
  private val Span = 100000000L

  /** Dimension tables [[amplify]] copies unchanged. */
  private[graft] val copied: Seq[String] = Seq("region", "nation", "supplier", "part")

  /** Writes the fixture tables of `base` into `out`: [[amplified]] ones as a
    * broadcast cross join with `range(factor)`, [[copied]] ones as they are.
    * Tables are read raw, so events' `ts` keeps its on-disk type (an
    * INT64-nanos column stays one). */
  private[graft] def amplify(spark: SparkSession, base: String, out: String, factor: Int): Unit = {
    val reps = broadcast(spark.range(factor).toDF("rep"))
    amplified.foreach { case (name, keys) =>
      val t = spark.read.parquet(s"$base/$name.parquet")
      val tops = t.select(keys.map(k => max(col(k))): _*).head()
      keys.indices.foreach { i =>
        require(tops.isNullAt(i) || tops.getLong(i) < Span,
          s"$name.${keys(i)} reaches the replica span $Span: replicas would collide")
      }
      t.crossJoin(reps)
        .select(t.columns.toIndexedSeq.map {
          case c if keys.contains(c) => (col(c) + col("rep") * Span).as(c)
          case c => col(c)
        }: _*)
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
    }
    copied.foreach { n =>
      spark.read.parquet(s"$base/$n.parquet").write.mode("overwrite").parquet(s"$out/$n.parquet")
    }
  }
}
