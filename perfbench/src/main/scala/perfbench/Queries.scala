package perfbench

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Query workloads: each query is built through `SparkEntry.queries` (the
  * builder span), executed through the `noop` sink (the execute span, which
  * holds Catalyst and the jobs of the returned plan), then the session's
  * cache is cleared, as Bench and Verify do. */
object Queries {
  final case class Exec(name: String, pass: Int, phase: String,
      builderStartMs: Double, builderEndMs: Double, execEndMs: Double, endMs: Double,
      error: String)

  /** Run `name` once; `resultDir` set = write the result as parquet (the
    * correctness pass) instead of through `noop`. */
  def run(spark: SparkSession, dir: String, name: String, pass: Int, phase: String,
      resultDir: Option[String] = None): Exec = {
    val t0 = Clock.ms()
    var t1 = t0
    var t2 = t0
    val err = try {
      val df = SparkEntry.queries(name)(spark, dir)
      t1 = Clock.ms()
      resultDir match {
        case Some(d) => df.coalesce(1).write.mode("overwrite").parquet(s"$d/$name")
        case None => df.write.format("noop").mode("overwrite").save()
      }
      t2 = Clock.ms()
      ""
    } catch {
      case e: Throwable =>
        if (t1 == t0) t1 = Clock.ms()
        t2 = Clock.ms()
        s"${e.getClass.getName}: ${e.getMessage}".take(500)
    }
    spark.catalog.clearCache()
    Exec(name, pass, phase, t0, t1, t2, Clock.ms(), err)
  }

  def asMap(e: Exec): Map[String, Any] = Map(
    "name" -> e.name, "pass" -> e.pass, "phase" -> e.phase,
    "builder_start_ms" -> e.builderStartMs, "builder_end_ms" -> e.builderEndMs,
    "exec_end_ms" -> e.execEndMs, "end_ms" -> e.endMs, "error" -> e.error)

  /** One untimed pass in its own session writes every result for the
    * correctness check (and settles JIT). Then a fresh session
    * (`newSession`, same SparkContext; memos are keyed by session) runs a
    * timed cold pass, which builds the memos, and a timed rerun pass, which
    * replays them. Each timed pass starts on a collected heap. `onSession`
    * sees the timed session first. */
  def workload(spark: SparkSession, dir: String, order: Seq[String], results: String,
      onSession: SparkSession => Unit): Seq[Exec] = {
    val s0 = spark.newSession()
    val check = order.map(run(s0, dir, _, 0, "check", Some(results)))
    val s = spark.newSession()
    onSession(s)
    def pass(phase: String): Seq[Exec] = {
      System.gc()
      order.map(run(s, dir, _, 1, phase))
    }
    check ++ pass("cold") ++ pass("rerun")
  }
}

/** Epoch milliseconds with sub-millisecond resolution, from one nanoTime
  * anchor, so harness spans and Spark's epoch-ms event times share a clock. */
object Clock {
  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis().toDouble
  def ms(): Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6
}
