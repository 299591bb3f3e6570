package graft

import java.util.concurrent.atomic.AtomicLong

import scala.concurrent.duration._

import graft.core.{BatchPipeline, FlushContext, Flusher, FlusherFactory, PipelineConfig}

/** Pipeline throughput benchmark — the direct counterpart of the
  * reference's ONLY quantitative performance fact (BASELINE.md):
  * `DisruptorBatchProcessorTest.java:37-44` pushes 65,536 items through
  * a 1 s-latency async sink at batchSize=1024, concurrency=8 and
  * asserts completion in 8.0–9.0 s — i.e. the sink-bound ideal of 8 s
  * (64 batches ÷ 8 concurrent) plus ≤ 1 s of engine overhead.
  *
  * Scenario 1 replicates that workload. Concurrency mapping: the
  * reference's 2 single-threaded workers dispatch ASYNC sink calls with
  * a semaphore of 8 in flight; graft's Flusher contract is synchronous
  * (return = complete), so in-flight parallelism comes from partitions —
  * numWorkers=8 tasks each flushing serially, capped by the same
  * maxConcurrency=8 semaphore. Same 64 × 1 s batch work, same 8-wide
  * sink, same ideal — given 8 task slots. With fewer slots
  * (SPARK_GRAFT_CPUS < 8) only that many workers flush at once, so
  * `ideal_sec` is 64 s ÷ min(8, slots) and `overhead_sec` is measured
  * against it.
  *
  * Scenario 2 removes the sink latency entirely to expose pure engine
  * overhead per item (admission → micro-batch → shard → cut → deliver).
  *
  * Prints ONE JSON line:
  * {"metric":"pipeline","sink_bound_sec":…,"ideal_sec":…,
  *  "overhead_sec":…,"zero_latency_sec":…,"items":65536,
  *  "items_per_sec_zero_latency":…,"delivered":…,"ref_sec":"8.0-9.0"}
  */
object PipelineBench {
  private val delivered = new AtomicLong(0)

  private final class SleepSink(latencyMs: Long) extends Flusher[String] {
    override def flush(batch: Seq[String], ctx: FlushContext): Unit = {
      if (latencyMs > 0) Thread.sleep(latencyMs)
      delivered.addAndGet(batch.size.toLong)
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession("graft-pipeline-bench")
    import spark.implicits._

    val items = (1 to 65536).map(i => s"item-$i")

    def run(name: String, latencyMs: Long): Double = {
      delivered.set(0)
      val cfg = PipelineConfig(name = name, numWorkers = 8, maxBatchSize = 1024,
        maxConcurrency = 8, maxPendingRows = 65536, flushInterval = 1.second,
        triggerInterval = Some(100.millis))
      val p = BatchPipeline[String](spark, cfg,
        FlusherFactory(() => new SleepSink(latencyMs)))
      p.start()
      val t0 = System.nanoTime()
      // putAll in ring-buffer-sized slices like the reference's put loop
      items.grouped(4096).foreach(p.putAll)
      p.flush() // barrier: everything admitted is delivered
      val secs = (System.nanoTime() - t0) / 1e9
      p.stop()
      require(delivered.get() == items.size.toLong,
        s"$name: delivered ${delivered.get()} of ${items.size}")
      secs
    }

    run("pb-warm", 0)        // absorb session/stream startup
    val zero = run("pb-zero", 0)
    val bound = run("pb-sink", 1000)
    val ideal = 64.0 / math.min(8, spark.sparkContext.defaultParallelism)
    val json =
      f"""{"metric":"pipeline","sink_bound_sec":$bound%.2f,"ideal_sec":$ideal%.1f,""" +
      f""""overhead_sec":${bound - ideal}%.2f,"zero_latency_sec":$zero%.2f,""" +
      f""""items":65536,"items_per_sec_zero_latency":${65536 / zero}%.0f,""" +
      f""""delivered":${delivered.get()},"ref_sec":"8.0-9.0"}"""
    println(json)
    try java.nio.file.Files.writeString(
      new java.io.File(sys.props("user.dir"), "PIPELINE_BENCH.json").toPath, json + "\n")
    catch { case e: Exception => System.err.println(s"[pipeline-bench] $e") }
    spark.stop()
  }
}
