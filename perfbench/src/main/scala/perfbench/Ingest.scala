package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicIntegerArray
import java.util.concurrent.locks.LockSupport

import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.core.{BatchPipeline, FlushContext, Flusher, FlusherFactory, PipelineConfig}

/** Delivery ledger shared by every sink task of a run. Local mode runs the
  * tasks in this JVM, so the sink reaches it through [[Ingest.ledger]]. */
final class Ledger(val capacity: Int) {
  val base: Long = System.nanoTime()
  val baseEpochMs: Long = System.currentTimeMillis()
  /** Per id: nanoTime (relative to `base`) when its first delivery returned. */
  val doneNs = new Array[Long](capacity)
  val deliveries = new AtomicIntegerArray(capacity)
  /** Per id: micro-batch id of its first delivery. */
  val batchOf = new Array[Int](capacity)
  /** (start ns, end ns, items, retryCount, batchId, worker, failed) per sink call. */
  val sinkCalls = new ConcurrentLinkedQueue[Array[Long]]()
}

/** The benchmark's own [[Flusher]]: sleeps `sleepMs` per batch, throws on a
  * seeded share of first attempts, and records each delivered id in the
  * ledger once the call has returned. */
final class LedgerSink(sleepMs: Long, failPerMille: Int, seed: Long) extends Flusher[Long] {
  override def flush(batch: Seq[Long], ctx: FlushContext): Unit = {
    val l = Ingest.ledger
    val t0 = System.nanoTime() - l.base
    val tc = org.apache.spark.TaskContext.get()
    val batchId = Option(tc).flatMap(t => Option(t.getLocalProperty("streaming.sql.batchId")))
      .map(_.toLong).getOrElse(-1L)
    val fail = failPerMille > 0 && ctx.retryCount == 0 &&
      Math.floorMod(Ingest.mix(batch.head ^ seed), 1000L) < failPerMille
    if (fail) {
      l.sinkCalls.add(Array(t0, System.nanoTime() - l.base, batch.size, 0, batchId, ctx.workerIndex, 1))
      throw new RuntimeException("injected sink failure")
    }
    if (sleepMs > 0) Thread.sleep(sleepMs)
    val t1 = System.nanoTime() - l.base
    batch.foreach { id =>
      val i = id.toInt
      if (l.deliveries.getAndIncrement(i) == 0) { l.doneNs(i) = t1; l.batchOf(i) = batchId.toInt }
    }
    l.sinkCalls.add(Array(t0, t1, batch.size, ctx.retryCount, batchId, ctx.workerIndex, 0))
  }
}

object Ingest {
  @volatile var ledger: Ledger = _

  /** The open-loop generator admits the ids that are due at most this often. */
  private val TickNs = 20L * 1000000
  /** Micro-batch triggers. The open loop keeps the pipeline's default
    * trigger, its flushInterval (1 s): a micro-batch ends well inside it, so
    * an item waits for the next trigger (uniform over the period) and then
    * for one micro-batch. Back to back, item latency is almost all
    * micro-batch time, which on a shared host follows the host's load
    * (seeds' medians spread by a third). The closed loop and the set-up run
    * back to back, as fast as the pipeline goes. */
  val OpenLoopTrigger: Option[FiniteDuration] = None
  val BackToBack: Option[FiniteDuration] = Some(Duration.Zero)
  /** Closed loop: rounds of `BurstRound` ids each, put `PutChunk` at a
    * time and ended by flush(); the first `BurstWarmRounds` are untimed (a
    * new pipeline's first micro-batches). run.py reports the median rate of
    * the `BurstTimedRounds` timed rounds, so a burst of load from elsewhere
    * on the host that spans a few rounds does not move it. */
  private val BurstRound = 131072
  private val BurstWarmRounds = 2
  private val BurstTimedRounds = 8
  private val PutChunk = 8192

  /** SplitMix64 finalizer: the seeded, order-free failure choice. */
  def mix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** The reference test's configuration (BASELINE.md), with the given
    * trigger and a 20 ms retry delay. */
  def config(name: String, workers: Int, trigger: Option[FiniteDuration]): PipelineConfig =
    PipelineConfig(name = name, numWorkers = workers, maxBatchSize = 1024,
      maxConcurrency = 8, maxPendingRows = 65536, flushInterval = 1.second,
      triggerInterval = trigger, maxRetryCount = 3, retryDelay = 20.millis)

  def pipeline(spark: SparkSession, cfg: PipelineConfig, sleepMs: Long,
      failPerMille: Int, seed: Long): BatchPipeline[Long] = {
    import spark.implicits._
    BatchPipeline[Long](spark, cfg,
      FlusherFactory(() => new LedgerSink(sleepMs, failPerMille, seed)))
  }

  /** Samples `stat().pending` every 50 ms: (ns since ledger base, pending). */
  private final class BacklogSampler(p: BatchPipeline[Long], l: Ledger) extends Thread("backlog-sampler") {
    setDaemon(true)
    val samples = new ConcurrentLinkedQueue[Array[Long]]()
    @volatile var running = true
    override def run(): Unit = while (running) {
      samples.add(Array(System.nanoTime() - l.base, p.stat().pending))
      Thread.sleep(50)
    }
    def finish(): Seq[Seq[Long]] = { running = false; join(); samples.asScala.map(_.toSeq).toSeq }
  }

  /** Barrier-flush, stop, and read the pipeline's and the ledger's accounts
    * of the `n` ids put. */
  private def settle(p: BatchPipeline[Long], l: Ledger, n: Int,
      putSpans: ConcurrentLinkedQueue[Array[Long]], sampler: BacklogSampler): Map[String, Any] = {
    p.flush()
    val st = p.stat()
    val backlog = sampler.finish()
    p.stop()
    var dup = 0L; var missing = 0L
    for (i <- 0 until n) {
      val d = l.deliveries.get(i)
      if (d == 0) missing += 1 else if (d > 1) dup += d - 1
    }
    Map(
      "items" -> n,
      "base_epoch_ms" -> l.baseEpochMs,
      "ids_missing" -> missing,
      "items_duplicated" -> dup,
      "stat" -> Map("items_in" -> st.itemsIn, "items_flushed" -> st.itemsFlushed,
        "items_dropped" -> st.itemsDropped, "pending" -> st.pending,
        "retries" -> st.retries, "batches_flushed" -> st.batchesFlushed),
      "sink_calls" -> l.sinkCalls.asScala.toSeq.map(_.toSeq),
      "put_spans" -> putSpans.asScala.toSeq.map(_.toSeq),
      "backlog" -> backlog)
  }

  /** Open loop: items are sent on the schedule in `schedule_ns.f64` (ns
    * offsets from the schedule start, ascending), whatever the pipeline
    * does. The sink takes 50 ms per batch and throws on 1% of first
    * attempts, so the retry path runs. At most every `TickNs` the
    * generator admits every id whose due time has passed in one call (each
    * call is one MemoryStream block, so one put per item would cost a task
    * per item). A put that blocks makes the ids behind it late; latency is
    * taken from the due time, so that wait counts. */
  def steady(spark: SparkSession, in: String, out: String, seed: Long, workers: Int,
      trace: Boolean): Map[String, Any] = {
    val due = Json.readDoubles(s"$in/schedule_ns.f64").map(_.toLong)
    val n = due.length
    val l = new Ledger(n); ledger = l
    val p = pipeline(spark, config("steady", workers, OpenLoopTrigger), 50, 10, seed).start()
    val sampler = new BacklogSampler(p, l); sampler.start()
    System.gc()
    val sentNs = new Array[Long](n)
    val putSpans = new ConcurrentLinkedQueue[Array[Long]]()
    val start = System.nanoTime() - l.base + 20000000L // schedule origin, ns after base
    var i = 0
    var lastPut = Long.MinValue / 2
    while (i < n) {
      val now = System.nanoTime() - l.base
      val wait = math.max(start + due(i), lastPut + TickNs) - now
      if (wait > 0) LockSupport.parkNanos(wait)
      else {
        lastPut = now
        var j = i
        while (j < n && start + due(j) <= now && j - i < 1024) j += 1
        var k = i
        while (k < j) { sentNs(k) = now - start; k += 1 }
        if (j - i == 1) p.put(i.toLong) else p.putAll((i until j).map(_.toLong))
        if (trace) putSpans.add(Array(now, System.nanoTime() - l.base, j - i))
        i = j
      }
    }
    val accounts = settle(p, l, n, putSpans, sampler)
    val ms = (x: Long) => x / 1e6
    Json.writeDoubles(s"$out/sent_ms.f64", Array.tabulate(n)(i => ms(sentNs(i))))
    Json.writeDoubles(s"$out/done_ms.f64", Array.tabulate(n)(i =>
      if (l.deliveries.get(i) > 0) ms(l.doneNs(i) - start) else Double.NaN))
    Json.writeDoubles(s"$out/batch_of.f64", Array.tabulate(n)(i =>
      if (l.deliveries.get(i) > 0) l.batchOf(i).toDouble else Double.NaN))
    accounts ++ Map("origin_ns" -> start)
  }

  /** Closed loop: one producer puts ids through `putAll` as fast as
    * admission allows, each round ended by `flush()`. The sink returns at
    * once and throws on 1% of first attempts. Returns the accounts and the
    * timed rounds' ids and seconds; `timed_from_ns` (ledger time) is where
    * the untimed rounds end. */
  def burst(spark: SparkSession, seed: Long, workers: Int): Map[String, Any] = {
    val n = BurstRound * (BurstWarmRounds + BurstTimedRounds)
    val l = new Ledger(n); ledger = l
    val p = pipeline(spark, config("burst", workers, BackToBack), 0, 10, seed).start()
    val sampler = new BacklogSampler(p, l); sampler.start()
    val putSpans = new ConcurrentLinkedQueue[Array[Long]]()
    def round(from: Int, until: Int): Double = {
      val t0 = System.nanoTime()
      for (i <- from until until by PutChunk) {
        val s = System.nanoTime() - l.base
        p.putAll((i until i + PutChunk).map(_.toLong))
        putSpans.add(Array(s, System.nanoTime() - l.base, PutChunk))
      }
      p.flush()
      (System.nanoTime() - t0) / 1e9
    }
    for (k <- 0 until BurstWarmRounds) round(k * BurstRound, (k + 1) * BurstRound)
    System.gc()
    val timedFromNs = System.nanoTime() - l.base
    val roundS = (BurstWarmRounds until BurstWarmRounds + BurstTimedRounds)
      .map(k => round(k * BurstRound, (k + 1) * BurstRound))
    settle(p, l, n, putSpans, sampler) ++ Map(
      "round_items" -> BurstRound, "round_s" -> roundS, "timed_from_ns" -> timedFromNs)
  }
}
