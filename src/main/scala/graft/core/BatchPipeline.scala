package graft.core

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, MemoryStream}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.util.LongAccumulator

/** Spark-native micro-batching pipeline — the engine's answer to the
  * reference's `BatchProcessor<T>`/`DisruptorBatchProcessor` (SURVEY.md
  * §2 Part A, all 22 operators):
  *
  *  - put / tryPut / putAll / tryPutAll (A1-A4): driver-side admission
  *    into a [[MemoryStream]], bounded by `maxPendingRows` — the ring
  *    buffer's capacity check. Bulk puts chunk at `maxBatchSize` (A3);
  *    `tryPutAll` is all-or-nothing (A4, the semantics v1's buggy
  *    chunked put *intended*, per the author's own TODO at
  *    core/DisruptorBatchProcessor.java:184-200).
  *  - worker sharding (A5): the source is a `MemoryStream` with
  *    `numWorkers` partitions, which deals each micro-batch's rows
  *    round-robin by arrival index into exactly `numWorkers` input
  *    partitions on the driver; partition i is worker i. A micro-batch is
  *    one Spark job of `numWorkers` tasks with no shuffle, the round-robin
  *    is exact (core/DisruptorBatchProcessor.java:112-114), and every
  *    worker sees its items in arrival order.
  *  - size-based cut (A6), time-based cut (A7) and min-batch gate (A8),
  *    all at the source: the source is a gated `MemoryStream`
  *    ([[BatchPipeline.GatedSource]]) that holds the rows past the last
  *    micro-batch, block by block (one block per `addData`), and admits
  *    a prefix of them when a cut is due — the reference's
  *    `size >= batchSize || elapsed >= batchTime` (core/
  *    InnerEventHandler.java:56,58). Size: `min(numWorkers ×
  *    maxBatchSize, maxPendingRows)` rows are held (every worker has a
  *    full batch waiting, or the buffer is full), or a producer waits on
  *    capacity. Time: `trigger` has passed since the last cut. Either
  *    admits the longest block prefix that leaves no worker a run below
  *    `minBatchSize` — v1's `endOfBatch && (size >= minBatchSize || ...)`
  *    (InnerEventHandler.java:56-58), with the cut as endOfBatch; if none
  *    does, the gate holds, except for a waiting producer, which gets
  *    everything. Force: `flushInterval` has passed since the later of
  *    the last cut and the last poll that held nothing (v1's interval
  *    arm, with its idle `onTimeout` flush refreshing the clock,
  *    InnerEventHandler.java:66-69,98-100), and every held row is
  *    admitted. With the default `minBatchSize = 1` every prefix
  *    qualifies, so size and time cut everything held. Until a cut is
  *    due the poll builds no micro-batch and launches no job. The query
  *    runs `Trigger.ProcessingTime(0)`, so Spark polls the gate every
  *    `spark.sql.streaming.pollingDelay` (10 ms). Inside a micro-batch
  *    each worker's rows are re-grouped into runs of ≤ `maxBatchSize`
  *    before the sink sees them.
  *  - async sink dispatch + factory (A11, A19): [[FlusherFactory]]
  *    creates one [[Flusher]] per worker, with open → flushes → close lifecycle.
  *  - admission control (A12-A14): per-JVM [[Limiters]] — concurrency
  *    semaphore + TPS/IPS buckets around every sink call.
  *  - bounded retry (A15): throw-to-retry, `maxRetryCount` attempts
  *    `retryDelay` apart, then drop-and-warn. At-least-once, like the
  *    reference.
  *  - lifecycle (A16-A17): `start()` spins the streaming query;
  *    `stop()` drains (`processAllAvailable`) before stopping — the
  *    reference's semaphore-reacquisition drain trick is subsumed by
  *    foreachBatch's synchronous completion.
  *  - checkpoint: the query writes an offset-log entry before each
  *    micro-batch and a commit-log entry after it, into a fresh
  *    directory under `java.io.tmpdir` on the `graftckpt` scheme
  *    ([[CheckpointFs]]): the local disk, minus the `chmod` and
  *    `readlink` forks Hadoop's local file system makes for every entry
  *    without libhadoop. A `MemoryStream` cannot replay, so the logs
  *    serve only Spark's progress bookkeeping, and nothing resumes from
  *    them. `stop()` deletes the directory on both paths, as does a
  *    failed `start()`.
  *  - flush (A10): `flush()` = `processAllAvailable`, a strictly
  *    stronger barrier than the reference's in-band flush event
  *    (SURVEY.md §7.4.5).
  *  - `flush()` and graceful `stop()` open the gate while they wait, so
  *    they also deliver every row it is holding, sub-min runs included;
  *    `stop(false)` discards held rows along with every other
  *    unprocessed one. No row is held anywhere but the source.
  *  - stats (A18): accumulator-backed [[PipelineStats]].
  *
  * Error isolation (A20): a flush failure never kills the query — the
  * retry loop absorbs it and accounts the drop.
  *
  * Pipeline names must be unique per JVM while live: the [[Limiters]]
  * registry keys on (name, limits), so two concurrently-running
  * pipelines with the same name AND the same limit configuration would
  * share admission limits. (Executor JVMs never observe the driver-side
  * registry cleanup in stop(); the config-qualified key makes stale
  * entries harmless — see Limiters.)
  */
final class BatchPipeline[T: Encoder](
    spark: SparkSession,
    val config: PipelineConfig,
    factory: FlusherFactory[T]) {

  // A5-A8: the source shards and cuts (see the class doc)
  private val source = new BatchPipeline.GatedSource[T](spark, config)

  private val itemsIn = new AtomicLong(0)
  private val pending = new AtomicLong(0)
  private val pendingLock = new Object
  private val itemsFlushed: LongAccumulator = spark.sparkContext.longAccumulator(s"${config.name}.itemsFlushed")
  private val batchesFlushed: LongAccumulator = spark.sparkContext.longAccumulator(s"${config.name}.batchesFlushed")
  private val retries: LongAccumulator = spark.sparkContext.longAccumulator(s"${config.name}.retries")
  private val itemsDropped: LongAccumulator = spark.sparkContext.longAccumulator(s"${config.name}.itemsDropped")
  // A18 per-worker granularity (v2 Stat.java:11-135): worker → counts
  private val workerItems = new WorkerCountAccumulator
  private val workerBatches = new WorkerCountAccumulator
  spark.sparkContext.register(workerItems, s"${config.name}.workerItemsFlushed")
  spark.sparkContext.register(workerBatches, s"${config.name}.workerBatchesFlushed")

  @volatile private var query: StreamingQuery = _
  @volatile private var state: String = "NEW"
  private var checkpoint: String = _

  private val listener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {}
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {}
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      if (query != null && e.progress.id == query.id) {
        pendingLock.synchronized {
          pending.addAndGet(-e.progress.numInputRows)
          pendingLock.notifyAll()
        }
      }
    }
  }

  // ------------------------------------------------------------- lifecycle

  /** A16: start workers; returns when the streaming query is live. */
  def start(): this.type = synchronized {
    require(state == "NEW", s"cannot start from $state")
    CheckpointFs.register(spark.sparkContext.hadoopConfiguration)
    checkpoint = CheckpointFs.freshDir("graft-pipeline-ckpt-")
    spark.streams.addListener(listener)
    val cfg = config // avoid closing over `this`
    val fac = factory
    val counters = BatchPipeline.Counters(
      itemsFlushed, batchesFlushed, retries, itemsDropped, workerItems, workerBatches)
    try query = source.toDS()
      .writeStream
      .queryName(cfg.name)
      .option("checkpointLocation", checkpoint)
      // A6-A8: the gate decides when a micro-batch is due; Spark polls it
      .trigger(Trigger.ProcessingTime(0L))
      .foreachBatch { (ds: Dataset[T], _: Long) =>
        // A5: the source already dealt this micro-batch into numWorkers
        // partitions, row i of the batch to partition i % numWorkers, so
        // each partition task is one worker and sees its rows in arrival
        // order (numWorkers=1: one FIFO task). No repartition: it would
        // add a shuffle-map job per micro-batch and lose that order.
        ds.foreachPartition { (it: Iterator[T]) =>
          if (it.hasNext) {
            val workerIndex = org.apache.spark.TaskContext.getPartitionId()
            val limiters = Limiters.forPipeline(
              cfg.name, cfg.maxConcurrency, cfg.maxBatchesPerSecond, cfg.maxItemsPerSecond)
            val flusher = fac.create()
            flusher.open(workerIndex)
            val log = org.slf4j.LoggerFactory.getLogger("graft.core.BatchPipeline")
            // A6 size cut: runs of ≤ maxBatchSize
            try it.grouped(cfg.maxBatchSize).foreach(batch =>
              BatchPipeline.flushWithRetry(cfg, flusher, limiters, workerIndex, batch, counters, log))
            finally flusher.close()
          }
        }
      }
      .start()
    catch { case e: Throwable =>
      spark.streams.removeListener(listener)
      CheckpointFs.delete(checkpoint)
      throw e
    }
    state = "STARTED"
    this
  }

  /** A10: barrier-flush everything admitted so far. Also resynchronizes
    * the pending counter: after `processAllAvailable` every admitted row
    * has been processed, so pending is definitionally 0 — this heals any
    * leak from dropped listener-bus progress events (Spark's
    * AsyncEventQueue sheds events under load). Concurrent puts during
    * flush may briefly over-admit; the reference has the same caveat for
    * its in-band flush. */
  def flush(): Unit = {
    require(state == "STARTED", s"not started: $state")
    // processAllAvailable returns at the first poll that builds no batch;
    // with the gate open that means nothing is held either
    BatchPipeline.raised(source.draining)(query.processAllAvailable())
    pendingLock.synchronized {
      pending.set(0)
      pendingLock.notifyAll()
    }
  }

  /** A17: graceful drain-then-stop. `waitForCompletion=false` ≅ v3's
    * stop(false): stop the trigger without draining. Wakes any producer
    * blocked in put() — it observes the state change and throws instead
    * of waiting on capacity that will never free. */
  def stop(waitForCompletion: Boolean = true): Unit = synchronized {
    if (state == "STARTED") {
      state = "STOPPED" // reject new puts first, like the CAS in v1 stop()
      pendingLock.synchronized { pendingLock.notifyAll() }
      try {
        if (waitForCompletion) BatchPipeline.raised(source.draining)(query.processAllAvailable())
        query.stop()
        query.awaitTermination(config.stopTimeout.toMillis)
      } finally {
        spark.streams.removeListener(listener)
        Limiters.remove(config.name)
        CheckpointFs.delete(checkpoint)
      }
    }
  }

  // ------------------------------------------------------------- admission

  private def admit(n: Int, block: Boolean): Boolean = {
    if (state != "STARTED") // ensureStarted (v1 DisruptorBatchProcessor.java:304-313)
      throw new IllegalStateException(s"pipeline ${config.name} not started: $state")
    pendingLock.synchronized {
      while (pending.get() + n > config.maxPendingRows) {
        if (!block) return false
        // a waiting producer makes a cut due: the rows the gate holds may
        // be what fills the buffer
        BatchPipeline.raised(source.waiting)(pendingLock.wait(50))
        // re-check liveness: stop() wakes us; without this a producer
        // blocked on capacity during shutdown waits forever (or worse,
        // adds to a stream nothing will read and reports success)
        if (state != "STARTED")
          throw new IllegalStateException(s"pipeline stopped while blocked in put ($state)")
      }
      pending.addAndGet(n)
      true
    }
  }

  /** A1: blocking single put; with blockOnFull=false THROWS when full
    * (v1's blockOnInsufficientCapacity=false semantics — the silent
    * alternative would overrun the bound and corrupt the pending
    * counter). Use tryPut for a non-throwing refusal. */
  def put(t: T): Unit = {
    if (!admit(1, block = config.blockOnFull))
      throw new IllegalStateException(s"pipeline ${config.name} buffer full " +
        s"(${config.maxPendingRows} pending) and blockOnFull=false")
    source.addData(t); itemsIn.addAndGet(1)
  }

  /** A2: non-blocking single put — false when the buffer is full (the
    * contract v3's tryPut violates by always returning false,
    * v3 Worker.java:60-73; we implement the intent). */
  def tryPut(t: T): Boolean =
    admit(1, block = false) && { source.addData(t); itemsIn.addAndGet(1); true }

  /** A3: bulk put, chunked at maxBatchSize like v1's put(Collection);
    * throws on a full buffer when blockOnFull=false (see put). */
  def putAll(ts: Seq[T]): Unit =
    ts.grouped(config.maxBatchSize).foreach { chunk =>
      if (!admit(chunk.size, block = config.blockOnFull))
        throw new IllegalStateException(s"pipeline ${config.name} buffer full " +
          s"(${config.maxPendingRows} pending) and blockOnFull=false")
      source.addData(chunk)
      itemsIn.addAndGet(chunk.size)
    }

  /** A4: all-or-nothing bulk admit ("不可分割" — indivisible, per
    * v2 DisruptorBatchProcessor.java:105). */
  def tryPutAll(ts: Seq[T]): Boolean =
    admit(ts.size, block = false) && { source.addData(ts); itemsIn.addAndGet(ts.size); true }

  // ----------------------------------------------------------------- stats

  /** A18: runtime stats (global + per-worker). */
  def stat(): PipelineStats = PipelineStats(
    itemsIn = itemsIn.get(),
    itemsFlushed = itemsFlushed.value,
    batchesFlushed = batchesFlushed.value,
    retries = retries.value,
    itemsDropped = itemsDropped.value,
    pending = pending.get(),
    perWorkerItemsFlushed = workerItems.value,
    perWorkerBatchesFlushed = workerBatches.value)
}

/** Map accumulator for per-worker counts: (workerIndex, delta) adds
  * merge associatively/commutatively across tasks, so the value is
  * exact regardless of task order or speculation re-merges being
  * absent — same contract as Spark's LongAccumulator, keyed. */
private[core] final class WorkerCountAccumulator
    extends org.apache.spark.util.AccumulatorV2[(Int, Long), Map[Int, Long]] {
  private val m =
    new java.util.concurrent.ConcurrentHashMap[Int, java.util.concurrent.atomic.LongAdder]()
  override def isZero: Boolean = m.isEmpty
  override def copy(): WorkerCountAccumulator = {
    val c = new WorkerCountAccumulator
    m.forEach((k, v) => c.add((k, v.sum())))
    c
  }
  override def reset(): Unit = m.clear()
  override def add(kv: (Int, Long)): Unit =
    m.computeIfAbsent(kv._1, _ => new java.util.concurrent.atomic.LongAdder).add(kv._2)
  override def merge(
      other: org.apache.spark.util.AccumulatorV2[(Int, Long), Map[Int, Long]]): Unit =
    other.value.foreach(add)
  override def value: Map[Int, Long] = {
    val b = Map.newBuilder[Int, Long]
    m.forEach((k, v) => b += (k -> v.sum()))
    b.result()
  }
}

object BatchPipeline {
  private def ctx(worker: Int, attempt: Int): FlushContext = new FlushContext {
    val workerIndex: Int = worker
    val retryCount: Int = attempt
  }

  /** The accumulators a partition task reports its flushes into. */
  private[core] final case class Counters(
      itemsFlushed: LongAccumulator,
      batchesFlushed: LongAccumulator,
      retries: LongAccumulator,
      itemsDropped: LongAccumulator,
      workerItems: WorkerCountAccumulator,
      workerBatches: WorkerCountAccumulator)

  /** A12-A15: rate/concurrency-limited flush with bounded retry, then
    * drop-and-warn: `maxRetryCount` retries `retryDelay` apart, after
    * which the batch is dropped and counted. */
  private[core] def flushWithRetry[T](
      cfg: PipelineConfig,
      flusher: Flusher[T],
      limiters: Limiters,
      workerIndex: Int,
      batch: Seq[T],
      counters: Counters,
      log: org.slf4j.Logger): Unit = {
    var attempt = 0
    var done = false
    while (!done) {
      limiters.acquireRate(batch.size)   // A13/A14
      limiters.concurrency.acquire()     // A12
      val error =
        try { flusher.flush(batch, ctx(workerIndex, attempt)); None }
        catch { case scala.util.control.NonFatal(e) => Some(e) }
        finally limiters.concurrency.release()
      if (error.isEmpty) {
        counters.itemsFlushed.add(batch.size); counters.batchesFlushed.add(1)
        counters.workerItems.add((workerIndex, batch.size.toLong))
        counters.workerBatches.add((workerIndex, 1L))
        done = true
      } else if (attempt >= cfg.maxRetryCount) {
        // A15 exhaustion: discard AND warn (v2 Worker.java:290-291)
        log.warn(s"pipeline ${cfg.name}: dropping batch of ${batch.size} " +
          s"after ${attempt + 1} attempts", error.get)
        counters.itemsDropped.add(batch.size)
        done = true
      } else {
        attempt += 1; counters.retries.add(1)
        Thread.sleep(cfg.retryDelay.toMillis)
      }
    }
  }

  /** Merge a run smaller than `min` into its predecessor when the
    * merged size still fits `max`. The pipeline no longer calls it: the
    * A8 gate holds sub-min runs at the source instead. */
  private[graft] def coalesceSmall[T](groups: Iterator[Seq[T]], minSize: Int, maxSize: Int): Iterator[Seq[T]] =
    new Iterator[Seq[T]] {
      private var pendingGroup: Seq[T] = null
      override def hasNext: Boolean = pendingGroup != null || groups.hasNext
      override def next(): Seq[T] = {
        var cur = if (pendingGroup != null) { val p = pendingGroup; pendingGroup = null; p }
                  else groups.next()
        while (groups.hasNext && pendingGroup == null) {
          val nxt = groups.next()
          if (nxt.size < minSize && cur.size + nxt.size <= maxSize) cur = cur ++ nxt
          else pendingGroup = nxt
        }
        cur
      }
    }

  /** Runs `body` with `flag` raised. */
  private def raised[A](flag: AtomicInteger)(body: => A): A = {
    flag.incrementAndGet()
    try body finally flag.decrementAndGet()
  }

  private val gatedIds = new AtomicInteger(0)

  /** A6-A8: a `MemoryStream` with `numWorkers` partitions whose
    * `latestOffset` holds the blocks past `start` (one per `addData`)
    * until a cut is due, then admits a prefix of them (see the class
    * doc). Drain (`flush()`/`stop()`) and force (`flushInterval` since
    * the later of the last cut and the last empty poll) admit every
    * block. Size (`min(numWorkers × maxBatchSize, maxPendingRows)` rows
    * held, or a producer waiting) and time (`trigger` since the last
    * cut) admit the longest prefix that [[leavesNoShortRun]]; with none,
    * they hold, unless a producer waits. Ids count down from -1:
    * `MemoryStream.apply` counts up from 0, and streams compare equal by
    * (id, session, partitions). */
  private[core] final class GatedSource[T: Encoder](spark: SparkSession, cfg: PipelineConfig)
      extends MemoryStream[T](gatedIds.decrementAndGet(), spark, Some(cfg.numWorkers)) {
    private val round = cfg.numWorkers.toLong * cfg.maxBatchSize
    private val sizeCut = math.min(round, cfg.maxPendingRows)
    private val timeCutNs = cfg.trigger.toNanos
    private val forceCutNs = cfg.flushInterval.toNanos
    private var lastCutNs = System.nanoTime()
    private var forceFromNs = lastCutNs
    /** Producers waiting on capacity; flush()/stop() barriers in progress. */
    val waiting, draining = new AtomicInteger(0)

    /** v1's min-batch predicate for a cut of `rows` rows: dealt
      * round-robin and grouped in runs of `maxBatchSize`, every worker's
      * last run has at least `minBatchSize` rows. */
    private def leavesNoShortRun(rows: Long): Boolean = {
      val r = rows % round
      cfg.minBatchSize <= 1 || r == 0 || r / cfg.numWorkers >= cfg.minBatchSize
    }

    override def latestOffset(start: Offset, limit: ReadLimit): Offset = synchronized {
      val from = start.asInstanceOf[LongOffset].offset
      // `batches` holds one block per offset past the last commit
      def blocks = batches.iterator.drop((from - lastOffsetCommitted.offset).toInt)
        .map(_.length.toLong)
      val held = blocks.sum
      val now = System.nanoTime()
      if (held == 0) forceFromNs = now
      val all = held > 0 && (draining.get() > 0 || now - forceFromNs >= forceCutNs)
      val taken =
        if (all) currentOffset.offset - from
        else if (held > 0 && (held >= sizeCut || waiting.get() > 0 ||
            now - lastCutNs >= timeCutNs)) {
          // the longest block prefix that leaves no short run (0: none)
          var rows, k, prefix = 0L
          blocks.foreach { n => rows += n; k += 1; if (leavesNoShortRun(rows)) prefix = k }
          if (prefix == 0 && waiting.get() > 0) currentOffset.offset - from else prefix
        } else 0L
      if (taken > 0) {
        lastCutNs = now; forceFromNs = now
        LongOffset(from + taken)
      } else if (from < 0) null // nothing admitted yet: no offset
      else start
    }
  }

  def apply[T: Encoder](spark: SparkSession, config: PipelineConfig,
      factory: FlusherFactory[T]): BatchPipeline[T] =
    new BatchPipeline[T](spark, config, factory)
}
