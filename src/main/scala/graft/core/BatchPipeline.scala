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
  *  - size-based cut (A6) and time-based cut (A7), at the source: the
  *    source is a gated `MemoryStream` ([[BatchPipeline.GatedSource]])
  *    that admits the rows held past the last micro-batch as soon as
  *    `min(numWorkers × maxBatchSize, maxPendingRows)` of them have
  *    built up (every worker has a full batch waiting, or the buffer is
  *    full), or `trigger` has passed since the last cut — the reference's
  *    `size >= batchSize || elapsed >= batchTime` (core/
  *    InnerEventHandler.java:56,58). Until then it holds them, and the
  *    poll builds no micro-batch and launches no job. The query runs
  *    `Trigger.ProcessingTime(0)`, so Spark polls the gate every
  *    `spark.sql.streaming.pollingDelay` (10 ms). Inside a micro-batch
  *    each worker's rows are re-grouped into runs of ≤ `maxBatchSize`
  *    before the sink sees them.
  *  - min-batch gate (A8): two modes. Default — a trailing run below
  *    `minBatchSize` merges into its predecessor within the micro-batch
  *    and everything flushes each micro-batch (the interval arm of v1's
  *    predicate holds by construction when trigger == flushInterval).
  *    With `deferSmallBatches=true`, the LITERAL v1 gate
  *    (core/InnerEventHandler.java:54-58): the trailing small run is
  *    carried in a per-(pipeline, worker) buffer to the next micro-batch
  *    — flushed only once it reaches `minBatchSize` or `flushInterval`
  *    elapses since that worker's last flush. A driver-side watchdog
  *    covers the idle case (Spark skips data-less micro-batches, which
  *    would strand an overdue carry). Note this is deliberately STRICTER
  *    than v1's `onTimeout` (InnerEventHandler.java:98-100), which
  *    flushes unconditionally whenever the ring buffer goes idle: our
  *    watchdog applies the same interval arm as the gate, so idle
  *    sub-min data waits up to `flushInterval` (plus one trigger period
  *    of watchdog granularity) instead of the idle-timeout cadence —
  *    the literal v1 PREDICATE, applied consistently in both arms.
  *    Carry buffers are JVM-static (like [[Limiters]]) — `start()`
  *    REJECTS deferSmallBatches on non-local masters, where executor
  *    tasks would see a different (empty) registry than the driver's
  *    drain barrier. Task-retry caveat even in local mode: a retried or
  *    speculatively re-executed partition task re-takes its carry
  *    destructively, so a retry after a successful take can double-carry
  *    or re-deliver that sub-min run (at-least-once, same as the flush
  *    path's retry semantics). `flush()`/`stop()` drain carries.
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
  *  - flush (A10): `flush()` = `processAllAvailable`, a strictly
  *    stronger barrier than the reference's in-band flush event
  *    (SURVEY.md §7.4.5).
  *  - `flush()` and graceful `stop()` open the gate while they wait, so
  *    they also deliver the rows it is holding below both cuts;
  *    `stop(false)` discards held rows along with every other
  *    unprocessed one.
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

  // A5-A7: the source shards and cuts (see the class doc)
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
    // CarryBuffers/Limiters are JVM-static: on a multi-JVM cluster the
    // executors' carry registry is invisible to the driver's drain
    // barrier and flush()/stop() would silently miss executor carries
    require(!config.deferSmallBatches || spark.sparkContext.isLocal,
      s"pipeline ${config.name}: deferSmallBatches requires a local master " +
        "(the carry registry is per-JVM); use the default merge-within-batch mode on clusters")
    spark.streams.addListener(listener)
    val cfg = config // avoid closing over `this`
    val fac = factory
    val flushed = itemsFlushed; val nBatches = batchesFlushed
    val nRetries = retries; val nDropped = itemsDropped
    val wItems = workerItems; val wBatches = workerBatches
    val counters = BatchPipeline.Counters(
      flushed, nBatches, nRetries, nDropped, wItems, wBatches)
    query = source.toDS()
      .writeStream
      .queryName(cfg.name)
      // A6/A7: the gate decides when a micro-batch is due; Spark polls it
      .trigger(Trigger.ProcessingTime(0L))
      .foreachBatch { (ds: Dataset[T], _: Long) => batchVsDrainLock.synchronized {
        // A5: the source already dealt this micro-batch into numWorkers
        // partitions, row i of the batch to partition i % numWorkers, so
        // each partition task is one worker and sees its rows in arrival
        // order (numWorkers=1: one FIFO task). No repartition: it would
        // add a shuffle-map job per micro-batch and lose that order.
        ds.foreachPartition { (it: Iterator[T]) =>
          val workerIndex = org.apache.spark.TaskContext.getPartitionId()
          // A8 deferred carry from this worker's previous micro-batch
          // (empty and lastFlush=now on first touch — a trickle defers a
          // full interval rather than flushing its very first run).
          val (carried, lastFlush0) =
            if (cfg.deferSmallBatches)
              CarryBuffers.take(cfg.name, workerIndex, System.currentTimeMillis())
            else (Vector.empty[Any], 0L)
          val all: Iterator[T] = carried.iterator.asInstanceOf[Iterator[T]] ++ it
          if (all.hasNext) {
            val limiters = Limiters.forPipeline(
              cfg.name, cfg.maxConcurrency, cfg.maxBatchesPerSecond, cfg.maxItemsPerSecond)
            val flusher = fac.create()
            flusher.open(workerIndex)
            val log = org.slf4j.LoggerFactory.getLogger("graft.core.BatchPipeline")
            try {
              // A6 size cut: runs of ≤ maxBatchSize. A8: in default mode
              // a small trailing run merges into its predecessor; in
              // defer mode it is gated below instead.
              val runs: Iterator[Seq[T]] =
                if (cfg.deferSmallBatches) all.grouped(cfg.maxBatchSize).map(_.toSeq)
                else BatchPipeline.coalesceSmall(
                  all.grouped(cfg.maxBatchSize).map(_.toSeq),
                  cfg.minBatchSize, cfg.maxBatchSize)
              var lastFlush = lastFlush0
              while (runs.hasNext) {
                val batch = runs.next()
                // v1's predicate, micro-batch boundary as endOfBatch: a
                // trailing run below minBatchSize holds unless the force
                // interval has elapsed since this worker's last flush.
                val defer = cfg.deferSmallBatches && !runs.hasNext &&
                  batch.size < cfg.minBatchSize &&
                  System.currentTimeMillis() - lastFlush < cfg.flushInterval.toMillis
                if (defer) {
                  CarryBuffers.put(cfg.name, workerIndex, batch)
                } else {
                  BatchPipeline.flushWithRetry(cfg, flusher, limiters, workerIndex, batch, counters, log)
                  if (cfg.deferSmallBatches) {
                    lastFlush = System.currentTimeMillis()
                    CarryBuffers.markFlushed(cfg.name, workerIndex, lastFlush)
                  }
                }
              }
            } finally flusher.close()
          }
        }
      }}
      .start()
    if (cfg.deferSmallBatches) startCarryWatchdog()
    state = "STARTED"
    this
  }

  /** Serializes micro-batch execution against watchdog drains: v1's
    * onEvent and onTimeout both run on the single consumer thread, so a
    * timeout flush can never interleave with batch processing (no
    * out-of-order sink writes, never two live Flushers for one worker).
    * foreachBatch's body runs on the driver and blocks until its tasks
    * complete, so a plain JVM lock restores exactly that exclusion. */
  private val batchVsDrainLock = new Object

  /** Idle-pipeline coverage for the carry buffers: Spark skips data-less
    * micro-batches, so an idle pipeline would strand a deferred carry
    * past its force-flush deadline; this driver-side timer drains
    * OVERDUE carries at the trigger cadence. Deliberately stricter than
    * v1's `onTimeout` (InnerEventHandler.java:98-100, which flushes any
    * non-empty buffer whenever the ring buffer goes idle): the watchdog
    * applies the same `flushInterval` arm as the gate itself, so the
    * min-batch predicate governs both arms consistently — see the class
    * Scaladoc. */
  @volatile private var watchdog: java.util.concurrent.ScheduledExecutorService = _
  private def startCarryWatchdog(): Unit = {
    watchdog = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(r => {
      val t = new Thread(r, s"${config.name}-carry-watchdog"); t.setDaemon(true); t
    })
    val periodMs = config.trigger.toMillis
    watchdog.scheduleWithFixedDelay(
      // never let a throw kill the schedule: scheduleWithFixedDelay
      // suppresses all future runs after an uncaught exception, which
      // would silently disable the time arm for the pipeline's lifetime
      () => try drainCarries(overdueOnly = true) catch {
        case scala.util.control.NonFatal(e) =>
          org.slf4j.LoggerFactory.getLogger("graft.core.BatchPipeline")
            .warn(s"pipeline ${config.name}: carry watchdog drain failed", e)
      },
      periodMs, periodMs, java.util.concurrent.TimeUnit.MILLISECONDS)
  }

  /** Flush carried sub-min batches through a fresh flusher (driver-side;
    * the registry is JVM-shared with local-mode tasks). `overdueOnly`
    * applies the interval arm; `false` force-drains everything. A
    * failure OUTSIDE the retrying flush loop (factory.create / open /
    * close throwing) re-carries the taken items instead of losing them —
    * they retry at the next drain or micro-batch. */
  private def drainCarries(overdueOnly: Boolean): Unit = batchVsDrainLock.synchronized {
    val deadline = if (overdueOnly) Some(config.flushInterval.toMillis) else None
    val entries = CarryBuffers.drain(config.name, deadline, System.currentTimeMillis())
    if (entries.nonEmpty) {
      val counters = BatchPipeline.Counters(
        itemsFlushed, batchesFlushed, retries, itemsDropped, workerItems, workerBatches)
      val limiters = Limiters.forPipeline(
        config.name, config.maxConcurrency, config.maxBatchesPerSecond, config.maxItemsPerSecond)
      val log = org.slf4j.LoggerFactory.getLogger("graft.core.BatchPipeline")
      // Watchdog ticks get ONE attempt, no drop-on-failure: this runs
      // under batchVsDrainLock, and a failing sink retrying for
      // maxRetryCount × retryDelay would stall every micro-batch of the
      // pipeline for that whole window (round-3 ADVICE). Failed items
      // re-carry and retry at the next tick or micro-batch. Manual
      // flush()/stop() drains (overdueOnly=false) keep the full retry
      // budget — they are explicit barriers whose callers expect delivery.
      val (budget, dropPolicy) =
        if (overdueOnly) (0, false) else (-1, true)
      entries.foreach { case (w, items) =>
        var settled = false
        try {
          val flusher = factory.create()
          flusher.open(w)
          try {
            settled = BatchPipeline.flushWithRetry(
              config, flusher, limiters, w, items.asInstanceOf[Seq[T]], counters, log,
              retryBudget = budget, dropOnExhaustion = dropPolicy)
            if (!settled) {
              CarryBuffers.prepend(config.name, w, items)
              settled = true // re-carried; nothing more to do
              log.warn(s"pipeline ${config.name}: watchdog drain flush failed for " +
                s"worker $w; ${items.size} items re-carried")
            }
          } finally flusher.close()
        } catch {
          case scala.util.control.NonFatal(e) if !settled =>
            // create/open failed before the flush loop ran: re-carry so
            // the items retry at the next drain or micro-batch
            CarryBuffers.prepend(config.name, w, items)
            log.warn(s"pipeline ${config.name}: carry drain for worker $w failed " +
              s"before flushing; ${items.size} items re-carried", e)
          case scala.util.control.NonFatal(e) =>
            // close() failed after delivery — re-carrying would duplicate
            log.warn(s"pipeline ${config.name}: flusher close failed after " +
              s"carry drain for worker $w", e)
        }
      }
    }
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
    if (config.deferSmallBatches) drainCarries(overdueOnly = false)
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
      if (waitForCompletion) BatchPipeline.raised(source.draining)(query.processAllAvailable())
      if (watchdog != null) {
        // graceful: an in-progress watchdog drain has already taken items
        // from the registry — interrupting it mid-flush would lose them
        watchdog.shutdown()
        watchdog.awaitTermination(
          config.stopTimeout.toMillis, java.util.concurrent.TimeUnit.MILLISECONDS)
        watchdog = null
      }
      // graceful stop drains the deferred carry too; stop(false) drops it
      // (v3 stop(false) semantics: no drain)
      if (config.deferSmallBatches && waitForCompletion) drainCarries(overdueOnly = false)
      query.stop()
      query.awaitTermination(config.stopTimeout.toMillis)
      spark.streams.removeListener(listener)
      Limiters.remove(config.name)
      CarryBuffers.remove(config.name)
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

/** JVM-static carry buffers for the A8 deferred-flush gate — the
  * persistent per-worker `buffer` of v1's InnerEventHandler, keyed
  * (pipeline name, worker index). Same process-local registry pattern as
  * [[Limiters]]: exact in local/single-JVM mode (the reference's own
  * process model); on a multi-JVM cluster each executor defers its own
  * workers' carries and the driver-side force-drains only see driver-JVM
  * state — deferSmallBatches is documented single-JVM for that reason.
  * All ops are atomic under one lock (worker counts are tiny). */
private[graft] object CarryBuffers {
  private final class Entry(var items: Vector[Any], var lastFlushMs: Long)
  private val m = scala.collection.mutable.Map[(String, Int), Entry]()

  /** Remove and return the worker's carry + its last-flush time. First
    * touch initializes lastFlush to `now` (defer a full interval from
    * startup rather than force-flushing the first run). */
  def take(name: String, w: Int, now: Long): (Vector[Any], Long) = synchronized {
    val e = m.getOrElseUpdate((name, w), new Entry(Vector.empty, now))
    val items = e.items
    e.items = Vector.empty
    (items, e.lastFlushMs)
  }

  def put(name: String, w: Int, items: Seq[Any]): Unit = synchronized {
    m((name, w)).items = items.toVector // entry exists: take() ran first
  }

  /** Re-carry items taken by a failed drain, AHEAD of anything carried
    * since (the taken items are older — preserves per-worker order). */
  def prepend(name: String, w: Int, items: Seq[Any]): Unit = synchronized {
    val e = m((name, w))
    e.items = items.toVector ++ e.items
  }

  def markFlushed(name: String, w: Int, now: Long): Unit = synchronized {
    m.get((name, w)).foreach(_.lastFlushMs = now)
  }

  /** Remove and return non-empty carries for `name`; with
    * `overdueAfterMs` set, only workers whose last flush is at least
    * that old (the interval arm of the v1 predicate). Overdue workers
    * with an EMPTY carry get their clock refreshed instead — v1's
    * `flush()` updates `lastUpdateTime` even on an empty buffer
    * (InnerEventHandler.java:66-69, reached from onTimeout), so after
    * an idle stretch a fresh sub-min batch still DEFERS a full interval
    * rather than flushing against a stale clock. */
  def drain(name: String, overdueAfterMs: Option[Long], now: Long): Seq[(Int, Vector[Any])] =
    synchronized {
      val overdue = m.iterator.collect {
        case ((n, w), e)
            if n == name && overdueAfterMs.forall(d => now - e.lastFlushMs >= d) =>
          (w, e.items)
      }.toVector
      overdue.foreach { case (w, _) =>
        val e = m((name, w))
        e.items = Vector.empty
        e.lastFlushMs = now
      }
      overdue.filter(_._2.nonEmpty)
    }

  def remove(name: String): Unit = synchronized {
    m.filterInPlace { case ((n, _), _) => n != name }
  }
}

object BatchPipeline {
  private def ctx(worker: Int, attempt: Int): FlushContext = new FlushContext {
    val workerIndex: Int = worker
    val retryCount: Int = attempt
  }

  /** The accumulator bundle both flush paths (partition task, driver
    * carry drain) report into. */
  private[core] final case class Counters(
      itemsFlushed: LongAccumulator,
      batchesFlushed: LongAccumulator,
      retries: LongAccumulator,
      itemsDropped: LongAccumulator,
      workerItems: WorkerCountAccumulator,
      workerBatches: WorkerCountAccumulator)

  /** A12-A15: rate/concurrency-limited flush with bounded retry then
    * drop-and-warn. One code path for micro-batch tasks and driver-side
    * carry drains, so retries/drops/stats behave identically. */
  /** Returns true iff the batch needs no further handling (flushed, or
    * dropped with accounting). With `dropOnExhaustion=false` the batch is
    * returned to the caller un-accounted on exhaustion (return false) —
    * the watchdog drain uses this with `retryBudget=0` so a failing sink
    * cannot hold the micro-batch lock for maxRetryCount × retryDelay
    * (the items re-carry and retry at the next tick or micro-batch). */
  private[core] def flushWithRetry[T](
      cfg: PipelineConfig,
      flusher: Flusher[T],
      limiters: Limiters,
      workerIndex: Int,
      batch: Seq[T],
      counters: Counters,
      log: org.slf4j.Logger,
      retryBudget: Int = -1,
      dropOnExhaustion: Boolean = true): Boolean = {
    val budget = if (retryBudget < 0) cfg.maxRetryCount else retryBudget
    var attempt = 0
    var lastError: Throwable = null
    while (true) {
      limiters.acquireRate(batch.size)   // A13/A14
      limiters.concurrency.acquire()     // A12
      val ok =
        try { flusher.flush(batch, ctx(workerIndex, attempt)); true }
        catch { case scala.util.control.NonFatal(e) => lastError = e; false }
        finally limiters.concurrency.release()
      if (ok) {
        counters.itemsFlushed.add(batch.size); counters.batchesFlushed.add(1)
        counters.workerItems.add((workerIndex, batch.size.toLong))
        counters.workerBatches.add((workerIndex, 1L))
        return true
      } else if (attempt >= budget) {
        if (!dropOnExhaustion) {
          // the batch re-carries and will re-acquire rate when retried —
          // refund this attempt's tokens so a failing sink doesn't
          // double-charge the shared budget every watchdog tick
          limiters.refundRate(batch.size)
          return false
        }
        // A15 exhaustion: discard AND warn (v2 Worker.java:290-291)
        log.warn(s"pipeline ${cfg.name}: dropping batch of ${batch.size} " +
          s"after ${attempt + 1} attempts", lastError)
        counters.itemsDropped.add(batch.size)
        return true
      } else {
        attempt += 1; counters.retries.add(1)
        Thread.sleep(cfg.retryDelay.toMillis)
      }
    }
    false // unreachable
  }

  /** A8 min-batch gate: merge a run smaller than `min` into its
    * predecessor when the merged size still fits `max`. (Deferring a
    * small batch to the NEXT trigger would need cross-batch state; the
    * reference's interval arm flushes it anyway — this only smooths
    * batch sizes within one micro-batch partition.) */
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

  /** A6/A7: a `MemoryStream` with `numWorkers` partitions whose
    * `latestOffset` holds the rows past `start` until a cut is due, then
    * admits all of them. A cut is due when the held rows reach
    * `min(numWorkers × maxBatchSize, maxPendingRows)` or a producer
    * waits on capacity (size), when `trigger` has passed since the last
    * cut (time), or while `flush()`/`stop()` drains. Ids count down from
    * -1: `MemoryStream.apply` counts up from 0, and streams compare equal
    * by (id, session, partitions). */
  private[core] final class GatedSource[T: Encoder](spark: SparkSession, cfg: PipelineConfig)
      extends MemoryStream[T](gatedIds.decrementAndGet(), spark, Some(cfg.numWorkers)) {
    private val sizeCut = math.min(cfg.numWorkers.toLong * cfg.maxBatchSize, cfg.maxPendingRows)
    private val timeCutNs = cfg.trigger.toNanos
    private var lastCutNs = System.nanoTime()
    /** Producers waiting on capacity; flush()/stop() barriers in progress. */
    val waiting, draining = new AtomicInteger(0)

    override def latestOffset(start: Offset, limit: ReadLimit): Offset = synchronized {
      val from = start.asInstanceOf[LongOffset].offset
      // `batches` holds one block per offset past the last commit
      val held = batches.iterator.drop((from - lastOffsetCommitted.offset).toInt)
        .map(_.length.toLong).sum
      val now = System.nanoTime()
      if (held > 0 && (held >= sizeCut || waiting.get() > 0 ||
          now - lastCutNs >= timeCutNs || draining.get() > 0)) {
        lastCutNs = now
        currentOffset
      } else if (from < 0) null // nothing admitted yet: no offset
      else start
    }
  }

  def apply[T: Encoder](spark: SparkSession, config: PipelineConfig,
      factory: FlusherFactory[T]): BatchPipeline[T] =
    new BatchPipeline[T](spark, config, factory)
}
