package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import graft.core._

/** Parity tests for the reference's three test scenarios (SURVEY.md §5.2)
  * with logical assertions instead of wall-clock ones, plus the admission
  * and atomicity contracts. Sinks record into JVM-static state — valid in
  * local mode where executors share the JVM.
  */
object PipelineSpec {
  val delivered = new ConcurrentLinkedQueue[String]()
  val batchSizes = new ConcurrentLinkedQueue[Int]()
  val attempts = new AtomicInteger(0)
  val opened = new AtomicInteger(0)
  val closed = new AtomicInteger(0)
  val inFlight = new AtomicInteger(0)
  val maxInFlight = new AtomicInteger(0)

  /** (micro-batch id, worker, item) per delivered item, in sink-call order. */
  val sharded = new ConcurrentLinkedQueue[(Long, Int, String)]()
  /** Items of batches the seeded sink fails on every attempt. */
  val failedItems = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  val failedBatches = new AtomicInteger(0)

  def reset(): Unit = {
    delivered.clear(); batchSizes.clear(); attempts.set(0)
    opened.set(0); closed.set(0); inFlight.set(0); maxInFlight.set(0)
    sharded.clear(); failedItems.clear(); failedBatches.set(0)
  }

  class RecordingFlusher(failFirst: Int = 0, sleepMs: Long = 0) extends Flusher[String] {
    override def open(workerIndex: Int): Unit = opened.incrementAndGet()
    override def close(): Unit = closed.incrementAndGet()
    override def flush(batch: Seq[String], ctx: FlushContext): Unit = {
      val cur = inFlight.incrementAndGet()
      maxInFlight.updateAndGet(m => math.max(m, cur))
      try {
        if (sleepMs > 0) Thread.sleep(sleepMs)
        if (attempts.incrementAndGet() <= failFirst) throw new RuntimeException("injected failure")
        batch.foreach(delivered.add)
        batchSizes.add(batch.size)
      } finally inFlight.decrementAndGet()
    }
  }

  class ShardRecordingFlusher extends Flusher[String] {
    override def flush(batch: Seq[String], ctx: FlushContext): Unit = {
      // the micro-batch id Spark's streaming engine sets on its jobs
      val mb = org.apache.spark.TaskContext.get().getLocalProperty("streaming.sql.batchId").toLong
      batch.foreach(i => sharded.add((mb, ctx.workerIndex, i)))
    }
  }

  /** Fails every attempt at a seeded quarter of the batches (keyed by the
    * batch's first item, so a batch fails the same way on each retry). */
  class SeededFailFlusher(seed: Int) extends Flusher[String] {
    override def flush(batch: Seq[String], ctx: FlushContext): Unit = {
      if (Math.floorMod(scala.util.hashing.MurmurHash3.stringHash(batch.head, seed), 4) == 0) {
        if (ctx.retryCount == 0) failedBatches.incrementAndGet()
        batch.foreach(failedItems.add)
        throw new RuntimeException("seeded permanent failure")
      }
      batch.foreach(delivered.add)
    }
  }

  /** Counts the jobs submitted from `since` (epoch ms), the stages that
    * ran and the shuffle bytes they wrote for one streaming query, from
    * listener events. */
  final class StreamJobRecorder(queryId: String, since: Long = 0L)
      extends org.apache.spark.scheduler.SparkListener {
    import org.apache.spark.scheduler._
    val jobs = new AtomicInteger(0)
    val stagesRun = new AtomicInteger(0)
    val shuffleBytes = new AtomicLong(0)
    private val stageIds = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    @volatile private var barrierSeen = false

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val prop = (k: String) => Option(e.properties).map(_.getProperty(k)).orNull
      if (prop("sql.streaming.queryId") == queryId && e.time >= since) {
        jobs.incrementAndGet(); e.stageIds.foreach(stageIds.add)
      } else if (prop("spark.jobGroup.id") == "pipeline-spec-barrier") barrierSeen = true
    }
    // skipped stages never complete, so this counts the stages that ran
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (stageIds.contains(e.stageInfo.stageId)) {
        stagesRun.incrementAndGet()
        shuffleBytes.addAndGet(e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      }

    /** Returns once the listener has seen every event posted before the
      * call: a marker job's start is delivered after all of them. */
    def barrier(spark: org.apache.spark.sql.SparkSession): Unit = {
      val sc = spark.sparkContext
      sc.setJobGroup("pipeline-spec-barrier", "listener barrier")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 10000
      while (!barrierSeen && System.currentTimeMillis() < deadline) Thread.sleep(10)
      assert(barrierSeen, "listener bus did not deliver the barrier job within 10 s")
    }
  }
}

class PipelineSpec extends SparkSpec {
  import PipelineSpec._

  private var n = 0
  private def freshName(): String = { n += 1; s"pipe-spec-$n" }

  private def pipeline(cfg: PipelineConfig, failFirst: Int = 0, sleepMs: Long = 0) =
    pipelineWith(cfg, () => new RecordingFlusher(failFirst, sleepMs))

  private def pipelineWith(cfg: PipelineConfig, sink: () => Flusher[String]) = {
    import spark.implicits._
    reset()
    BatchPipeline[String](spark, cfg, FlusherFactory(sink))
  }

  test("completeness: every item delivered exactly once, batches bounded (ref test #1)") {
    val cfg = PipelineConfig(name = freshName(), maxBatchSize = 256, maxConcurrency = 4,
      numWorkers = 2, flushInterval = 100.millis)
    val p = pipeline(cfg).start()
    val items = (1 to 10000).map(i => s"item-$i")
    p.putAll(items)
    p.flush()
    p.stop()
    assert(delivered.asScala.toSet == items.toSet)
    assert(delivered.size == items.size) // no duplicates without retries
    assert(batchSizes.asScala.forall(_ <= 256))
    val st = p.stat()
    assert(st.itemsIn == 10000 && st.itemsFlushed == 10000 && st.itemsDropped == 0)
    assert(st.pending == 0)
    // A18 per-worker granularity: worker counts partition the globals
    assert(st.perWorkerItemsFlushed.values.sum == st.itemsFlushed)
    assert(st.perWorkerBatchesFlushed.values.sum == st.batchesFlushed)
    assert(st.perWorkerItemsFlushed.nonEmpty)
  }

  test("time-based flush: stragglers below maxBatchSize are delivered (ref test #2)") {
    val cfg = PipelineConfig(name = freshName(), maxBatchSize = 1024, flushInterval = 100.millis)
    val p = pipeline(cfg).start()
    p.put("a"); p.put("b"); p.put("c")
    p.flush()
    assert(delivered.asScala.toSet == Set("a", "b", "c"))
    p.stop()
  }

  test("bounded retry then success: at-least-once, retries counted (ref v2 test)") {
    val cfg = PipelineConfig(name = freshName(), maxRetryCount = 3, retryDelay = 10.millis,
      flushInterval = 100.millis)
    val p = pipeline(cfg, failFirst = 2).start()
    p.putAll((1 to 10).map(_.toString))
    p.flush()
    p.stop()
    val st = p.stat()
    assert(st.retries == 2)
    assert(delivered.asScala.toSet == (1 to 10).map(_.toString).toSet)
    assert(st.itemsFlushed == 10 && st.itemsDropped == 0)
  }

  test("retry exhaustion: batch dropped with accounting, pipeline survives (ref discard-and-warn)") {
    val cfg = PipelineConfig(name = freshName(), maxRetryCount = 2, retryDelay = 10.millis,
      flushInterval = 100.millis)
    val p = pipeline(cfg, failFirst = Int.MaxValue).start()
    p.putAll((1 to 5).map(_.toString))
    p.flush()
    val st = p.stat()
    assert(st.itemsDropped == 5 && st.itemsFlushed == 0)
    assert(st.retries == 2) // maxRetryCount attempts after the first
    // pipeline still alive: later data flows (flusher keeps failing, but
    // the query must not have died)
    p.put("x")
    p.flush()
    assert(p.stat().itemsDropped == 6)
    p.stop()
  }

  test("concurrency limiter: in-flight flushes never exceed maxConcurrency (A12)") {
    val cfg = PipelineConfig(name = freshName(), maxBatchSize = 100, maxConcurrency = 2,
      numWorkers = 4, flushInterval = 100.millis)
    val p = pipeline(cfg, sleepMs = 50).start()
    p.putAll((1 to 2000).map(i => s"i$i"))
    p.flush()
    p.stop()
    assert(maxInFlight.get() <= 2, s"observed ${maxInFlight.get()} concurrent flushes")
    assert(delivered.size == 2000)
  }

  test("tryPut honors capacity; tryPutAll is all-or-nothing (A2/A4)") {
    val cfg = PipelineConfig(name = freshName(), maxPendingRows = 10,
      flushInterval = 50.millis, blockOnFull = false)
    val p = pipeline(cfg).start()
    assert(p.tryPutAll((1 to 10).map(_.toString))) // exactly at capacity
    // buffer full now (until the trigger drains it): both forms must refuse
    val refused = !p.tryPut("overflow")
    val refusedBulk = !p.tryPutAll(Seq("o1", "o2"))
    // after a drain, capacity is back
    p.flush()
    val acceptedAfterDrain = p.tryPut("late")
    p.flush()
    p.stop()
    assert(refused && refusedBulk && acceptedAfterDrain)
    assert(delivered.asScala.toSet == ((1 to 10).map(_.toString).toSet + "late"))
  }

  test("worker lifecycle: open/close per worker per micro-batch (A19)") {
    val cfg = PipelineConfig(name = freshName(), flushInterval = 100.millis)
    val p = pipeline(cfg).start()
    p.putAll((1 to 50).map(_.toString))
    p.flush()
    p.stop()
    assert(opened.get() > 0 && opened.get() == closed.get())
  }

  test("stop rejects new puts (A17 drain contract)") {
    val cfg = PipelineConfig(name = freshName(), flushInterval = 100.millis)
    val p = pipeline(cfg).start()
    p.put("a")
    p.stop()
    intercept[IllegalStateException] { p.put("b") }
    assert(delivered.asScala.toSet == Set("a")) // drained before stop
  }

  test("put throws on a full buffer when blockOnFull=false (no silent overrun)") {
    // capacity 0: admission is ALWAYS full, independent of trigger timing
    val cfg = PipelineConfig(name = freshName(), maxPendingRows = 0,
      flushInterval = 100.millis, blockOnFull = false)
    val p = pipeline(cfg).start()
    val e = intercept[IllegalStateException] { p.put("overflow") }
    assert(e.getMessage.contains("buffer full"))
    assert(!p.tryPut("x") && !p.tryPutAll(Seq("y")))
    assert(p.stat().pending == 0) // counter not corrupted by the refusals
    p.stop()
    assert(delivered.isEmpty)
  }

  test("stop() wakes a producer blocked on capacity (throws, no hang/loss)") {
    val cfg = PipelineConfig(name = freshName(), maxPendingRows = 0,
      flushInterval = 100.millis, blockOnFull = true)
    val p = pipeline(cfg).start()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val blocked = Future(intercept[IllegalStateException] { p.put("x") })
    Thread.sleep(300) // let it block on (permanently zero) capacity
    p.stop()
    val e = Await.result(blocked, 10.seconds)
    // either blocked-then-woken or raced with the state flip — both must
    // surface as IllegalStateException, never a hang or silent success
    assert(e.getMessage.contains("stopped while blocked") || e.getMessage.contains("not started"))
  }

  test("coalesceSmall merges trailing sub-min runs that fit, never exceeds max") {
    import graft.core.BatchPipeline.coalesceSmall
    assert(coalesceSmall(Iterator(Seq(1, 2, 3), Seq(4, 5, 6), Seq(7)), 2, 4).toList ==
      List(Seq(1, 2, 3), Seq(4, 5, 6, 7)))
    // full predecessor: small run stays separate rather than exceeding max
    assert(coalesceSmall(Iterator(Seq(1, 2, 3, 4), Seq(5)), 2, 4).toList ==
      List(Seq(1, 2, 3, 4), Seq(5)))
    // big-enough trailing run untouched
    assert(coalesceSmall(Iterator(Seq(1, 2), Seq(3, 4)), 2, 4).toList ==
      List(Seq(1, 2), Seq(3, 4)))
    assert(coalesceSmall(Iterator.empty[Seq[Int]], 2, 4).toList == Nil)
  }

  test("single worker preserves arrival order (per-worker FIFO)") {
    val cfg = PipelineConfig(name = freshName(), numWorkers = 1, maxConcurrency = 1,
      maxBatchSize = 64, flushInterval = 100.millis)
    val p = pipeline(cfg).start()
    val items = (1 to 500).map(i => f"o$i%05d")
    p.putAll(items)
    p.flush()
    p.stop()
    assert(delivered.asScala.toList == items.toList)
  }

  test("A5 sharding: rows dealt round-robin in arrival order, per-worker FIFO") {
    val cfg = PipelineConfig(name = freshName(), numWorkers = 4, maxConcurrency = 4,
      maxBatchSize = 64, flushInterval = 100.millis, triggerInterval = Some(20.millis))
    val p = pipelineWith(cfg, () => new ShardRecordingFlusher).start()
    // one producer: arrival order is id order. Single puts make many
    // source blocks per micro-batch; a flush() between rounds makes
    // several micro-batches.
    val rounds = (0 until 4).map(r => (1 to 500).map(i => f"s${r * 500 + i}%05d"))
    rounds.foreach { items => items.foreach(p.put); p.flush() }
    p.stop()
    val recs = sharded.asScala.toList
    assert(recs.map(_._3).sorted == rounds.flatten.toList) // exactly once
    recs.groupBy(_._2).foreach { case (w, rs) =>
      val ids = rs.map(_._3)
      assert(ids == ids.sorted, s"worker $w saw its items out of arrival order")
    }
    val byBatch = recs.groupBy(_._1)
    assert(byBatch.size >= rounds.size)
    byBatch.foreach { case (mb, rs) =>
      val counts = (0 until 4).map(w => rs.count(_._2 == w))
      assert(counts.max - counts.min <= 1, s"micro-batch $mb: per-worker counts $counts")
      // the k-th row to arrive in a micro-batch goes to worker k % 4
      rs.sortBy(_._3).zipWithIndex.foreach { case ((_, w, id), k) =>
        assert(w == k % 4, s"micro-batch $mb: $id (row $k) went to worker $w")
      }
    }
    val st = p.stat()
    assert(st.itemsFlushed == 2000 && st.perWorkerItemsFlushed.values.sum == st.itemsFlushed)
    assert(st.perWorkerItemsFlushed == recs.groupBy(_._2).map { case (w, rs) => w -> rs.size.toLong })
  }

  test("A5 a numWorkers=4 micro-batch is one job of one stage and writes no shuffle") {
    val cfg = PipelineConfig(name = freshName(), numWorkers = 4, maxBatchSize = 1024,
      flushInterval = 100.millis)
    val p = pipeline(cfg).start()
    val rec = new StreamJobRecorder(spark.streams.active.find(_.name == cfg.name).get.id.toString)
    spark.sparkContext.addSparkListener(rec)
    try {
      p.putAll((1 to 1000).map(i => s"n$i")) // one source block: one micro-batch
      p.flush()
      rec.barrier(spark)
    } finally spark.sparkContext.removeSparkListener(rec)
    p.stop()
    assert(delivered.size == 1000)
    assert(rec.jobs.get() == 1, s"${rec.jobs.get()} jobs for one micro-batch")
    assert(rec.stagesRun.get() == 1, s"${rec.stagesRun.get()} stages for one micro-batch")
    assert(rec.shuffleBytes.get() == 0, s"micro-batch wrote ${rec.shuffleBytes.get()} shuffle bytes")
  }

  test("ledger under drops: itemsIn == itemsFlushed + itemsDropped + pending after every flush") {
    val cfg = PipelineConfig(name = freshName(), numWorkers = 4, maxBatchSize = 50,
      maxRetryCount = 2, retryDelay = 1.millis, flushInterval = 100.millis,
      triggerInterval = Some(20.millis))
    val p = pipelineWith(cfg, () => new SeededFailFlusher(seed = 17)).start()
    val all = (1 to 6).flatMap { r =>
      val items = (1 to 500).map(i => s"l$r-$i")
      p.putAll(items)
      p.flush()
      val st = p.stat()
      assert(st.itemsIn == st.itemsFlushed + st.itemsDropped + st.pending,
        s"round $r: ledger broken: $st")
      assert(st.pending == 0)
      items
    }
    p.stop()
    val st = p.stat()
    assert(st.itemsDropped > 0 && st.itemsFlushed > 0, s"seeded failures did not split: $st")
    // every failing batch used its whole retry budget, then was dropped
    assert(st.retries == cfg.maxRetryCount.toLong * failedBatches.get())
    val ok = delivered.asScala.toSet
    assert(ok.size == delivered.size && ok.size == st.itemsFlushed) // no duplicates
    assert(failedItems.size == st.itemsDropped)
    assert(ok.intersect(failedItems.asScala).isEmpty && ok ++ failedItems.asScala == all.toSet)
  }


  private def awaitDelivered(n: Int, timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (delivered.size < n && System.currentTimeMillis() < deadline) Thread.sleep(25)
    assert(delivered.size >= n, s"only ${delivered.size}/$n delivered in ${timeoutMs}ms")
  }

  // ---- A6/A7 the source's gate: cut on size or time, hold otherwise ----
  // A 10-minute flushInterval turns the time arm off for a test's length.

  test("A6 size arm: numWorkers × maxBatchSize held rows cut a micro-batch, no flush()") {
    val cfg = PipelineConfig(name = freshName(), numWorkers = 2, maxBatchSize = 50,
      flushInterval = 10.minutes)
    val p = pipeline(cfg).start()
    val items = (1 to 100).map(i => s"z$i")
    items.init.foreach(p.put)
    Thread.sleep(500)
    assert(delivered.isEmpty, s"${delivered.size} rows cut below the size threshold")
    p.put(items.last) // the 100th row fills both workers' batches
    awaitDelivered(items.size, timeoutMs = 5000)
    assert(delivered.asScala.toSet == items.toSet && delivered.size == items.size)
    assert(batchSizes.asScala.toList == List(50, 50))
    p.stop()
  }

  test("A7 time arm: rows below the size threshold are cut once flushInterval passes") {
    val cfg = PipelineConfig(name = freshName(), numWorkers = 2, maxBatchSize = 50,
      flushInterval = 300.millis)
    val p = pipeline(cfg).start()
    p.put("a"); p.put("b"); p.put("c")
    awaitDelivered(3, timeoutMs = 300 + 2000)
    assert(delivered.asScala.toSet == Set("a", "b", "c"))
    p.stop()
  }

  test("A10 barrier: flush() delivers the rows the gate holds; the ledger balances") {
    val cfg = PipelineConfig(name = freshName(), numWorkers = 2, maxBatchSize = 50,
      flushInterval = 10.minutes)
    val p = pipeline(cfg).start()
    val items = (1 to 30).map(i => s"h$i")
    p.putAll(items)
    Thread.sleep(300)
    assert(delivered.isEmpty, "the gate cut 30 rows with both arms off")
    p.flush()
    assert(delivered.asScala.toSet == items.toSet && delivered.size == items.size)
    val st = p.stat()
    assert(st.itemsIn == st.itemsFlushed + st.itemsDropped + st.pending, s"ledger broken: $st")
    assert(st.itemsFlushed == 30 && st.pending == 0)
    p.put("tail")
    p.stop() // graceful stop opens the gate too
    assert(delivered.asScala.toSet == items.toSet + "tail")
  }

  test("A6 clamp: below numWorkers × maxBatchSize, maxPendingRows held rows cut") {
    // capacity 20 < 2 × 50: the size arm at 100 rows could never fire, so
    // a producer blocked on capacity would wait for the 10-minute arm
    val cfg = PipelineConfig(name = freshName(), numWorkers = 2, maxBatchSize = 50,
      maxPendingRows = 20, flushInterval = 10.minutes)
    val p = pipeline(cfg).start()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val items = (1 to 60).map(i => s"c$i")
    val producer = Future(items.foreach(p.put)) // blocks at the 21st and 41st
    Await.result(producer, 10.seconds)
    awaitDelivered(items.size, timeoutMs = 5000)
    assert(delivered.asScala.toSet == items.toSet)
    p.stop()
  }

  test("A6 a producer waiting on capacity makes a cut due below the size threshold") {
    // chunks of 15 against capacity 20: the second chunk waits while 15
    // rows are held, under both min(2 × 15, 20) and the 10-minute arm
    val cfg = PipelineConfig(name = freshName(), numWorkers = 2, maxBatchSize = 15,
      maxPendingRows = 20, flushInterval = 10.minutes)
    val p = pipeline(cfg).start()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val items = (1 to 30).map(i => s"w$i")
    Await.result(Future(p.putAll(items)), 10.seconds)
    awaitDelivered(15, timeoutMs = 5000)
    p.flush()
    assert(delivered.asScala.toSet == items.toSet && delivered.size == items.size)
    p.stop()
  }

  test("A7 polling the gate adds no micro-batches: an idle second launches no job") {
    val cfg = PipelineConfig(name = freshName(), numWorkers = 2, maxBatchSize = 50,
      flushInterval = 100.millis)
    val p = pipeline(cfg).start()
    p.putAll((1 to 10).map(i => s"i$i"))
    p.flush()
    val since = System.currentTimeMillis()
    val rec = new StreamJobRecorder(spark.streams.active.find(_.name == cfg.name).get.id.toString, since)
    spark.sparkContext.addSparkListener(rec)
    try {
      Thread.sleep(1000) // ~100 polls at the 10 ms polling delay
      rec.barrier(spark)
    } finally spark.sparkContext.removeSparkListener(rec)
    p.stop()
    assert(delivered.size == 10)
    assert(rec.jobs.get() == 0, s"${rec.jobs.get()} jobs while the pipeline was idle")
  }

  test("A8 literal gate: sub-min runs defer across micro-batches until minBatchSize reached") {
    // time arm effectively off (long flushInterval); trigger much faster,
    // so deferral is observable across several micro-batch boundaries
    val cfg = PipelineConfig(name = freshName(), minBatchSize = 5, maxBatchSize = 1024,
      flushInterval = 30.seconds, triggerInterval = Some(100.millis))
    val p = pipeline(cfg).start()
    (1 to 3).foreach(i => p.put(s"a$i"))
    // several triggers pass; 3 < minBatchSize and interval not elapsed →
    // nothing may flush (this is the behavior change the gate buys)
    Thread.sleep(600)
    assert(delivered.isEmpty, s"sub-min batch flushed early: ${delivered.asScala.toList}")
    (1 to 3).foreach(i => p.put(s"b$i"))
    // carry (3) + new (3) crosses the gate → flushes as one batch ≥ min
    awaitDelivered(5)
    assert(batchSizes.asScala.forall(_ >= 5),
      s"a sub-min batch was flushed with the time arm off: ${batchSizes.asScala.toList}")
    p.flush() // drains any pathological split remainder
    p.stop()
    assert(delivered.asScala.toSet == ((1 to 3).map(i => s"a$i") ++ (1 to 3).map(i => s"b$i")).toSet)
    val st = p.stat()
    assert(st.itemsFlushed == 6 && st.itemsDropped == 0)
  }

  test("A8 time arm: an idle deferred carry force-flushes after flushInterval (idle time arm)") {
    val cfg = PipelineConfig(name = freshName(), minBatchSize = 100, maxBatchSize = 1024,
      flushInterval = 400.millis, triggerInterval = Some(100.millis))
    val p = pipeline(cfg).start()
    p.put("x"); p.put("y")
    // 2 << minBatchSize and no more data arrives: only the source's
    // force arm (flushInterval since the last cut or empty poll) admits
    // these two rows
    awaitDelivered(2, timeoutMs = 5000)
    assert(delivered.asScala.toSet == Set("x", "y"))
    p.stop()
  }

  test("A8 carry clock: an overdue-empty worker is refreshed, not flushed (interval-armed watchdog)") {
    // v1's flush() updates lastUpdateTime even on an empty buffer, so a
    // sub-min batch arriving after a long idle stretch still defers a
    // full interval instead of flushing against a stale clock
    val cfg = PipelineConfig(name = freshName(), minBatchSize = 5, maxBatchSize = 1024,
      flushInterval = 400.millis, triggerInterval = Some(100.millis))
    val p = pipeline(cfg).start()
    Thread.sleep(1000) // idle well past flushInterval
    val t0 = System.currentTimeMillis()
    p.put("x")
    Thread.sleep(250)
    assert(delivered.isEmpty, s"a sub-min row flushed ${System.currentTimeMillis() - t0} ms after an idle stretch")
    awaitDelivered(1, timeoutMs = 2000 - (System.currentTimeMillis() - t0))
    p.stop()
    assert(delivered.asScala.toList == List("x"))
  }

  test("A8 defer with multiple workers: per-worker carries, exactly-once drain") {
    val cfg = PipelineConfig(name = freshName(), numWorkers = 3, minBatchSize = 50,
      maxBatchSize = 1024, flushInterval = 30.seconds,
      triggerInterval = Some(100.millis))
    val p = pipeline(cfg).start()
    val items = (1 to 40).map(i => s"w$i")
    p.putAll(items) // round-robined over 3 workers, each share < minBatchSize
    Thread.sleep(500)
    assert(delivered.isEmpty, s"sub-min per-worker batches flushed early")
    p.flush() // drains every worker's carry
    assert(delivered.asScala.toSet == items.toSet)
    assert(delivered.size == items.size) // exactly once across 3 carries
    p.stop()
    val st = p.stat()
    assert(st.itemsFlushed == 40 && st.itemsDropped == 0)
    assert(st.perWorkerItemsFlushed.values.sum == 40)
  }

  test("A8 defer: flush() and graceful stop() drain the carry (no stranded items)") {
    val cfg = PipelineConfig(name = freshName(), minBatchSize = 50, maxBatchSize = 1024,
      flushInterval = 30.seconds, triggerInterval = Some(100.millis))
    val p = pipeline(cfg).start()
    p.put("only")
    p.flush() // must force-drain the sub-min carry
    assert(delivered.asScala.toSet == Set("only"))
    p.put("tail")
    p.stop() // graceful stop drains too
    assert(delivered.asScala.toSet == Set("only", "tail"))
    assert(p.stat().itemsFlushed == 2)
  }

  test("A8 held sub-min rows launch no job") {
    val cfg = PipelineConfig(name = freshName(), minBatchSize = 50, maxBatchSize = 1024,
      flushInterval = 30.seconds, triggerInterval = Some(100.millis))
    val p = pipeline(cfg).start()
    val rec = new StreamJobRecorder(spark.streams.active.find(_.name == cfg.name).get.id.toString)
    spark.sparkContext.addSparkListener(rec)
    try {
      p.putAll((1 to 10).map(i => s"j$i"))
      Thread.sleep(1000) // ten trigger periods with 10 < minBatchSize rows held
      rec.barrier(spark)
    } finally spark.sparkContext.removeSparkListener(rec)
    assert(rec.jobs.get() == 0, s"${rec.jobs.get()} jobs while only sub-min rows were held")
    assert(delivered.isEmpty)
    p.stop()
    assert(delivered.size == 10)
  }

  test("A8 size cut admits whole rounds and holds a tail that would leave a short run") {
    // 130 rows in chunks of 50, 50, 30: a cut of 100 gives each of the 2
    // workers a full run of 50; 130 or 50 would give them runs of 15 or 25
    val cfg = PipelineConfig(name = freshName(), numWorkers = 2, maxBatchSize = 50,
      minBatchSize = 40, flushInterval = 10.minutes)
    val p = pipeline(cfg).start()
    val items = (1 to 130).map(i => s"r$i")
    p.putAll(items)
    awaitDelivered(100, timeoutMs = 5000)
    Thread.sleep(300)
    assert(delivered.size == 100, s"${delivered.size} rows delivered before flush()")
    assert(batchSizes.asScala.forall(_ >= 40), s"short batch before flush(): ${batchSizes.asScala.toList}")
    p.flush()
    assert(delivered.asScala.toSet == items.toSet && delivered.size == items.size)
    p.stop()
  }

  /** The checkpoint directories in `java.io.tmpdir`. */
  private def checkpointDirs(): Set[java.io.File] =
    Option(new java.io.File(System.getProperty("java.io.tmpdir")).listFiles())
      .map(_.filter(_.getName.startsWith("graft-pipeline-ckpt-")).toSet).getOrElse(Set.empty)

  test("micro-batches fork no process") {
    import jdk.jfr.Recording
    import jdk.jfr.consumer.RecordingFile
    val cfg = PipelineConfig(name = freshName(), flushInterval = 100.millis)
    val p = pipeline(cfg).start()
    p.put("warm-up")
    p.flush()
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    val dump = java.nio.file.Files.createTempFile("pipeline-forks", ".jfr")
    try {
      rec.start()
      (1 to 20).foreach { i => p.put(s"c$i"); p.flush() }
      // control: one fork through Hadoop, so a recording that sees no
      // process start at all cannot pass
      org.apache.hadoop.util.Shell.execCommand("true")
      rec.stop()
      rec.dump(dump)
      val hadoopForks = RecordingFile.readAllEvents(dump).asScala.filter { e =>
        Option(e.getStackTrace).exists(_.getFrames.asScala.exists(
          _.getMethod.getType.getName.startsWith("org.apache.hadoop")))
      }
      val (control, strays) = hadoopForks.map(_.getString("command")).partition(_ == "true")
      assert(control.size == 1, "the recording saw no control fork")
      assert(strays.size == 0, s"${strays.size} Hadoop forks during 20 micro-batches, " +
        s"first: ${strays.take(3).mkString("; ")}")
    } finally {
      rec.close()
      java.nio.file.Files.deleteIfExists(dump)
      p.stop()
    }
    assert(delivered.size == 21)
  }

  test("the checkpoint directory is gone after stop() and after stop(false)") {
    for (graceful <- Seq(true, false)) {
      val before = checkpointDirs()
      val p = pipeline(PipelineConfig(name = freshName(), flushInterval = 100.millis)).start()
      p.put("x")
      p.flush()
      val dirs = checkpointDirs() -- before
      assert(dirs.size == 1, s"expected one new checkpoint directory, saw $dirs")
      assert(Set("offsets", "commits").subsetOf(dirs.head.list().toSet),
        s"no logs in ${dirs.head}: ${dirs.head.list().toList}")
      p.stop(graceful)
      assert(!dirs.head.exists(), s"${dirs.head} left after stop($graceful)")
    }
  }

  test("file: resolves to the same file systems before and after a pipeline starts") {
    import org.apache.hadoop.fs.{AbstractFileSystem, FileSystem}
    val file = java.net.URI.create("file:///")
    def resolved() = Seq(spark.sparkContext.hadoopConfiguration, spark.sessionState.newHadoopConf())
      .flatMap(conf => Seq(FileSystem.getFileSystemClass("file", conf),
        AbstractFileSystem.get(file, conf).getClass))
    val before = resolved()
    val p = pipeline(PipelineConfig(name = freshName(), flushInterval = 100.millis)).start()
    try {
      p.put("x")
      p.flush()
      assert(resolved() == before)
      assert(!before.exists(_.getName.startsWith("graft.")), before)
    } finally p.stop()
  }

  // ---- A13/A14 rate limiting (≅ reference MixedLimiter.java:11-43) ----
  // Wall-clock LOWER bounds only: host noise makes things slower, never
  // faster, so "N acquisitions cannot finish before the bucket refills"
  // is robust where an upper bound would flake.

  private def timed(body: => Unit): Long = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1000000L
  }

  test("A13 TPS bucket: batch admissions beyond the burst wait for refill") {
    val lim = new Limiters(maxConcurrency = 64, tps = 20.0, ips = 0.0)
    // burst capacity = 20 (1s of rate); 31 one-batch acquisitions need
    // the burst plus 11 refilled tokens → ≥ 11/20 = 0.55s of waiting
    val ms = timed { (1 to 31).foreach(_ => lim.acquireRate(1)) }
    assert(ms >= 500, s"31 batches at tps=20 finished in ${ms}ms — bucket not limiting")
  }

  test("A14 IPS bucket: item admissions beyond the burst wait for refill") {
    val lim = new Limiters(maxConcurrency = 64, tps = 0.0, ips = 200.0)
    // burst 200 items; 5 batches × 100 = 500 items → 300 over burst →
    // ≥ 300/200 = 1.5s of waiting
    val ms = timed { (1 to 5).foreach(_ => lim.acquireRate(100)) }
    assert(ms >= 1400, s"500 items at ips=200 finished in ${ms}ms — bucket not limiting")
  }

  test("A13/A14 rate ≤ 0 disables the bucket (no blocking)") {
    val lim = new Limiters(maxConcurrency = 64, tps = 0.0, ips = 0.0)
    val ms = timed { (1 to 10000).foreach(_ => lim.acquireRate(1000)) }
    assert(ms < 2000, s"disabled limiter blocked for ${ms}ms")
  }

  test("oversize request is granted as debt and charged to later acquisitions") {
    val bucket = new TokenBucket(100.0)
    // n=150 > burst(100): granted at full bucket, tokens → -50
    val first = timed { bucket.acquire(150.0) }
    assert(first < 500, s"oversize grant blocked ${first}ms — debt rule broken (would deadlock)")
    // paying the debt: next 50 tokens need (50+50)/100 = 1.0s
    val second = timed { bucket.acquire(50.0) }
    assert(second >= 900, s"debt not charged: follow-up acquired in ${second}ms")
  }

  test("refund returns an acquisition's tokens (watchdog re-carry does not double-charge)") {
    val lim = new Limiters(maxConcurrency = 64, tps = 0.0, ips = 100.0)
    lim.acquireRate(100) // drain the burst
    lim.refundRate(100)  // failed single-attempt drain refunds
    // with the refund the next 100-item batch draws on a full bucket; a
    // double-charge would force a ~1s refill wait here
    val ms = timed { lim.acquireRate(100) }
    assert(ms < 500, s"refunded tokens not restored: re-acquire blocked ${ms}ms")
  }

  test("refund is capped at capacity (cannot mint tokens beyond one burst)") {
    val bucket = new TokenBucket(100.0)
    bucket.acquire(100.0)
    bucket.refund(100.0); bucket.refund(100.0) // double refund must not stack
    bucket.acquire(100.0) // free: the (capped) refund restored one burst
    // bucket now empty again — the second refund must NOT have left extra
    val ms = timed { bucket.acquire(50.0) }
    assert(ms >= 400, s"refund minted tokens: 50 over empty bucket acquired in ${ms}ms")
  }

  test("rate-limited pipeline end-to-end: delivery completes and is complete") {
    val cfg = PipelineConfig(name = freshName(), maxBatchSize = 10,
      triggerInterval = Some(50.millis),
      maxBatchesPerSecond = 50.0, maxItemsPerSecond = 1000.0)
    val p = pipeline(cfg).start()
    (1 to 200).foreach(i => p.put(s"i$i"))
    p.flush()
    p.stop()
    assert(delivered.size == 200, s"rate limiting lost items: ${delivered.size}/200")
    assert(p.stat().itemsFlushed == 200)
  }
}
