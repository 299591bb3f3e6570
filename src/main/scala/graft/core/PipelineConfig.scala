package graft.core

import scala.concurrent.duration._

/** Pipeline configuration — the engine's analogue of the reference's
  * config surface (union of all three generations, v3 names winning):
  *
  *  - `numWorkers`        ≅ workerCount (v3 BatchProcessorConfig.java:17)
  *  - `maxPendingRows`    ≅ ringBufferSize=65536 (v3 BatchProcessorConfig.java:19)
  *  - `maxBatchSize`      ≅ maxBatchSize=1024 (v3 BatchProcessorConfig.java:20)
  *  - `minBatchSize`      ≅ v1 minBatchSize (core/BatchProcessorProperties.java:17).
  *    It selects the source's cut rule: at 1 (the default) a size or
  *    time cut admits every held row; above 1 it admits only the longest
  *    prefix that leaves no worker a run below `minBatchSize` — v1's
  *    `endOfBatch && (size >= minBatchSize || elapsed >= forceFlushInterval)`
  *    (core/InnerEventHandler.java:54-58) — and holds the rest until
  *    more rows arrive, `flushInterval` passes, or `flush()`/`stop()`
  *    drains (see [[BatchPipeline]])
  *  - `maxConcurrency`    ≅ maxConcurrency=16 (v3 BatchProcessorConfig.java:21)
  *  - `flushInterval`     ≅ flushInterval=1s (v3 BatchProcessorConfig.java:24)
  *  - `maxRetryCount`     ≅ maxRetryCount=3 (v3 BatchProcessorConfig.java:23)
  *  - `retryDelay`        ≅ the delayMills arg of context.retry (v2 Flusher.java:57)
  *  - `maxBatchesPerSecond` ≅ v1 tps (core/BatchProcessorProperties.java:29)
  *  - `maxItemsPerSecond` ≅ v1 ips (core/BatchProcessorProperties.java:33)
  *  - `blockOnFull`       ≅ v1 blockOnInsufficientCapacity
  *  - `stopTimeout`       ≅ closeWaitTimeoutMills=5s (v3 BatchProcessorConfig.java:26)
  *  - `triggerInterval`   — the time arm of the source's cut: the
  *    longest a micro-batch waits after the previous one's cut when its
  *    rows stay below the size threshold (`numWorkers × maxBatchSize`,
  *    at most `maxPendingRows`), which cuts at once. Not a fixed
  *    cadence: a full micro-batch does not wait for it. Set it below
  *    `flushInterval` when the `minBatchSize` hold should be observable
  *    (cuts must come faster than the force-flush interval, mirroring
  *    v1 where endOfBatch fires far more often than forceFlushInterval).
  *    Defaults to `flushInterval`.
  *
  * Rates ≤ 0 mean unlimited.
  */
final case class PipelineConfig(
    name: String = "graft",
    numWorkers: Int = 1,
    maxPendingRows: Long = 65536,
    maxBatchSize: Int = 1024,
    minBatchSize: Int = 1,
    maxConcurrency: Int = 16,
    flushInterval: FiniteDuration = 1.second,
    maxRetryCount: Int = 3,
    retryDelay: FiniteDuration = 100.millis,
    maxBatchesPerSecond: Double = 0.0,
    maxItemsPerSecond: Double = 0.0,
    blockOnFull: Boolean = true,
    stopTimeout: FiniteDuration = 5.seconds,
    triggerInterval: Option[FiniteDuration] = None) {
  require(numWorkers > 0 && maxBatchSize > 0 && maxConcurrency > 0)
  require(minBatchSize >= 0 && minBatchSize <= maxBatchSize)
  require(triggerInterval.forall(_ <= flushInterval),
    "triggerInterval must not exceed flushInterval")

  /** The time arm: the longest wait for a cut below the size threshold
    * (defaults to the force-flush interval). */
  def trigger: FiniteDuration = triggerInterval.getOrElse(flushInterval)
}

/** Runtime statistics — ≅ v2 `stat()` (core/v2/Stat.java:11-135).
  * The per-worker maps (worker index → count) carry v2 Stat's
  * per-worker granularity — the reference exposes per-worker ring
  * occupancy; here a worker is a shard task, so its flush counts are
  * the analogous signal (which shard is hot / behind). Per-worker
  * counts always sum to the global fields. */
final case class PipelineStats(
    itemsIn: Long,
    itemsFlushed: Long,
    batchesFlushed: Long,
    retries: Long,
    itemsDropped: Long,
    pending: Long,
    perWorkerItemsFlushed: Map[Int, Long] = Map.empty,
    perWorkerBatchesFlushed: Map[Int, Long] = Map.empty)
