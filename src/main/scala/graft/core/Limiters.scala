package graft.core

import java.util.concurrent.{ConcurrentHashMap, Semaphore}

/** Admission control — ≅ the reference's `MixedLimiter`
  * (core/MixedLimiter.java:11-43): a concurrency semaphore around
  * in-flight sink calls plus TPS (batches/sec) and IPS (items/sec)
  * token buckets.
  *
  * Scope note for cluster mode: instances live in a per-JVM registry, so
  * the limits bound each EXECUTOR — the same per-process semantics the
  * reference has (it is a single-process library). Cluster-global rate
  * limiting belongs at the source (`maxOffsetsPerTrigger`-style
  * admission), which `PipelineConfig.maxPendingRows` provides.
  */
final class Limiters(maxConcurrency: Int, tps: Double, ips: Double) {
  val concurrency = new Semaphore(maxConcurrency)
  private val tpsBucket = new TokenBucket(tps)
  private val ipsBucket = new TokenBucket(ips)

  /** Acquire rate permits for one batch of `n` items (blocking) —
    * ≅ MixedLimiter.acquire (core/MixedLimiter.java:36-43). */
  def acquireRate(n: Int): Unit = {
    tpsBucket.acquire(1.0)
    ipsBucket.acquire(n.toDouble)
  }

  /** Return the permits of one batch-sized acquisition, capped at one
    * burst. The pipeline no longer calls it (a batch that fails is
    * retried or dropped, never re-queued); PipelineSpec pins it. */
  def refundRate(n: Int): Unit = {
    tpsBucket.refund(1.0)
    ipsBucket.refund(n.toDouble)
  }
}

/** Minimal blocking token bucket (burst capacity = 1 second of rate).
  * rate ≤ 0 disables limiting. `wait(ms)` releases the monitor while
  * sleeping so producers don't convoy.
  *
  * Oversize requests (n > capacity) are granted once the bucket is full
  * and charged as debt (tokens go negative), so subsequent acquisitions
  * pay for them — Guava-RateLimiter-style. Without the debt rule, a
  * request larger than one second of rate (e.g. ips=100 with a
  * 1024-item batch, or tps<1) could NEVER be satisfied and the worker
  * would spin in wait() forever. */
final class TokenBucket(ratePerSec: Double) {
  private var tokens = math.max(ratePerSec, 0.0)
  private var lastNanos = System.nanoTime()

  def acquire(n: Double): Unit = if (ratePerSec > 0) synchronized {
    val need = math.min(n, ratePerSec) // grant at full bucket, charge the rest as debt
    var granted = false
    while (!granted) {
      val now = System.nanoTime()
      tokens = math.min(ratePerSec, tokens + (now - lastNanos) * 1e-9 * ratePerSec)
      lastNanos = now
      if (tokens >= need) { tokens -= n; granted = true }
      else wait(math.max(1L, ((need - tokens) / ratePerSec * 1000).toLong))
    }
  }

  /** Undo one `acquire(n)` whose work was not performed. Capped at
    * capacity (like refill), exactly cancelling the earlier `tokens -= n`
    * including any debt it created; wakes waiters since tokens grew. */
  def refund(n: Double): Unit = if (ratePerSec > 0) synchronized {
    tokens = math.min(ratePerSec, tokens + n)
    notifyAll()
  }
}

/** Per-JVM registry so every task in an executor shares one limiter set
  * per pipeline (tasks are the "workers"; the semaphore spans them).
  *
  * The key includes the limit configuration: executor JVMs never see the
  * driver-side `remove()` (it runs in `stop()` on the driver only), so a
  * later pipeline reusing a name with DIFFERENT limits must not pick up
  * the stale entry. Same name + same limits sharing a drained limiter is
  * harmless — a stopped pipeline's permits are all released by drain. */
object Limiters {
  private val registry = new ConcurrentHashMap[String, Limiters]()
  private def key(name: String, c: Int, tps: Double, ips: Double) = s"$name#$c#$tps#$ips"
  def forPipeline(name: String, maxConcurrency: Int, tps: Double, ips: Double): Limiters =
    registry.computeIfAbsent(key(name, maxConcurrency, tps, ips),
      _ => new Limiters(maxConcurrency, tps, ips))
  /** Driver-side cleanup on stop(); executor entries age out by config
    * keying rather than removal. */
  def remove(name: String): Unit = {
    val it = registry.keySet.iterator()
    while (it.hasNext) { if (it.next().startsWith(name + "#")) it.remove() }
  }
}
