package graft.operators

import java.util.concurrent.{CompletableFuture, ConcurrentHashMap, ExecutionException}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** THE session-lifetime memo: every result or intermediate that lives
  * for a session (Similarity's family results and s13, the text-index
  * gates, Graph's triangle core / component labels / packed round
  * histories, Dedup's cluster labels and kNN state, the StreamGates
  * trio) goes through [[getOrBuild]]; new session-lifetime state does
  * too, never through a new map. One definition means one lock rule and
  * one eviction rule (the round-8 lesson: structurally identical copies
  * grow and drift).
  *
  * Key: (kind, session, dir, fixture fingerprint). Fingerprints come
  * from [[graft.Tables.fixtureFingerprint]] — a fixture regeneration
  * changes the key and forces a rebuild.
  *
  * Lock rule — single flight per key: the map only ever holds a cheap
  * holder per key; the build runs under that holder, outside the map's
  * bin lock. Callers of the same key wait for the one build (no
  * duplicate multi-second build, no orphaned checkpoint blocks from a
  * lost publish race); callers of OTHER keys never wait, so concurrent
  * builds of different keys (s04's five families) stay concurrent. A
  * build that throws leaves no entry — its waiters see the failure and
  * the next call retries. A build may ask for OTHER memo keys (g20's
  * stats read g19's packed rounds), never its own, and may then build
  * persisted artifacts through [[Artifacts.shared]]; an artifact build
  * never calls the memo (memo key first, never the reverse).
  *
  * Eviction rule — on insert, every entry of the same (kind, session,
  * dir) under a DIFFERENT fingerprint is dropped: the fixture it was
  * computed from is gone, so it can never be read again. Its value's
  * frames are freed through [[org.apache.spark.sql.graft.bridge.freeLocalCheckpoint]]
  * (round-13 ADVICE: dropping the reference alone left localCheckpoint
  * blocks to GC + ContextCleaner — a process-lifetime leak across
  * regenerations). A value may be a DataFrame or a tuple / case class
  * holding some; local relations free nothing. A stale build still in
  * flight is dropped unfreed — its own callers still read it. */
private[graft] object GateMemo {
  private final case class Key(kind: String, s: SparkSession, dir: String, fp: Long)

  private val memo = new ConcurrentHashMap[Key, CompletableFuture[Any]]()

  def getOrBuild[V](kind: String, s: SparkSession, dir: String, fp: Long)(
      build: => V): V = {
    val k = Key(kind, s, dir, fp)
    val mine = new CompletableFuture[Any]()
    val slot = memo.computeIfAbsent(k, _ => mine)
    if (slot ne mine) {
      try scala.concurrent.blocking(slot.get()).asInstanceOf[V]
      catch { case e: ExecutionException => throw e.getCause }
    } else {
      evict(k)
      try {
        val v = build
        mine.complete(v)
        v
      } catch {
        case e: Throwable =>
          memo.remove(k, mine)
          mine.completeExceptionally(e)
          throw e
      }
    }
  }

  /** A gate's result collected into a LOCAL relation: lineage ends
    * here, so the retained state is the rows themselves (gates hold
    * ≤ 50), nothing lazy escapes into dropped tables, and replays cost
    * one LocalTableScan. */
  def cached(s: SparkSession, dir: String, fp: Long, key: String)(
      build: => DataFrame): DataFrame =
    getOrBuild(key, s, dir, fp) {
      val df = build
      s.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)
    }

  private def evict(k: Key): Unit =
    memo.entrySet.removeIf { e =>
      val o = e.getKey
      val stale = o.kind == k.kind && (o.s eq k.s) && o.dir == k.dir && o.fp != k.fp
      if (stale && e.getValue.isDone && !e.getValue.isCompletedExceptionally)
        free(e.getValue.join())
      stale
    }

  private def free(v: Any): Unit = v match {
    case ds: Dataset[_] => org.apache.spark.sql.graft.bridge.freeLocalCheckpoint(ds.toDF())
    case p: Product => p.productIterator.foreach(free)
    case _ => ()
  }
}
