package graft

import java.util.concurrent.{CountDownLatch, CyclicBarrier, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

import graft.operators.GateMemo

/** The one session memo's lock and eviction rules. Each test keys its
  * entries under its own `dir`, so the process-wide memo never
  * cross-hits between tests. */
class GateMemoSpec extends SparkSpec {

  private def inThreads[T](n: Int)(body: Int => T): Seq[T] = {
    val pool = Executors.newFixedThreadPool(n)
    try {
      val fs = (0 until n).map(i =>
        pool.submit(new java.util.concurrent.Callable[T] { def call(): T = body(i) }))
      fs.map(_.get(60, TimeUnit.SECONDS))
    } finally pool.shutdownNow()
  }

  test("concurrent first callers: one build per key, other keys never wait, failures retry") {
    // 8 callers of ONE key: exactly one build, one shared instance
    val builds = new AtomicInteger
    val go = new CyclicBarrier(8)
    val got = inThreads(8) { _ =>
      go.await()
      GateMemo.getOrBuild("single", spark, "memo-spec-flight", 1L) {
        builds.incrementAndGet()
        Thread.sleep(200)
        new Object
      }
    }
    assert(builds.get == 1)
    assert(got.forall(_ eq got.head))

    // two DIFFERENT keys build at the same time: each build waits for
    // the other to start — under one global lock this would time out
    val aIn, bIn = new CountDownLatch(1)
    val overlapped = inThreads(2) { i =>
      val (mine, other) = if (i == 0) (aIn, bIn) else (bIn, aIn)
      GateMemo.getOrBuild("pair" + i, spark, "memo-spec-flight", 1L) {
        mine.countDown()
        other.await(30, TimeUnit.SECONDS)
      }
    }
    assert(overlapped == Seq(true, true), "builds of different keys were serialized")

    // a build that throws leaves no entry: the next call builds again
    val tries = new AtomicInteger
    def flaky(): String = GateMemo.getOrBuild("flaky", spark, "memo-spec-flight", 1L) {
      if (tries.incrementAndGet() == 1) throw new IllegalStateException("boom")
      "built"
    }
    assert(intercept[IllegalStateException](flaky()).getMessage == "boom")
    assert(flaky() == "built")
    assert(flaky() == "built")
    assert(tries.get == 2)
  }

  test("eviction: a new fingerprint frees the stale entry's checkpoint blocks, and only that entry") {
    def persisted(df: DataFrame): Boolean = {
      val ids = df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd.id }
      ids.nonEmpty && ids.forall(spark.sparkContext.getPersistentRDDs.contains)
    }
    def frame(): DataFrame = spark.range(10).toDF().localCheckpoint(true)
    val other = spark.newSession()
    val dir = "memo-spec-evict"
    val stale = GateMemo.getOrBuild("evict", spark, dir, 1L)((frame(), 7L))
    val kept = Seq(
      ("evictOther", spark, dir), ("evict", spark, dir + "-other"), ("evict", other, dir))
      .map { case (k, s, d) => (k, s, d, GateMemo.getOrBuild(k, s, d, 1L)(frame())) }
    assert(persisted(stale._1) && kept.forall(k => persisted(k._4)))

    val fresh = GateMemo.getOrBuild("evict", spark, dir, 2L)((frame(), 8L))
    assert(!persisted(stale._1), "the evicted tuple's checkpointed frame was not freed")
    assert(persisted(fresh._1))
    kept.foreach { case (k, s, d, df) =>
      assert(persisted(df), s"$k/$d lost its blocks")
      assert(GateMemo.getOrBuild[DataFrame](k, s, d, 1L)(fail(s"$k/$d was evicted")) eq df)
    }
    // the evicted fingerprint is gone from the memo: asking again rebuilds
    val rebuilt = GateMemo.getOrBuild("evict", spark, dir, 1L)((frame(), 9L))
    assert(rebuilt._2 == 9L)
  }
}
