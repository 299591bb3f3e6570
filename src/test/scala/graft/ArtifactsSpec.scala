package graft

import java.util.concurrent.{CountDownLatch, CyclicBarrier, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.execution.datasources.BucketingUtils
import org.apache.spark.sql.functions.{col, count, lit, pmod, sequence, transform, xxhash64}

import graft.functions.VectorFunctions
import graft.operators.{Artifacts, Dedup, Similarity, TextAnalysis}

/** The persisted-artifact rules: the generation swap's crash matrix, the
  * shared-artifact lock rule, and the drop / bucket-count helpers. Every
  * test works on its own `graft_art_*` tables. */
class ArtifactsSpec extends SparkSpec {

  private val live = Seq("graft_art_x", "graft_art_y", "graft_art_z")
  private val pairs = live.map(t => (t + "_tmp", t))

  private def put(t: String, gen: String): Unit =
    spark.range(1).select(lit(gen).as("gen")).write.mode("overwrite").saveAsTable(t)
  private def gens(): Seq[String] = live.map(t => spark.table(t).head.getString(0))
  private def tmps(): Seq[String] = pairs.map(_._1).filter(spark.catalog.tableExists)
  private def dropAll(): Unit =
    (live ++ pairs.map(_._1)).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  /** Writes generation `gen` into every tmp, in pair order (the marker
    * last); `crashAfter` = k throws once k tmps are written. */
  private def writeGen(gen: String, crashAfter: Int = -1): Unit = {
    def crash(k: Int): Unit =
      if (k == crashAfter) throw new IllegalStateException(s"crash after $k tmp writes")
    crash(0)
    pairs.map(_._1).zipWithIndex.foreach { case (t, i) => put(t, gen); crash(i + 1) }
  }

  /** The next swap to C: inside its write (after the heal) the live
    * tables must be one whole generation with no tmp left; after it, all
    * C and no tmp. Returns the healed generation. */
  private def healThenSwapToC(): String = {
    var healed = Seq.empty[String]
    Artifacts.swap(spark, pairs) {
      assert(tmps().isEmpty, s"tmps survived the heal: ${tmps()}")
      healed = gens()
      writeGen("C")
    }
    assert(healed.distinct.size == 1, s"mixed generation after the heal: $healed")
    assert(gens() == Seq("C", "C", "C"))
    assert(tmps().isEmpty, s"tmps survived the swap: ${tmps()}")
    healed.head
  }

  test("swap crash matrix: every crash point heals to one whole generation, then swaps") {
    try {
      // write phase: a throwing write after 0..2 tmps (no marker) keeps
      // A; after all 3 (marker landed, swap never ran) adopts B
      for (k <- 0 to 3) {
        dropAll()
        live.foreach(put(_, "A"))
        val e = intercept[IllegalStateException](
          Artifacts.swap(spark, pairs)(writeGen("B", crashAfter = k)))
        assert(e.getMessage.startsWith("crash"))
        assert(gens() == Seq("A", "A", "A"), s"a failed write touched live tables (k=$k)")
        assert(healThenSwapToC() == (if (k == 3) "B" else "A"), s"write crash after $k tmps")
      }
      // rename phase, built by hand: the complete B generation is written,
      // then the swap dies after j of its 6 steps (drop x, rename x, ...)
      for (j <- 0 until 6) {
        dropAll()
        live.foreach(put(_, "A"))
        writeGen("B")
        pairs.flatMap { case (tmp, t) =>
          Seq(s"DROP TABLE $t", s"ALTER TABLE $tmp RENAME TO $t") }
          .take(j).foreach(spark.sql)
        assert(healThenSwapToC() == "B", s"rename crash after $j steps")
      }
    } finally dropAll()
  }

  test("swap adopts an orphaned tmp whose live table is gone, and skips pairs write leaves out") {
    try {
      dropAll()
      live.foreach(put(_, "A"))
      // a per-table drop-then-rename swap died between its statements:
      // the tmp is the only copy of graft_art_y
      spark.sql("ALTER TABLE graft_art_y RENAME TO graft_art_y_tmp")
      Artifacts.swap(spark, pairs) {
        assert(gens() == Seq("A", "A", "A"))
        // a partial rewrite: only the marker's family changes
        put("graft_art_z_tmp", "B")
      }
      assert(gens() == Seq("A", "A", "B"))
      assert(tmps().isEmpty)
    } finally dropAll()
  }

  private def specOf(t: String): Option[BucketSpec] =
    spark.sessionState.catalog.getTableMetadata(TableIdentifier(t)).bucketSpec

  /** The data files of table `t`'s warehouse location. */
  private def dataFiles(t: String): Seq[String] = {
    val loc = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"), t)
    loc.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(loc)
      .map(_.getPath.getName).filter(_.startsWith("part-")).toSeq
  }

  test("rewrite keeps the catalog bucket spec with one file per bucket; an unbucketed marker stays unbucketed") {
    val name = "graft_art_rw"
    val sfxs = Seq("_data", "_mark")
    try {
      Artifacts.dropTables(spark, name, sfxs)
      // overwrite then append: every bucket holds several files
      for (mode <- Seq("overwrite", "append"))
        spark.range(40).select((col("id") % 7).as("k"), col("id").as("v"))
          .write.mode(mode).bucketBy(3, "k").sortBy("k").saveAsTable(name + "_data")
      put(name + "_mark", "A")
      assert(dataFiles(name + "_data").size > 3)
      Artifacts.rewrite(spark, name, sfxs) { (rs, sfx) =>
        Some(if (sfx == "_data") rs.table(name + sfx)
             // the marker is derived from the tmp twin written before it
             else rs.table(Artifacts.tmpOf(name + "_data"))
               .agg(count(lit(1)).cast("string").as("gen")))
      }
      assert(specOf(name + "_data") == Some(BucketSpec(3, Seq("k"), Seq("k"))))
      val ids = dataFiles(name + "_data").map(BucketingUtils.getBucketId(_).get)
      assert(ids.nonEmpty && ids.size == ids.distinct.size && ids.forall(_ < 3),
        s"not one file per bucket: $ids")
      assert(spark.table(name + "_data").count() == 80)
      assert(specOf(name + "_mark").isEmpty)
      assert(spark.table(name + "_mark").head().getString(0) == "80")
      assert(sfxs.forall(x => !spark.catalog.tableExists(Artifacts.tmpOf(name + x))))
    } finally Artifacts.dropTables(spark, name, sfxs)
  }

  test("rewrite keeps a table whose next is None, skips an absent table, and a throwing next heals to one generation") {
    val name = "graft_art_rn"
    val sfxs = Seq("_a", "_b", "_c")
    def gen(t: String) = spark.table(t).head().getString(0)
    def rows(g: String) = spark.range(1).select(lit(g).as("gen"))
    try {
      Artifacts.dropTables(spark, name, sfxs)
      Seq("_a", "_c").foreach(x => put(name + x, "A"))
      // `_b` has no live table: skipped although next would write it
      Artifacts.rewrite(spark, name, sfxs) { (_, sfx) =>
        if (sfx == "_a") None else Some(rows("B"))
      }
      assert(gen(name + "_a") == "A" && gen(name + "_c") == "B")
      assert(!spark.catalog.tableExists(name + "_b"))

      // a throw inside next after `_a`'s tmp landed, before the marker
      val e = intercept[IllegalStateException](
        Artifacts.rewrite(spark, name, sfxs) { (_, sfx) =>
          if (sfx == "_c") throw new IllegalStateException("crash in next")
          Some(rows("C"))
        })
      assert(e.getMessage == "crash in next")
      assert(spark.catalog.tableExists(Artifacts.tmpOf(name + "_a")))
      assert(gen(name + "_a") == "A" && gen(name + "_c") == "B")
      // the next call heals before next runs: the half-built tmp is gone
      var healed = Seq.empty[String]
      Artifacts.rewrite(spark, name, sfxs) { (_, sfx) =>
        if (sfx == "_a") healed = Seq("_a", "_c").map(x => gen(name + x)) ++
          sfxs.map(x => Artifacts.tmpOf(name + x)).filter(spark.catalog.tableExists)
        Some(rows("D"))
      }
      assert(healed == Seq("A", "B"), s"not one whole generation after the heal: $healed")
      assert(gen(name + "_a") == "D" && gen(name + "_c") == "D")
    } finally Artifacts.dropTables(spark, name, sfxs)
  }

  test("maintenance ops keep the catalog bucket count: ANN delete, corpus compact and delete") {
    import spark.implicits._
    val (ann, corpus) = ("graft_art_ann", "graft_art_corpus")
    val vecs = spark.range(0, 60).toDF("id")
      .select(col("id").as("vec_id"), transform(sequence(lit(0), lit(15)),
        i => pmod(xxhash64(col("id"), i), lit(2001L)).cast("double") / 1000.0 - 1.0).as("emb"))
      .withColumn("nrm", VectorFunctions.l2Norm(col("emb")))
    val docs = Seq((1L, "a b c d e f g h"), (2L, "a b c d e f g h"),
      (3L, "p q r s t u v w")).toDF("doc_id", "text")
    def buckets(t: String) = specOf(t).map(_.numBuckets)
    try {
      Similarity.writeAnnIndex(spark, vecs, ann, numBuckets = 4)
      val families = Seq("_cells", "_srp", "_pq").filter(x => spark.catalog.tableExists(ann + x))
      Similarity.deleteFromAnnIndex(spark, ann, Seq(0L, 7L).toDF("vec_id"))
      families.foreach(x => assert(buckets(ann + x) == Some(4), s"ANN delete re-bucketed $x"))
      assert(spark.table(ann + "_cells").filter(col("vec_id").isin(0L, 7L)).isEmpty)

      Dedup.writeCorpusIndex(docs, corpus, numBuckets = 4)
      Dedup.compactCorpusIndex(spark, corpus)
      Seq("_bands", "_reps").foreach(x =>
        assert(buckets(corpus + x) == Some(4), s"corpus compact re-bucketed $x"))
      Dedup.deleteFromCorpusIndex(spark, corpus, Seq(3L).toDF("doc_id"))
      Seq("_bands", "_reps").foreach(x =>
        assert(buckets(corpus + x) == Some(4), s"corpus delete re-bucketed $x"))
    } finally {
      Artifacts.dropTables(spark, ann, Similarity.AnnTables)
      Artifacts.dropTables(spark, corpus, Seq("_bands", "_reps"))
    }
  }

  test("appends keep the catalog bucket count: text, corpus and span indexes") {
    import spark.implicits._
    val (text, corpus, span) = ("graft_art_text_app", "graft_art_corpus_app", "graft_art_span_app")
    val textTables = Seq("_postings", "_doclen", "_positions", "_batches", "_stats")
    val docs = Seq((1L, "a b c d e f g h i j"), (2L, "k l m n o p q r s t")).toDF("doc_id", "text")
    val more = Seq((3L, "a b c d e f g h u v"), (4L, "w x y z a b c d e f")).toDF("doc_id", "text")
    def buckets(t: String) = specOf(t).map(_.numBuckets)
    try {
      TextAnalysis.writeTextIndex(docs, text, numBuckets = 4)
      TextAnalysis.appendToTextIndex(more, text)
      Seq("_postings", "_doclen", "_positions").foreach(x =>
        assert(buckets(text + x) == Some(4), s"text append re-bucketed $x"))
      assert(spark.table(text + "_doclen").count() == 4)

      Dedup.writeCorpusIndex(docs, corpus, numBuckets = 4)
      Dedup.appendToCorpusIndex(more, corpus)
      Seq("_bands", "_reps").foreach(x =>
        assert(buckets(corpus + x) == Some(4), s"corpus append re-bucketed $x"))

      Dedup.writeSpanIndex(docs, span, numBuckets = 4)
      Dedup.appendToSpanIndex(more, span)
      Dedup.deleteFromSpanIndex(more, span)
      assert(buckets(span + "_grams") == Some(4), "span append re-bucketed _grams")
    } finally {
      Artifacts.dropTables(spark, text, textTables)
      Artifacts.dropTables(spark, corpus, Seq("_bands", "_reps"))
      Artifacts.dropTables(spark, span, Seq("_grams"))
    }
  }

  private def inThreads[T](n: Int)(body: Int => T): Seq[T] = {
    val pool = Executors.newFixedThreadPool(n)
    try {
      val fs = (0 until n).map(i =>
        pool.submit(new java.util.concurrent.Callable[T] { def call(): T = body(i) }))
      fs.map(_.get(60, TimeUnit.SECONDS))
    } finally pool.shutdownNow()
  }

  test("shared: single flight per name, other names never wait, failures and dropped markers rebuild") {
    val name = "graft_art_shared"
    val tables = Seq("_data", "_mark")
    def build(): Unit = tables.foreach(x => put(name + x, "built"))
    try {
      // 8 callers of ONE name: exactly one build
      val builds = new AtomicInteger
      val go = new CyclicBarrier(8)
      val got = inThreads(8) { _ =>
        go.await()
        Artifacts.shared(spark, name, tables) {
          builds.incrementAndGet()
          Thread.sleep(200)
          build()
        }
      }
      assert(builds.get == 1)
      assert(got.forall(_ == name))

      // two names build at the same time: each build waits for the other
      // to start — under one global lock this would time out
      val aIn, bIn = new CountDownLatch(1)
      val overlapped = inThreads(2) { i =>
        val (mine, other) = if (i == 0) (aIn, bIn) else (bIn, aIn)
        var met = false
        Artifacts.shared(spark, s"graft_art_pair$i", tables) {
          mine.countDown()
          met = other.await(30, TimeUnit.SECONDS)
        }
        met
      }
      assert(overlapped == Seq(true, true), "builds of different names were serialized")

      // a build that throws leaves the artifact incomplete: the next call builds
      val tries = new AtomicInteger
      def flaky(): String = Artifacts.shared(spark, name + "_flaky", tables) {
        if (tries.incrementAndGet() == 1) throw new IllegalStateException("boom")
        tables.foreach(x => put(name + "_flaky" + x, "built"))
      }
      assert(intercept[IllegalStateException](flaky()).getMessage == "boom")
      flaky()
      flaky()
      assert(tries.get == 2)

      // the catalog is probed on every call: a dropped marker rebuilds
      Artifacts.shared(spark, name, tables)(fail("complete artifact rebuilt"))
      spark.sql(s"DROP TABLE ${name}_mark")
      Artifacts.shared(spark, name, tables)(builds.incrementAndGet())
      assert(builds.get == 2)
    } finally
      Seq(name, name + "_flaky").foreach(n => tables.foreach(x =>
        spark.sql(s"DROP TABLE IF EXISTS $n$x")))
  }

  test("dropManaged clears a stale warehouse location; bucketsOf fails loudly without a spec") {
    val t = "graft_art_stale"
    val loc = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"), t)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      put(t, "A")
      // the catalog entry goes, the directory stays (a session that died
      // mid-write): saveAsTable would now fail with LOCATION_ALREADY_EXISTS
      spark.sessionState.catalog.externalCatalog.dropTable("default", t,
        ignoreIfNotExists = false, purge = false)
      fs.create(new org.apache.hadoop.fs.Path(loc, "part-stale")).close()
      assert(intercept[Exception](put(t, "B")).getMessage.contains("LOCATION_ALREADY_EXISTS"))
      Artifacts.dropManaged(spark, t)
      assert(!fs.exists(loc))
      put(t, "B")
      assert(spark.table(t).head.getString(0) == "B")
      val e = intercept[RuntimeException](Artifacts.bucketsOf(spark, t))
      assert(e.getMessage.contains("no bucketSpec"))
      spark.range(8).write.mode("overwrite").bucketBy(3, "id").saveAsTable(t + "_b")
      assert(Artifacts.bucketsOf(spark, t + "_b") == 3)
    } finally Seq(t, t + "_b").foreach(Artifacts.dropManaged(spark, _))
  }
}
