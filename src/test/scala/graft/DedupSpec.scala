package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.operators.Dedup

class DedupSpec extends SparkSpec {

  test("minhash-LSH pairs == exact jaccard pairs at its threshold") {
    val lsh = Dedup.d01MinhashPairs(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Dedup.d03NgramJaccardPairs(spark, sf)
      .filter(col("jaccard") >= 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact, s"missed=${exact -- lsh} extra=${lsh -- exact}")
  }

  test("exact ngram-jaccard agrees with brute-force all-pairs") {
    // Independent path: cross join + array_intersect, no inverted index.
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), shingles(col("toks"), 3).as("sgl"))
      .select(col("doc_id"), hashedDistinct(col("sgl")).as("sh"))
    val brute = docs.as("a").join(docs.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        (size(array_intersect(col("a.sh"), col("b.sh"))).cast("double") /
          size(array_union(col("a.sh"), col("b.sh"))).cast("double")).as("j"))
      .filter(col("j") >= 0.2)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val inv = Dedup.d03NgramJaccardPairs(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inv == brute, s"missed=${brute -- inv} extra=${inv -- brute}")
  }

  test("band-bucket cap: planted hot near-dup cluster degrades to dropped buckets, never false pairs") {
    import spark.implicits._
    // 50 pairwise-DISTINCT near-dups (200 shared tokens + a unique
    // suffix, J ≈ 0.97): dup-collapse can't help, so band buckets hold
    // most of the cluster — the adversarial shape the cap exists for
    val base = (1 to 200).map(i => s"tok$i").mkString(" ")
    val docs = (0L until 50L).map(i => (i, s"$base unique$i")).toDF("doc_id", "text")
    // collect the instrumented frame ITSELF (a derived .select would run
    // a different QueryExecution and the observed metrics would stay 0)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val full = pairSet(Dedup.minhashPairs(docs))
    assert(full.size == 50 * 49 / 2, "uncapped run must find every near-dup pair")
    spark.conf.set("spark.graft.dedup.maxBandBucket", "10")
    // AQE wraps the executed plan in AdaptiveSparkPlanExec, which hides
    // CollectMetricsExec from qe.observedMetrics' plan traversal (the
    // listener-event path AQE uses is async); static plan keeps the spec
    // read synchronous and deterministic
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val capped = Dedup.minhashPairs(docs)
      val qe = capped.queryExecution
      val got = pairSet(capped)
      // degradation contract: only MISSES, never invented pairs — and the
      // drop is observable through the d01_band_cap metrics
      assert(got.subsetOf(full), s"false pairs under cap: ${got -- full}")
      assert(got.size < full.size, "cap 10 on a 50-doc cluster must drop pairs")
      val m = qe.observedMetrics("d01_band_cap")
      assert(m.getAs[Long]("dropped_buckets") > 0L)
      assert(m.getAs[Long]("dropped_candidates") >= 11L * 10L / 2L)
      // simhash path: same cap, same contract (near-identical docs share
      // band values, so its buckets overflow too)
      val simCapped = Dedup.simhashPairs(docs)
      val simQe = simCapped.queryExecution
      val simGot = pairSet(simCapped)
      val sm = simQe.observedMetrics("d02_band_cap")
      assert(sm.getAs[Long]("dropped_buckets") > 0L)
      assert(simGot.size < 50 * 49 / 2)
    } finally {
      spark.conf.unset("spark.graft.dedup.maxBandBucket")
      spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
  }

  test("simhash pairs: canonical ordering, hamming bound, pigeonhole guarantee") {
    val rows = Dedup.d02SimhashPairs(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getLong(2) <= 8)
    }
    val got = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    // Brute-force check of the banding contract: every pair with hamming
    // ≤ 3 MUST appear (pigeonhole over 4×16-bit bands); everything
    // reported must verify ≤ 8 against independently computed hashes.
    import graft.functions.TextFunctions._
    val sims = Tables.documents(spark, sf)
      .select(col("doc_id"), tokenHashes(tokens(col("text"))).as("th"))
      .select(col("doc_id"), simhashCounts(col("th")).as("c"))
      .select(col("doc_id"), simhashFromCounts(col("c")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val brute = (for {
      (ida, sa) <- sims; (idb, sb) <- sims if ida < idb
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (ida, idb)).toSet
    assert(brute.subsetOf(got), s"banding broke pigeonhole: ${brute -- got}")
    val hamOf = sims.toMap
    rows.foreach { r =>
      val h = java.lang.Long.bitCount(hamOf(r.getLong(0)) ^ hamOf(r.getLong(1)))
      assert(h == r.getLong(2))
    }
  }

  test("cluster labels match a union-find oracle; survivors drop non-canonical members") {
    val pairs = Dedup.d01MinhashPairs(spark, sf).select("doc_a", "doc_b")
    val edges = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    // union-find oracle on the collected edge list
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expectedLabel = parent.keys.map(k => k -> find(k)).toMap
    val got = Dedup.clusterLabels(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expectedLabel, s"diff=${got.toSet -- expectedLabel.toSet}")
    // survivors = all docs minus members whose label != id
    val survivors = Dedup.d05DedupSurvivors(spark, sf).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val total = Tables.documents(spark, sf).count()
    val expectedDropped = expectedLabel.count { case (id, l) => l != id }
    assert(survivors.size == total - expectedDropped)
    assert(expectedLabel.filter { case (id, l) => l != id }.keySet.forall(!survivors.contains(_)))
  }

  test("cluster labels: wide chain converges in O(log diameter) rounds; low cap reports truncation") {
    // a 300-hop path is the worst diameter-per-edge shape: path-halving
    // must converge in ~log2(300) ≈ 9 rounds (well under the default cap)
    val chain = spark.range(299)
      .select(col("id").as("doc_a"), (col("id") + 1L).as("doc_b"))
    val (labels, rounds, converged) =
      Dedup.clusterLabelsWithRounds(chain, maxIters = 20)
    assert(converged, s"300-chain did not converge in 20 rounds")
    assert(rounds <= 12, s"took $rounds rounds for diameter 300 — halving regressed")
    assert(labels.filter(col("label") =!= 0L).count() == 0)
    // a 3-round cap reaches ≤ 2^3 hops — must report non-convergence
    val (_, _, conv3) = Dedup.clusterLabelsWithRounds(chain, maxIters = 3)
    assert(!conv3, "3 rounds cannot canonicalize a 300-chain — flag is broken")
  }

  test("mergeable source sketches estimate exact cross-source jaccard") {
    val est = Dedup.sourceSketchEstimates(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(est.nonEmpty)
    // exact cross-source shingle jaccard, via distinct shingle sets per source
    import graft.functions.TextFunctions._
    val bySource = Tables.documents(spark, sf)
      .select(col("source"), tokenHashes(tokens(col("text"))).as("th"))
      .select(col("source"), explode(shingleHashesNative(col("th"), 3)).as("h"))
      .groupBy(col("source")).agg(collect_set(col("h")).as("hs"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toSet).toMap
    est.foreach { case ((a, b), e) =>
      val (sa, sb) = (bySource(a), bySource(b))
      val truth = (sa & sb).size.toDouble / (sa | sb).size
      assert(math.abs(e - truth) < 0.12, s"($a,$b): est=$e truth=$truth")
    }
    // the oracle-facing query: exact jaccard + all bound flags true
    val d06 = Dedup.d06SourceSketchSim(spark, sf).collect()
    assert(d06.length == est.size)
    d06.foreach { r =>
      val (sa, sb) = (bySource(r.getString(0)), bySource(r.getString(1)))
      val truth = (sa & sb).size.toDouble / (sa | sb).size
      assert(math.abs(r.getDouble(2) - truth) < 5e-5)
      assert(r.getBoolean(3), s"${r.getString(0)},${r.getString(1)} est outside bound")
    }
  }

  test("incremental dedup: banded index finds the brute-force best match; corpus never self-pairs") {
    import spark.implicits._
    // planted corpus: an exact-dup class (1,2), a near-dup seed (3), a
    // decoy far from everything (4)
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val corpus = Seq(
      (1L, base), (2L, base),                            // exact-dup class
      (3L, base + " tailA tailB tailC"),                 // near seed
      (4L, (100 to 160).map(i => s"z$i").mkString(" "))  // unrelated
    ).toDF("doc_id", "text")
    val delta = Seq(
      (10L, base),                                       // exact copy → dup_of 1 (min member), J=1
      (11L, base + " tailA tailB tailX"),                // near 3 and 1/2 — best is whichever J is higher
      (12L, (200 to 260).map(i => s"y$i").mkString(" ")) // novel → absent
    ).toDF("doc_id", "text")
    val got = Dedup.incrementalDedup(corpus, delta).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got(10L) == ((1L, 10000L)), s"exact copy: ${got.get(10L)}")
    assert(!got.contains(12L), "novel doc must not be flagged")
    assert(got.contains(11L))
    // brute-force oracle for the whole delta: exact best match per doc
    val sh = (df: org.apache.spark.sql.DataFrame) => df
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), hashedDistinct(shingles(col("toks"), 3)).as("sh"))
    val brute = sh(delta).as("d").crossJoin(sh(corpus).as("c"))
      .select(col("d.doc_id").as("doc_id"), col("c.doc_id").as("corpus_id"),
        size(array_intersect(col("d.sh"), col("c.sh"))).cast("double").as("inter"),
        (size(col("d.sh")) + size(col("c.sh"))).cast("double").as("total"))
      .filter(col("total") - col("inter") > 0.0)
      .select(col("doc_id"), col("corpus_id"),
        floor(col("inter") / (col("total") - col("inter")) * 10000.0 + 0.5)
          .cast("long").as("j"))
      .filter(col("j") >= 5000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).map { case (d, ms) =>
        val best = ms.minBy(m => (-m._3, m._2)); d -> (best._2, best._3)
      }
    assert(got == brute, s"got=$got brute=$brute")
    // the registered fixture query agrees with ITS brute-force oracle too
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val fixGot = Dedup.d13IncrementalDedup(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val fixBrute = sh(docs.filter(col("doc_id") % 10 === 0)).as("d")
      .crossJoin(sh(docs.filter(col("doc_id") % 10 =!= 0)).as("c"))
      .select(col("d.doc_id").as("doc_id"), col("c.doc_id").as("corpus_id"),
        size(array_intersect(col("d.sh"), col("c.sh"))).cast("double").as("inter"),
        (size(col("d.sh")) + size(col("c.sh"))).cast("double").as("total"))
      .filter(col("total") - col("inter") > 0.0)
      .select(col("doc_id"), col("corpus_id"),
        floor(col("inter") / (col("total") - col("inter")) * 10000.0 + 0.5)
          .cast("long").as("j"))
      .filter(col("j") >= 5000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).map { case (d, ms) =>
        val best = ms.minBy(m => (-m._3, m._2)); d -> (best._2, best._3)
      }
    assert(fixGot == fixBrute,
      s"missed=${fixBrute.keySet -- fixGot.keySet} extra=${fixGot.keySet -- fixBrute.keySet}")
  }

  test("persisted corpus index: bucketed reads, ZERO corpus-side exchange, rows == inline path") {
    import spark.implicits._
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // same planted corpus as the incremental test: exact-dup class,
    // near-dup seed, decoy
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val corpus = Seq(
      (1L, base), (2L, base),
      (3L, base + " tailA tailB tailC"),
      (4L, (100 to 160).map(i => s"z$i").mkString(" "))
    ).toDF("doc_id", "text")
    val delta = Seq(
      (10L, base),
      (11L, base + " tailA tailB tailX"),
      (12L, (200 to 260).map(i => s"y$i").mkString(" "))
    ).toDF("doc_id", "text")
    Dedup.writeCorpusIndex(corpus, "graft_idx_spec", numBuckets = 4)
    val savedBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val q = Dedup.incrementalDedupIndexed(spark, delta, "graft_idx_spec")
      q.collect()
      val p = q.queryExecution.executedPlan
      // the corpus appears ONLY as the two bucketed table scans ...
      val scans = p.collect { case f: FileSourceScanExec => f }
      assert(scans.size == 2, s"expected 2 corpus table scans:\n$p")
      scans.foreach(f => assert(f.bucketedScan,
        s"corpus scan not bucket-aware:\n$f"))
      // ... and each scan feeds ITS join with no Exchange in between:
      // the corpus-side legs of both equi-joins read bucket files in
      // place (delta-derived rows alone shuffle — including the
      // candidate re-key between the two joins, whose volume scales
      // with the delta). This is writeCorpusIndex's
      // zero-corpus-side-exchange contract.
      import org.apache.spark.sql.execution.joins.{BaseJoinExec, SortMergeJoinExec, ShuffledHashJoinExec}
      val scanLegs = p.collect { case j: BaseJoinExec => j }.flatMap(_.children)
        .filter(c => c.collectFirst { case jj: BaseJoinExec => jj }.isEmpty &&
          c.collectFirst { case f: FileSourceScanExec => f }.isDefined)
      assert(scanLegs.size == 2, s"expected both scans as direct join legs:\n$p")
      scanLegs.foreach(leg => assert(
        leg.collect { case e: ShuffleExchangeExec => e }.isEmpty,
        s"corpus-side join leg shuffles:\n$leg"))
      // correctness: byte-identical rows to the inline formulation
      val got = q.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      val inline = Dedup.incrementalDedup(corpus, delta).collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got == inline, s"indexed=$got inline=$inline")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", savedBroadcast)
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.sql("DROP TABLE IF EXISTS graft_idx_spec_bands")
      spark.sql("DROP TABLE IF EXISTS graft_idx_spec_reps")
    }
  }

  test("append to corpus index: no rebuild (prior files byte-stable), results == full rebuild") {
    import spark.implicits._
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val other = (300 to 360).map(i => s"k$i").mkString(" ")
    val batch1 = Seq(
      (1L, base),
      (2L, (100 to 160).map(i => s"z$i").mkString(" "))
    ).toDF("doc_id", "text")
    val batch2 = Seq(
      (5L, other),
      (6L, base) // exact dup of batch1's doc 1 — cross-append class split
    ).toDF("doc_id", "text")
    // deltas duplicate batch1 AND batch2 content: both must flag
    val delta = Seq(
      (10L, base + " tailA tailB tailC"),
      (11L, other + " tailD tailE tailF"),
      (12L, (200 to 260).map(i => s"y$i").mkString(" ")) // clean
    ).toDF("doc_id", "text")
    Dedup.writeCorpusIndex(batch1, "graft_app_spec", numBuckets = 4)
    // snapshot the band table's files, append, then assert the old files
    // survived untouched (append added files; nothing was read/rewritten)
    def files(t: String): Map[String, Long] = {
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), t)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(loc).filter(_.isFile)
        .map(f => f.getPath.getName -> f.getLen).toMap
    }
    val before = files("graft_app_spec_bands")
    Dedup.appendToCorpusIndex(batch2, "graft_app_spec")
    val after = files("graft_app_spec_bands")
    assert(before.forall { case (n, len) => after.get(n).contains(len) },
      s"append rewrote prior bucket files: before=$before after=$after")
    assert(after.size > before.size, "append added no files")
    Dedup.writeCorpusIndex(batch1.unionByName(batch2), "graft_app_full",
      numBuckets = 4)
    try {
      def rows(name: String) =
        Dedup.incrementalDedupIndexed(spark, delta, name).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      val appended = rows("graft_app_spec")
      val rebuilt = rows("graft_app_full")
      assert(appended == rebuilt, s"appended=$appended rebuilt=$rebuilt")
      // both batches' content is live in the index: doc 10 matches the
      // batch1 class (best member = min id 1), doc 11 matches batch2's 5
      assert(appended.map(r => (r._1, r._2)).toSet == Set((10L, 1L), (11L, 5L)),
        s"got $appended")
    } finally Seq("graft_app_spec_bands", "graft_app_spec_reps",
      "graft_app_full_bands", "graft_app_full_reps").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("incremental dedup band cap: hot corpus cluster degrades to dropped buckets, never false matches") {
    import spark.implicits._
    // 50 pairwise-distinct near-dup corpus docs (shared 200-token base,
    // unique suffixes) — dup-collapse can't shrink them, so their band
    // buckets hold most of the cluster
    val base = (1 to 200).map(i => s"tok$i").mkString(" ")
    val corpus = (0L until 50L).map(i => (i, s"$base unique$i")).toDF("doc_id", "text")
    val delta = Seq((100L, s"$base uniqueX")).toDF("doc_id", "text")
    val full = Dedup.incrementalDedup(corpus, delta).collect()
    assert(full.length == 1 && full.head.getLong(2) >= 5000L,
      "uncapped run must match the delta doc against the cluster")
    spark.conf.set("spark.graft.dedup.maxBandBucket", "10")
    spark.conf.set("spark.sql.adaptive.enabled", "false") // sync observe read
    try {
      val capped = Dedup.incrementalDedup(corpus, delta)
      val qe = capped.queryExecution
      val got = capped.collect()
      // degradation contract: a capped run may only lose matches
      assert(got.isEmpty || got.head.getLong(2) >= 5000L)
      val m = qe.observedMetrics("d13_band_cap")
      assert(m.getAs[Long]("dropped_buckets") > 0L,
        "cap 10 on a 50-doc cluster must drop buckets")
      assert(m.getAs[Long]("dropped_index_rows") >= 11L)
    } finally {
      spark.conf.unset("spark.graft.dedup.maxBandBucket")
      spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
  }

  test("embedding near-dup: thresholds and canonical ordering hold") {
    val rows = Dedup.d04EmbeddingNearDup(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getDouble(2) >= 0.4 && r.getDouble(2) <= 1.0)
    }
  }

  test("IVF-routed near-dup: exact subset of d04 (precision 1.0), recall high") {
    val exact = Dedup.d04EmbeddingNearDup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ivf = Dedup.d09EmbedNearDupIvf(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // the verify step is the same exact cosine + threshold, so every
    // emitted pair must appear in the exact output with an identical sim
    ivf.foreach { case (pair, sim) =>
      assert(exact.get(pair).contains(sim), s"false positive or sim drift at $pair")
    }
    assert(exact.nonEmpty)
    val recall = ivf.size.toDouble / exact.size
    assert(recall >= 0.7, s"recall=$recall (${ivf.size}/${exact.size})")
  }

  test("semantic dedup: planted copies cluster with originals, one survivor per cluster, never all-pairs") {
    val rows = Dedup.d19SemanticDedup(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    // every planted copy (id+1000000, perturbed +0.01) must share its
    // original's canonical — the cos ≈ 0.999 pair connects them
    val planted = rows.keys.filter(_ >= 1000000L)
    assert(planted.nonEmpty)
    planted.foreach { c =>
      val o = c - 1000000L
      assert(rows(c)._1 == rows(o)._1,
        s"copy $c canonical ${rows(c)._1} != original's ${rows(o)._1}")
    }
    // exactly one kept member per canonical, and it IS the canonical
    rows.groupBy(_._2._1).foreach { case (canon, members) =>
      val kept = members.filter(_._2._2).keys.toSeq
      assert(kept == Seq(canon), s"cluster $canon kept $kept")
    }
    // the keep-best policy: the survivor has the max norm (ties min id)
    // among its cluster — spot-check via recomputed norms
    val e = Tables.embeddings(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    def normE6(v: Seq[Double]): Long =
      math.floor(math.sqrt(v.map(x => x * x).sum) * 1e6 + 0.5).toLong
    def vecOf(id: Long): Seq[Double] =
      if (id >= 1000000L) e(id - 1000000L).map(_ + 0.01) else e(id)
    rows.groupBy(_._2._1).foreach { case (canon, members) =>
      val best = members.keys.map(id => (-normE6(vecOf(id)), id)).min._2
      assert(canon == best, s"canonical $canon != keep-best $best")
    }
    // never all-pairs: the candidate join is an equi-join on the cell
    // key — no cartesian/broadcast-nested-loop over the corpus
    val plan = Dedup.d19SemanticDedup(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "all-pairs cartesian in d19 plan:\n" + plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "theta-join over the corpus in d19 plan (d04's exact shape, not the cell index):\n" + plan)
  }

  test("incremental semantic dedup: every delta doc flags its source through the shared index, delta-only cost") {
    val rows = Dedup.d20IncrementalSemantic(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // every planted delta doc (ids 10..109 + 1000000) must flag exactly
    // its perturbation source at near-1 cosine
    assert(rows.length == 100, s"expected 100 flagged, got ${rows.length}")
    rows.foreach { case (id, match_, cos) =>
      assert(match_ == id - 1000000L, s"delta $id matched $match_")
      assert(cos >= 990000L, s"delta $id cos_e6 $cos")
    }
    // the corpus side is the persisted bucketed _cells scan fed by
    // broadcast probes — no corpus self-join, no cartesian; cost is
    // delta-scaled (the d13 contract, semantic edition)
    val plan = Dedup.d20IncrementalSemantic(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_shared_ann_"), "shared artifact not in the plan:\n" + plan)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "corpus re-paired in d20 plan:\n" + plan)
  }

  test("duplicate spans: cross-doc offset run, intra-doc repeat, gap split — exact boundaries") {
    import spark.implicits._
    // doc 1 & 2 share a 10-token run at offsets 0 / 2; doc 3 repeats its
    // own 5-token prefix at offset 5 (gap == gram → one merged span);
    // doc 4 shares doc 1's run start AND end with a unique middle wide
    // enough (> gram) that the two spans must NOT merge; doc 5 is clean.
    val run = (1 to 10).map(i => s"r$i").mkString(" ")
    val docs = Seq(
      (1L, s"$run tail1 tail2"),
      (2L, s"pre1 pre2 $run"),
      (3L, "p q r s t p q r s t"),
      (4L, s"${(1 to 4).map(i => s"r$i").mkString(" ")} m1 m2 m3 m4 m5 m6 m7 m8 m9 ${(7 to 10).map(i => s"r$i").mkString(" ")}"),
      (5L, (1 to 12).map(i => s"u$i").mkString(" "))
    ).toDF("doc_id", "text")
    val got = Dedup.duplicateSpans(docs, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val expected = Array(
      (1L, 0L, 9L, 10L),   // the shared run, maximal
      (2L, 2L, 11L, 10L),  // same run at offset 2
      (3L, 0L, 9L, 10L),   // intra-doc repeat: grams at pos 0..1 and 5..6
                           // (4-gram: "p q r s" at 0 and 5, "q r s t" at
                           // 1 and 6) merge across the == gram gap
      (4L, 0L, 3L, 4L),    // r1..r4 prefix (flagged via doc 1)
      (4L, 13L, 16L, 4L))  // r7..r10 suffix — 9-token gap > gram: split
    assert(got.sameElements(expected),
      s"got=${got.mkString(",")} expected=${expected.mkString(",")}")
  }

  test("span excision drops exactly the flagged spans; untouched docs round-trip verbatim") {
    import spark.implicits._
    val run = (1 to 10).map(i => s"r$i").mkString(" ")
    val docs = Seq(
      (1L, s"$run tail1 tail2"),
      (2L, s"pre1 pre2 $run"),
      (3L, "p q r s t p q r s t"),
      (5L, (1 to 12).map(i => s"u$i").mkString(" "))
    ).toDF("doc_id", "text")
    val got = Dedup.exciseSpans(docs, 4)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val expected = Array(
      (1L, "tail1 tail2", 10L),
      (2L, "pre1 pre2", 10L),
      (3L, "", 10L), // whole doc is one merged duplicated span
      (5L, (1 to 12).map(i => s"u$i").mkString(" "), 0L))
    assert(got.sameElements(expected),
      s"got=${got.mkString(",")} expected=${expected.mkString(",")}")
  }

  test("keep-best rewrite map: same clusters as d05, canonical is the longest member") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("n_chars")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val m = Dedup.d16DedupKeepBest(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(m.map(_._1).toSet == docs.keySet, "map must cover every document")
    // kept ⇔ self-mapping, and each canonical is its cluster's argmax
    // (longest n_chars, ties to min id)
    val byCanon = m.groupBy(_._2)
    m.foreach { case (id, canon, kept) => assert(kept == (id == canon)) }
    byCanon.foreach { case (canon, members) =>
      val ids = members.map(_._1)
      val best = ids.minBy(id => (-docs(id), id))
      assert(best == canon, s"cluster of $canon should keep $best")
    }
    // membership agreement with d05: a doc is rewritten (not kept) iff
    // d05 dropped it OR it won its cluster on length while d05's min-id
    // canonical lost — i.e., cluster SETS agree even when policies differ
    val d05Kept = Dedup.d05DedupSurvivors(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val clustersOfRewritten = m.filter(!_._3).map(_._2).toSet
    val d05Dropped = docs.keySet -- d05Kept
    // every d05-dropped doc is in some multi-member cluster here too
    d05Dropped.foreach { id =>
      val canon = m.find(_._1 == id).get._2
      assert(byCanon(canon).size > 1, s"$id dropped by d05 but singleton here")
    }
    assert(clustersOfRewritten.forall(c => byCanon(c).size > 1))
  }

  test("keepBestCanonicalWide: bit-equal to the struct form, runs in a HashAggregate") {
    import spark.implicits._
    // planted clusters incl. negative-metric edge values, ties, a
    // 0-metric member (offset-encoding boundary), and large ids
    val labeled = Seq(
      (1L, 10L, 500L), (1L, 11L, 900L), (1L, 12L, 900L), // tie on 900 -> min id 11
      (2L, 20L, 0L), (2L, 21L, 7L),
      (3L, 1000000030L, 123456789L), // id near the 2^32 bound
      (4L, 40L, 1L), (4L, 41L, 1L), (4L, 42L, 2L)
    ).toDF("cluster", "vec_id", "norm_e6")
    val a = Dedup.keepBestCanonical(labeled, "cluster", "vec_id", -col("norm_e6"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val wideDf = Dedup.keepBestCanonicalWide(labeled, "cluster", "vec_id", -col("norm_e6"))
    val b = wideDf.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(a == b, s"struct=$a wide=$b")
    assert(b == Seq((1L, 11L), (2L, 21L), (3L, 1000000030L), (4L, 42L)))
    // out-of-domain ids fail LOUDLY (raise_error), never mis-rank
    val huge = Seq((9L, 4294967296L, 5L)).toDF("cluster", "vec_id", "norm_e6")
    intercept[Exception] {
      Dedup.keepBestCanonicalWide(huge, "cluster", "vec_id", -col("norm_e6")).collect()
    }
    // the point of the wide form: the min runs in a HashAggregate —
    // no SortAggregate anywhere in the plan (the struct form's
    // fallback, which sorts the whole pre-agg stream). AQE off: the
    // adaptive wrapper hides the aggregate nodes from plan collect
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, SortAggregateExec}
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plain = Dedup.keepBestCanonicalWide(labeled, "cluster", "vec_id", -col("norm_e6"))
      plain.collect()
      val p = plain.queryExecution.executedPlan
      assert(p.collect { case x: SortAggregateExec => x }.isEmpty,
        s"wide form fell back to SortAggregate:\n$p")
      assert(p.collect { case x: HashAggregateExec => x }.nonEmpty,
        s"expected a HashAggregate:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("incremental spans: delta-vs-index merge == global recompute; zero corpus-side exchange") {
    import spark.implicits._
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val block = (1 to 10).map(i => s"b$i").mkString(" ") // an 8+-token run
    val corpus = Seq(
      (1L, s"c1 c2 c3 $block c4 c5"),                    // owns the block
      (2L, (20 to 40).map(i => s"u$i").mkString(" ")),   // clean corpus doc
      (3L, s"d1 d2 $block d3"),                          // corpus-only dup of the block
      (4L, (50 to 70).map(i => s"v$i").mkString(" "))
    ).toDF("doc_id", "text")
    val delta = Seq(
      (10L, s"x1 x2 x3 x4 $block x5"),                   // cross corpus-delta dup
      (20L, s"$block y1 y2 $block"),                     // also internal repeat
      (30L, (80 to 100).map(i => s"w$i").mkString(" ")), // clean delta doc
      (40L, s"z1 z2 z3 " + (200 to 220).map(i => s"q$i").mkString(" ")),
      (50L, s"z1 z2 z3 " + (200 to 220).map(i => s"q$i").mkString(" "))  // delta-delta dup of 40
    ).toDF("doc_id", "text")
    Dedup.writeSpanIndex(corpus, "graft_span_spec", gram = 8, numBuckets = 4)
    val savedBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val q = Dedup.incrementalSpansIndexed(spark, delta, "graft_span_spec", gram = 8)
      q.collect()
      val p = q.queryExecution.executedPlan
      // corpus state appears ONLY as the bucketed gram-count scan, and
      // its merge-join leg reads bucket files in place (delta-derived
      // keys alone shuffle into the bucket layout)
      val scans = p.collect { case f: FileSourceScanExec
        if f.tableIdentifier.exists(_.table.contains("graft_span_spec_grams")) => f }
      assert(scans.size == 1, s"expected exactly one grams-table scan:\n$p")
      scans.foreach(f => assert(f.bucketedScan, s"grams scan not bucket-aware:\n$f"))
      import org.apache.spark.sql.execution.joins.BaseJoinExec
      val idxLegs = p.collect { case j: BaseJoinExec => j }.flatMap(_.children)
        .filter(c => c.collectFirst { case jj: BaseJoinExec => jj }.isEmpty &&
          c.collectFirst { case f: FileSourceScanExec
            if f.tableIdentifier.exists(_.table.contains("graft_span_spec_grams")) => f
          }.isDefined)
      assert(idxLegs.nonEmpty, s"grams scan is not a direct join leg:\n$p")
      idxLegs.foreach(leg => assert(
        leg.collect { case x: ShuffleExchangeExec => x }.isEmpty,
        s"corpus-side merge leg shuffles:\n$leg"))
      // correctness: identical to the global d14 recompute over
      // corpus ∪ delta restricted to delta docs
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      val got = rows(q)
      val want = rows(Dedup.duplicateSpans(corpus.unionByName(delta), 8)
        .filter(col("doc_id") >= 10L))
      assert(got == want, s"indexed=$got global=$want")
      // the planted shapes are all present: cross-dup (10), internal
      // repeat (20, two spans or one merged), delta-delta (40, 50); the
      // clean doc (30) and corpus docs never appear
      val docs = got.map(_._1).toSet
      assert(docs == Set(10L, 20L, 40L, 50L), s"flagged docs: $docs")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", savedBroadcast)
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.sql("DROP TABLE IF EXISTS graft_span_spec_grams")
    }
  }

  test("delete from corpus index: re-rep, class removal, results == rebuild without deleted docs") {
    import spark.implicits._
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val other = (300 to 360).map(i => s"k$i").mkString(" ")
    val third = (500 to 560).map(i => s"z$i").mkString(" ")
    // class {1,6,7} (rep 1), class {2}, class {3}
    val corpus = Seq((1L, base), (6L, base), (7L, base), (2L, other),
      (3L, third)).toDF("doc_id", "text")
    val delta = Seq((10L, base + " tailA tailB tailC"),
      (11L, third + " tailD tailE tailF")).toDF("doc_id", "text")
    Dedup.writeCorpusIndex(corpus, "graft_del_spec", numBuckets = 4)
    // delete the REP of the multi-member class (1) and the whole third
    // class (3)
    Dedup.writeCorpusIndex(
      Seq((6L, base), (7L, base), (2L, other)).toDF("doc_id", "text"),
      "graft_del_full", numBuckets = 4)
    try {
      Dedup.deleteFromCorpusIndex(spark, "graft_del_spec",
        Seq(1L, 3L).toDF("doc_id"))
      val reps = spark.table("graft_del_spec_reps")
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
      // third's class disappeared; base's class re-repped at its min
      // surviving member with the deleted id gone
      assert(reps.keySet == Set(6L, 2L), s"reps ${reps.keySet}")
      assert(reps(6L) == Seq(6L, 7L), s"members ${reps(6L)}")
      def rows(name: String) =
        Dedup.incrementalDedupIndexed(spark, delta, name).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
      val got = rows("graft_del_spec")
      assert(got == rows("graft_del_full"),
        "deleted index diverged from rebuild without those docs")
      // the deleted third class must no longer produce a match for its
      // near-dup delta doc; the surviving class matches under rep 6
      assert(got.exists(_._1 == 10L) && got.forall(_._1 != 11L))
      // swap preserved bucket-awareness (zero-Exchange contract)
      import org.apache.spark.sql.execution.FileSourceScanExec
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val q = Dedup.incrementalDedupIndexed(spark, delta, "graft_del_spec")
        q.collect()
        val scans = q.queryExecution.executedPlan.collect {
          case f: FileSourceScanExec
            if f.tableIdentifier.exists(_.table.startsWith("graft_del_spec")) => f }
        assert(scans.nonEmpty && scans.forall(_.bucketedScan),
          "post-delete table scans lost bucket-awareness")
      } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    } finally Seq("graft_del_spec_bands", "graft_del_spec_reps",
      "graft_del_full_bands", "graft_del_full_reps").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("compact corpus index: cross-append dup classes merge, results == rebuild, rep count shrinks") {
    import spark.implicits._
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val other = (300 to 360).map(i => s"k$i").mkString(" ")
    val batch1 = Seq((1L, base), (2L, other)).toDF("doc_id", "text")
    val batch2 = Seq((6L, base)).toDF("doc_id", "text") // exact dup of doc 1
    val delta = Seq((10L, base + " tailA tailB tailC")).toDF("doc_id", "text")
    Dedup.writeCorpusIndex(batch1, "graft_cmp_spec", numBuckets = 4)
    Dedup.appendToCorpusIndex(batch2, "graft_cmp_spec")
    Dedup.writeCorpusIndex(batch1.unionByName(batch2), "graft_cmp_full",
      numBuckets = 4)
    try {
      // before compaction: docs 1 and 6 are SPLIT reps (3 rows); the
      // rebuild holds the merged class (2 rows)
      assert(spark.table("graft_cmp_spec_reps").count() == 3)
      Dedup.compactCorpusIndex(spark, "graft_cmp_spec")
      assert(spark.table("graft_cmp_spec_reps").count() == 2,
        "compaction did not merge the cross-append dup class")
      // the merged class unions both members under the min rep id
      val m = spark.table("graft_cmp_spec_reps").filter(col("rep") === 1L)
        .select("members").collect().head.getSeq[Long](0)
      assert(m == Seq(1L, 6L), s"members $m")
      def rows(name: String) =
        Dedup.incrementalDedupIndexed(spark, delta, name).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(rows("graft_cmp_spec") == rows("graft_cmp_full"),
        "compacted index diverged from rebuild")
      // the tmp-write + rename must carry the bucket spec: scans of the
      // compacted tables stay bucket-aware (the zero-Exchange contract)
      import org.apache.spark.sql.execution.FileSourceScanExec
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val q = Dedup.incrementalDedupIndexed(spark, delta, "graft_cmp_spec")
        q.collect()
        val scans = q.queryExecution.executedPlan.collect {
          case f: FileSourceScanExec
            if f.tableIdentifier.exists(_.table.startsWith("graft_cmp_spec")) => f }
        assert(scans.nonEmpty && scans.forall(_.bucketedScan),
          "compacted table scans lost bucket-awareness")
      } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    } finally Seq("graft_cmp_spec_bands", "graft_cmp_spec_reps",
      "graft_cmp_full_bands", "graft_cmp_full_reps").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("span index append: multi-row gram counts == rebuilt index; prior files byte-stable") {
    import spark.implicits._
    val block = (1 to 10).map(i => s"s$i").mkString(" ")
    val batch1 = Seq(
      (1L, s"a1 a2 $block a3"),                          // block once in batch1
      (2L, (20 to 40).map(i => s"u$i").mkString(" "))
    ).toDF("doc_id", "text")
    val batch2 = Seq(
      (5L, s"b1 b2 b3 $block b4")                        // block once in batch2
    ).toDF("doc_id", "text")
    // delta does NOT contain the block itself twice — it's flagged only
    // if the reader correctly SUMS the split (1 + 1) corpus counts
    val delta = Seq(
      (10L, s"c1 c2 $block c3 c4"),
      (11L, (50 to 70).map(i => s"w$i").mkString(" "))   // clean
    ).toDF("doc_id", "text")
    Dedup.writeSpanIndex(batch1, "graft_spanapp", gram = 8, numBuckets = 4)
    def files(t: String): Map[String, Long] = {
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), t)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(loc).filter(_.isFile).map(f => f.getPath.getName -> f.getLen).toMap
    }
    val before = files("graft_spanapp_grams")
    Dedup.appendToSpanIndex(batch2, "graft_spanapp", gram = 8)
    val after = files("graft_spanapp_grams")
    Dedup.writeSpanIndex(batch1.unionByName(batch2), "graft_spanfull",
      gram = 8, numBuckets = 4)
    try {
      assert(before.forall { case (n, len) => after.get(n).contains(len) },
        "append rewrote prior gram files")
      assert(after.size > before.size, "append added no files")
      def rows(name: String) =
        Dedup.incrementalSpansIndexed(spark, delta, name, gram = 8).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      val appended = rows("graft_spanapp")
      val rebuilt = rows("graft_spanfull")
      // the block's corpus count is SPLIT across two index rows (1 in
      // batch1's file, 1 in batch2's); the reader's per-gh re-aggregation
      // must make that equivalent to the rebuilt single-row count of 2
      assert(appended == rebuilt, s"appended=$appended rebuilt=$rebuilt")
      assert(appended.map(_._1).toSet == Set(10L), s"flagged: $appended")
    } finally Seq("graft_spanapp_grams", "graft_spanfull_grams").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("streaming ingest maintains the corpus index: foreachBatch appends, deltas see earlier batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val other = (300 to 360).map(i => s"k$i").mkString(" ")
    // bootstrap an empty artifact, then let the STREAM own all content:
    // the ingest path and the index maintenance path are the same code
    Dedup.writeCorpusIndex(Seq.empty[(Long, String)].toDF("doc_id", "text"),
      "graft_stream_idx", numBuckets = 4)
    val in = MemoryStream[(Long, String)](spark)
    val q = in.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        Dedup.appendToCorpusIndex(batch, "graft_stream_idx")
      }.start()
    try {
      in.addData((1L, base))
      q.processAllAvailable()
      in.addData((2L, other))
      q.processAllAvailable()
      // a delta near-dup of the FIRST micro-batch's doc must match
      // through the persisted tables alone — batches accumulated as new
      // bucket files exactly like batch appends do
      val delta = Seq((10L, base + " tailA tailB tailC"),
        (11L, (500 to 520).map(i => s"z$i").mkString(" "))).toDF("doc_id", "text")
      val hits = Dedup.incrementalDedupIndexed(spark, delta, "graft_stream_idx")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(hits.toSeq == Seq((10L, 1L)), s"hits: ${hits.mkString(",")}")
    } finally {
      q.stop()
      Seq("graft_stream_idx_bands", "graft_stream_idx_reps").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("delete from span index: negated-count append nets out, prior files byte-stable") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val block = (100 to 110).map(i => s"t$i").mkString(" ") // 11-token run
    val batch1 = Seq(
      (1L, (20 to 40).map(i => s"u$i").mkString(" "))      // clean filler
    ).toDF("doc_id", "text")
    val batch2 = Seq(
      (5L, s"b1 b2 b3 $block b4")                          // block's ONLY corpus copy
    ).toDF("doc_id", "text")
    val delta = Seq(
      (10L, s"c1 c2 $block c3 c4"),
      (11L, (50 to 70).map(i => s"w$i").mkString(" "))
    ).toDF("doc_id", "text")
    Dedup.writeSpanIndex(batch1, "graft_spandel", gram = 8, numBuckets = 4)
    Dedup.appendToSpanIndex(batch2, "graft_spandel", gram = 8)
    Dedup.writeSpanIndex(batch1, "graft_spandel_ref", gram = 8, numBuckets = 4)
    def files(t: String): Map[String, Long] = {
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), t)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(loc).filter(_.isFile).map(f => f.getPath.getName -> f.getLen).toMap
    }
    try {
      def rows(name: String) =
        Dedup.incrementalSpansIndexed(spark, delta, name, gram = 8).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      // with batch2 indexed, the delta copy of the block flags (1+1 ≥ 2)
      assert(rows("graft_spandel").map(_._1).toSet == Set(10L),
        "precondition: block not flagged while its corpus copy is live")
      val before = files("graft_spandel_grams")
      Dedup.deleteFromSpanIndex(batch2, "graft_spandel", gram = 8)
      val after = files("graft_spandel_grams")
      // delete is append-only: prior files untouched, tombstone files added
      assert(before.forall { case (n, len) => after.get(n).contains(len) },
        "delete rewrote prior gram files")
      assert(after.size > before.size, "delete added no tombstone files")
      // the netted index answers exactly like one never containing batch2
      assert(rows("graft_spandel") == rows("graft_spandel_ref"),
        "netted counts diverged from an index built without the batch")
      assert(rows("graft_spandel").isEmpty,
        "block still flags after its only corpus copy was deleted")
    } finally Seq("graft_spandel_grams", "graft_spandel_ref_grams").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("compact span index: == rebuild over survivors, zero-net grams vanish, layout kept, crashed swap heals") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val block = (200 to 210).map(i => s"p$i").mkString(" ") // 11-token run
    val batch1 = Seq(
      (1L, (20 to 40).map(i => s"u$i").mkString(" "))).toDF("doc_id", "text")
    val batch2 = Seq((5L, s"b1 b2 b3 $block b4")).toDF("doc_id", "text")
    val batch3 = Seq((11L, s"d1 d2 $block d3 d4")).toDF("doc_id", "text")
    val delta = Seq((10L, s"c1 c2 $block c3 c4")).toDF("doc_id", "text")
    def files(t: String): Map[String, Long] = {
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), t)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(loc).filter(_.isFile).map(f => f.getPath.getName -> f.getLen).toMap
    }
    def rows(name: String) =
      Dedup.incrementalSpansIndexed(spark, delta, name, gram = 8).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    try {
      Dedup.writeSpanIndex(batch1, "graft_spancomp", gram = 8, numBuckets = 4)
      Dedup.appendToSpanIndex(batch2, "graft_spancomp", gram = 8)
      Dedup.appendToSpanIndex(batch3, "graft_spancomp", gram = 8)
      Dedup.deleteFromSpanIndex(batch3, "graft_spancomp", gram = 8)
      val preCompact = rows("graft_spancomp")
      assert(preCompact.map(_._1).toSet == Set(10L),
        "precondition: block should flag off its surviving batch2 copy")
      val filesBefore = files("graft_spancomp_grams")
      Dedup.compactSpanIndex(spark, "graft_spancomp")
      // reads unchanged; table == a fresh build over the SURVIVING corpus
      assert(rows("graft_spancomp") == preCompact, "compact changed answers")
      Dedup.writeSpanIndex(batch1.union(batch2), "graft_spancomp_ref",
        gram = 8, numBuckets = 4)
      val got = spark.table("graft_spancomp_grams").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val ref = spark.table("graft_spancomp_ref_grams").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == ref, "compacted table != rebuild over survivors")
      // one row per gram, no zero-net tombstone survivors, fewer files
      assert(spark.table("graft_spancomp_grams")
        .groupBy(col("gh")).count().filter(col("count") > 1).count() == 0)
      assert(files("graft_spancomp_grams").size < filesBefore.size,
        "compact did not shrink the file count")
      // layout preserved: the NEXT append still matches the bucket spec
      // and multi-row re-aggregation keeps answering correctly
      Dedup.appendToSpanIndex(batch3, "graft_spancomp", gram = 8)
      assert(rows("graft_spancomp").map(_._1).toSet == Set(10L))
      // crashed swap: live dropped, _tmp complete -> next compact heals
      spark.sql("ALTER TABLE graft_spancomp_grams RENAME TO graft_spancomp_grams_tmp")
      Dedup.compactSpanIndex(spark, "graft_spancomp")
      assert(spark.catalog.tableExists("graft_spancomp_grams"))
      assert(rows("graft_spancomp").map(_._1).toSet == Set(10L),
        "healed index answers diverged")
    } finally Seq("graft_spancomp_grams", "graft_spancomp_grams_tmp",
      "graft_spancomp_ref_grams").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("cluster-label memo: second call replays nothing (same checkpointed frame)") {
    val a = Dedup.minhashClusterLabels(spark, sf)
    val b = Dedup.minhashClusterLabels(spark, sf)
    // a hit must return the SAME frame — d05 and d16 in one session then
    // share one pairs→labels computation instead of re-running it
    assert(a eq b, "memo returned a fresh frame; the labels pipeline would re-run")
    // the shared frame's lineage ends at the iteration's eager
    // localCheckpoint: re-use replays a projection over materialized
    // blocks, never the candidate+verify+CC subtree
    val hasRdd = a.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l
    }.nonEmpty
    assert(hasRdd, "labels lineage should terminate at a checkpointed RDD:\n" +
      a.queryExecution.optimizedPlan)
  }

  test("d21 kNN clusters: 50 planted 4-families, binding rank cutoff (5 of 6 edges), exact checksums") {
    // the planted structure is fully predictable: cluster label = the
    // base vec_id (min of the family), 4 nodes, node_sum = 4·base +
    // 6·10⁶, and n_edges = 5 — k=2 keeps 5 of the 6 possible K4 edges,
    // proving the top-k cutoff actually bit (a pure τ-threshold graph
    // would emit 6; validated against DuckDB brute force at all SFs)
    val rows = Dedup.d21KnnClusters(spark, sf).collect()
    assert(rows.length == 50)
    rows.foreach { r =>
      val c = r.getLong(0)
      assert(c >= 0 && c < 50, s"cluster label $c is not a base vec_id")
      assert(r.getLong(1) == 4, s"cluster $c size ${r.getLong(1)}")
      assert(r.getLong(2) == 5, s"cluster $c edges ${r.getLong(2)}")
      assert(r.getLong(3) == 4 * c + 6000000L, s"cluster $c checksum")
    }
    spark.sharedState.cacheManager.clearCache()
  }

  test("d23 incremental kNN: affected-cell recompute == frozen-centroid full rebuild; planted deltas join their families") {
    import org.apache.spark.sql.functions.col
    try {
      // the equivalence that makes the incremental path sound: keeping
      // unaffected sources' edges + re-ranking affected sources equals
      // ranking EVERYTHING over the merged index (displacements included)
      val inc = Dedup.incrementalKnnEdges(spark, sf, full = false).cache()
      val reb = Dedup.incrementalKnnEdges(spark, sf, full = true).cache()
      val diff = inc.exceptAll(reb).count() + reb.exceptAll(inc).count()
      assert(diff == 0, s"incremental kNN edges diverged from full rebuild by $diff rows")
      // planted structure: each +0.03 arrival joins its 4-member family
      // cluster (label = base id), contributing exactly its 2 directed
      // picks (+0.02, +0.01) as canonical edges — no member ranks the
      // farthest copy into ITS top-2, so no displacement either
      val rows = Dedup.d23IncrementalKnn(spark, sf).collect()
      assert(rows.length == 50)
      rows.foreach { r =>
        val f = r.getLong(0) - 3000000L
        assert(f >= 0 && f < 50, s"unexpected delta id ${r.getLong(0)}")
        assert(r.getLong(1) == f, s"delta $f cluster ${r.getLong(1)}")
        assert(r.getLong(2) == 4, s"delta $f cluster size ${r.getLong(2)}")
        assert(r.getLong(3) == 2, s"delta $f incident edges ${r.getLong(3)}")
      }
    } finally spark.catalog.clearCache()
  }

  test("d23 displacement: a delta that evicts an edge from BOTH endpoints' top-k removes it; incremental == rebuild") {
    // the planted fixture only ADDS edges; this crafted 2-d corpus
    // witnesses the harder path — a canonical edge dies only when the
    // delta displaces it from both endpoints' top-k lists — plus a
    // non-trivial keep side (the far cluster shares no probed cell
    // with the delta, so its edges must arrive via the anti-join)
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, least, greatest}
    def vec(deg: Double): Seq[Double] =
      Seq(math.cos(math.toRadians(deg)), math.sin(math.toRadians(deg)))
    // near cluster: A(1)@0°, B(2)@21.6°, D(3)@-23.1°, G(4)@-43.3°
    //   base top-2: A→{B,D}, D→{G,A} ⇒ canonical A-B, A-D, D-G
    // far cluster H(10..13)@165/175/185/195° — unaffected by the delta
    val corpus = Seq(
      1L -> vec(0), 2L -> vec(21.6), 3L -> vec(-23.1), 4L -> vec(-43.3),
      10L -> vec(165), 11L -> vec(175), 12L -> vec(185), 13L -> vec(195))
      .toDF("vec_id", "emb")
      .withColumn("nrm", graft.functions.VectorFunctions.l2Norm(col("emb")))
    // delta C(100)@-9°: sim .988 to A and .970 to D — beats B in A's
    // list AND beats A in D's list, so A-D must vanish
    val delta = Seq(100L -> vec(-9.0)).toDF("vec_id", "emb")
      .withColumn("nrm", graft.functions.VectorFunctions.l2Norm(col("emb")))
    val (cents, base) = Dedup.knnTrainBase(corpus)
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val baseE = canon(base)
    assert(baseE.contains((1L, 3L)), s"precondition: base lacks A-D: $baseE")
    assert(baseE.contains((10L, 11L)), s"precondition: base lacks H1-H2: $baseE")
    def edges(full: Boolean) =
      Dedup.incrementalKnnEdgesFrom(corpus, delta, cents, base, full)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val inc = edges(full = false)
    val reb = edges(full = true)
    assert(inc == reb, s"incremental $inc != rebuild $reb")
    assert(!inc.contains((1L, 3L)), s"displaced edge A-D survived: $inc")
    assert(inc.contains((1L, 100L)) && inc.contains((3L, 100L)),
      s"delta edges missing: $inc")
    assert(inc.contains((10L, 11L)), s"kept far-cluster edge lost: $inc")
  }

  test("d22 gate: IVF-candidate kNN edges are row-identical to the exact all-pairs anchor") {
    val rows = Dedup.d22KnnGate(spark, sf).collect()
    assert(rows.length == 1)
    assert(rows.head.getLong(0) == 250L, "50 families x 5 edges expected")
    assert(rows.head.getBoolean(1), "IVF kNN edges drifted from exact")
    spark.sharedState.cacheManager.clearCache()
  }

  test("duplicate spans on the real corpus: every span covers only flagged gram starts") {
    // structural invariants at sf0.001: spans are disjoint per doc,
    // ordered, length ≥ gram, and end-start+1 == span_len
    val rows = Dedup.d14DuplicateSpans(spark, sf).collect()
    assert(rows.nonEmpty, "fixture corpus is known to carry duplicated passages")
    rows.groupBy(_.getLong(0)).foreach { case (_, spans) =>
      val sorted = spans.sortBy(_.getLong(1))
      assert(sorted.sameElements(spans), "spans must arrive ordered by start")
      sorted.foreach { r =>
        assert(r.getLong(3) >= 8 && r.getLong(2) - r.getLong(1) + 1 == r.getLong(3))
      }
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(b.getLong(1) >= a.getLong(2) + 2,
          "flagged starts within merge distance should have merged")
        case _ =>
      }
    }
  }
}
