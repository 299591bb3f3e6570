package graft

import graft.operators.Similarity

class SimilaritySpec extends SparkSpec {

  private lazy val exact = Similarity.s01CosineTopK(spark, sf).collect()
  private lazy val approx = Similarity.s02AnnIvf(spark, sf).collect()
  private lazy val srp = Similarity.s03AnnSrp(spark, sf).collect()
  private lazy val pq = Similarity.s05AnnPq(spark, sf).collect()
  private lazy val ivfpq = Similarity.s09AnnIvfPq(spark, sf).collect()

  test("exact top-k: 5 ranked neighbors per query, sims non-increasing") {
    val byQuery = exact.groupBy(_.getLong(0))
    assert(byQuery.size == 10)
    byQuery.foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getLong(3))
      assert(sorted.map(_.getLong(3)).toSeq == (1L to 5L))
      val sims = sorted.map(_.getLong(2)).toSeq
      assert(sims == sims.sorted.reverse, s"sims not sorted: $sims")
    }
  }

  test("IVF recall@5 vs exact baseline is high") {
    val e = exact.map(r => (r.getLong(0), r.getLong(1))).toSet
    val a = approx.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (e & a).size.toDouble / e.size
    // measured 0.78 at sf0.001 / 0.62 at sf0.1 with one Lloyd pass,
    // probing 6 of 16 cells over near-random embeddings
    assert(recall >= 0.6, s"recall@5=$recall")
  }

  test("SRP-LSH recall@5 vs exact baseline is high") {
    val e = exact.map(r => (r.getLong(0), r.getLong(1))).toSet
    val a = srp.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (e & a).size.toDouble / e.size
    assert(recall >= 0.6, s"recall@5=$recall")
  }

  test("PQ-ADC recall@5 vs exact baseline is high; 5 ranked rows per query") {
    val e = exact.map(r => (r.getLong(0), r.getLong(1))).toSet
    val a = pq.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (e & a).size.toDouble / e.size
    assert(recall >= 0.6, s"recall@5=$recall")
    val byQuery = pq.groupBy(_.getLong(0))
    assert(byQuery.size == 10)
    byQuery.foreach { case (_, rows) =>
      assert(rows.map(_.getLong(3)).sorted.toSeq == (1L to 5L))
    }
  }

  test("IVF-PQ recall@5 vs exact baseline is high; 5 ranked rows per query") {
    val e = exact.map(r => (r.getLong(0), r.getLong(1))).toSet
    val a = ivfpq.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (e & a).size.toDouble / e.size
    assert(recall >= 0.6, s"recall@5=$recall")
    val byQuery = ivfpq.groupBy(_.getLong(0))
    assert(byQuery.size == 10)
    byQuery.foreach { case (_, rows) =>
      assert(rows.map(_.getLong(3)).sorted.toSeq == (1L to 5L))
    }
    // composition can only restrict PQ's candidate set: every IVF-PQ
    // hit of the exact set is also reachable, and rank rows stay total
    assert(a.size == e.size)
  }

  test("SRP-LSH returns exactly 5 ranked rows per query") {
    val byQuery = srp.groupBy(_.getLong(0))
    assert(byQuery.size == 10)
    byQuery.foreach { case (_, rows) =>
      assert(rows.map(_.getLong(3)).sorted.toSeq == (1L to 5L))
    }
  }

  test("int8-quantized storage path keeps brute-force recall@5 high") {
    // the 4x-smaller storage format (quantizeInt8) must not wreck
    // neighbor quality: dequantize and rerun the exact top-k, compare
    import org.apache.spark.sql.functions._
    import graft.functions.VectorFunctions
    val scale = 0.005 // |values| ≤ ~0.35 → well inside ±127 steps
    val deq = Tables.embeddings(spark, sf)
      .select(col("vec_id"),
        VectorFunctions.dequantizeInt8(
          VectorFunctions.quantizeInt8(col("embedding"), scale), scale).as("embedding"))
    deq.createOrReplaceTempView("graft_q_embeddings")
    val e = deq.select(col("vec_id"), VectorFunctions.toDouble(col("embedding")).as("emb"))
      .withColumn("nrm", VectorFunctions.l2Norm(col("emb")))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("emb").as("qe"), col("nrm").as("qn"))
    val c = e.filter(col("vec_id") >= 10)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("sim").desc, col("vec_id"))
    val quantTop = c.join(broadcast(q))
      .select(col("query_id"), col("vec_id"),
        VectorFunctions.cosineWithNorms(col("qe"), col("emb"), col("qn"), col("nrm")).as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .collect()
    val ex = exact.map(r => (r.getLong(0), r.getLong(1))).toSet
    val qt = quantTop.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (ex & qt).size.toDouble / ex.size
    assert(recall >= 0.8, s"int8 recall@5=$recall")
  }

  test("IVF never returns a better-than-exact neighbor (sanity)") {
    val bestExact = exact.filter(_.getLong(3) == 1L)
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    approx.filter(_.getLong(3) == 1L).foreach { r =>
      assert(r.getLong(2) <= bestExact(r.getLong(0)))
    }
  }

  test("persisted ANN index: every family answers from tables alone, row-identical to inline") {
    import org.apache.spark.sql.functions.col
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"),
        graft.functions.VectorFunctions.toDouble(col("embedding")).as("emb"))
      .withColumn("nrm", graft.functions.VectorFunctions.l2Norm(col("emb")))
    val corpus = e.filter(col("vec_id") >= 10)
    Similarity.writeAnnIndex(spark, corpus, "graft_ann_spec", numBuckets = 4)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("emb").as("qe"), col("nrm").as("qn"))
    try {
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      assert(rows(Similarity.annIvfIndexed(spark, q, "graft_ann_spec")) ==
        rows(Similarity.s02AnnIvf(spark, sf)), "IVF indexed != inline")
      assert(rows(Similarity.annSrpIndexed(spark, q, "graft_ann_spec")) ==
        rows(Similarity.s03AnnSrp(spark, sf)), "SRP indexed != inline")
      assert(rows(Similarity.annPqIndexed(spark, q, "graft_ann_spec")) ==
        rows(Similarity.s05AnnPq(spark, sf)), "PQ indexed != inline")
      assert(rows(Similarity.annIvfPqIndexed(spark, q, "graft_ann_spec")) ==
        rows(Similarity.s09AnnIvfPq(spark, sf)), "IVF-PQ indexed != inline")
      // the IVF-PQ indexed plan answers from the cell-bucketed _pq scan
      // whose broadcast-join leg has zero Exchange (probes broadcast in;
      // the only shuffles are the candidate heap and output sort)
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        import org.apache.spark.sql.execution.FileSourceScanExec
        import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
        val exec = Similarity.annIvfPqIndexed(spark, q, "graft_ann_spec")
          .queryExecution.executedPlan
        val pqScans = exec.collect { case f: FileSourceScanExec
          if f.tableIdentifier.exists(_.table.contains("graft_ann_spec_pq")) => f }
        assert(pqScans.nonEmpty, s"no _pq table scan in plan:\n$exec")
        pqScans.foreach(f => assert(f.bucketedScan, s"_pq scan not bucket-aware:\n$f"))
        // the probe join's streamed leg is the _pq scan with NO exchange
        // between them (the rerank join upstream re-references candidates
        // through the heap exchange — that's a different, expected leg)
        val directLegs = exec.collect { case j: BroadcastHashJoinExec => j }
          .flatMap(_.children).filter(c =>
            c.collect { case x: ShuffleExchangeExec => x }.isEmpty &&
            c.collectFirst { case f: FileSourceScanExec
              if f.tableIdentifier.exists(_.table.contains("graft_ann_spec_pq")) => f
            }.isDefined)
        assert(directLegs.nonEmpty,
          s"no shuffle-free broadcast-join leg scans _pq:\n$exec")
      } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    } finally Seq("_cells", "_srp", "_pq", "_side").foreach(sfx =>
      spark.sql(s"DROP TABLE IF EXISTS graft_ann_spec$sfx"))
  }

  test("indexed IVF plan: bucketed cells scan, zero index-side exchange") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.functions.col
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"),
        graft.functions.VectorFunctions.toDouble(col("embedding")).as("emb"))
      .withColumn("nrm", graft.functions.VectorFunctions.l2Norm(col("emb")))
    Similarity.writeAnnIndex(spark, e.filter(col("vec_id") >= 10),
      "graft_ann_plan", numBuckets = 4)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("emb").as("qe"), col("nrm").as("qn"))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = Similarity.annIvfIndexed(spark, q, "graft_ann_plan")
      df.collect()
      val p = df.queryExecution.executedPlan
      // the index appears as a bucket-aware scan of `_cells`...
      val idxScans = p.collect { case f: FileSourceScanExec
        if f.tableIdentifier.exists(_.table.contains("graft_ann_plan_cells")) => f }
      assert(idxScans.nonEmpty, s"no _cells table scan in plan:\n$p")
      idxScans.foreach(f => assert(f.bucketedScan, s"cells scan not bucket-aware:\n$f"))
      // ...feeding a broadcast join (probes build side) with NO exchange
      // on the index leg: the corpus never moves for a query batch
      val joins = p.collect { case j: BroadcastHashJoinExec => j }
      assert(joins.nonEmpty, s"probe join is not broadcast:\n$p")
      val idxLegs = joins.flatMap(_.children).filter(c =>
        c.collectFirst { case f: FileSourceScanExec
          if f.tableIdentifier.exists(_.table.contains("graft_ann_plan_cells")) => f
        }.isDefined)
      idxLegs.foreach(leg => assert(
        leg.collect { case x: ShuffleExchangeExec => x }.isEmpty,
        s"index-side join leg shuffles:\n$leg"))
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      Seq("_cells", "_srp", "_pq", "_side").foreach(sfx =>
        spark.sql(s"DROP TABLE IF EXISTS graft_ann_plan$sfx"))
    }
  }

  test("ANN index append: frozen-state insert, prior files byte-stable, appended vector becomes top hit") {
    import org.apache.spark.sql.functions._
    val dim = 64
    def vecs(ids: org.apache.spark.sql.DataFrame, seed: Int) = ids
      .select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(dim - 1)),
          i => pmod(xxhash64(col("id"), i, lit(seed)), lit(2000001L)).cast("double") / 1000000.0 - 1.0)
          .as("emb"))
      .withColumn("nrm", graft.functions.VectorFunctions.l2Norm(col("emb")))
    val batch1 = vecs(spark.range(10, 210).toDF("id"), 1)
    // query 0 and an appended NEAR-DUPLICATE of it (id 9000, same seed
    // stream as the query, tiny perturbation): after append it must be
    // the query's top hit in every family
    val q = vecs(spark.range(0, 5).toDF("id"), 99)
      .select(col("vec_id").as("query_id"), col("emb").as("qe"), col("nrm").as("qn"))
    val dup0 = q.filter(col("query_id") === 0)
      .select(lit(9000L).as("vec_id"),
        transform(col("qe"), x => x + lit(0.001)).as("emb"))
      .withColumn("nrm", graft.functions.VectorFunctions.l2Norm(col("emb")))
    val batch2 = vecs(spark.range(210, 300).toDF("id"), 2).unionByName(dup0)
    Similarity.writeAnnIndex(spark, batch1, "graft_ann_app", numBuckets = 4)
    def files(t: String): Map[String, Long] = {
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), t)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(loc).filter(_.isFile).map(f => f.getPath.getName -> f.getLen).toMap
    }
    val before = files("graft_ann_app_cells")
    Similarity.appendToAnnIndex(spark, batch2, "graft_ann_app")
    val after = files("graft_ann_app_cells")
    try {
      assert(before.forall { case (n, len) => after.get(n).contains(len) },
        "append rewrote prior cell files")
      assert(after.size > before.size, "append added no cell files")
      // every family's indexed path now surfaces the appended near-dup
      // as query 0's rank-1 hit (cos ≈ 1): cell assignment, SRP sigs,
      // and PQ codes were all derived from the FROZEN sidecar state, so
      // probe-side routing agrees with append-side placement
      for ((name, df) <- Seq(
          "ivf" -> Similarity.annIvfIndexed(spark, q, "graft_ann_app"),
          "srp" -> Similarity.annSrpIndexed(spark, q, "graft_ann_app"),
          "pq"  -> Similarity.annPqIndexed(spark, q, "graft_ann_app"))) {
        val top = df.filter(col("query_id") === 0 && col("rank") === 1).collect()
        assert(top.length == 1 && top.head.getLong(1) == 9000L,
          s"$name: appended near-dup not the top hit: ${top.mkString(",")}")
        assert(top.head.getLong(2) > 999000L, s"$name: top sim_e6 ${top.head.getLong(2)}")
      }
    } finally Seq("_cells", "_srp", "_pq", "_side").foreach(sfx =>
      spark.sql(s"DROP TABLE IF EXISTS graft_ann_app$sfx"))
  }

  test("ANN append: redelivery inserts zero rows; a mid-append crash heals through the retry") {
    import org.apache.spark.sql.functions._
    val dim = 64
    def vecs(ids: org.apache.spark.sql.DataFrame, seed: Int) = ids
      .select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(dim - 1)),
          i => pmod(xxhash64(col("id"), i, lit(seed)), lit(2000001L)).cast("double") / 1000000.0 - 1.0)
          .as("emb"))
      .withColumn("nrm", graft.functions.VectorFunctions.l2Norm(col("emb")))
    val sfxs = Seq("_cells", "_srp", "_pq")
    def counts(n: String): Seq[Long] = sfxs.map(x => spark.table(n + x).count())
    val base = vecs(spark.range(10, 210).toDF("id"), 1)
    val batch = vecs(spark.range(210, 290).toDF("id"), 2)
    try {
      Similarity.writeAnnIndex(spark, base, "graft_ann_rd", numBuckets = 4)
      // clean single-append reference index off the same frozen state
      // (refine is order-invariant, so both builds share centroids)
      Similarity.writeAnnIndex(spark, base, "graft_ann_rd_ref", numBuckets = 4)
      Similarity.appendToAnnIndex(spark, batch, "graft_ann_rd_ref")
      // crash debris: a strict prefix (half, sorted) of the batch's
      // _cells delta landed with NO _srp/_pq rows — the state a crash
      // mid-_cells append leaves. The planted rows are the reference
      // index's own _cells rows for those ids: bit-identical to what
      // the real append's _cells write lands (both derive from the same
      // frozen sidecar state), through the same bucketed layout.
      val prefixIds = batch.select("vec_id").collect().map(_.getLong(0)).sorted.take(40)
      spark.table("graft_ann_rd_ref_cells")
        .filter(col("vec_id").isin(prefixIds: _*))
        .write.mode("append").bucketBy(4, "cell").sortBy("cell")
        .saveAsTable("graft_ann_rd_cells")
      // mid-crash: every table internally valid (unique vec_ids)
      sfxs.foreach { x =>
        val dup = spark.table("graft_ann_rd" + x)
          .groupBy(col("vec_id")).count().filter(col("count") > 1).count()
        assert(dup == 0, s"$x has duplicate vec_ids mid-crash")
      }
      // the retry IS the heal: each table converges independently
      Similarity.appendToAnnIndex(spark, batch, "graft_ann_rd")
      val afterRetry = counts("graft_ann_rd")
      // redelivery of the fully-committed batch inserts zero rows
      Similarity.appendToAnnIndex(spark, batch, "graft_ann_rd")
      assert(counts("graft_ann_rd") == afterRetry, "redelivery inserted rows")
      // final ≡ clean single-append reference, per family
      sfxs.foreach { x =>
        val a = spark.table("graft_ann_rd" + x)
        val b = spark.table("graft_ann_rd_ref" + x)
        assert(a.exceptAll(b).unionByName(b.exceptAll(a)).isEmpty,
          s"$x drifted from the clean single-append reference")
      }
    } finally (sfxs :+ "_side").foreach { x =>
      spark.sql(s"DROP TABLE IF EXISTS graft_ann_rd$x")
      spark.sql(s"DROP TABLE IF EXISTS graft_ann_rd_ref$x")
    }
  }

  test("delete from ANN index: deleted vectors vanish from every family; sidecar frozen; buckets intact") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dim = 64
    def gen(ids: org.apache.spark.sql.DataFrame, seed: Int) = ids
      .select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(dim - 1)),
          i => pmod(xxhash64(col("id"), i, lit(seed)), lit(2000001L)).cast("double") / 1000000.0 - 1.0)
          .as("emb"))
      .withColumn("nrm", graft.functions.VectorFunctions.l2Norm(col("emb")))
    val corpus = gen(spark.range(0, 120).toDF("id"), 7)
    // queries 0..2 EQUAL corpus vectors 0..2 (same generator seed)
    val q = gen(spark.range(0, 3).toDF("id"), 7)
      .select(col("vec_id").as("query_id"), col("emb").as("qe"), col("nrm").as("qn"))
    val doomed = Set(0L, 17L, 55L)
    Similarity.writeAnnIndex(spark, corpus, "graft_ann_del", numBuckets = 4)
    try {
      val sideBefore = spark.table("graft_ann_del_side").collect()
        .map(_.toString).sorted.toSeq
      val pre = Similarity.annIvfIndexed(spark, q, "graft_ann_del")
        .filter(col("query_id") === 0 && col("rank") === 1).collect()
      assert(pre.length == 1 && pre.head.getLong(1) == 0L,
        "precondition: query 0's identical vector is its top hit")
      Similarity.deleteFromAnnIndex(spark, "graft_ann_del",
        doomed.toSeq.toDF("vec_id"))
      for ((name, df) <- Seq(
          "ivf" -> Similarity.annIvfIndexed(spark, q, "graft_ann_del"),
          "srp" -> Similarity.annSrpIndexed(spark, q, "graft_ann_del"),
          "pq"  -> Similarity.annPqIndexed(spark, q, "graft_ann_del"))) {
        val rows = df.collect()
        assert(rows.nonEmpty, s"$name: no results after delete")
        assert(rows.forall(r => !doomed.contains(r.getLong(1))),
          s"$name: a deleted vector resurfaced")
        // query 0 still gets a full ranked answer — just not vector 0
        val q0 = rows.filter(_.getLong(0) == 0L)
        assert(q0.nonEmpty && q0.forall(_.getLong(1) != 0L),
          s"$name: query 0 results wrong after deleting its twin")
      }
      // quantization state is FROZEN: the sidecar survives byte-for-byte
      val sideAfter = spark.table("graft_ann_del_side").collect()
        .map(_.toString).sorted.toSeq
      assert(sideBefore == sideAfter, "delete touched the sidecar")
      // the tmp-write + rename swap preserved bucket-awareness
      import org.apache.spark.sql.execution.FileSourceScanExec
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val qq = Similarity.annIvfIndexed(spark, q, "graft_ann_del")
        qq.collect()
        val scans = qq.queryExecution.executedPlan.collect {
          case f: FileSourceScanExec
            if f.tableIdentifier.exists(_.table.startsWith("graft_ann_del")) => f }
        assert(scans.nonEmpty && scans.forall(_.bucketedScan),
          "post-delete ANN table scans lost bucket-awareness")
      } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    } finally Seq("_cells", "_srp", "_pq", "_side").foreach(sfx =>
      spark.sql(s"DROP TABLE IF EXISTS graft_ann_del$sfx"))
  }

  test("PQ indexed path on a tiny corpus: empty codebooks fall back to exact scoring") {
    import org.apache.spark.sql.functions._
    val dim = 64
    def gen(ids: org.apache.spark.sql.DataFrame, seed: Int) = ids
      .select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(dim - 1)),
          i => pmod(xxhash64(col("id"), i, lit(seed)), lit(2000001L)).cast("double") / 1000000.0 - 1.0)
          .as("emb"))
      .withColumn("nrm", graft.functions.VectorFunctions.l2Norm(col("emb")))
    // 5 corpus vectors < PqK=16: codebooks can't seed, build writes an
    // empty _pq and no pq sidecar rows — the query path must answer
    // exactly (brute force over _cells), not crash or mis-rank
    val corpus = gen(spark.range(10, 15).toDF("id"), 3)
    val q = gen(spark.range(0, 3).toDF("id"), 44)
      .select(col("vec_id").as("query_id"), col("emb").as("qe"), col("nrm").as("qn"))
    Similarity.writeAnnIndex(spark, corpus, "graft_ann_tiny", numBuckets = 2)
    try {
      assert(spark.table("graft_ann_tiny_pq").count() == 0, "expected empty _pq")
      val rows = Similarity.annPqIndexed(spark, q, "graft_ann_tiny").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
      // every query ranks the full 5-vector corpus exactly
      assert(rows.length == 15, s"expected 3 queries x 5 ranked rows, got ${rows.length}")
      rows.groupBy(_._1).foreach { case (_, rs) =>
        assert(rs.map(_._3).sorted.toSeq == (1L to 5L))
      }
    } finally Seq("_cells", "_srp", "_pq", "_side").foreach(sfx =>
      spark.sql(s"DROP TABLE IF EXISTS graft_ann_tiny$sfx"))
  }

  test("query batches stay a DataFrame: 1000 synthetic queries, no driver collect of the query set") {
    import org.apache.spark.sql.functions._
    // deterministic synthetic queries — NOT a local collection: built from
    // range(), so a collect-and-reparallelize anywhere in the query path
    // would erase the Range node the assertion below requires
    val nq = 1000
    val dim = 64 // PQ's M=8 × 8-dim subspace layout expects 64-d vectors
    val qe = transform(sequence(lit(0), lit(dim - 1)),
      i => pmod(xxhash64(col("id"), i), lit(2000001L)).cast("double") / 1000000.0 - 1.0)
    val q = spark.range(nq)
      .select(col("id").as("query_id"), qe.as("qe"))
      .withColumn("qn", graft.functions.VectorFunctions.l2Norm(col("qe")))
    val ce = transform(sequence(lit(0), lit(dim - 1)),
      i => pmod(xxhash64(col("id"), i, lit(7)), lit(2000001L)).cast("double") / 1000000.0 - 1.0)
    val corpus = spark.range(200)
      .select((col("id") + 10).as("vec_id"), ce.as("emb"))
      .withColumn("nrm", graft.functions.VectorFunctions.l2Norm(col("emb")))
    Similarity.writeAnnIndex(spark, corpus, "graft_ann_batch", numBuckets = 4)
    try {
      val res = Similarity.annPqIndexed(spark, q, "graft_ann_batch")
      // the query relation participates in the plan (it was never
      // collected): the Range source must survive into the executed plan
      assert(res.queryExecution.executedPlan.toString.contains("Range"),
        "query-side Range node missing — did the path collect the queries?\n" +
          res.queryExecution.executedPlan)
      val rows = res.collect()
      // every query got exactly 5 ranked candidates (corpus >> k, no
      // label predicate) — 5000 rows total
      assert(rows.length == nq * 5, s"expected ${nq * 5} rows, got ${rows.length}")
      // PQ is approximate; its value contract is the rerank: each row's
      // sim must equal the exact cosine for that (query, vec) pair
      val emb = corpus.collect().map(r =>
        r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
      val qemb = q.collect().map(r =>
        r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
      def cos(a: Array[Double], b: Array[Double]): Double = {
        var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
        if (na == 0 || nb == 0) -2.0 else d / math.sqrt(na * nb)
      }
      rows.take(200).foreach { r =>
        val want = cos(qemb(r.getLong(0)), emb(r.getLong(1)))
        val wantE6 = math.floor(want * 1e6 + 0.5).toLong
        assert(math.abs(r.getLong(2) - wantE6) <= 2,
          s"rerank sim off: got ${r.getLong(2)} want ~$wantE6")
      }
    } finally Seq("_cells", "_srp", "_pq", "_side").foreach(sfx =>
      spark.sql(s"DROP TABLE IF EXISTS graft_ann_batch$sfx"))
  }

  test("filtered-indexed search: label contract exact, recall vs exact-filtered holds") {
    val r = Similarity.s08FilteredIndexGate(spark, sf).collect()
    try {
      assert(r.length == 1)
      assert(r.head.getLong(0) == 10L, s"n_queries ${r.head.getLong(0)}")
      assert(r.head.getBoolean(1), "an indexed hit crossed the label predicate")
      assert(r.head.getBoolean(2), "filtered recall fell below 0.6 vs exact s06")
    }
    // no cleanup: the gate reads the SHARED fingerprint-keyed artifact
    // (Similarity.sharedAnnIndex), which persists for the session by
    // design — s07/s10 and repeat invocations reuse it
  }

  test("ANN drift: heavy shifted appends, then retrain == fresh rebuild and recall recovers") {
    import org.apache.spark.sql.functions._
    import graft.functions.{VectorFunctions => VF}
    val dim = 64
    // raw hash values land in [0, 2]; emb = raw·scale + offset
    def gen(ids: org.apache.spark.sql.DataFrame, seed: Int,
        offset: Double, scale: Double) = ids
      .select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(dim - 1)),
          i => pmod(xxhash64(col("id"), i, lit(seed)), lit(2000001L))
            .cast("double") / 1000000.0 * scale + offset).as("emb"))
      .withColumn("nrm", VF.l2Norm(col("emb")))
    val base = gen(spark.range(100, 400).toDF("id"), 3, -1.0, 1.0)
    val shifted = gen(spark.range(1000, 3000).toDF("id"), 9, 1.0, 1.0)
    val names = Seq("graft_ann_drift", "graft_ann_fresh")
    try {
      Similarity.writeAnnIndex(spark, base, "graft_ann_drift", numBuckets = 4)
      // 2000 appended on 300 base (87% new), a mode the frozen
      // centroids/codebooks never saw
      Similarity.appendToAnnIndex(spark, shifted, "graft_ann_drift")
      // queries: perturbed copies of 10 shifted vectors — their exact
      // neighbors live entirely inside the appended mode
      val q = gen(spark.range(1000, 1010).toDF("id"), 9, 1.0, 1.0)
        .select((col("vec_id") - 1000).as("query_id"),
          transform(col("emb"), x => x + lit(0.003)).as("qe"))
        .withColumn("qn", VF.l2Norm(col("qe")))
      // exact reference, computed in plain Scala over the 700 collected
      // vectors (the t28 plain-reference pattern)
      val all = base.unionByName(shifted).select("vec_id", "emb").collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      val qv = q.select("query_id", "qe").collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      def cos(a: Array[Double], b: Array[Double]): Double = {
        var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) { d += a(i)*b(i); na += a(i)*a(i); nb += b(i)*b(i); i += 1 }
        d / math.sqrt(na * nb)
      }
      // the decisive metric: is each query's TRUE nearest neighbor (its
      // perturbed source, cos ≈ 0.9999 — a huge margin) inside the
      // returned top-5? Ranks 2..5 of random vectors have ≈ 0 margins
      // and measure quantization noise, not drift recovery.
      val exactTop = qv.flatMap { case (qid, qe) =>
        all.map { case (vid, v) => (qid, vid, cos(qe, v)) }
          .sortBy(t => (-t._3, t._2)).take(1).map(t => (t._1, t._2))
      }.toSet
      def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
        val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        (exactTop & got).size.toDouble / exactTop.size
      }
      val pqBefore = recallOf(Similarity.annPqIndexed(spark, q, "graft_ann_drift"))
      val ivfBefore = recallOf(Similarity.annIvfIndexed(spark, q, "graft_ann_drift"))
      Similarity.retrainAnnIndex(spark, "graft_ann_drift")
      val pqAfter = recallOf(Similarity.annPqIndexed(spark, q, "graft_ann_drift"))
      val ivfAfter = recallOf(Similarity.annIvfIndexed(spark, q, "graft_ann_drift"))
      info(f"drift recall@5 pq: before=$pqBefore%.2f after=$pqAfter%.2f; " +
        f"ivf: before=$ivfBefore%.2f after=$ivfAfter%.2f")
      assert(pqAfter >= 0.9, f"retrained PQ recall $pqAfter%.2f below 0.9")
      assert(ivfAfter >= 0.9, f"retrained IVF recall $ivfAfter%.2f below 0.9")
      assert(pqAfter >= pqBefore - 1e-9 && ivfAfter >= ivfBefore - 1e-9,
        "retrain lost recall vs the drifted index")
      // the strong contract: retrain ≡ fresh rebuild over the same
      // corpus, bit-equal through every indexed family (order-invariant
      // training makes this exact, not probabilistic)
      Similarity.writeAnnIndex(spark, base.unionByName(shifted),
        "graft_ann_fresh", numBuckets = 4)
      for ((fam, f) <- Seq[(String, (org.apache.spark.sql.SparkSession, org.apache.spark.sql.DataFrame, String) => org.apache.spark.sql.DataFrame)](
          "ivf" -> (Similarity.annIvfIndexed _),
          "srp" -> (Similarity.annSrpIndexed _),
          "pq" -> (Similarity.annPqIndexed _),
          "ivfpq" -> (Similarity.annIvfPqIndexed _))) {
        val a = f(spark, q, "graft_ann_drift")
        val b = f(spark, q, "graft_ann_fresh")
        val diff = a.exceptAll(b).count() + b.exceptAll(a).count()
        assert(diff == 0, s"$fam: retrained != fresh rebuild by $diff rows")
      }
    } finally names.foreach(n =>
      Seq("_cells", "_srp", "_pq", "_side", "_rt_cells", "_rt_srp", "_rt_pq", "_rt_side")
        .foreach(sfx => spark.sql(s"DROP TABLE IF EXISTS $n$sfx")))
  }

  test("filtered IVF-PQ: label contract exact, recall holds, predicate rides the _pq join") {
    val r = Similarity.s10FilteredIvfPqGate(spark, sf).collect()
    try {
      assert(r.length == 1)
      assert(r.head.getLong(0) == 10L, s"n_queries ${r.head.getLong(0)}")
      assert(r.head.getBoolean(1), "a filtered IVF-PQ hit crossed the label predicate")
      assert(r.head.getBoolean(2), "filtered IVF-PQ recall fell below 0.6 vs exact s06")
    }
    // shared artifact, no cleanup (see the s08 gate test)
  }

  test("filtered IVF-PQ plan: bucketed _pq codes scan, zero index-side exchange") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.functions.col
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"),
        graft.functions.VectorFunctions.toDouble(col("embedding")).as("emb"),
        col("label"))
      .withColumn("nrm", graft.functions.VectorFunctions.l2Norm(col("emb")))
    Similarity.writeAnnIndex(spark, e.filter(col("vec_id") >= 10),
      "graft_pqf_plan", numBuckets = 4, meta = Seq("label"),
      families = Set("ivf", "pq"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("emb").as("qe"),
        col("nrm").as("qn"), col("label").as("qlabel"))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = Similarity.annIvfPqFilteredIndexed(spark, q, "graft_pqf_plan")
      df.collect()
      val p = df.queryExecution.executedPlan
      // the ADC stage reads the _pq CODES table as a bucket-aware scan —
      // only probed cells' codes, never the full-width _cells vectors
      val pqScans = p.collect { case f: FileSourceScanExec
        if f.tableIdentifier.exists(_.table.contains("graft_pqf_plan_pq")) => f }
      assert(pqScans.nonEmpty, s"no _pq table scan in plan:\n$p")
      pqScans.foreach(f => assert(f.bucketedScan, s"_pq scan not bucket-aware:\n$f"))
      // probes (with label predicate in the join condition) broadcast
      // into the _pq leg. Assert on the INNERMOST join above the _pq
      // scan: outer joins (the exact rerank) legitimately carry the
      // ≤ 96·q candidate top-k exchange inside their broadcast subtree
      val joins = p.collect { case j: BroadcastHashJoinExec => j }
      assert(joins.nonEmpty, s"probe join is not broadcast:\n$p")
      val idxLegs = joins.flatMap(_.children).filter(c =>
        c.collectFirst { case f: FileSourceScanExec
          if f.tableIdentifier.exists(_.table.contains("graft_pqf_plan_pq")) => f
        }.isDefined)
      assert(idxLegs.nonEmpty, s"_pq never feeds a broadcast join:\n$p")
      // the smallest such leg is the ADC join's stream side — the path
      // from the join down to the scan must carry no exchange (the
      // corpus codes never move for a query batch)
      val adcLeg = idxLegs.minBy(_.collect { case n => n }.size)
      assert(adcLeg.collect { case x: ShuffleExchangeExec => x }.isEmpty,
        s"ADC join's index leg shuffles:\n$adcLeg")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      Seq("_cells", "_srp", "_pq", "_side").foreach(sfx =>
        spark.sql(s"DROP TABLE IF EXISTS graft_pqf_plan$sfx"))
    }
  }

  test("filtered SRP: label contract exact, recall holds, predicate below the hamming ranking") {
    val r = Similarity.s11FilteredSrpGate(spark, sf).collect()
    assert(r.length == 1)
    assert(r.head.getLong(0) == 10L, s"n_queries ${r.head.getLong(0)}")
    assert(r.head.getBoolean(1), "a filtered SRP hit crossed the label predicate")
    assert(r.head.getBoolean(2), "filtered SRP recall fell below 0.6 vs exact s06")
    // the label predicate joins BELOW the candidate heap: the heap's
    // input is already label-filtered, so the TopKPerKeyPartial stage
    // sits above the probe join, never above a post-filter
    import org.apache.spark.sql.functions.col
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"),
        graft.functions.VectorFunctions.toDouble(col("embedding")).as("emb"),
        col("label"))
      .withColumn("nrm", graft.functions.VectorFunctions.l2Norm(col("emb")))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("emb").as("qe"),
        col("nrm").as("qn"), col("label").as("qlabel"))
    val name = Similarity.sharedAnnIndex(spark, sf)
    val p = Similarity.annSrpFilteredIndexed(spark, q, name)
      .queryExecution.executedPlan.toString
    assert("BroadcastHashJoin \\[label#\\d+".r.findFirstIn(p).isDefined,
      "label should be a JOIN KEY of the probe join (pre-filter), not a post-filter:\n" + p)
  }

  test("int8-storage index: bytes stored, recall gate, lifecycle preserves the storage kind") {
    import org.apache.spark.sql.functions._
    import graft.functions.{VectorFunctions => VF}
    val r = Similarity.s12QuantizedIndexGate(spark, sf).collect()
    assert(r.length == 1 && r.head.getLong(0) == 10L)
    assert(r.head.getBoolean(1), "ivf recall through the i8 index below 0.6")
    assert(r.head.getBoolean(2), "srp recall through the i8 index below 0.6")
    // the filtered families compose with i8 storage unchanged: the
    // shared i8 artifact carries the label meta, and every hit through
    // the filtered path shares its query's label
    val labels = Tables.embeddings(spark, sf)
      .select("vec_id", "label").collect()
      .map(x => x.getLong(0) -> x.getInt(1)).toMap
    val e8 = Tables.embeddings(spark, sf)
      .select(org.apache.spark.sql.functions.col("vec_id"),
        graft.functions.VectorFunctions.toDouble(
          org.apache.spark.sql.functions.col("embedding")).as("emb"),
        org.apache.spark.sql.functions.col("label"))
      .withColumn("nrm", graft.functions.VectorFunctions.l2Norm(
        org.apache.spark.sql.functions.col("emb")))
    val q8 = e8.filter(org.apache.spark.sql.functions.col("vec_id") < 10)
      .select(org.apache.spark.sql.functions.col("vec_id").as("query_id"),
        org.apache.spark.sql.functions.col("emb").as("qe"),
        org.apache.spark.sql.functions.col("nrm").as("qn"),
        org.apache.spark.sql.functions.col("label").as("qlabel"))
    val name8 = Similarity.sharedAnnIndex(spark, sf, storage = "i8")
    val filtered = Similarity.annIvfFilteredIndexed(spark, q8, name8).collect()
    assert(filtered.nonEmpty)
    filtered.foreach { x =>
      assert(labels(x.getLong(1)) == labels(x.getLong(0)),
        s"i8 filtered hit ${x.getLong(1)} crossed query ${x.getLong(0)}'s label")
    }
    // dedicated small i8 index for lifecycle mutation (the shared
    // artifact must stay pristine for the gates)
    val dim = 64
    def gen(ids: org.apache.spark.sql.DataFrame, seed: Int) = ids
      .select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(dim - 1)),
          i => pmod(xxhash64(col("id"), i, lit(seed)), lit(1000001L))
            .cast("double") / 1000000.0 - 0.5).as("emb"))
      .withColumn("nrm", VF.l2Norm(col("emb")))
    val corpus = gen(spark.range(100, 400).toDF("id"), 21)
    try {
      Similarity.writeAnnIndex(spark, corpus, "graft_i8_lc", numBuckets = 4,
        storage = "i8")
      // the stored column is bytes, not doubles
      val cellsSchema = spark.table("graft_i8_lc_cells").schema
      assert(cellsSchema.fieldNames.contains("emb8") &&
        !cellsSchema.fieldNames.contains("emb"), cellsSchema.treeString)
      // append a full-precision near-copy of vector 100; through the
      // frozen scale it must route to (and match) its source
      val re = gen(spark.range(100, 101).toDF("id"), 21)
        .select((col("vec_id") + 50000L).as("vec_id"), col("emb"), col("nrm"))
      Similarity.appendToAnnIndex(spark, re, "graft_i8_lc")
      val q = gen(spark.range(100, 101).toDF("id"), 21)
        .select(lit(0L).as("query_id"), col("emb").as("qe"), col("nrm").as("qn"))
      def topIds(): Seq[Long] = Similarity.annIvfIndexed(spark, q, "graft_i8_lc")
        .filter(col("sim_e6") >= 999000L).collect().map(_.getLong(1)).toSeq
      assert(topIds().sorted == Seq(100L, 50100L), s"after append: ${topIds()}")
      // retrain preserves the i8 storage kind and the matches
      Similarity.retrainAnnIndex(spark, "graft_i8_lc")
      assert(spark.table("graft_i8_lc_cells").schema.fieldNames.contains("emb8"),
        "retrain lost the i8 storage kind")
      assert(topIds().sorted == Seq(100L, 50100L), s"after retrain: ${topIds()}")
      // delete forgets
      import spark.implicits._
      Similarity.deleteFromAnnIndex(spark, "graft_i8_lc",
        Seq(100L).toDF("vec_id"))
      assert(topIds() == Seq(50100L), s"after delete: ${topIds()}")
    } finally Seq("_cells", "_srp", "_pq", "_side",
      "_rt_cells", "_rt_srp", "_rt_pq", "_rt_side").foreach(sfx =>
      spark.sql(s"DROP TABLE IF EXISTS graft_i8_lc$sfx"))
  }

  test("compact after appends: every family row-identical, bucket files strictly drop, sidecar untouched") {
    import org.apache.spark.sql.functions._
    import graft.functions.{VectorFunctions => VF}
    val dim = 64
    def gen(ids: org.apache.spark.sql.DataFrame, seed: Int) = ids
      .select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(dim - 1)),
          i => pmod(xxhash64(col("id"), i, lit(seed)), lit(1000001L))
            .cast("double") / 1000000.0 - 0.5).as("emb"))
      .withColumn("nrm", VF.l2Norm(col("emb")))
    val q = gen(spark.range(0, 5).toDF("id"), 77)
      .select(col("vec_id").as("query_id"), col("emb").as("qe"), col("nrm").as("qn"))
    def files(t: String): Map[String, Long] = {
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), t)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(loc).filter(_.isFile)
        .filter(_.getPath.getName.startsWith("part-"))
        .map(f => f.getPath.getName -> f.getLen).toMap
    }
    try {
      Similarity.writeAnnIndex(spark, gen(spark.range(100, 250).toDF("id"), 33),
        "graft_ann_cmp", numBuckets = 4)
      // five append batches: each lands new bucket files per table
      (0 until 5).foreach(b => Similarity.appendToAnnIndex(spark,
        gen(spark.range(250 + 50 * b, 300 + 50 * b).toDF("id"), 33),
        "graft_ann_cmp"))
      val fams = Seq[(String, (org.apache.spark.sql.SparkSession, org.apache.spark.sql.DataFrame, String) => org.apache.spark.sql.DataFrame)](
        "ivf" -> (Similarity.annIvfIndexed _),
        "srp" -> (Similarity.annSrpIndexed _),
        "pq" -> (Similarity.annPqIndexed _))
      val beforeAnswers = fams.map { case (fam, f) =>
        fam -> f(spark, q, "graft_ann_cmp").collect().map(_.toString).sorted.toSeq }
      val beforeFiles = Seq("_cells", "_srp", "_pq")
        .map(sfx => sfx -> files("graft_ann_cmp" + sfx)).toMap
      val sideBefore = files("graft_ann_cmp_side")
      Similarity.compactAnnIndex(spark, "graft_ann_cmp")
      // layout: strictly fewer files per table (6 write jobs -> 1 file
      // per bucket), sidecar files byte-identical
      Seq("_cells", "_srp", "_pq").foreach { sfx =>
        val after = files("graft_ann_cmp" + sfx)
        assert(after.size < beforeFiles(sfx).size,
          s"$sfx: ${beforeFiles(sfx).size} files -> ${after.size}, no drop")
        assert(after.size <= 4, s"$sfx: expected <= 1 file per bucket, got ${after.size}")
      }
      assert(files("graft_ann_cmp_side") == sideBefore, "compact touched the sidecar")
      // rows: every family answers identically from the compacted layout
      fams.foreach { case (fam, f) =>
        val after = f(spark, q, "graft_ann_cmp").collect().map(_.toString).sorted.toSeq
        assert(after == beforeAnswers.toMap.apply(fam), s"$fam: answers changed")
      }
      // the swap preserved the bucket spec: a fresh append still lands
      // with the matching-bucketBy contract, and scans stay bucket-aware
      Similarity.appendToAnnIndex(spark,
        gen(spark.range(900, 920).toDF("id"), 33), "graft_ann_cmp")
      import org.apache.spark.sql.execution.FileSourceScanExec
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val qq = Similarity.annIvfIndexed(spark, q, "graft_ann_cmp")
        qq.collect()
        val scans = qq.queryExecution.executedPlan.collect {
          case f: FileSourceScanExec
            if f.tableIdentifier.exists(_.table.startsWith("graft_ann_cmp")) => f }
        assert(scans.nonEmpty && scans.forall(_.bucketedScan),
          "post-compact ANN table scans lost bucket-awareness")
      } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
      // crashed-swap recovery: live dropped, fully-written _tmp left —
      // the next compact adopts the tmp then compacts normally
      spark.sql("ALTER TABLE `graft_ann_cmp_srp` RENAME TO `graft_ann_cmp_srp_tmp`")
      assert(!spark.catalog.tableExists("graft_ann_cmp_srp"))
      Similarity.compactAnnIndex(spark, "graft_ann_cmp")
      assert(spark.catalog.tableExists("graft_ann_cmp_srp"))
      assert(!spark.catalog.tableExists("graft_ann_cmp_srp_tmp"))
      assert(Similarity.annSrpIndexed(spark, q, "graft_ann_cmp").count() == q.count() * 5)
    } finally Seq("_cells", "_srp", "_pq", "_side",
      "_cells_tmp", "_srp_tmp", "_pq_tmp").foreach(sfx =>
      spark.sql(s"DROP TABLE IF EXISTS graft_ann_cmp$sfx"))
  }

  test("retrain self-heals a crashed swap (live tables dropped, _rt twins left)") {
    import org.apache.spark.sql.functions._
    import graft.functions.{VectorFunctions => VF}
    val dim = 64
    def gen(ids: org.apache.spark.sql.DataFrame, seed: Int) = ids
      .select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(dim - 1)),
          i => pmod(xxhash64(col("id"), i, lit(seed)), lit(1000001L))
            .cast("double") / 1000000.0 - 0.5).as("emb"))
      .withColumn("nrm", VF.l2Norm(col("emb")))
    val corpus = gen(spark.range(100, 350).toDF("id"), 33)
    val q = gen(spark.range(0, 5).toDF("id"), 77)
      .select(col("vec_id").as("query_id"), col("emb").as("qe"), col("nrm").as("qn"))
    try {
      Similarity.writeAnnIndex(spark, corpus, "graft_heal", numBuckets = 4)
      // simulate a swap that crashed mid-way: the tmp build completed,
      // live _cells and _side were dropped, but the renames never ran
      Similarity.writeAnnIndex(spark, corpus, "graft_heal_rt", numBuckets = 4)
      Seq("_cells", "_side").foreach(sfx =>
        spark.sql(s"DROP TABLE IF EXISTS graft_heal$sfx"))
      assert(!spark.catalog.tableExists("graft_heal_cells"))
      // retrain's preamble must adopt the orphaned _rt twins, then the
      // rebuild leaves a fully consistent artifact
      Similarity.retrainAnnIndex(spark, "graft_heal")
      assert(spark.catalog.tableExists("graft_heal_cells"))
      assert(!spark.catalog.tableExists("graft_heal_rt_cells"),
        "tmp generation left behind after the healing retrain")
      // post-heal answers equal a fresh rebuild's, every family
      Similarity.writeAnnIndex(spark, corpus, "graft_heal_fresh", numBuckets = 4)
      for ((fam, f) <- Seq[(String, (org.apache.spark.sql.SparkSession, org.apache.spark.sql.DataFrame, String) => org.apache.spark.sql.DataFrame)](
          "ivf" -> (Similarity.annIvfIndexed _),
          "srp" -> (Similarity.annSrpIndexed _),
          "pq" -> (Similarity.annPqIndexed _))) {
        val a = f(spark, q, "graft_heal")
        val b = f(spark, q, "graft_heal_fresh")
        val diff = a.exceptAll(b).count() + b.exceptAll(a).count()
        assert(diff == 0, s"$fam: healed != fresh by $diff rows")
      }
    } finally Seq("graft_heal", "graft_heal_rt", "graft_heal_fresh").foreach(n0 =>
      Seq("_cells", "_srp", "_pq", "_side", "_rt_cells", "_rt_srp", "_rt_pq",
        "_rt_side").foreach(sfx =>
        spark.sql(s"DROP TABLE IF EXISTS $n0$sfx")))
  }

  test("retrain heals a MIXED-generation crash (some suffixes swapped, sidecar stale)") {
    import org.apache.spark.sql.functions._
    import graft.functions.{VectorFunctions => VF}
    val dim = 64
    def gen(ids: org.apache.spark.sql.DataFrame, seed: Int) = ids
      .select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(dim - 1)),
          i => pmod(xxhash64(col("id"), i, lit(seed)), lit(1000001L))
            .cast("double") / 1000000.0 - 0.5).as("emb"))
      .withColumn("nrm", VF.l2Norm(col("emb")))
    val corpusA = gen(spark.range(100, 300).toDF("id"), 11)
    val corpusB = gen(spark.range(100, 340).toDF("id"), 12)
    val q = gen(spark.range(0, 5).toDF("id"), 77)
      .select(col("vec_id").as("query_id"), col("emb").as("qe"), col("nrm").as("qn"))
    try {
      Similarity.writeAnnIndex(spark, corpusA, "graft_mix", numBuckets = 4)
      Similarity.writeAnnIndex(spark, corpusB, "graft_mix_rt", numBuckets = 4)
      // simulate the round-8 ADVICE crash: _cells/_srp/_pq swapped to
      // the new generation, the process died before the _side pair —
      // new PQ codes are live against the OLD sidecar's codebooks
      Seq("_cells", "_srp", "_pq").foreach { sfx =>
        spark.sql(s"DROP TABLE IF EXISTS graft_mix$sfx")
        spark.sql(s"ALTER TABLE `graft_mix_rt$sfx` RENAME TO `graft_mix$sfx`")
      }
      assert(spark.catalog.tableExists("graft_mix_rt_side"))
      // the preamble must detect the surviving twin sidecar, finish the
      // swap, and the rebuild must equal a fresh index over corpus B
      Similarity.retrainAnnIndex(spark, "graft_mix")
      assert(!spark.catalog.tableExists("graft_mix_rt_side"))
      Similarity.writeAnnIndex(spark, corpusB, "graft_mix_fresh", numBuckets = 4)
      for ((fam, f) <- Seq[(String, (org.apache.spark.sql.SparkSession, org.apache.spark.sql.DataFrame, String) => org.apache.spark.sql.DataFrame)](
          "ivf" -> (Similarity.annIvfIndexed _),
          "srp" -> (Similarity.annSrpIndexed _),
          "pq" -> (Similarity.annPqIndexed _))) {
        val a = f(spark, q, "graft_mix")
        val b = f(spark, q, "graft_mix_fresh")
        val diff = a.exceptAll(b).count() + b.exceptAll(a).count()
        assert(diff == 0, s"$fam: healed-mixed != fresh-over-B by $diff rows")
      }
      // and a half-built twin generation (no _rt_side) is DISCARDED,
      // not adopted: plant an orphan _rt_cells, retrain, artifact
      // still answers like corpus B
      Similarity.writeAnnIndex(spark, corpusA, "graft_mix_rt",
        numBuckets = 4, families = Set("ivf"))
      spark.sql("DROP TABLE IF EXISTS graft_mix_rt_side")
      Similarity.retrainAnnIndex(spark, "graft_mix")
      assert(!spark.catalog.tableExists("graft_mix_rt_cells"))
      val a2 = Similarity.annIvfIndexed(spark, q, "graft_mix")
      val b2 = Similarity.annIvfIndexed(spark, q, "graft_mix_fresh")
      assert(a2.exceptAll(b2).count() + b2.exceptAll(a2).count() == 0,
        "orphaned half-built twin polluted the artifact")
    } finally Seq("graft_mix", "graft_mix_rt", "graft_mix_fresh").foreach(n0 =>
      Seq("_cells", "_srp", "_pq", "_side", "_rt_cells", "_rt_srp", "_rt_pq",
        "_rt_side").foreach(sfx =>
        spark.sql(s"DROP TABLE IF EXISTS $n0$sfx")))
  }

  test("shared artifact: an incomplete build self-heals; sibling generations coexist") {
    import org.apache.spark.sql.functions.col
    val name = Similarity.sharedAnnIndex(spark, sf)
    // simulate a build that died between the family writes and the
    // sidecar: _side missing must NOT poison later calls (the probe is
    // completeness, not _cells liveness)
    spark.sql(s"DROP TABLE IF EXISTS ${name}_side")
    val healed = Similarity.sharedAnnIndex(spark, sf)
    assert(healed == name)
    assert(spark.catalog.tableExists(name + "_side"), "rebuild did not restore the sidecar")
    // the i8 generation coexists with the f64 one — building one must
    // not drop the other (multi-dir/multi-storage sessions are normal)
    val name8 = Similarity.sharedAnnIndex(spark, sf, storage = "i8")
    assert(name8 != name)
    assert(spark.catalog.tableExists(name + "_cells") &&
      spark.catalog.tableExists(name8 + "_cells"),
      "building one storage generation dropped the other")
    // both stay queryable
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"),
        graft.functions.VectorFunctions.toDouble(col("embedding")).as("emb"))
      .withColumn("nrm", graft.functions.VectorFunctions.l2Norm(col("emb")))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("emb").as("qe"), col("nrm").as("qn"))
    assert(Similarity.annIvfIndexed(spark, q, name).count() > 0)
    assert(Similarity.annIvfIndexed(spark, q, name8).count() > 0)
  }

  test("filtered top-k: every neighbor shares its query's label, never beats unfiltered") {
    val labels = Tables.embeddings(spark, sf)
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val f = Similarity.s06FilteredTopK(spark, sf).collect()
    assert(f.nonEmpty)
    // pre-filter contract: results drawn ONLY from the label-matching
    // subset, ranks contiguous from 1 per query
    f.foreach { r => assert(labels(r.getLong(1)) == labels(r.getLong(0))) }
    f.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      assert(rows.map(_.getLong(3)).sorted.sameElements(1L to rows.length))
    }
    // restricting the candidate set can never IMPROVE the best neighbor
    val bestExact = exact.filter(_.getLong(3) == 1L)
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    f.filter(_.getLong(3) == 1L).foreach { r =>
      assert(r.getLong(2) <= bestExact(r.getLong(0)))
    }
  }

  test("radius search: exact result complete at tau, indexed hits are exact-sim true hits, recall holds") {
    import org.apache.spark.sql.functions.col
    try {
      val ex = Similarity.s15RadiusSearch(spark, sf).collect()
      assert(ex.nonEmpty) // fixture-validated: every SF has hits at tau=0.30
      // completeness + threshold contract vs an independent per-pair
      // recompute: exact radius == ALL pairs at sim_e6 >= tau
      val e = Tables.embeddings(spark, sf)
        .select(col("vec_id"),
          graft.functions.VectorFunctions.toDouble(col("embedding")).as("emb"))
        .withColumn("nrm", graft.functions.VectorFunctions.l2Norm(col("emb")))
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("emb").as("qe"), col("nrm").as("qn"))
      val all = e.filter(col("vec_id") >= 10).crossJoin(q)
        .select(col("query_id"), col("vec_id"),
          graft.functions.ExactRound.e6(
            graft.functions.VectorFunctions.cosineWithNorms(
              col("qe"), col("emb"), col("qn"), col("nrm"))).as("sim_e6"))
        .collect()
      val expected = all.filter(_.getLong(2) >= 300000L)
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(ex.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet == expected)
      // indexed path: subset with bit-identical sims, recall >= 0.6
      val gate = Similarity.s16RadiusIndexGate(spark, sf).collect()
      assert(gate.length == 1)
      assert(gate.head.getBoolean(1), "indexed hit outside exact radius result")
      assert(gate.head.getBoolean(2), "indexed radius recall < 0.6")
    } finally spark.catalog.clearCache() // gate body caches (harness rule)
  }

  test("L2 metric: exact top-k orders by smallest distance; indexed artifact gate flags hold") {
    import org.apache.spark.sql.functions.col
    try {
      val ex = Similarity.s19L2TopK(spark, sf).collect()
      assert(ex.nonEmpty)
      // per query: exactly 5 rows, d2 non-decreasing with rank, total order
      ex.groupBy(_.getLong(0)).foreach { case (_, rows) =>
        val sorted = rows.sortBy(_.getLong(3))
        assert(sorted.length == 5)
        assert(sorted.map(_.getLong(2)).sliding(2).forall(p => p.head <= p.last),
          "d2_e6 not non-decreasing with rank")
      }
      // differential: top-5 against an independent plain-Scala brute force
      val vecs = Tables.embeddings(spark, sf)
        .select(col("vec_id"),
          graft.functions.VectorFunctions.toDouble(col("embedding")).as("emb"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
      def d2e6(a: Array[Double], b: Array[Double]): Long = {
        def dot(x: Array[Double], y: Array[Double]) = {
          var s = 0.0; var i = 0
          while (i < x.length) { s += x(i) * y(i); i += 1 }; s
        }
        math.floor((dot(a, a) - 2.0 * dot(a, b) + dot(b, b)) * 1e6 + 0.5).toLong
      }
      val expected = vecs.keys.filter(_ < 10).flatMap { qid =>
        vecs.toSeq.filter(_._1 >= 10)
          .map { case (vid, v) => (qid, vid, d2e6(vecs(qid), v)) }
          .sortBy(t => (t._3, t._2)).take(5)
      }.toSet
      assert(ex.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet == expected)
      // indexed artifact: recall + radius flags (the s20 contract)
      val gate = Similarity.s20L2IndexGate(spark, sf).collect()
      assert(gate.length == 1)
      assert(gate.head.getBoolean(1), "indexed L2 recall < 0.6")
      assert(gate.head.getBoolean(2), "indexed L2 radius hit outside exact result")
      assert(gate.head.getBoolean(3), "indexed L2 radius recall < 0.6")
      // the artifact self-describes its metric
      assert(Similarity.metricOf(spark, Similarity.sharedL2AnnIndex(spark, sf)) == "l2")
      assert(Similarity.metricOf(spark, Similarity.sharedAnnIndex(spark, sf)) == "cosine",
        "cosine artifacts must read back as cosine (sidecar back-compat)")
    } finally spark.catalog.clearCache() // gate body caches (harness rule)
  }

  test("filtered L2: exact == unfiltered restricted to matching labels; indexed flags hold") {
    try {
      val labels = Tables.embeddings(spark, sf)
        .select("vec_id", "label").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      // the filtered candidate pool is a subset, so every filtered
      // answer's d2 is >= the unfiltered rank-mate's; stronger: the
      // filtered top-5 == brute-force top-5 over label-matching pairs
      val f = Similarity.s21L2FilteredTopK(spark, sf).collect()
      f.groupBy(_.getLong(0)).foreach { case (qid, rows) =>
        assert(rows.length == 5)
        assert(rows.forall(r => labels(r.getLong(1)) == labels(qid)),
          s"query $qid returned a non-matching label")
        val sorted = rows.sortBy(_.getLong(3)).map(_.getLong(2))
        assert(sorted.sliding(2).forall(p => p.head <= p.last))
      }
      val gate = Similarity.s22L2FilteredGate(spark, sf).collect()
      assert(gate.length == 1)
      assert(gate.head.getBoolean(1), "an L2 hit crossed the label predicate")
      assert(gate.head.getBoolean(2), "filtered L2 recall < 0.6")
    } finally spark.catalog.clearCache() // gate body caches (harness rule)
  }

  test("L2 metric PQ/IVF-PQ: squared-distance ADC recall holds, hits exact, pruned bucketed _pq plan; srp-l2 refused") {
    import org.apache.spark.sql.functions.col
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"),
        graft.functions.VectorFunctions.toDouble(col("embedding")).as("emb"))
      .withColumn("nrm", graft.functions.VectorFunctions.l2Norm(col("emb")))
    // srp stays cosine-geometry under l2 (the refusal is per-family now)
    intercept[IllegalArgumentException] {
      Similarity.writeAnnIndex(spark, e, "graft_l2pq_bad",
        families = Set("ivf", "srp"), metric = "l2")
    }
    Similarity.writeAnnIndex(spark, e.filter(col("vec_id") >= 10),
      "graft_l2pq_spec", numBuckets = 4, families = Set("ivf", "pq"),
      metric = "l2")
    try {
      assert(spark.table("graft_l2pq_spec_pq").count() > 0,
        "expected real PQ codes — the ADC path, not the small-corpus fallback")
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("emb").as("qe"), col("nrm").as("qn"))
      val exact = Similarity.s19L2TopK(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val vecs = e.select(col("vec_id"), col("emb")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
      // the engine composes d² as dot(a,a) − 2·dot(a,b) + dot(b,b)
      // (l2Sq) — mirror that tree, not Σ(a−b)², or the e6 floor differs
      def d2e6(a: Array[Double], b: Array[Double]): Long = {
        def dot(x: Array[Double], y: Array[Double]) = {
          var s = 0.0; var i = 0
          while (i < x.length) { s += x(i) * y(i); i += 1 }; s
        }
        math.floor((dot(a, a) - 2.0 * dot(a, b) + dot(b, b)) * 1e6 + 0.5).toLong
      }
      def checkRows(rows: Array[org.apache.spark.sql.Row], label: String): Unit = {
        rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
          assert(rs.length == 5, s"$label: expected 5 ranked rows per query") }
        rows.foreach { r =>
          assert(r.getLong(2) == d2e6(vecs(r.getLong(0)), vecs(r.getLong(1))),
            s"$label: hit carried a non-exact d2_e6 for ${(r.getLong(0), r.getLong(1))}") }
        val got = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
        val recall = (exact & got).size.toDouble / exact.size
        assert(recall >= 0.6, s"$label recall@5=$recall")
      }
      checkRows(Similarity.annPqIndexed(spark, q, "graft_l2pq_spec").collect(), "pq-l2")
      checkRows(Similarity.annIvfPqIndexed(spark, q, "graft_l2pq_spec").collect(), "ivfpq-l2")
      // plan pin: the l2 IVF-PQ plan answers from the cell-bucketed _pq
      // scan whose broadcast-join leg has zero Exchange (the cosine pin)
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        import org.apache.spark.sql.execution.FileSourceScanExec
        import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
        val exec = Similarity.annIvfPqIndexed(spark, q, "graft_l2pq_spec")
          .queryExecution.executedPlan
        val pqScans = exec.collect { case f: FileSourceScanExec
          if f.tableIdentifier.exists(_.table.contains("graft_l2pq_spec_pq")) => f }
        assert(pqScans.nonEmpty, s"no _pq table scan in plan:\n$exec")
        pqScans.foreach(f => assert(f.bucketedScan, s"_pq scan not bucket-aware:\n$f"))
        val directLegs = exec.collect { case j: BroadcastHashJoinExec => j }
          .flatMap(_.children).filter(c =>
            c.collect { case x: ShuffleExchangeExec => x }.isEmpty &&
            c.collectFirst { case f: FileSourceScanExec
              if f.tableIdentifier.exists(_.table.contains("graft_l2pq_spec_pq")) => f
            }.isDefined)
        assert(directLegs.nonEmpty,
          s"no shuffle-free broadcast-join leg scans _pq:\n$exec")
      } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
      // retrain preserves the metric AND the pq family (the round-15 fix:
      // the rebuild used to omit `metric`, silently rewriting as cosine)
      Similarity.retrainAnnIndex(spark, "graft_l2pq_spec")
      assert(Similarity.metricOf(spark, "graft_l2pq_spec") == "l2",
        "retrain dropped the artifact's metric")
      assert(spark.table("graft_l2pq_spec_pq").count() > 0)
      checkRows(Similarity.annIvfPqIndexed(spark, q, "graft_l2pq_spec").collect(),
        "ivfpq-l2-post-retrain")
      // the registered driver gate: recall + true-hit flags
      val gate = Similarity.s24L2PqGate(spark, sf).collect()
      assert(gate.length == 1)
      assert(gate.head.getBoolean(1), "PQ-L2 recall < 0.6")
      assert(gate.head.getBoolean(2), "IVF-PQ-L2 recall < 0.6")
      assert(gate.head.getBoolean(3), "an L2 ADC hit carried a non-exact d2")
    } finally {
      Seq("_cells", "_srp", "_pq", "_side",
        "_rt_cells", "_rt_srp", "_rt_pq", "_rt_side").foreach(sfx =>
        spark.sql(s"DROP TABLE IF EXISTS graft_l2pq_spec$sfx"))
      spark.catalog.clearCache()
    }
  }

  test("IP metric: indexed hits carry exact dot scores; non-cosine builds reject srp/pq families") {
    import org.apache.spark.sql.functions.col
    try {
      // srp/pq are cosine-geometry — the build must refuse them
      val e = Tables.embeddings(spark, sf)
        .select(col("vec_id"),
          graft.functions.VectorFunctions.toDouble(col("embedding")).as("emb"))
        .withColumn("nrm", graft.functions.VectorFunctions.l2Norm(col("emb")))
      intercept[IllegalArgumentException] {
        Similarity.writeAnnIndex(spark, e, "graft_ipspec_bad", metric = "ip")
      }
      Similarity.writeAnnIndex(spark, e.filter(col("vec_id") >= 10),
        "graft_ipspec", families = Set("ivf"), metric = "ip")
      assert(Similarity.metricOf(spark, "graft_ipspec") == "ip")
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("emb").as("qe"), col("nrm").as("qn"))
      val idx = Similarity.annIvfIndexed(spark, q, "graft_ipspec").collect()
      assert(idx.nonEmpty)
      // every indexed hit's sim_e6 IS the exact e6 dot product (true-hit
      // contract — routing can cut candidates, never corrupt scores)
      val vecs = e.select(col("vec_id"), col("emb")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
      def dotE6(a: Array[Double], b: Array[Double]): Long = {
        var s = 0.0; var i = 0
        while (i < a.length) { s += a(i) * b(i); i += 1 }
        math.floor(s * 1e6 + 0.5).toLong
      }
      idx.foreach { r =>
        assert(r.getLong(2) == dotE6(vecs(r.getLong(0)), vecs(r.getLong(1))),
          s"indexed ip score diverged from the exact dot for ${(r.getLong(0), r.getLong(1))}")
      }
      // radius over an ip artifact with the cosine-calibrated DEFAULT τ
      // is refused (round-14 ADVICE: dots are unbounded, the default is
      // meaningless); an explicit τ answers, every hit at dot ≥ τ
      intercept[IllegalArgumentException] {
        Similarity.annIvfRadiusIndexed(spark, q, "graft_ipspec")
      }
      val rad = Similarity.annIvfRadiusIndexed(spark, q, "graft_ipspec",
        tauE6 = 1L).collect()
      assert(rad.nonEmpty && rad.forall(_.getLong(2) >= 1L))
      // the registered driver gate: recall + true-hit flags
      val gate = Similarity.s23IpIndexGate(spark, sf).collect()
      assert(gate.length == 1)
      assert(gate.head.getBoolean(1), "indexed MIPS recall < 0.6")
      assert(gate.head.getBoolean(2), "an indexed ip hit carried a non-exact dot")
    } finally {
      Seq("_cells", "_srp", "_pq", "_side").foreach(sfx =>
        spark.sql(s"DROP TABLE IF EXISTS graft_ipspec$sfx"))
      spark.catalog.clearCache()
    }
  }

  test("filtered radius: exact == unfiltered restricted to matching labels; indexed flags hold") {
    try {
      val labels = Tables.embeddings(spark, sf)
        .select("vec_id", "label").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      val unf = Similarity.s15RadiusSearch(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val f = Similarity.s17FilteredRadius(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      // pre-filter radius semantics == the unfiltered result restricted
      // to label-matching pairs (same tau, same rounding)
      assert(f.toSet == unf.filter(t => labels(t._1) == labels(t._2)).toSet,
        "filtered radius diverged from label-restricted unfiltered radius")
      val gate = Similarity.s18FilteredRadiusGate(spark, sf).collect()
      assert(gate.length == 1)
      assert(gate.head.getBoolean(1), "a hit crossed the label predicate")
      assert(gate.head.getBoolean(2), "indexed hit outside exact filtered result")
      assert(gate.head.getBoolean(3), "filtered radius recall < 0.6")
    } finally spark.catalog.clearCache() // gate body caches (harness rule)
  }
}
