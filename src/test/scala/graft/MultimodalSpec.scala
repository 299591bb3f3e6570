package graft

import org.apache.spark.sql.functions._

import graft.operators.Multimodal

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("media meta: real png/jpeg dims match the fixture contract; deterministic") {
    Multimodal.StubCodec.instances.set(0)
    val rows = Multimodal.m01MediaMeta(spark, sf).collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val (id, fmt) = (r.getLong(0), r.getString(1))
      assert(Seq("png", "jpeg", "wav").contains(fmt))
      assert(r.getLong(2) > 0)                       // n_bytes
      if (fmt == "wav") {                            // stub fallback ranges
        assert(r.getLong(3) >= 1 && r.getLong(3) <= 1920)
        assert(r.getLong(4) >= 1 && r.getLong(4) <= 1080)
      } else {                                       // REAL ImageIO header parse
        val (w, h) = Multimodal.imageDims(id)
        assert(r.getLong(3) == w.toLong, s"width of $fmt media $id")
        assert(r.getLong(4) == h.toLong, s"height of $fmt media $id")
      }
    }
    // m01 decodes through the codec SPI: one instance per partition, not
    // per row (the integration seam a real JNI decoder relies on)
    val n = Multimodal.StubCodec.instances.get()
    assert(n >= 1 && n < rows.length, s"codec instances: $n for ${rows.length} rows")
    // re-run → identical (image encode + header decode are deterministic)
    val again = Multimodal.m01MediaMeta(spark, sf).collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("ImageHeaderCodec: decodes real png and jpeg bytes; corrupt bytes fall back") {
    import Multimodal.{ImageHeaderCodec, MediaRecord}
    val codec = new ImageHeaderCodec()
    for (fmt <- Seq("png", "jpeg"); id <- Seq(0L, 7L, 100L, 12345L)) {
      val d = codec.decode(MediaRecord(id, fmt, Multimodal.encodeImage(fmt, id)))
      val (w, h) = Multimodal.imageDims(id)
      assert((d.width, d.height) == (w, h), s"$fmt media $id")
      assert(d.n_bytes > 0)
    }
    // not an image at all → stub fallback, still in stub ranges
    val junk = codec.decode(MediaRecord(1L, "png", Array.fill[Byte](64)(42)))
    assert(junk.width >= 1 && junk.width <= 1920 && junk.height >= 1 && junk.height <= 1080)
    // RECOGNIZED signature but corrupt body: the JDK reader accepts the
    // PNG magic then throws a RuntimeException from the header parse —
    // must fall back, never kill the task
    val magic = Array[Byte](0x89.toByte, 'P', 'N', 'G', '\r', '\n', 0x1a, '\n')
    val corrupt = codec.decode(MediaRecord(2L, "png", magic ++ Array.fill[Byte](56)(7)))
    assert(corrupt.width >= 1 && corrupt.width <= 1920 &&
      corrupt.height >= 1 && corrupt.height <= 1080)
  }

  test("frame sampling: count formula and frame width hold") {
    val payload = Array.fill[Byte](200)(7)
    val df = Seq(Tuple1(payload)).toDF("payload")
      .select(Multimodal.sampleFrames(col("payload"), 64, 48).as("frames"))
    val frames = df.collect().head.getSeq[Array[Byte]](0)
    // offsets 0,48,96,136? -> floor((200-64)/48)=2 → starts 0,48,96 → 3 frames
    assert(frames.length == 3)
    assert(frames.forall(_.length == 64))
    // payload shorter than a frame → no frames
    val none = Seq(Tuple1(Array.fill[Byte](10)(1))).toDF("payload")
      .select(Multimodal.sampleFrames(col("payload"), 64, 48).as("f"))
      .collect().head.getSeq[Array[Byte]](0)
    assert(none.isEmpty)
  }

  test("mapPartitions codec: one instance per partition, all rows decoded") {
    import Multimodal.{MediaRecord, StubCodec}
    StubCodec.instances.set(0)
    val ds = spark.createDataset(
      (1 to 100).map(i => MediaRecord(i.toLong, "png", Array.fill[Byte](i)(i.toByte))))(
      org.apache.spark.sql.Encoders.product[MediaRecord])
      .repartition(4)
    val out = Multimodal.decodeWithCodec(ds).collect()
    assert(out.length == 100)
    assert(out.forall(d => d.width >= 1 && d.width <= 1920 && d.height >= 1 && d.height <= 1080))
    assert(out.map(_.media_id).toSet == (1 to 100).map(_.toLong).toSet)
    val n = StubCodec.instances.get()
    assert(n <= 8, s"codec built per row? $n instances") // ≈ partitions, not rows
    // deterministic re-run
    val again = Multimodal.decodeWithCodec(ds).collect()
    assert(out.map(_.checksum).sorted.toSeq == again.map(_.checksum).sorted.toSeq)
  }

  test("m03 media near-dup finds exactly the duplicate payload classes (real aHash)") {
    // identical payloads hash identically; the fixture's id-derived block
    // patterns land distinct images far apart in hamming space — so on
    // THIS corpus hamming ≤ 8 ≡ identical payloads, an exact expectation
    // for the real pixel-space hash + banding plumbing
    val got = Multimodal.m03MediaNearDup(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val base = Multimodal.mediaTable(spark, sf)
      .filter(col("format") =!= "wav")
      .selectExpr("media_id", "payload")
    val media = base.union(base.filter(col("media_id") < 100)
        .selectExpr("media_id + 10000 AS media_id", "payload"))
      // md5, not cast-to-string: binary image payloads aren't valid UTF-8
      .selectExpr("media_id", "md5(payload) AS p")
    val expected = media.as("a").join(media.as("b"),
        col("a.p") === col("b.p") && col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id"), col("b.media_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected)
    assert(expected.nonEmpty, "test corpus has no duplicate docs — fixture drifted")
  }

  test("aHash is edit-tolerant: a small local edit stays near, different patterns land far") {
    import Multimodal.{AHashCodec, MediaRecord}
    import graft.functions.TextFunctions.hamming64
    val codec = new AHashCodec()
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    // re-encode of the same image → identical hash
    val h1 = codec.ahash(MediaRecord(5L, "png", Multimodal.encodeImage("png", 5L)))
    val h1b = codec.ahash(MediaRecord(5L, "png", Multimodal.encodeImage("png", 5L)))
    assert(h1 == h1b)
    // small local edit (corner block overwritten) → low hamming
    val (w, h) = Multimodal.imageDims(5L)
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(Multimodal.encodeImage("png", 5L)))
    for (x <- 0 until math.min(4, w); y <- 0 until math.min(4, h))
      img.setRGB(x, y, 0xFFFFFF)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    val hEdit = codec.ahash(MediaRecord(5L, "png", out.toByteArray))
    assert(ham(h1, hEdit) <= 8, s"local edit moved hash by ${ham(h1, hEdit)} bits")
    // a different id's pattern → far
    val hOther = codec.ahash(MediaRecord(6L, "png", Multimodal.encodeImage("png", 6L)))
    assert(ham(h1, hOther) > 8, s"distinct patterns only ${ham(h1, hOther)} bits apart")
  }

  test("EmbedCodec: unit-norm deterministic vectors; identical bytes embed identically; distinct content decorrelates") {
    import Multimodal.{EmbedCodec, MediaRecord}
    val codec = new EmbedCodec()
    def rec(id: Long, fmt: String): MediaRecord = fmt match {
      case "wav" => MediaRecord(id, "wav", Multimodal.encodeWav(id))
      case f     => MediaRecord(id, f, Multimodal.encodeImage(f, id))
    }
    def cos(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => x * y }.sum
    // all modalities: unit norm, byte-determinism (model = fixed weights)
    for (m <- Seq(rec(7L, "png"), rec(8L, "jpeg"), rec(11L, "wav"))) {
      val v = codec.embed(m)
      assert(math.abs(math.sqrt(v.map(x => x * x).sum) - 1.0) < 1e-9)
      assert(v.sameElements(codec.embed(m.copy(media_id = m.media_id + 999))),
        "embedding must depend on payload bytes only, not the id")
      assert(codec.srpBits(v) == codec.srpBits(codec.embed(m)))
    }
    // the near-dup separation m05's ≥ 0.9 threshold relies on: distinct
    // fixture patterns stay FAR below it (centered features ⇒ cross
    // cosine ~N(0, 1/√64); bound loosely at 0.8 for a 50×49/2 sample)
    val vecs = (0L until 50L).map(i => codec.embed(rec(i, if (i % 2 == 0) "png" else "jpeg")))
    val worst = (for {
      i <- vecs.indices; j <- vecs.indices if i < j
    } yield math.abs(cos(vecs(i), vecs(j)))).max
    assert(worst < 0.8, s"distinct images reached cosine $worst — threshold margin gone")
    // audio: distinct payloads must not embed identically (frame features
    // carry real per-id signal variation through the projection)
    assert(!codec.embed(rec(20L, "wav")).sameElements(codec.embed(rec(21L, "wav"))))
  }

  test("PCM frame features: RMS and zero-crossings match hand-computed values") {
    import Multimodal.{MediaRecord, PcmFrameCodec}
    // hand-built WAV: 8000 Hz mono, 40 samples alternating +1000/-1000 →
    // every consecutive pair crosses zero; RMS of a constant-magnitude
    // signal is the magnitude
    val n = 40
    val buf = java.nio.ByteBuffer.allocate(44 + n * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + n * 2)
      .put("WAVE".getBytes("US-ASCII")).put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(8000).putInt(16000).putShort(2).putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(n * 2)
    (0 until n).foreach(i => buf.putShort(if (i % 2 == 0) 1000 else -1000))
    val frames = new PcmFrameCodec()
      .features(MediaRecord(1L, "wav", buf.array())).toSeq
    // 40 samples, frame 32 @ stride 24 → starts 0 (len 32) and 24 (len 16)
    assert(frames.map(f => (f.frame_no, f.n_samples)) == Seq((0L, 32L), (1L, 16L)))
    frames.foreach { f =>
      assert(f.rms_e2 == 100000L, s"RMS of ±1000 signal: ${f.rms_e2}") // 1000.00
      assert(f.zcr == f.n_samples - 1, s"alternating signal zcr: ${f.zcr}")
    }
  }

  test("WAV codec: real RIFF headers round-trip the fixture contract; junk rejected") {
    import Multimodal.{MediaRecord, WavHeaderCodec}
    val codec = new WavHeaderCodec()
    for (id <- Seq(2L, 5L, 17L, 254L, 1000L)) {
      val d = codec.decode(MediaRecord(id, "wav", Multimodal.encodeWav(id)))
      val (rate, channels, nSamples) = Multimodal.wavParams(id)
      assert(d.sample_rate == rate && d.n_channels == channels && d.n_samples == nSamples,
        s"wav $id decoded ${(d.sample_rate, d.n_channels, d.n_samples)}")
      assert(d.duration_ms == nSamples * 1000L / rate)
    }
    intercept[IllegalArgumentException] {
      codec.decode(MediaRecord(1L, "wav", Array.fill[Byte](64)(42)))
    }
  }

  test("PCM frames seek the parsed data offset, not byte 44 (extra chunk before data)") {
    import Multimodal.{MediaRecord, PcmFrameCodec}
    // WAV with a LIST chunk between fmt and data: canonical-offset
    // parsing would read the LIST body as samples
    val n = 32
    val listBody = 10
    val buf = java.nio.ByteBuffer.allocate(44 + 8 + listBody + n * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + 8 + listBody + n * 2)
      .put("WAVE".getBytes("US-ASCII")).put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(8000).putInt(16000).putShort(2).putShort(16)
      .put("LIST".getBytes("US-ASCII")).putInt(listBody)
      .put(Array.fill[Byte](listBody)(99))
      .put("data".getBytes("US-ASCII")).putInt(n * 2)
    (0 until n).foreach(i => buf.putShort(if (i % 2 == 0) 500 else -500))
    val frames = new PcmFrameCodec()
      .features(MediaRecord(3L, "wav", buf.array())).toSeq
    assert(frames.head.n_samples == 32L)
    assert(frames.head.rms_e2 == 50000L, s"rms=${frames.head.rms_e2}") // ±500 → 500.00
    assert(frames.head.zcr == 31L)
  }

  test("media embeddings flow through the persisted ANN index: re-uploads route to their originals") {
    import graft.operators.Similarity
    val vecs = Multimodal.contentEmbeddings(spark, sf)
    Similarity.writeAnnIndex(spark, vecs, "graft_media_ann", numBuckets = 4)
    try {
      // queries = identical re-uploads of the first 5 embedded images
      // (the media table interleaves wav ids, so take the first 5 rows
      // of the EMBEDDED set, not ids 0..4); their top hit through the
      // index must be the original at cosine ≈ 1
      val q = vecs.orderBy("vec_id").limit(5)
        .select((col("vec_id") + 10000L).as("query_id"),
          col("emb").as("qe"), col("nrm").as("qn"))
      val top = Similarity.annIvfIndexed(spark, q, "graft_media_ann")
        .filter(col("rank") === 1).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(top.size == 5, s"expected 5 queries, got ${top.keySet}")
      top.foreach { case (qid, (hit, simE6)) =>
        assert(hit == qid - 10000L, s"query $qid routed to $hit")
        assert(simE6 > 999000L, s"query $qid top sim_e6 $simE6")
      }
    } finally Seq("_cells", "_srp", "_pq", "_side").foreach(sfx =>
      spark.sql(s"DROP TABLE IF EXISTS graft_media_ann$sfx"))
  }

  test("media ANN lifecycle: re-upload appends route, delete forgets, second re-upload re-routes") {
    import graft.operators.Similarity
    val vecs = Multimodal.contentEmbeddings(spark, sf)
    Similarity.writeAnnIndex(spark, vecs, "graft_media_lc", numBuckets = 4)
    try {
      val firstId = vecs.orderBy("vec_id").limit(1)
        .collect().head.getLong(0)
      // the same image re-uploaded under a new media id: identical
      // bytes → identical embedding; APPEND it through the frozen
      // sidecar and it must become its own query's rank-1 at cos 1
      val reupload = vecs.filter(col("vec_id") === firstId)
        .select((col("vec_id") + 50000L).as("vec_id"), col("emb"), col("nrm"))
      Similarity.appendToAnnIndex(spark, reupload, "graft_media_lc")
      val q = vecs.filter(col("vec_id") === firstId)
        .select(lit(0L).as("query_id"), col("emb").as("qe"), col("nrm").as("qn"))
      def hits(): Set[Long] =
        Similarity.annIvfIndexed(spark, q, "graft_media_lc")
          .filter(col("sim_e6") >= 999000L).collect().map(_.getLong(1)).toSet
      assert(hits() == Set(firstId, firstId + 50000L),
        s"after append: ${hits()}")
      // right-to-be-forgotten: delete the ORIGINAL; only the re-upload
      // may still match
      import spark.implicits._
      Similarity.deleteFromAnnIndex(spark, "graft_media_lc",
        Seq(firstId).toDF("vec_id"))
      assert(hits() == Set(firstId + 50000L), s"after delete: ${hits()}")
      // a SECOND re-upload (the user puts the image back) re-routes
      // alongside the surviving copy — frozen-state appends stay
      // consistent across delete generations
      Similarity.appendToAnnIndex(spark,
        reupload.select((col("vec_id") + 10000L).as("vec_id"), col("emb"), col("nrm")),
        "graft_media_lc")
      assert(hits() == Set(firstId + 50000L, firstId + 60000L),
        s"after re-append: ${hits()}")
    } finally Seq("_cells", "_srp", "_pq", "_side").foreach(sfx =>
      spark.sql(s"DROP TABLE IF EXISTS graft_media_lc$sfx"))
  }

  test("thumbnail resize: exact quadrant means on a crafted image; gate tiles the fixture") {
    // 8×8 png, solid-color quadrants → a 2×2 thumbnail IS the quadrant
    // luminances: black 0, white 255000/1000·100, red 299·255·100/1000,
    // blue 114·255·100/1000 — integer-exact (PNG is lossless)
    val img = new java.awt.image.BufferedImage(8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 8; x <- 0 until 8) {
      val c = (x / 4, y / 4) match {
        case (0, 0) => 0x000000       // black
        case (1, 0) => 0xFFFFFF       // white
        case (0, 1) => 0xFF0000       // red
        case _      => 0x0000FF       // blue
      }
      img.setRGB(x, y, c)
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    val codec = new Multimodal.ThumbnailCodec(2)
    val t = codec.thumb(Multimodal.MediaRecord(7L, "png", out.toByteArray))
    assert(t.thumb_e2.toSeq == Seq(0L, 25500L, 7624L, 2907L), t.thumb_e2.toSeq)
    assert(t.mean_lum_e2 == (0L + 255000L + 76245L + 29070L) * 16 * 100 / (64 * 1000))
    val g = codec.gate(Multimodal.MediaRecord(7L, "png", out.toByteArray))
    assert(g.ok == 1L && g.n_pix == 64L && g.in_w == 8L && g.in_h == 8L)

    // every fixture image (png AND lossy jpeg) must tile exactly
    val gate = Multimodal.m06ThumbGate(spark, sf).collect()
    assert(gate.nonEmpty && gate.forall(_.getLong(4) == 1L))
    spark.catalog.clearCache() // m06ThumbGate registers a query-scoped cache
  }

  test("r16 codec internals: reused-writer encode, packedRgb, grid, and embed weights are bit-identical to the reference paths") {
    import Multimodal.MediaRecord
    val ids = 0L until 60L
    // 1. MediaEncoder (reused ImageWriter per format) must emit the EXACT
    //    bytes of the reference per-call encodeImage — jpeg is lossy, so
    //    byte-identity is what keeps every decoded pixel downstream stable
    val enc = new Multimodal.MediaEncoder()
    for (id <- ids; fmt <- Seq("png", "jpeg"))
      assert(java.util.Arrays.equals(
        enc.encodeImage(fmt, id), Multimodal.encodeImage(fmt, id)),
        s"MediaEncoder bytes differ for $fmt id=$id")
    // 2. packedRgb's raster fast path == per-pixel getRGB (mod alpha) on
    //    decoded png AND jpeg frames (TYPE_3BYTE_BGR), plus an INT_RGB
    //    image that exercises the bulk-getRGB fallback
    def checkPacked(img: java.awt.image.BufferedImage): Unit = {
      val (w, h) = (img.getWidth, img.getHeight)
      val px = Multimodal.packedRgb(img)
      for (y <- 0 until h; x <- 0 until w)
        assert((px(y * w + x) & 0xFFFFFF) == (img.getRGB(x, y) & 0xFFFFFF),
          s"packedRgb mismatch at ($x,$y) type=${img.getType}")
    }
    for (fmt <- Seq("png", "jpeg")) {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(Multimodal.encodeImage(fmt, 11L)))
      assert(img.getType == java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
      checkPacked(img)
    }
    checkPacked(new java.awt.image.BufferedImage(5, 3,
      java.awt.image.BufferedImage.TYPE_INT_RGB))
    // 3. luminanceGrid (now packedRgb-backed) must equal a per-pixel
    //    getRGB re-derivation EXACTLY (same float accumulation order)
    val m = MediaRecord(23L, "jpeg", Multimodal.encodeImage("jpeg", 23L))
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(m.payload))
    val (w, h) = (img.getWidth, img.getHeight)
    val ref = new Array[Double](64)
    for (gy <- 0 until 8; gx <- 0 until 8) {
      val x0 = gx * w / 8; val x1 = math.max((gx + 1) * w / 8, x0 + 1)
      val y0 = gy * h / 8; val y1 = math.max((gy + 1) * h / 8, y0 + 1)
      var sum = 0.0; var n = 0
      var y = y0
      while (y < y1 && y < h) {
        var x = x0
        while (x < x1 && x < w) {
          val rgb = img.getRGB(x, y)
          sum += 0.299 * ((rgb >> 16) & 0xFF) + 0.587 * ((rgb >> 8) & 0xFF) +
            0.114 * (rgb & 0xFF)
          n += 1; x += 1
        }
        y += 1
      }
      ref(gy * 8 + gx) = if (n > 0) sum / n else 0.0
    }
    assert(Multimodal.luminanceGrid(m).toSeq == ref.toSeq,
      "luminanceGrid doubles drifted from the per-pixel reference")
    // 4. EmbedCodec's precomputed weight matrices: embed/srp must equal an
    //    independent per-call w(seed, i, j) re-derivation
    def mix(z0: Long): Long = {
      var z = z0 + 0x9e3779b97f4a7c15L
      z ^= z >>> 30; z *= 0xbf58476d1ce4e5b9L
      z ^= z >>> 27; z *= 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    def wRef(seed: Long, i: Int, j: Int): Double =
      mix(seed * 1000003L + i * 64L + j).toDouble / Long.MaxValue
    val codec = new Multimodal.EmbedCodec()
    val f = Multimodal.luminanceGrid(m)
    val mean = f.sum / f.length
    val vRef = new Array[Double](64)
    for (i <- 0 until 64) {
      var s = 0.0; var j = 0
      while (j < f.length) { s += wRef(0xC0FFEEL, i, j) * (f(j) - mean); j += 1 }
      vRef(i) = s
    }
    val nrm = math.sqrt(vRef.map(x => x * x).sum)
    for (i <- 0 until 64) vRef(i) /= nrm
    val got = codec.embed(m)
    assert(got.toSeq == vRef.toSeq, "embed drifted from the per-call weight reference")
    var bitsRef = 0L
    for (i <- 0 until 64) {
      var s = 0.0; var j = 0
      while (j < got.length) { s += wRef(0x5EED5EEDL, i, j) * got(j); j += 1 }
      if (s > 0) bitsRef |= (1L << i)
    }
    assert(codec.srpBits(got) == bitsRef, "srpBits drifted from the per-call weight reference")
  }
}
