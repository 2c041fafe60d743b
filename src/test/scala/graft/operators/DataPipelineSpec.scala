package graft.operators

import graft.SparkSpec
import graft.functions.Text
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

class DataPipelineSpec extends SparkSpec {

  private lazy val docs = {
    val s = spark
    import s.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog", "en", "a"),
      (2L, "the quick brown fox jumps over the lazy cat", "en", "a"),
      (3L, "completely different content here now", "en", "b"),
      (4L, "the quick brown fox jumps over the lazy dog", "en", "b"), // exact dup of 1
      (5L, "", "en", "b"))
      .toDF("doc_id", "text", "lang", "source")
  }

  test("tokens, shingles, fingerprint") {
    val row = docs.filter(col("doc_id") === 1).select(
      Text.tokenCount(col("text")),
      size(Text.shingles(col("text"), 3)),
      Text.fingerprint(col("text"), 3)).head
    assert(row.getInt(0) == 9)
    assert(row.getInt(1) == 7) // 9 tokens → 7 trigrams
    assert(row.getString(2) == "brown dog fox") // sorted distinct, first 3
  }

  test("containment catches an excerpt that Jaccard misses") {
    val s = spark
    import s.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps", "en", "a"), // excerpt of doc 2
      (2L, "the quick brown fox jumps over the lazy dog", "en", "a"),
      (3L, "completely different content here now", "en", "a"))
      .toDF("doc_id", "text", "lang", "source")
    val cont = Dedup.blockedContainmentPairs(corpus, Seq("lang"), threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> ((r.getDouble(2), r.getDouble(3)))).toMap
    // all 3 trigrams of doc 1 appear in doc 2 → full containment one way
    assert(cont.keySet == Set((1L, 2L)))
    assert(cont((1L, 2L)) == ((1.0, 3.0 / 7.0)))
    // symmetric Jaccard at the same bar sees 3/7 ≈ 0.43 and misses the pair
    val jac = Dedup.blockedJaccardPairs(corpus, Seq("lang"), threshold = 0.8)
    assert(jac.count() == 0)
  }

  test("prefix-filtered Jaccard equals brute-force pairs (recall exactly 1)") {
    val s = spark
    import s.implicits._
    // 40 docs: pairs (i, i+20) are near-identical word soups; rest differ
    val words = Seq("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
    val corpus = (0 until 40).map { i =>
      val base = (0 until 12).map(j => words((i % 20 + j) % words.length))
      val text = if (i < 20) base.mkString(" ")
      else (base.dropRight(1) :+ "omega").mkString(" ")
      (i.toLong, text, "en", "a")
    }.toDF("doc_id", "text", "lang", "source")
    val fast = Dedup.prefixFilteredJaccardPairs(corpus, thresholdNum = 1, thresholdDen = 2)
      .select("id_a", "id_b", "jac").as[(Long, Long, Double)].collect().toSet
    // brute force: block on a constant → all pairs compared
    val brute = Dedup.blockedJaccardPairs(
        corpus.withColumn("k", lit(1)), Seq("k"), threshold = 0.5)
      .select("id_a", "id_b", "jac").as[(Long, Long, Double)].collect().toSet
    assert(fast === brute)
    assert(fast.nonEmpty) // the near-identical pairs actually matched
    // threshold generality: the prefix-length bound must hold at other
    // ratios too (higher threshold → shorter prefixes, same exactness)
    for ((num, den) <- Seq((2, 3), (4, 5))) {
      val f = Dedup.prefixFilteredJaccardPairs(corpus, thresholdNum = num, thresholdDen = den)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val b = Dedup.blockedJaccardPairs(
          corpus.withColumn("k", lit(1)), Seq("k"), threshold = num.toDouble / den)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(f === b, s"threshold $num/$den")
    }
  }

  test("exact dedup keeps one representative per content") {
    val out = Dedup.exactDedup(docs)
    assert(out.count() == 4)
    assert(out.filter(col("text").contains("lazy dog")).select("doc_id").head.getLong(0) == 1L)
  }

  test("minhash LSH finds the near-dup pair and the exact dup") {
    // rowsPerBand=2: catch probability at jaccard 0.55 is 1-(1-0.55²)^32 ≈ 1
    // (r=4 would be ~0.79 — too lossy for a deterministic assertion)
    val pairs = Dedup.minhashLshRun(docs, k = 64, rowsPerBand = 2, threshold = 0.5)
      .materialize(_.collect()).map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L))) // exact dup: jaccard 1.0
    // docs 1,2 differ in last token: 5/9 trigrams shared → jac ≈ 0.55
    assert(pairs.contains((1L, 2L)) && pairs.contains((2L, 4L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("simhash: identical texts → distance 0, near texts → small distance") {
    val sigs = docs.filter(col("doc_id").isin(1, 2, 3, 4))
      .select(col("doc_id"), Dedup.simhash(Text.tokens(col("text"))).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(4L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sigs(1L), sigs(2L)) < ham(sigs(1L), sigs(3L)))
  }

  test("simhash banding equals all-pairs ground truth (exact recall)") {
    // banding must find EXACTLY the pairs an unpruned Hamming filter finds
    val sigs = docs.filter(col("doc_id") =!= 5)
      .select(col("doc_id"), Dedup.simhash(Text.tokens(col("text"))).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val truth = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
      if java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (ia, ib)).toSet
    val banded = Dedup.simhashRun(docs, maxHamming = 3)
      .materialize(_.collect()).map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded == truth)
  }

  test("portable simhash matches xxhash simhash's pair structure for exact dups") {
    val pairs = Dedup.simhashRun(docs, maxHamming = 0, portable = true)
      .materialize(_.collect()).map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L))) // identical text → distance 0 under any hash
  }

  test("blocked simhash = unblocked pairs restricted to equal block keys") {
    val unblocked = Dedup.simhashRun(docs, maxHamming = 10)
      .materialize(_.collect()).map(r => (r.getLong(0), r.getLong(1))).toSet
    val bySource = docs.collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    val blocked = Dedup.simhashRun(docs, maxHamming = 10, blockCols = Seq("source"))
      .materialize(_.collect()).map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(blocked == unblocked.filter { case (a, b) => bySource(a) == bySource(b) })
    assert(blocked != unblocked) // docs 1/4 are dups across sources a/b
  }

  test("simhash recall is exact past radius 3: maxHamming 4 and 10 equal all-pairs Hamming") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    def word() = s"w${rnd.nextInt(2000)}"
    // 60 families of 120-token texts: each variant swaps 1-3 tokens of its
    // base, so in-family signatures sit a few bits apart
    val texts = (0 until 60).flatMap { _ =>
      val base = Vector.fill(120)(word())
      (base +: Seq.fill(6) {
        (1 to 1 + rnd.nextInt(3)).foldLeft(base)((t, _) => t.updated(rnd.nextInt(t.size), word()))
      }).map(_.mkString(" "))
    }
    val corpus = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val sig = corpus.select(col("doc_id"), Dedup.simhash(Text.tokens(col("text"))))
      .as[(Long, Long)].collect().toMap
    // differing bits in all four 16-bit chunks: no chunk of a fixed
    // 4-chunk banding is shared, so only (h+1)-chunk banding finds the pair
    def dirtiesAllFour(x: Long) = (0 until 4).forall(c => ((x >>> (16 * c)) & 0xFFFFL) != 0)
    for (h <- Seq(4, 10)) {
      val truth = (for {
        (a, sa) <- sig.toSeq; (b, sb) <- sig.toSeq if a < b
        d = java.lang.Long.bitCount(sa ^ sb) if d <= h
      } yield (a, b, d)).toSet
      assert(truth.exists { case (a, b, _) => dirtiesAllFour(sig(a) ^ sig(b)) },
        s"fixture holds no pair within $h bits that dirties all four 16-bit chunks")
      val banded = Dedup.simhashRun(corpus, maxHamming = h)
        .materialize(_.collect()).map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(banded === truth, s"maxHamming=$h")
    }
    intercept[IllegalArgumentException] { Dedup.simhashRun(corpus, maxHamming = 16) }
  }

  test("hot-bucket guard: generous cap keeps all pairs, cap of 1 kills every bucket") {
    val base = Dedup.minhashLshRun(docs, k = 64, rowsPerBand = 2, threshold = 0.5)
      .materialize(_.collect()).map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(base.nonEmpty)
    // a cap larger than any bucket is a no-op
    val capped = Dedup.minhashLshRun(docs, k = 64, rowsPerBand = 2, threshold = 0.5,
      maxBucket = 1000L).materialize(_.collect()).map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == base)
    // every bucket with a candidate pair holds ≥2 docs → cap 1 drops all
    val none = Dedup.minhashLshRun(docs, k = 64, rowsPerBand = 2, threshold = 0.5,
      maxBucket = 1L).materialize(_.count())
    assert(none == 0)
  }

  test("DedupRun.materialize leaves no cached relations behind") {
    import org.apache.spark.sql.graftbridge.CacheBridge
    val n = Dedup.minhashLshRun(docs, k = 64, rowsPerBand = 2, threshold = 0.5)
      .materialize(_.count())
    assert(n >= 3)
    assert(CacheBridge.noCachedRelations(spark))
    val m = Dedup.simhashRun(docs, maxHamming = 3).materialize(_.count())
    assert(m >= 1)
    assert(CacheBridge.noCachedRelations(spark))
  }

  test("jaccard is exact on integer set sizes") {
    val s = spark
    import s.implicits._
    val df = Seq((Seq("a", "b", "c"), Seq("b", "c", "d"))).toDF("x", "y")
    assert(df.select(Dedup.jaccard(col("x"), col("y"))).head.getDouble(0) == 0.5)
  }

  test("cosine similarity and brute-force top-k") {
    val s = spark
    import s.implicits._
    val corpus = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)),
      (3L, Seq(0.9f, 0.1f)), (4L, Seq(-1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val queries = Seq((1L, Seq(1.0f, 0.0f))).toDF("qid", "qvec")
    val out = Similarity.bruteForceTopK(corpus, queries, k = 2)
      .orderBy("rnk").collect()
    assert(out.map(_.getAs[Long]("neighbor")).toSeq == Seq(3L, 2L))
    assert(math.abs(out(0).getAs[Double]("cos") - 0.9 / math.sqrt(0.82)) < 1e-9)
  }

  test("multi-probe IVF: full probing equals brute force, probes rank by centroid cosine") {
    val s = spark
    import s.implicits._
    // two well-separated cells on the axes
    val corpus = Seq(
      (1L, Seq(1.0f, 0.0f), 0), (2L, Seq(0.9f, 0.1f), 0),
      (3L, Seq(0.0f, 1.0f), 1), (4L, Seq(0.1f, 0.9f), 1))
      .toDF("vec_id", "embedding", "label")
    val cents = Map(0 -> IndexedSeq(0.95, 0.05), 1 -> IndexedSeq(0.05, 0.95))
    val queries = Seq((10L, Seq(1.0f, 0.05f))).toDF("qid", "qvec")
    // probe order: cell 0 (aligned) before cell 1
    val probes = queries.select(Similarity.probeCells(col("qvec"), cents, 2)).head.getSeq[Int](0)
    assert(probes == Seq(0, 1))
    // nProbe = all cells ≡ brute force
    val all = queries.withColumn("probes", Similarity.probeCells(col("qvec"), cents, 2))
    val mp = Similarity.multiProbeTopK(corpus, all, k = 3, cell = "label")
      .select("qid", "rnk", "neighbor").collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val bf = Similarity.bruteForceTopK(corpus, queries, k = 3)
      .select("qid", "rnk", "neighbor").collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(mp.toSet == bf.toSet)
    // nProbe = 1 restricts the search to the nearest cell
    val one = queries.withColumn("probes", Similarity.probeCells(col("qvec"), cents, 1))
    val got = Similarity.multiProbeTopK(corpus, one, k = 3, cell = "label")
      .select("neighbor").collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 2L))
  }

  test("multimodal: stub decode is deterministic and frame sampling slices") {
    val s = spark
    import s.implicits._
    val media = docs.filter(col("doc_id").isin(1, 2))
      .withColumn("payload", Multimodal.asPayload(col("text"), lit("text/plain")))
    val feats = Multimodal.decodeBatch(media).orderBy("doc_id").collect()
    assert(feats(0).getAs[Long]("n_bytes") == 43)
    assert(feats(0).getAs[Int]("first_byte") == 't'.toInt)
    // deterministic: same input → same features on rerun
    val again = Multimodal.decodeBatch(media).orderBy("doc_id").collect()
    assert(feats(0).getSeq[Double](3) == again(0).getSeq[Double](3))
    val frames = media.select(size(Multimodal.sampleFrames(col("payload"), 8, 16))).head.getInt(0)
    assert(frames == 3) // 43 bytes, stride 16 → offsets 0,16,32 hold full 8-byte frames
  }

  test("parseImageDims reads real PNG/GIF headers, routes unknowns to the decode seam") {
    val s = spark
    import s.implicits._
    // real PNG: signature + IHDR length/type + 640x480 big-endian dims
    val png: Array[Byte] = (Seq(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A,
      0x00, 0x00, 0x00, 0x0D, 0x49, 0x48, 0x44, 0x52,
      0x00, 0x00, 0x02, 0x80, // width 640
      0x00, 0x00, 0x01, 0xE0) // height 480
      ).map(_.toByte).toArray
    // real GIF89a: little-endian 320x200 logical screen
    val gif: Array[Byte] = ("GIF89a".getBytes("ASCII") ++
      Array(0x40, 0x01, 0xC8, 0x00).map(_.toByte))
    val junk: Array[Byte] = "not an image".getBytes("UTF-8")
    val out = Seq((1L, png), (2L, gif), (3L, junk)).toDF("id", "payload")
      .select(col("id"), Multimodal.parseImageDims(col("payload")).as("m"))
      .select(col("id"), col("m.format"), col("m.width"), col("m.height"))
      .orderBy("id")
      .collect()
    assert((out(0).getString(1), out(0).getLong(2), out(0).getLong(3)) === ("png", 640L, 480L))
    assert((out(1).getString(1), out(1).getLong(2), out(1).getLong(3)) === ("gif", 320L, 200L))
    assert(out(2).getString(1) === "unknown" && out(2).isNullAt(2))
  }

  test("parseImageDims walks real JPEG headers: SOF0, SOF2, fill bytes, SOS-before-SOF") {
    val s = spark
    import s.implicits._
    def seg(marker: Int, payload: Array[Byte]): Array[Byte] = {
      val len = payload.length + 2
      Array(0xFF.toByte, marker.toByte, ((len >> 8) & 0xff).toByte,
        (len & 0xff).toByte) ++ payload
    }
    def sof(marker: Int, w: Int, h: Int): Array[Byte] = seg(marker,
      // precision 8, height BE, width BE, 3 components × (id, sampling, qtable)
      Array(8, (h >> 8) & 0xff, h & 0xff, (w >> 8) & 0xff, w & 0xff, 3,
        1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1).map(_.toByte))
    val soi = Array(0xFF, 0xD8).map(_.toByte)
    val jfif = seg(0xE0, "JFIF".getBytes("ASCII") ++ Array[Byte](0, 1, 1, 0, 0, 1, 0, 1, 0, 0))
    // baseline: SOI, APP0, DQT (skipped), SOF0 640x480
    val baseline = soi ++ jfif ++ seg(0xDB, Array.fill[Byte](65)(1)) ++ sof(0xC0, 640, 480)
    // progressive with a fill byte before SOF2: 1024x768
    val progressive = soi ++ jfif ++ Array(0xFF.toByte) ++ sof(0xC2, 1024, 768)
    // SOS before any SOF: a JPEG but dims unrecoverable from the header
    val sosFirst = soi ++ seg(0xDA, Array[Byte](1, 1, 0, 0, 63, 0))
    val truncated = soi ++ jfif.take(3)
    // DNL-deferred height (Y=0 in the SOF, legal per ISO 10918-1 B.2.2):
    // dims are NOT in the header — must be null, not height=0
    val dnl = soi ++ jfif ++ sof(0xC0, 640, 0)
    val out = Seq((1L, baseline), (2L, progressive), (3L, sosFirst),
        (4L, truncated), (5L, dnl))
      .toDF("id", "payload")
      .select(col("id"), Multimodal.parseImageDims(col("payload")).as("m"))
      .select(col("id"), col("m.format"), col("m.width"), col("m.height"))
      .orderBy("id").collect()
    assert((out(0).getString(1), out(0).getLong(2), out(0).getLong(3)) === ("jpeg", 640L, 480L))
    assert((out(1).getString(1), out(1).getLong(2), out(1).getLong(3)) === ("jpeg", 1024L, 768L))
    assert(out(2).getString(1) === "jpeg" && out(2).isNullAt(2) && out(2).isNullAt(3))
    assert(out(3).getString(1) === "jpeg" && out(3).isNullAt(2) && out(3).isNullAt(3))
    assert(out(4).getString(1) === "jpeg" && out(4).isNullAt(2) && out(4).isNullAt(3))
  }

  test("parseImageDims reads real WebP headers: VP8 lossy, VP8L lossless, VP8X extended, truncation") {
    val s = spark
    import s.implicits._
    def le32(v: Long): Array[Byte] =
      Array(v & 0xff, (v >> 8) & 0xff, (v >> 16) & 0xff, (v >> 24) & 0xff).map(_.toByte)
    def riff(fourcc: String, chunk: Array[Byte]): Array[Byte] =
      "RIFF".getBytes("ASCII") ++ le32(chunk.length + 12) ++ "WEBP".getBytes("ASCII") ++
        fourcc.getBytes("ASCII") ++ le32(chunk.length) ++ chunk
    // VP8 lossy 640x480: 3-byte frame tag, start code 9D 01 2A, LE14 dims
    val vp8 = riff("VP8 ", Array(0x10, 0x00, 0x00, 0x9D, 0x01, 0x2A,
      0x80, 0x02, 0xE0, 0x01).map(_.toByte))
    // VP8L 1024x768: signature 2F + LE32 of (w-1) | (h-1)<<14 = 0xBFC3FF
    val vp8l = riff("VP8L", Array(0x2F, 0xFF, 0xC3, 0xBF, 0x00).map(_.toByte))
    // VP8X canvas 16384x9000: 4 flag/reserved bytes + LE24 (w-1) + LE24 (h-1)
    val vp8x = riff("VP8X", Array(0x02, 0x00, 0x00, 0x00,
      0xFF, 0x3F, 0x00, 0x27, 0x23, 0x00).map(_.toByte))
    // RIFF/WEBP magic but the chunk is cut before the dims
    val truncated = vp8.take(24)
    // VP8 chunk whose start code is wrong: recognized container, no measurement
    val badCode = riff("VP8 ", Array(0x10, 0x00, 0x00, 0x00, 0x01, 0x2A,
      0x80, 0x02, 0xE0, 0x01).map(_.toByte))
    val out = Seq((1L, vp8), (2L, vp8l), (3L, vp8x), (4L, truncated), (5L, badCode))
      .toDF("id", "payload")
      .select(col("id"), Multimodal.parseImageDims(col("payload")).as("m"))
      .select(col("id"), col("m.format"), col("m.width"), col("m.height"))
      .orderBy("id").collect()
    assert((out(0).getString(1), out(0).getLong(2), out(0).getLong(3)) === ("webp", 640L, 480L))
    assert((out(1).getString(1), out(1).getLong(2), out(1).getLong(3)) === ("webp", 1024L, 768L))
    assert((out(2).getString(1), out(2).getLong(2), out(2).getLong(3)) === ("webp", 16384L, 9000L))
    assert(out(3).getString(1) === "webp" && out(3).isNullAt(2) && out(3).isNullAt(3))
    assert(out(4).getString(1) === "webp" && out(4).isNullAt(2) && out(4).isNullAt(3))
  }

  test("parseMediaDims walks real MP4 boxes: skips the audio trak, v0+v1 tkhd, mdat truncation") {
    val s = spark
    import s.implicits._
    def be32(v: Long): Array[Byte] =
      Array((v >> 24) & 0xff, (v >> 16) & 0xff, (v >> 8) & 0xff, v & 0xff).map(_.toByte)
    def box(typ: String, payload: Array[Byte]): Array[Byte] =
      be32(payload.length + 8L) ++ typ.getBytes("ASCII") ++ payload
    def tkhd(w: Int, h: Int, version: Int): Array[Byte] = {
      val timeIdDur = if (version == 1) 32 else 20
      box("tkhd", Array[Byte](version.toByte, 0, 0, 7) ++
        Array.fill[Byte](timeIdDur)(0) ++ // creation/modification/id/duration
        Array.fill[Byte](8)(0) ++ // reserved
        Array.fill[Byte](8)(0) ++ // layer/alternate_group/volume/reserved
        Array.fill[Byte](36)(0) ++ // matrix
        be32(w.toLong << 16) ++ be32(h.toLong << 16)) // 16.16 fixed point
    }
    val ftyp = box("ftyp", "isom".getBytes("ASCII") ++ be32(0x200))
    // audio trak (0x0 dims) FIRST: the walk must skip it, not return 0x0
    val movie = ftyp ++ box("moov",
      box("trak", tkhd(0, 0, 0)) ++ box("trak", tkhd(640, 360, 0)))
    val movieV1 = ftyp ++ box("moov", box("trak", tkhd(1920, 1080, 1)))
    // no-faststart prefix: mdat claims bytes the stored payload doesn't
    // have, moov is out of reach → format known, dims null
    val noFaststart = ftyp ++ be32(1000000L) ++ "mdat".getBytes("ASCII") ++
      Array.fill[Byte](16)(0)
    // a PNG through the media chain still classifies as png
    val png: Array[Byte] = (Seq(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A,
      0x00, 0x00, 0x00, 0x0D, 0x49, 0x48, 0x44, 0x52,
      0x00, 0x00, 0x02, 0x80, 0x00, 0x00, 0x01, 0xE0)).map(_.toByte).toArray
    val out = Seq((1L, movie), (2L, movieV1), (3L, noFaststart), (4L, png))
      .toDF("id", "payload")
      .select(col("id"), Multimodal.parseMediaDims(col("payload")).as("m"))
      .select(col("id"), col("m.format"), col("m.width"), col("m.height"))
      .orderBy("id").collect()
    assert((out(0).getString(1), out(0).getLong(2), out(0).getLong(3)) === ("mp4", 640L, 360L))
    assert((out(1).getString(1), out(1).getLong(2), out(1).getLong(3)) === ("mp4", 1920L, 1080L))
    assert(out(2).getString(1) === "mp4" && out(2).isNullAt(2) && out(2).isNullAt(3))
    assert((out(3).getString(1), out(3).getLong(2), out(3).getLong(3)) === ("png", 640L, 480L))
  }

  test("langId prefers profile with most hits, alphabetical on ties") {
    val s = spark
    import s.implicits._
    val df = Seq("der die das und", "the of to is", "xyzzy plugh").toDF("text")
    val preds = df.select(Text.langId(col("text"))).collect().map(_.getString(0)).toSeq
    assert(preds == Seq("de", "en", "de")) // no hits anywhere → first profile
  }

  test("components collapses transitive near-dup pairs into clusters") {
    val s = spark
    import s.implicits._
    // chain 1-2-3, clique edge 5-6, star 10-(11,12); 3 components
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (10L, 11L), (10L, 12L))
      .toDF("id_a", "id_b")
    val comp = Dedup.components(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("components handles a long chain (diameter > 1 iteration)") {
    val s = spark
    import s.implicits._
    // path 1-2-3-4-5-6-7-8: min label must walk the whole diameter
    val pairs = (1L to 7L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val comp = Dedup.components(pairs).collect().map(_.getLong(1)).distinct.toSeq
    assert(comp == Seq(1L))
  }

  /** The min-label loop `components` replaced: identity labels in one
    * execution, then one execution per round. The reference for the
    * single-plan first rounds. */
  private def componentsByRounds(pairs: DataFrame, maxIters: Int = 20): DataFrame = {
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct()
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("component", col("id")).localCheckpoint()
    var changed = 1L
    var it = 0
    while (changed > 0 && it < maxIters) {
      val neighborMin = edges.join(labels, edges("dst") === labels("id"))
        .groupBy(col("src")).agg(min("component").as("nmin"))
      val round = new Observation()
      labels = labels.join(neighborMin, labels("id") === col("src"), "left")
        .observe(round, count(when(col("nmin") < col("component"), lit(1))).as("changed"))
        .select(labels("id"),
          least(col("component"), coalesce(col("nmin"), col("component"))).as("component"))
        .localCheckpoint()
      changed = round.get("changed").asInstanceOf[Long]
      it += 1
    }
    if (changed > 0) throw new IllegalStateException(s"$changed labels still changing")
    labels
  }

  private def labelRows(df: DataFrame): Seq[(Option[Long], Option[Long])] =
    df.collect().toSeq.map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]),
      Option(r.get(1)).map(_.asInstanceOf[Long]))).sorted

  test("components equals the round-by-round loop on seeded random graphs") {
    val s = spark
    import s.implicits._
    def outcome(f: => DataFrame): Either[String, Seq[(Option[Long], Option[Long])]] =
      try Right(labelRows(f)) catch { case _: IllegalStateException => Left("no fixpoint") }
    // unions of chains, stars and cliques over shuffled ids, listed with
    // duplicate and reversed pairs and self-loops
    def graph(seed: Int): Seq[(Option[Long], Option[Long])] = {
      val rnd = new scala.util.Random(seed)
      val ids = rnd.shuffle((1L to 200L).toVector).iterator
      val edges = (1 to 2 + rnd.nextInt(4)).flatMap { _ =>
        val k = 2 + rnd.nextInt(5)
        val v = Vector.fill(k)(ids.next())
        rnd.nextInt(3) match {
          case 0 => v.sliding(2).map(p => (p(0), p(1))).toSeq
          case 1 => v.tail.map(x => (v.head, x))
          case _ => for (i <- v; j <- v if i < j) yield (i, j)
        }
      }
      val extra = Seq.fill(3)(edges(rnd.nextInt(edges.size))).flatMap(e => Seq(e, e.swap)) ++
        Seq.fill(2)(ids.next()).map(x => (x, x))
      rnd.shuffle(edges ++ extra).map { case (x, y) => (Some(x), Some(y)) }
    }
    val graphs = (1 to 5).map(graph) ++ Seq(
      Seq((Some(1L), Some(2L)), (Some(2L), None), (None, Some(3L)), (Some(4L), Some(4L))),
      Seq.empty[(Option[Long], Option[Long])])
    val converged = for ((g, i) <- graphs.zipWithIndex; maxIters <- Seq(1, 2, 20)) yield {
      val pairs = g.toDF("id_a", "id_b")
      val want = outcome(componentsByRounds(pairs, maxIters))
      assert(outcome(Dedup.components(pairs, maxIters = maxIters)) === want,
        s"graph $i, maxIters $maxIters")
      if (maxIters == 20) assert(want.isRight, s"graph $i")
      maxIters -> want.isRight
    }
    // the round limit bites on some graphs and not on others
    assert(converged.filter(_._1 == 2).map(_._2).toSet === Set(true, false))
    // the null endpoint keeps its (null, null) row instead of a neighbor's label
    assert(labelRows(Dedup.components(graphs(5).toDF("id_a", "id_b"))) === Seq(
      (None, None), (Some(1L), Some(1L)), (Some(2L), Some(1L)), (Some(3L), Some(3L)),
      (Some(4L), Some(4L))))
  }

  test("components runs rounds 1 and 2 as one SQL execution") {
    val s = spark
    import s.implicits._
    // star 10-(11,12): round 1 relabels 11 and 12, round 2 changes nothing
    val star = Seq((10L, 11L), (10L, 12L)).toDF("id_a", "id_b")
    val (labels, n) = executionsDuring(Dedup.components(star))
    assert(n.size === 1)
    assert(labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ===
      Map(10L -> 10L, 11L -> 10L, 12L -> 10L))
    // path 1-...-8: 7 relabelling rounds and a quiet one
    val chain = (1L to 7L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (want, byRounds) = executionsDuring(componentsByRounds(chain))
    val (got, n8) = executionsDuring(Dedup.components(chain))
    assert(labelRows(got) === labelRows(want))
    assert(byRounds.size === 9)
    assert(n8.size === byRounds.size - 2)
  }

  test("components throws instead of returning truncated labels") {
    val s = spark
    import s.implicits._
    val pairs = (1L to 7L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    intercept[IllegalStateException] {
      Dedup.components(pairs, maxIters = 2)
    }
  }

  test("incrementalNearDupNew: corpus hits and smaller-id dominance drop; short docs kept") {
    val s = spark
    import s.implicits._
    // near-identical word streams: a/b/c are mutual near-dups; d distinct
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val corpus = Seq(
      (100L, base + " lambda"), // near-dups batch 1 and 2
      (101L, "totally different content words here all new ones")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (1L, base + " mu"),     // matches corpus 100 → dropped
      (2L, base + " nu"),     // matches corpus + dominated by 1 → dropped
      (3L, "unrelated fresh material nothing shared with anything else"),
      (4L, base.split(" ").reverse.mkString(" ")), // same words, reversed order: different shingles
      (5L, "xy")              // shorter than the shingle width: kept trivially
    ).toDF("doc_id", "text")
    val kept = Dedup.incrementalNearDupNewRun(batch, corpus, threshold = 0.7)
      .materialize(_.collect()).map(_.getLong(0)).sorted.toSeq
    assert(kept === Seq(3L, 4L, 5L))

    // dominance alone (empty corpus side): 1 kept, 2 dropped by smaller id
    val kept2 = Dedup.incrementalNearDupNewRun(
        batch.filter($"doc_id" <= 2), corpus.limit(0), threshold = 0.7)
      .materialize(_.collect()).map(_.getLong(0)).sorted.toSeq
    assert(kept2 === Seq(1L))
  }

  private def spansOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

  test("duplicateSpans: cross-document shared runs merge into maximal spans") {
    // doc 1 and 2 share tokens 0..7 ("...the lazy"); doc 4 is an exact
    // dup of 1, so 1's tail gram "the lazy dog" is duplicated too — 1 and
    // 4 flag every 3-gram (one whole-doc span), 2's last gram is unique
    val out = Dedup.duplicateSpans(docs, k = 3)
    assert(spansOf(out) === Set((1L, 0L, 8L, 9L), (2L, 0L, 7L, 8L), (4L, 0L, 8L, 9L)))
    // repartition-stable
    assert(spansOf(Dedup.duplicateSpans(docs.repartition(7), k = 3)) === spansOf(out))
    // the xxhash64 production twin flags identical spans on this fixture
    assert(spansOf(Dedup.duplicateSpans(docs, k = 3, portable = false)) === spansOf(out))
  }

  test("duplicateSpans: intra-document repetition counts toward minOccurrences") {
    val s = spark
    import s.implicits._
    val d = Seq((1L, "a b c x y z a b c")).toDF("doc_id", "text")
    // "a b c" occurs twice IN THE SAME document: both occurrences flag,
    // and the gap (6 > 0 + 3) keeps them separate islands
    assert(spansOf(Dedup.duplicateSpans(d, k = 3)) ===
      Set((1L, 0L, 2L, 3L), (1L, 6L, 8L, 9L - 6L)))
  }

  test("duplicateSpansKeepFirst: the canonical occurrence survives, all others span") {
    val s = spark
    import s.implicits._
    // remove-everywhere spans docs 1, 2 AND 4; keep-first leaves doc 1
    // (the global (min doc, min pos) occurrence of every shared gram)
    // untouched
    val out = Dedup.duplicateSpansKeepFirst(docs, k = 3)
    assert(spansOf(out) === Set((2L, 0L, 7L, 8L), (4L, 0L, 8L, 9L)))
    assert(spansOf(Dedup.duplicateSpansKeepFirst(docs.repartition(7), k = 3)) === spansOf(out))
    assert(spansOf(Dedup.duplicateSpansKeepFirst(docs, k = 3, portable = false)) === spansOf(out))
    // intra-document repeat: the FIRST occurrence is canonical, only the
    // second spans
    val d = Seq((1L, "a b c x y z a b c")).toDF("doc_id", "text")
    assert(spansOf(Dedup.duplicateSpansKeepFirst(d, k = 3)) === Set((1L, 6L, 8L, 3L)))
    // composed with exciseSpans: duplicated content survives EXACTLY ONCE
    // corpus-wide (doc 1 intact; 2 keeps its unique tail token; 4 empties)
    val kept = Dedup.exciseSpans(docs, out)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(kept(1L) === "the quick brown fox jumps over the lazy dog")
    assert(kept(2L) === "cat" && kept(4L) === "")
    assert(kept(3L) === "completely different content here now")
  }

  test("exciseSpans removes qualifying spans everywhere, passes the rest through") {
    val spans = Dedup.duplicateSpans(docs, k = 3)
    val out = Dedup.exciseSpans(docs, spans)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // doc 1/4: whole-doc span excised; doc 2 keeps only its unique tail
    assert(out(1L) === (("", 9L, 9L)) && out(4L) === (("", 9L, 9L)))
    assert(out(2L) === (("cat", 9L, 8L)))
    // untouched docs rebuild their token stream; empty doc stays empty
    assert(out(3L) === (("completely different content here now", 5L, 0L)))
    assert(out(5L) === (("", 0L, 0L)))
    // a min-span threshold above doc 2's 8-token span leaves it intact
    val thresh = Dedup.exciseSpans(docs, spans, minSpanTokens = 9)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(thresh(2L) === 0L && thresh(1L) === 9L)
  }

  test("signaturePairs equals the all-pairs Hamming filter on random signatures") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    // base signatures plus engineered near-dups at Hamming 1..12 — flips
    // spread across the word so chunk boundaries at every tested radius
    // get both clean and dirtied chunks
    val base = (1L to 40L).map(i => (i, rnd.nextLong()))
    val tweaked = base.take(12).zipWithIndex.map { case ((i, sig), j) =>
      (100L + i, sig ^ ((1 to (j % 12 + 1)).map(b => 1L << ((b * 17 + j * 5) % 64)).reduce(_ | _)))
    }
    val sigs = (base ++ tweaked).toDF("doc_id", "sig")
    // h > 3 exercises the generalized (h+1)-chunk partition, including
    // radii where 64 % (h+1) != 0 (uneven chunk widths: 6, 10) and the
    // 4-bit-key ceiling (15)
    for (h <- (0 to 6) ++ Seq(10, 15)) {
      val banded = Dedup.signaturePairs(sigs, maxHamming = h)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val all = (base ++ tweaked)
      val brute = (for {
        (a, sa) <- all; (b, sb) <- all if a < b
        d = java.lang.Long.bitCount(sa ^ sb) if d <= h
      } yield (a, b, d)).toSet
      assert(banded === brute, s"maxHamming=$h")
    }
    intercept[IllegalArgumentException] { Dedup.signaturePairs(sigs, maxHamming = 16) }
  }

  test("imageAHashBatch: hamming tracks visual similarity; flat image hashes to 0") {
    val s = spark
    import s.implicits._
    def png(f: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        16, 16, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      for (y <- 0 until 16; x <- 0 until 16) img.getRaster.setSample(x, y, 0, f(x, y))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val halfBright = png((x, _) => if (x < 8) 200 else 40)
    val halfTweaked = png((x, y) => (if (x < 8) 200 else 40) + (if (x == 0 && y == 0) 5 else 0))
    val inverted = png((x, _) => if (x < 8) 40 else 200)
    val flat = png((_, _) => 99)
    val df = Seq(
      (1L, halfBright), (2L, halfTweaked), (3L, inverted), (4L, flat),
      (5L, "not a png".getBytes("UTF-8"))
    ).toDF("doc_id", "payload")
    val out = Multimodal.imageAHashBatch(df)
      .collect().map(r => r.getLong(0) -> r).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val h = (i: Long) => out(i).getAs[Long]("ahash")
    // left half bright: left 4 block-columns set -> 32 bits; tweak is invisible
    assert(java.lang.Long.bitCount(h(1L)) === 32)
    assert(h(1L) === h(2L))
    // inverted image: every bit flips
    assert(ham(h(1L), h(3L)) === 64)
    // flat image: no block exceeds the mean
    assert(h(4L) === 0L)
    assert(!out(5L).getAs[Boolean]("decoded"))
  }

  test("winnowFingerprints: shared runs guarantee a match; ties select rightmost") {
    val s = spark
    import s.implicits._
    val shared = "alpha beta gamma delta epsilon zeta eta theta" // 8 tokens = window+k-1
    val d = Seq(
      (1L, "one two " + shared + " three four"),
      (2L, "five six seven " + shared),
      (3L, "completely unrelated words everywhere nine ten eleven twelve")
    ).toDF("doc_id", "text")
    val fp = Dedup.winnowFingerprints(d, k = 4, window = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byDoc = fp.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    // the MOSS guarantee: a shared substring of >= window+k-1 tokens
    // yields at least one common fingerprint hash
    assert((byDoc(1L) & byDoc(2L)).nonEmpty)
    assert((byDoc(1L) & byDoc(3L)).isEmpty && (byDoc(2L) & byDoc(3L)).isEmpty)
    // repartition-stable
    val again = Dedup.winnowFingerprints(d.repartition(5), k = 4, window = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(again === fp.toSet)
    // all-equal hashes: the rightmost gram of the single clipped window
    val uni = Seq((9L, "x x x x x x")).toDF("doc_id", "text") // 5 identical 2-grams
    val u = Dedup.winnowFingerprints(uni, k = 2, window = 5)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(u.length === 1 && u.head._1 === 4L)
    // selection density ~ 2/(w+1): far fewer fingerprints than grams
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val nGrams = real.select(explode(graft.functions.Text.shingles(col("text"), 4))).count()
    val nFp = Dedup.winnowFingerprints(real, k = 4, window = 5).count()
    assert(nFp < nGrams / 2, s"$nFp fingerprints from $nGrams grams")
  }

  test("duplicateSpans: adjacent windows merge; a one-token gap splits") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (1L, "p q r s t u"),        // grams at pos 0 and 3 shared with doc 2
      (2L, "p q r x s t u")).toDF("doc_id", "text")
    // doc 1: flagged pos {0, 3}; 3 == 0 + k → one merged span [0, 5].
    // doc 2: flagged pos {0, 4}; 4 > 0 + 3 → two spans [0,2] and [4,6].
    assert(spansOf(Dedup.duplicateSpans(d, k = 3)) ===
      Set((1L, 0L, 5L, 6L), (2L, 0L, 2L, 3L), (2L, 4L, 6L, 3L)))
  }
}
