package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.SparkTestSession

class OpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog again and again"),
    (1L, "the quick brown fox jumps over the lazy dog again and again"), // exact dup of 0
    (2L, "the quick brown fox jumps over the lazy cat again and again"), // near dup of 0
    (3L, "completely different content about spark columnar compression engines"),
    (4L, ""),
    (5L, "one")
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts") {
    val r = Dedup.exact(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r(0L) === 2L) // docs 0 and 1 collapse onto keep_id 0
    assert(r(2L) === 1L && r(3L) === 1L)
    assert(r.values.sum === 6L)
  }

  test("minhash LSH finds exact and near duplicates, not unrelated docs") {
    // bands=16 (2 rows/band): LSH crossover (1/b)^(1/r) ~= 0.25, so pairs
    // at the 0.4 threshold are recalled with near-certainty, not by luck
    val pairs = Dedup.minhashLsh(docs.filter($"doc_id" < 4), "doc_id", "text",
      shingleSize = 3, bands = 16, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((0L, 1L)), s"exact dup pair missing from $keys")
    assert(pairs.find(p => (p._1, p._2) == ((0L, 1L))).get._3 === 1.0)
    assert(keys.contains((0L, 2L)) || keys.contains((1L, 2L)), "near-dup pair missing")
    assert(!keys.exists(p => p._1 == 3L || p._2 == 3L), "unrelated doc matched")
  }

  test("simhash: identical texts have distance 0, near dups small, distinct texts far") {
    graft.functions.SimHash64.register(spark)
    val h = docs.select($"doc_id", graft.functions.SimHash64.simhash64($"text").as("h"))
    val m = h.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(0L) === m(1L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(m(0L), m(2L)) < hamming(m(0L), m(3L)),
      "near dup must be closer than unrelated text")
    // pure function parity with the expression
    assert(m(0L) === graft.functions.SimHash64.compute(
      "the quick brown fox jumps over the lazy dog again and again"))
  }

  test("simhashPairs blocks find hamming<=3 neighbors") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).longValue))
    assert(pairs.exists(p => p._1 == 0L && p._2 == 1L && p._3 == 0L))
  }

  test("simhashPairsFromHashes recall is EXHAUSTIVE up to maxHamming (pigeonhole)") {
    // crafted pair at EXACTLY hamming 7 spread across many 8-bit blocks —
    // round 1's fixed 4x16-bit blocking missed such pairs silently
    val base = 0x0123456789abcdefL
    val far = base ^ 0x0040201008040201L // flip 7 bits scattered over 7 blocks
    assert(java.lang.Long.bitCount(base ^ far) === 7)
    val rnd = new scala.util.Random(99)
    val extra = (2L to 40L).map(i => i -> rnd.nextLong())
    val hashed = ((0L -> base) +: (1L -> far) +: extra).toDF("id", "simhash")
    val got = Dedup.simhashPairsFromHashes(hashed, maxHamming = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute-force oracle over ALL pairs
    val all = ((0L -> base) +: (1L -> far) +: extra)
    val want = (for {
      (ia, ha) <- all; (ib, hb) <- all
      if ia < ib && java.lang.Long.bitCount(ha ^ hb) <= 7
    } yield (ia, ib)).toSet
    assert(want.contains((0L, 1L)))
    assert(got === want, "blocking must find exactly the brute-force pair set")
    // radii beyond the selective-blocking regime are rejected, not silent
    intercept[IllegalArgumentException](
      Dedup.simhashPairsFromHashes(hashed, maxHamming = 16).collect())
  }

  test("ngram jaccard: dup pair scores 1.0, empty text never NaNs") {
    val pairs = Dedup.ngramJaccard(docs, "doc_id", "text", n = 2, threshold = 0.1)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((0L, 1L)) === 1.0)
    assert(pairs.values.forall(j => !j.isNaN && j >= 0.1 && j <= 1.0))
  }

  test("ngram jaccard prefix filter is LOSSLESS: matches brute force on a random corpus") {
    val rnd = new scala.util.Random(7)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg")
    val rows = (0L until 60L).map(i =>
      (i, Seq.fill(6 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.length))).mkString(" ")))
    val got = Dedup.ngramJaccard(rows.toDF("doc_id", "text"), "doc_id", "text",
        n = 2, threshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    def grams(t: String): Set[String] = {
      val toks = t.trim.split("\\s+").toSeq
      (0 until math.max(toks.length - 1, 1)).map(i => toks.slice(i, i + 2).mkString(" ")).toSet
    }
    val gs = rows.map { case (i, t) => i -> grams(t) }.toMap
    val want = (for {
      a <- rows.map(_._1); b <- rows.map(_._1) if a < b
      j = gs(a).intersect(gs(b)).size.toDouble / gs(a).union(gs(b)).size
      if j >= 0.5
    } yield (a, b) -> j).toMap
    assert(got === want, "prefix-filtered output must equal the all-pairs answer")
  }

  test("word_ngrams expression == declarative shingles (sorted), incl. edge cases") {
    graft.functions.WordNGrams.register(spark)
    val tricky = Seq(
      "the quick brown fox", "a", "", "   ", "a  b   c", " padded  text ",
      "\tleading tab", "x\ny", "one two three four five six seven",
      "Ünïcode wörds hére", "dup dup dup dup").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    for (k <- Seq(2, 3, 5)) {
      val df = tricky.toDF("id", "text")
      val got = df.select($"id",
        graft.functions.WordNGrams.wordNgrams($"text", k).as("g"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      val want = df.select($"id",
        sort_array(Dedup.shingles($"text", k)).as("g"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      assert(got === want, s"k=$k: single-pass grams must equal the declarative form")
    }
  }

  test("sorted_jaccard_ge: exact on survivors, early exit only on proven misses") {
    graft.functions.SortedJaccardGE.register(spark)
    graft.functions.WordNGrams.register(spark)
    val rnd = new scala.util.Random(11)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee")
    val rows = (0L until 40L).map(i =>
      (i, Seq.fill(4 + rnd.nextInt(6))(vocab(rnd.nextInt(vocab.length))).mkString(" ")))
    val df = rows.toDF("id", "text")
      .select($"id", graft.functions.WordNGrams.wordNgrams($"text", 2).as("g"))
    val pairs = df.select($"id".as("id_a"), $"g".as("g_a"))
      .crossJoin(df.select($"id".as("id_b"), $"g".as("g_b")))
      .filter($"id_a" < $"id_b")
    for (t <- Seq(0.3, 0.5, 0.8)) {
      val got = pairs.withColumn("j",
        graft.functions.SortedJaccardGE.sortedJaccardGe($"g_a", $"g_b", lit(t)))
        .filter($"j" >= t).select($"id_a", $"id_b", $"j")
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      val want = pairs.withColumn("j",
        size(array_intersect($"g_a", $"g_b")).cast("double") /
          size(array_union($"g_a", $"g_b")))
        .filter($"j" >= t).select($"id_a", $"id_b", $"j")
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      assert(got === want, s"t=$t: merge kernel must equal intersect/union exactly")
    }
  }

  test("dedup ops release their fat intermediates (only the pair result stays cached)") {
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.size
    val p1 = Dedup.minhashLsh(docs, "doc_id", "text", shingleSize = 2, threshold = 0.5)
    val p2 = Dedup.ngramJaccard(docs, "doc_id", "text", n = 2, threshold = 0.5)
    // round 2 leaked the corpus-sized shingle/prefix-posting caches; each
    // op may keep exactly its own (tiny) materialized result, nothing else
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after <= before + 2,
      s"expected at most 2 new persisted RDDs (the results), got ${after - before}")
    p1.unpersist()
    p2.unpersist()
  }

  test("brute-force ANN returns k ranked neighbors; LSH recall over itself") {
    val rnd = new scala.util.Random(7)
    // 3 tight clusters of 20 vectors each
    val vecs = (0 until 60).map { i =>
      val center = Array.tabulate(8)(d => if (d == i / 20) 10.0 else 0.0)
      (i.toLong, center.map(c => (c + rnd.nextGaussian() * 0.1).toFloat))
    }.toDF("vec_id", "embedding")
    val brute = Similarity.bruteForceTopK(vecs, vecs.filter($"vec_id" === 0), k = 5)
      .collect()
    assert(brute.length === 5)
    assert(brute.forall(_.getLong(1) < 20), "neighbors must come from query's cluster")
    val lsh = Similarity.lshTopK(vecs, vecs.filter($"vec_id" === 0), k = 5, dim = 8)
      .collect()
    assert(lsh.nonEmpty, "LSH with multiprobe must find same-cluster candidates")
    assert(lsh.forall(_.getLong(1) < 20))
    // LSH top hit should agree with brute-force top hit
    assert(lsh.head.getLong(1) === brute.head.getLong(1))
  }

  test("IVF ANN: nprobe == nlist is exhaustive (equals brute force); partial probe recalls clusters") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 5)
    val brute = Similarity.bruteForceTopK(emb, q, k = 3)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val ivfAll = Similarity.ivfTopK(emb, q, k = 3, dim = 64, nlist = 8, nprobe = 8)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(ivfAll === brute, "full-probe IVF must equal brute force")
    // partial probe: each query's own list is always probed first, so the
    // top-1 neighbor survives for most queries (sanity, not exactness)
    val ivf2 = Similarity.ivfTopK(emb, q, k = 3, dim = 64, nlist = 8, nprobe = 2)
      .collect()
    assert(ivf2.nonEmpty)
  }

  test("fused ivf_lists matches the declarative centroid-score ranking") {
    // independently-derived cross-check for the round-9 fused assignment
    // ([[graft.functions.IvfLists]]): the declarative nlist-separate
    // aggregate-over-zip_with scores it replaced in ivfTopK, rebuilt here
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val sample = emb.orderBy("vec_id").limit(64)
      .collect().map(_.getSeq[Double](1).toArray)
    val cents = Similarity.kmeans(sample, nlist = 8)
    val centsSeq: Seq[Seq[Double]] = cents.toIndexedSeq.map(_.toIndexedSeq)
    def declScores(v: org.apache.spark.sql.Column) =
      org.apache.spark.sql.functions.array(cents.toIndexedSeq.map { cent =>
        val c2 = cent.map(x => x * x).sum / 2.0
        Similarity.dot(v, org.apache.spark.sql.functions.array(
          cent.toIndexedSeq.map(lit): _*)) - lit(c2)
      }: _*)
    graft.functions.IvfLists.register(spark)
    val nprobe = 3
    val rows = emb
      .withColumn("fused", graft.functions.IvfLists.ivfLists(col("v"), centsSeq, nprobe))
      .withColumn("_s", declScores(col("v")))
      .withColumn("decl_argmax", expr("array_position(_s, array_max(_s)) - 1"))
      .withColumn("decl_probes", expr(
        s"transform(slice(reverse(array_sort(zip_with(_s, sequence(0, 7), " +
          s"(s, i) -> struct(s, i)))), 1, $nprobe), p -> p.i)")
        .cast("array<long>"))
      .select("fused", "decl_argmax", "decl_probes")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val fused = r.getSeq[Int](0)
      assert(fused.head.toLong === r.getLong(1),
        "fused argmax must equal the declarative argmax")
      assert(fused.map(_.toLong) === r.getSeq[Long](2).map(identity),
        "fused ranked probe list must equal the declarative ranking")
    }
  }

  test("ivf_lists: a vector whose scores are all -Inf ranks nprobe " +
    "distinct lists in ascending id order") {
    // a NaN component scores every list -Inf; an infinite one against
    // all-negative centroids does too
    val cents: Seq[Seq[Double]] = (1 to 5).map(i => Seq(-i.toDouble, 0.5))
    val vecs = Seq(Seq(Double.NaN, 1.0), Seq(Double.PositiveInfinity, 0.0))
      .toDF("v")
    graft.functions.IvfLists.register(spark)
    for (nprobe <- Seq(1, 3, 5)) {
      val got = vecs
        .select(graft.functions.IvfLists.ivfLists(col("v"), cents, nprobe))
        .collect().map(_.getSeq[Int](0))
      got.foreach(ids => assert(ids === (0 until nprobe), s"nprobe=$nprobe"))
    }
  }

  test("approximate ANN/near-dup recall is QUANTIFIED against the exact answers") {
    import org.apache.spark.sql.DataFrame
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 10)
    def pairSet(df: DataFrame) = df.select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairSet(Similarity.bruteForceTopK(emb, q, k = 5))
    // e2's config: 5 planes x 16 OR-amplified tables, hamming-1 multiprobe
    val lsh = pairSet(Similarity.lshTopK(emb, q, k = 5, dim = 64,
      planes = 5, tables = 16))
    val lshRecall = (lsh intersect brute).size.toDouble / brute.size
    // IVF partial probe: 5 of 8 lists, de-biased hash sample (random
    // data spreads true neighbors across lists — the honest knob is
    // nprobe: measured recall@5 here is 0.84 at nprobe=4, >=0.9 at 5)
    val ivf = pairSet(Similarity.ivfTopK(emb, q, k = 5, dim = 64,
      nlist = 8, nprobe = 5))
    val ivfRecall = (ivf intersect brute).size.toDouble / brute.size
    // e3 vs the exact all-pairs answer at this SF (bounded: 500^2/2 pairs)
    val v = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val exactPairs = v.toDF("id_a", "v_a")
      .join(v.toDF("id_b", "v_b"), col("id_a") < col("id_b"))
      .filter(Similarity.cosine(col("v_a"), col("v_b")) >= 0.3)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // e3's config: SYMMETRIC margin-ranked multiprobe (4 of 8 flips,
    // either direction counts) x 28 tables — measured recall 0.9505
    // here (deterministic); round 4's full hamming-1 x 24 tables
    // measured 0.939 at ~5x the cost, one-sided (8, 32, 4) 0.928
    val nd = Dedup.embeddingNearDup(emb, "vec_id", "embedding", dim = 64,
      threshold = 0.3, planes = 8, tables = 28, probes = 4, symmetric = true)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ndRecall = if (exactPairs.isEmpty) 1.0
      else (nd intersect exactPairs).size.toDouble / exactPairs.size
    info(f"recall@5 lsh=$lshRecall%.3f ivf(nprobe=5of8)=$ivfRecall%.3f " +
      f"neardup=$ndRecall%.3f (exact pairs: ${exactPairs.size})")
    // candidates are verified with EXACT cosine, so precision is 1.0
    assert(nd.subsetOf(exactPairs), "near-dup must never emit a false pair")
    assert(lshRecall >= 0.9, f"e2 lshTopK recall $lshRecall%.3f below floor")
    assert(ivfRecall >= 0.9, f"ivfTopK nprobe=5of8 recall $ivfRecall%.3f below floor")
    assert(ndRecall >= 0.9, f"e3 embeddingNearDup recall $ndRecall%.3f below floor")
  }

  test("embedding near-dup finds duplicated vectors") {
    val base = Array.tabulate(16)(_.toFloat)
    val vecs = Seq(
      (0L, base), (1L, base.map(x => x * 1.0001f)), // near-identical direction
      (2L, Array.tabulate(16)(i => if (i % 2 == 0) 1f else -1f))
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDup(vecs, "vec_id", "embedding", dim = 16,
      threshold = 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet === Set((0L, 1L)))
  }

  test("LshProbes: bucket parity with declarative lshTables; probe semantics") {
    graft.functions.LshProbes.register(spark)
    val rnd = new scala.util.Random(11)
    val vecs = (0 until 32).map(i =>
      (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val (planes, tables, seed) = (6, 3, 42L)
    def pairs(df: org.apache.spark.sql.DataFrame, c: org.apache.spark.sql.Column) =
      df.select(col("vec_id"), explode(c).as("tb"))
        .select(col("vec_id"), col("tb.tbl").cast("int"), col("tb.bucket"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // probes=0 must equal the declarative multi-table buckets bit-for-bit
    // (the declarative path casts to double first; floats widen exactly)
    val native = pairs(vecs, graft.functions.LshProbes.lshProbes(
      col("embedding"), 16, planes, tables, 0, seed))
    val declar = pairs(vecs, Similarity.lshTables(
      transform(col("embedding"), _.cast("double")), 16, planes, tables, seed))
    assert(native === declar)
    // probes=planes emits exactly identity + every hamming-1 flip
    val full = pairs(vecs, graft.functions.LshProbes.lshProbes(
      col("embedding"), 16, planes, tables, planes, seed))
    val expected = declar.flatMap { case (id, t, b) =>
      (id, t, b) +: (0 until planes).map(p => (id, t, b ^ (1L << p)))
    }
    assert(full === expected)
    // probes=1 flips the SMALLEST normalized-margin plane (margin-ranked
    // multiprobe): recompute margins from the same hyperplane family
    val one = pairs(vecs, graft.functions.LshProbes.lshProbes(
      col("embedding"), 16, planes, tables, 1, seed))
    val byId = vecs.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    for ((id, t, b) <- one if !declar.contains((id, t, b))) {
      val base = declar.find { case (i2, t2, _) => i2 == id && t2 == t }.get._3
      val flipped = java.lang.Long.numberOfTrailingZeros(b ^ base)
      assert(java.lang.Long.bitCount(b ^ base) === 1)
      val margins = (0 until planes).map { p =>
        val plane = Similarity.hyperplane(seed, t * planes + p, 16)
        val dot = plane.zip(byId(id)).map { case (a, x) => a * x.toDouble }.sum
        val norm = math.sqrt(plane.map(x => x * x).sum)
        math.abs(dot) / norm
      }
      assert(margins(flipped) === margins.min)
    }
  }

  test("CosineSim scores float vectors identically to cast-to-double") {
    graft.functions.CosineSim.register(spark)
    val rnd = new scala.util.Random(3)
    val vecs = (0 until 8).map(i => (i.toLong,
      Array.fill(8)(rnd.nextGaussian().toFloat),
      Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("id", "a", "b")
    val f = vecs.select(graft.functions.CosineSim.cosineSim(col("a"), col("b")))
      .collect().map(_.getDouble(0))
    val d = vecs.select(graft.functions.CosineSim.cosineSim(
      transform(col("a"), _.cast("double")), transform(col("b"), _.cast("double"))))
      .collect().map(_.getDouble(0))
    assert(f.toSeq === d.toSeq)
  }

  test("multimodal header parsers: real PNG and WAV metadata, stub fallback") {
    // hand-built PNG: signature + IHDR(len=13) with width=640 height=480
    val png = new java.io.ByteArrayOutputStream()
    png.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    png.write(Array[Byte](0, 0, 0, 13)) // IHDR length
    png.write("IHDR".getBytes)
    png.write(Array[Byte](0, 0, 2, 0x80.toByte)) // width 640 BE
    png.write(Array[Byte](0, 0, 1, 0xe0.toByte)) // height 480 BE
    png.write(new Array[Byte](5 + 4)) // rest of IHDR + crc
    assert(Multimodal.HeaderParsers.png(png.toByteArray) === Some((640L, 480L)))
    // hand-built WAV: 2ch 44100Hz 16-bit, 8 sample frames (32 data bytes)
    val bb = java.nio.ByteBuffer.allocate(44 + 32)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes).putInt(36 + 32).put("WAVE".getBytes)
    bb.put("fmt ".getBytes).putInt(16).putShort(1).putShort(2)
      .putInt(44100).putInt(44100 * 4).putShort(4).putShort(16)
    bb.put("data".getBytes).putInt(32).put(new Array[Byte](32))
    assert(Multimodal.HeaderParsers.wav(bb.array()) === Some((2L, 44100L, 8L)))
    // unrecognized bytes fall back to the stub
    val junk = "just some text".getBytes
    assert(Multimodal.HeaderParsers.decode("image", junk)
      === Multimodal.FakeDecoder.decode("image", junk))
  }

  test("multimodal header parsers: JPEG SOF dimensions and ISO-BMFF mvhd duration") {
    // JPEG: SOI, APP0 segment (skipped), DHT (C4, must NOT match as SOF),
    // then SOF0 with height=1080 width=1920
    val j = new java.io.ByteArrayOutputStream()
    j.write(Array[Byte](0xff.toByte, 0xd8.toByte))
    j.write(Array[Byte](0xff.toByte, 0xe0.toByte, 0, 8)); j.write(new Array[Byte](6)) // APP0
    j.write(Array[Byte](0xff.toByte, 0xc4.toByte, 0, 4)); j.write(new Array[Byte](2)) // DHT
    j.write(Array[Byte](0xff.toByte, 0xc0.toByte, 0, 11, 8)) // SOF0 len=11 precision=8
    j.write(Array[Byte](0x04, 0x38)) // height 1080
    j.write(Array[Byte](0x07, 0x80.toByte)) // width 1920
    j.write(new Array[Byte](4)) // components
    assert(Multimodal.HeaderParsers.jpeg(j.toByteArray) === Some((1920L, 1080L)))
    assert(Multimodal.HeaderParsers.decode("image", j.toByteArray) === ((1920L, 1080L, 1L)))
    // BMFF: ftyp box, then moov > (free box, mvhd v0 timescale=600
    // duration=4500 units = 7 whole seconds)
    def box(typ: String, content: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(8 + content.length)
      bb.putInt(8 + content.length).put(typ.getBytes).put(content)
      bb.array()
    }
    val mvhd = java.nio.ByteBuffer.allocate(100)
      .putInt(0)        // version 0 + flags
      .putInt(0).putInt(0) // ctime mtime
      .putInt(600)      // timescale
      .putInt(4500)     // duration
      .array()
    val moov = box("moov", box("free", new Array[Byte](4)) ++ box("mvhd", mvhd))
    val mp4 = box("ftyp", "isom0000".getBytes) ++ moov
    assert(Multimodal.HeaderParsers.bmff(mp4) === Some((600L, 4500L)))
    assert(Multimodal.HeaderParsers.decode("video", mp4) === ((0L, 0L, 7L)))
    // truncated/corrupt BMFF never throws
    for (cut <- Seq(3, 9, 17, mp4.length - 1))
      Multimodal.HeaderParsers.bmff(java.util.Arrays.copyOf(mp4, cut))
    // corrupt JPEG (length field past the end) never throws
    Multimodal.HeaderParsers.jpeg(Array[Byte](0xff.toByte, 0xd8.toByte,
      0xff.toByte, 0xe0.toByte, 0x7f, 0x7f))
  }

  test("multimodal metadata goes through the REAL header parsers end to end") {
    val media = Multimodal.payloadsFromText(docs, "doc_id", "text")
    assert(media.schema("payload").dataType.typeName === "binary")
    val meta = Multimodal.extractMetadata(media).collect()
    assert(meta.length === 6)
    val len0 = "the quick brown fox jumps over the lazy dog again and again"
      .getBytes("UTF-8").length.toLong
    // doc 0: a synthesized PNG — 33 header bytes, IHDR dims parsed back
    val m0 = meta.find(_.doc_id == 0L).get
    assert(m0.kind === "image")
    assert(m0.byte_len === 33L + len0)
    assert(m0.width === 16L + len0 % 640L)
    assert(m0.height === 16L + (len0 / 640L) % 480L)
    // doc 1: a synthesized WAV — channels/rate/frames from the fmt chunk
    val m1 = meta.find(_.doc_id == 1L).get
    assert(m1.kind === "audio")
    assert(m1.height === 8000L, "WAV sample rate must come from the fmt parse")
    assert(m1.frames > 0L)
    // doc 2: a synthesized BMFF — mvhd duration seconds
    val m2 = meta.find(_.doc_id == 2L).get
    assert(m2.kind === "video")
    assert(m2.width === 0L && m2.height === 0L)
    assert(m2.frames >= 1L && m2.frames <= 7L)
    // the payloads really parse as their formats (not FakeDecoder paths)
    val byId = media.collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]]("payload")).toMap
    assert(Multimodal.HeaderParsers.png(byId(0L)).isDefined)
    assert(Multimodal.HeaderParsers.wav(byId(1L)).isDefined)
    assert(Multimodal.HeaderParsers.bmff(byId(2L)).isDefined)
    val frames = Multimodal.sampleFrames(media, everyNth = 16).collect()
    assert(frames.forall(_.getInt(1) >= 1))
  }

  test("language id picks the dominant stopword language") {
    val samples = Seq(
      (1L, "the cat and the dog went to the park for a walk in the sun"),
      (2L, "el gato y el perro en la casa con los amigos por un dia"),
      (3L, "le chat et le chien dans les maisons des amis en ville"),
      (4L, "der hund und die katze mit den kindern von der schule zu haus"),
      (5L, "xyzzy qwerty plugh")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.langIdColumns(samples, "text")
      .select($"doc_id", $"lang_pred").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) === "en" && got(2L) === "es" && got(3L) === "fr" && got(4L) === "de")
    assert(got(5L) === "und")
  }

  test("lang_id expression agrees with the declarative 5-scan form on testdata") {
    graft.functions.LangIdExpr.register(spark)
    val docs500 = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val both = TextAnalysis.langIdColumns(docs500, "text")
      .withColumn("fast", graft.functions.LangIdExpr.lang_id(col("text")))
      .filter(col("lang_pred") =!= col("fast"))
    assert(both.count() === 0, both.select("doc_id", "lang_pred", "fast").head(5).mkString)
    // crafted edge cases: CJK, ties, empty, whitespace forms
    val edge = Seq("the el the la", "", " \t\n", "汉字汉字 the", "DER und das IST",
      "le le le the the the").toDF("text")
    val e2 = TextAnalysis.langIdColumns(edge, "text")
      .withColumn("fast", graft.functions.LangIdExpr.lang_id(col("text")))
    assert(e2.filter(col("lang_pred") =!= col("fast")).count() === 0,
      e2.select("text", "lang_pred", "fast").collect().mkString(", "))
  }

  test("token count and fingerprint edge cases") {
    val edge = Seq((1L, ""), (2L, "   "), (3L, "one"), (4L, "a b c")).toDF("doc_id", "text")
    val tc = edge.select($"doc_id", TextAnalysis.tokenCount($"text").as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(tc === Map(1L -> 0, 2L -> 0, 3L -> 1, 4L -> 3))
    val fp = edge.filter($"doc_id" >= 3)
      .select(TextAnalysis.fingerprint($"text", 2)).collect()
    assert(fp.forall(!_.isNullAt(0)))
  }
}
