package graft

import graft.functions.TextFunctions
import graft.operators.{Dedup, Multimodal, Similarity}
import org.apache.spark.sql.functions._

/** Specs for the training-data-pipeline operators (dedup, similarity,
  * text analysis, multimodal). sf0.001 keeps them fast.
  */
class NorthStarSpec extends SparkSpec {
  import spark.implicits._

  private def docs = spark.read.parquet(sf("documents"))
  private def embs = spark.read.parquet(sf("embeddings"))

  private def mutantCorpus = {
    val m = expr("CASE WHEN instr(text,' ') > 0 THEN substring(text, instr(text,' ')+1) ELSE text END")
    docs.select(col("doc_id"), col("text"))
      .union(docs.select((col("doc_id") + 100000).as("doc_id"), m.as("text")))
  }

  // --- text functions -------------------------------------------------------

  test("tokenCount handles empties, runs of whitespace") {
    val df = Seq((1L, "a  b\tc"), (2L, ""), (3L, "   "), (4L, "x")).toDF("id", "text")
    val out = df.select(col("id"), TextFunctions.tokenCount(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out == Map(1L -> 3, 2L -> 0, 3L -> 0, 4L -> 1))
  }

  test("GramStats counts bigram totals, distincts, and the top repeat row-locally") {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    def gs(c: org.apache.spark.sql.Column, n: Int) =
      ColumnBridge.column(graft.functions.GramStats(ColumnBridge.expression(c), n))
    val df = Seq(
      (1L, "a b a b a b"), // bigrams: (a b)x3, (b a)x2
      (2L, "A b a B"),     // lowercased: (a b)x2, (b a)x1
      (3L, "solo"),        // < 2 tokens -> all zero
      (4L, "")             // no tokens -> all zero
    ).toDF("id", "text")
    val out = df.select(col("id"), gs(col("text"), 2).as("g"))
      .select(col("id"), col("g.n_grams"), col("g.n_distinct"), col("g.top_count"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == ((5L, 2L, 3L)))
    assert(out(2L) == ((3L, 2L, 2L)))
    assert(out(3L) == ((0L, 0L, 0L)))
    assert(out(4L) == ((0L, 0L, 0L)))
  }

  test("fingerprint is whitespace/case insensitive") {
    val df = Seq((1L, "The  Quick Fox"), (2L, "the quick   fox"), (3L, "other")).toDF("id", "text")
    val fps = df.select(TextFunctions.fingerprint(col("text"))).collect().map(_.getString(0))
    assert(fps(0) == fps(1) && fps(0) != fps(2))
  }

  test("langId picks marker-word argmax, und on no hits") {
    val df = Seq(
      (1L, "the cat and the dog is here"), // en
      (2L, "der hund und das ist gut"),    // de
      (3L, "zzz qqq www")                  // none
    ).toDF("id", "text")
    val out = df.select(col("id"), TextFunctions.langId(col("text")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "en", 2L -> "de", 3L -> "und"))
  }

  test("shingles produces n-grams, falls back to whole text when short") {
    val df = Seq((1L, "a b c d"), (2L, "a b")).toDF("id", "text")
    val out = df.select(col("id"), TextFunctions.shingles(col("text"), 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(out(1L) == Seq("a b c", "b c d"))
    assert(out(2L) == Seq("a b"))
  }

  // --- dedup ----------------------------------------------------------------

  test("exact dedup collapses normalized duplicates") {
    val df = Seq((1L, "Hello  World"), (2L, "hello world"), (3L, "bye")).toDF("doc_id", "text")
    val out = Dedup.exact(df, "doc_id", "text").collect()
    assert(out.length == 2)
    val dup = out.find(_.getLong(2) == 2L).get
    assert(dup.getLong(1) == 1L) // keep_id = min
  }

  test("minHashLsh finds all constructed near-dup pairs (recall vs brute force)") {
    val pairs = Dedup.minHashLsh(mutantCorpus, "doc_id", "text", threshold = 0.8)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val brute = Dedup.ngramJaccardAllPairs(mutantCorpus, "doc_id", "text")
      .filter(col("jaccard") >= 0.8).select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs == brute, "LSH+verify must equal brute-force at this threshold")
    assert(pairs.count { case (a, b) => b == a + 100000 } == docs.count())
  }

  test("simHash signatures put near-dups within small hamming distance") {
    val pairs = Dedup.simHashPairs(mutantCorpus, "doc_id", "text", maxHamming = 3)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val mutantPairs = pairs.count { case (a, b) => b == a + 100000 }
    assert(mutantPairs >= docs.count() * 0.3,
      s"expected ≥30% of mutant pairs within hamming 3, got $mutantPairs")
  }

  test("clusters: min-label propagation finds connected components") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val out = Dedup.clusters(pairs).as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("embeddingNearDupLsh matches brute force on perturbed corpus") {
    val base = embs.select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    val mut = base.select((col("vec_id") + 100000).as("vec_id"),
      transform(col("v"), (x, i) => when(i === 0, x + 0.01).otherwise(x)).as("v"))
    val corpus = base.union(mut)
    val lsh = Dedup.embeddingNearDupLsh(corpus, "vec_id", "v", 0.99, dim = 64)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val brute = Dedup.embeddingNearDup(corpus, "vec_id", "v", 0.99)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(lsh == brute)
    assert(lsh.nonEmpty)
  }

  // --- similarity -----------------------------------------------------------

  test("bruteForceTopK is exact: agrees with a driver-side computation") {
    val all = embs.select("vec_id", "embedding").as[(Long, Array[Float])].collect()
    val q = all.filter(_._1 < 3)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val expected = q.map { case (qid, qv) =>
      qid -> all.filter(_._1 != qid)
        .map { case (cid, cv) => (cid, cos(qv, cv)) }
        .sortBy { case (cid, s) => (-s, cid) }.take(5).map(_._1).toSeq
    }.toMap
    val got = Similarity.bruteForceTopK(embs, embs.filter(col("vec_id") < 3),
        "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect()
      .groupBy(_._1).map { case (k, v) => k -> v.sortBy(_._3).map(_._2).toSeq }
    assert(got == expected)
  }

  test("lshTopK recall vs brute force is reasonable on random data") {
    val brute = Similarity.bruteForceTopK(embs, embs.filter(col("vec_id") < 8),
        "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val lsh = Similarity.lshTopK(embs, embs.filter(col("vec_id") < 8),
        "vec_id", "embedding", k = 5, dim = 64, numTables = 16, bitsPerTable = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute & lsh).size.toDouble / brute.size
    assert(recall >= 0.5, s"recall $recall too low")
  }

  // --- multimodal -----------------------------------------------------------

  test("multimodal decode plumbing: binary in, typed metadata out") {
    val pruned = docs.select(col("doc_id"), col("text").cast("binary").as("media"))
    val out = Multimodal.decodeMetadata(spark, pruned)
    assert(out.schema.fieldNames.toSeq ==
      Seq("doc_id", "byte_len", "width", "height", "format"))
    val joined = out.toDF().join(docs.select("doc_id", "n_chars"), "doc_id")
      .filter(col("byte_len") =!= col("n_chars"))
    assert(joined.count() == 0, "ascii byte length must equal n_chars")
  }

  test("headerDecode parses real PNG/JPEG/GIF headers; unknown falls back") {
    assert(Multimodal.headerDecode(Multimodal.pngFixture(640, 480)) ==
      Some((640, 480, "png")))
    assert(Multimodal.headerDecode(Multimodal.pngFixture(70000, 3)) ==
      Some((70000, 3, "png"))) // > 16 bits — 32-bit big-endian path
    assert(Multimodal.headerDecode(Multimodal.jpegFixture(1920, 1080)) ==
      Some((1920, 1080, "jpeg")))
    val gif = "GIF89a".getBytes("US-ASCII") ++
      Array[Byte](0x21, 0x03, 0x0F, 0x00) // 801 × 15 little-endian
    assert(Multimodal.headerDecode(gif) == Some((801, 15, "gif")))
    assert(Multimodal.headerDecode("not an image".getBytes) == None)
    assert(Multimodal.headerDecode(Array.empty[Byte]) == None)
  }

  test("wavHeaderDecode walks the real RIFF chunk chain; non-WAV is None") {
    assert(Multimodal.wavHeaderDecode(Multimodal.wavFixture(44100, 2, 16, 1000)) ==
      Some((44100, 2, 16, 1000L)))
    assert(Multimodal.wavHeaderDecode(Multimodal.wavFixture(8000, 1, 8, 3)) ==
      Some((8000, 1, 8, 3L)))
    // an extra chunk before fmt/data must be skipped, not break the walk
    val fx = Multimodal.wavFixture(16000, 1, 16, 10)
    val listChunk = "LIST".getBytes("US-ASCII") ++
      Array[Byte](4, 0, 0, 0) ++ "INFO".getBytes("US-ASCII")
    val padded = fx.take(12) ++ listChunk ++ fx.drop(12)
    assert(Multimodal.wavHeaderDecode(padded) == Some((16000, 1, 16, 10L)))
    assert(Multimodal.wavHeaderDecode("RIFFxxxxAVI ".getBytes("US-ASCII")) == None)
    assert(Multimodal.wavHeaderDecode(Array.empty[Byte]) == None)
    // corrupt chunk size (unsigned 0xFFFFFFF8 / sign-bit values) must not
    // hang or crash the walk — the cursor runs off the end and yields None
    val corrupt = "RIFF".getBytes("US-ASCII") ++ Array[Byte](0, 0, 0, 0) ++
      "WAVE".getBytes("US-ASCII") ++ "junk".getBytes("US-ASCII") ++
      Array[Byte](0xF8.toByte, 0xFF.toByte, 0xFF.toByte, 0xFF.toByte)
    assert(Multimodal.wavHeaderDecode(corrupt) == None)
  }

  test("wavPcmStats decodes the real 16-bit samples: formula, negatives, non-PCM") {
    // stats must equal the generator formula evaluated independently
    val n = 37; val seed = 11L
    val expected = (0 until n).map(i => ((seed * 31 + i * 7919) % 4096 - 2048).toInt)
    val got = Multimodal.wavPcmStats(Multimodal.wavFixtureTone(16000, n, seed))
    assert(got == Some((n.toLong,
      expected.map(v => v.toLong * v).sum, expected.map(math.abs).max)))
    // negative samples round-trip through the little-endian encode
    assert(expected.exists(_ < 0))
    // zero-filled fixture: energy and peak are exactly 0
    assert(Multimodal.wavPcmStats(Multimodal.wavFixture(8000, 1, 16, 5)) ==
      Some((5L, 0L, 0)))
    // 8-bit input is refused (decoder is 16-bit only), as is non-WAV
    assert(Multimodal.wavPcmStats(Multimodal.wavFixture(8000, 1, 8, 5)) == None)
    assert(Multimodal.wavPcmStats("not audio".getBytes) == None)
    // same corrupt-size guard as the header walk: must not hang or crash
    val corrupt2 = "RIFF".getBytes("US-ASCII") ++ Array[Byte](0, 0, 0, 0) ++
      "WAVE".getBytes("US-ASCII") ++ "junk".getBytes("US-ASCII") ++
      Array[Byte](0, 0, 0, 0x80.toByte) // size = 0x80000000
    assert(Multimodal.wavHeaderDecode(corrupt2) == None)
  }

  test("GIF detection needs the full 6-byte signature, not just 'GIF8'") {
    // text that merely starts with the 4 ASCII chars must NOT be parsed as
    // GIF (it would silently switch from the stub decode to a real parse)
    val impostor = "GIF8 is a string, not an image".getBytes("US-ASCII")
    assert(Multimodal.headerDecode(impostor).isEmpty)
    assert(Multimodal.gifFrames(impostor).isEmpty)
    val gif87 = "GIF87a".getBytes("US-ASCII") ++
      Array[Byte](0x21, 0x03, 0x0F, 0x00)
    assert(Multimodal.headerDecode(gif87) == Some((801, 15, "gif")))
  }

  test("mp4Metadata walks real BMFF boxes; malformed input is None") {
    assert(Multimodal.mp4Metadata(Multimodal.mp4Fixture(600, 120000, 2)) ==
      Some((600, 120000L, 2)))
    assert(Multimodal.mp4Metadata(Multimodal.mp4Fixture(90000, 1, 1)) ==
      Some((90000, 1L, 1)))
    assert(Multimodal.mp4Metadata("not a movie at all!!".getBytes).isEmpty)
    assert(Multimodal.mp4Metadata(Array.empty[Byte]).isEmpty)
    // corrupt child size < 8 must abort, not loop
    val fx = Multimodal.mp4Fixture(600, 100, 1)
    val corrupt = fx.clone()
    corrupt(16 + 3) = 2 // moov's first child claims size 2
    assert(Multimodal.mp4Metadata(corrupt).isEmpty)
    // extra box between ftyp and moov is skipped
    val free = Array[Byte](0, 0, 0, 12) ++ "free".getBytes("US-ASCII") ++
      Array[Byte](1, 2, 3, 4)
    val padded = fx.take(16) ++ free ++ fx.drop(16)
    assert(Multimodal.mp4Metadata(padded) == Some((600, 100L, 1)))
  }

  test("headerDecode handles JPEG fill bytes and standalone TEM markers") {
    val base = Multimodal.jpegFixture(320, 240)
    // 0xFF fill padding and a TEM (0x01) marker before the segments are
    // spec-legal; the walker must stay in sync and still find SOF0
    val padded = base.take(2) ++ Array[Byte](0xFF.toByte, 0xFF.toByte,
      0xFF.toByte, 0x01) ++ base.drop(2)
    assert(Multimodal.headerDecode(padded) == Some((320, 240, "jpeg")))
  }

  test("row-local MinHashSignature equals the MinHashAggregate formulation") {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val docs = spark.read.parquet(sf("documents")).limit(50)
    val hashed = docs.select(col("doc_id"),
      Dedup.shingleHashes(docs, "text", 3).as("hs"))
    val viaExpr = hashed.select(col("doc_id"), ColumnBridge.column(
        graft.functions.MinHashSignature(
          ColumnBridge.expression(col("hs")), 64, 42L)).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val agg = ColumnBridge.column(graft.functions.MinHashAggregate(
      ColumnBridge.expression(col("_x")), 64, 42L).toAggregateExpression())
    val viaAgg = hashed.select(col("doc_id"), explode(col("hs")).as("_x"))
      .groupBy("doc_id").agg(agg.as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(viaExpr == viaAgg)
  }

  test("MinHashBands equals xxhash64 over each band's element_at columns") {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val docs = spark.read.parquet(sf("documents")).limit(50)
    val sigs = docs.select(col("doc_id"), ColumnBridge.column(
      graft.functions.MinHashSignature(
        ColumnBridge.expression(Dedup.shingleHashes(docs, "text", 3)), 128, 42L)).as("sig"))
    // a null element, and a null signature, are skipped by both forms
    val withEdges = sigs.unionAll(sigs.limit(1).select(lit(-1L),
      transform(col("sig"), (x, i) => when(i =!= 5, x))))
      .unionAll(sigs.limit(1).select(lit(-2L), lit(null).cast(sigs.schema("sig").dataType)))
    for ((numHashes, bands) <- Seq((128, 32), (128, 16))) {
      val r = numHashes / bands
      val viaColumns = array((0 until bands).map { j =>
        xxhash64((j * r until (j + 1) * r).map(i => element_at(col("sig"), i + 1)): _*)
      }: _*)
      val both = withEdges.select(Dedup.minHashBands(numHashes, bands).as("x"),
        viaColumns.as("y")).collect()
      assert(both.length == 52)
      both.foreach(row => assert(row.getSeq[Long](0) == row.getSeq[Long](1)))
    }
  }

  test("row-local SimHashSignature equals the SimHashAggregate formulation") {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val docs = spark.read.parquet(sf("documents")).limit(50)
    val hashed = docs.select(col("doc_id"),
      Dedup.shingleHashes(docs, "text", 3).as("hs"))
    val viaExpr = hashed.select(col("doc_id"), ColumnBridge.column(
        graft.functions.SimHashSignature(
          ColumnBridge.expression(col("hs")))).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val agg = ColumnBridge.column(graft.functions.SimHashAggregate(
      ColumnBridge.expression(col("_x"))).toAggregateExpression())
    val viaAgg = hashed.select(col("doc_id"), explode(col("hs")).as("_x"))
      .groupBy("doc_id").agg(agg.as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaExpr == viaAgg)
  }

  test("gifFrames walks the real block chain: GCT, extensions, multi-frame") {
    val fx = Multimodal.gifFixture(Seq(10, 20, 30), Seq(5, 6, 7))
    assert(Multimodal.gifFrames(fx) ==
      Seq((13L, 10, 5), (30L, 20, 6), (47L, 30, 7)))
    // interpose a graphic-control extension before each frame and a
    // global color table after the screen descriptor — offsets shift,
    // dimensions must still parse from the descriptors
    val gce = Array[Byte](0x21, 0xF9.toByte, 4, 0, 0, 0, 0, 0)
    val gct = Array.fill[Byte](3 * 4)(0x11) // packed size bits 001 -> 12 bytes
    val withExtras =
      fx.take(10) ++ Array[Byte]((0x80 | 0x01).toByte) ++ fx.slice(11, 13) ++ gct ++
        fx.slice(13, 30) ++ gce ++ fx.slice(30, 47) ++ fx.drop(47)
    val frames = Multimodal.gifFrames(withExtras)
    assert(frames.map(f => (f._2, f._3)) == Seq((10, 5), (20, 6), (30, 7)))
    assert(frames.map(_._1) == Seq(25L, 50L, 67L)) // 13+12, +17+8ext, +17
    assert(Multimodal.gifFrames("PNG not gif".getBytes) == Nil)
    assert(Multimodal.gifFrames(Array.empty[Byte]) == Nil)
  }

  test("gifFrameDelays: GCE delay applies to the next frame only, then resets") {
    val fx = Multimodal.gifFixtureAnimated(
      Seq(10, 20, 30), Seq(5, 6, 7), Seq(12, 0, 300))
    assert(Multimodal.gifFrameDelays(fx) ==
      Seq((0, 12, 10, 5), (1, 0, 20, 6), (2, 300, 30, 7)))
    // a frame with NO preceding GCE must read delay 0 (scope is one image):
    // splice a bare image descriptor (copied from the static fixture) in
    // front of the animated chain
    val static = Multimodal.gifFixture(Seq(40), Seq(8))
    val bare = static.slice(13, static.length - 1) // descriptor w/o trailer
    val mixed = fx.take(13) ++ bare ++ fx.drop(13)
    assert(Multimodal.gifFrameDelays(mixed).map(f => (f._2, f._3, f._4)) ==
      Seq((0, 40, 8), (12, 10, 5), (0, 20, 6), (300, 30, 7)))
    assert(Multimodal.gifFrameDelays("GIF8 but not really".getBytes) == Nil)
    assert(Multimodal.gifFrameDelays(Array.empty[Byte]) == Nil)
  }

  test("mp3Frames decodes header bit fields and advances by computed length") {
    val fx = Multimodal.mp3Fixture(Seq(9, 14, 1), srIdx = 0, pads = Seq(0, 1, 0))
    assert(Multimodal.mp3Frames(fx) == Seq(
      (0, 128, 44100, 144 * 128000 / 44100),
      (1, 320, 44100, 144 * 320000 / 44100 + 1),
      (2, 32, 44100, 144 * 32000 / 44100)))
    // 48 kHz path + stop at garbage after the last full frame
    val fx48 = Multimodal.mp3Fixture(Seq(5), srIdx = 1, pads = Seq(1))
    assert(Multimodal.mp3Frames(fx48 ++ Array[Byte](0x12, 0x34, 0, 0)) ==
      Seq((0, 64, 48000, 144 * 64000 / 48000 + 1)))
    assert(Multimodal.mp3Frames("not audio".getBytes) == Nil)
    assert(Multimodal.mp3Frames(Array.empty[Byte]) == Nil)
  }

  test("exifOrientation walks JPEG segments and honors TIFF byte order") {
    for (le <- Seq(false, true); o <- Seq(1, 3, 6, 8)) {
      val fx = Multimodal.exifFixture(640, 480, o, littleEndian = le)
      assert(Multimodal.exifOrientation(fx) == Some((640, 480, o, !le)))
    }
    // a plain JFIF JPEG (no APP1 Exif) has no orientation
    assert(Multimodal.exifOrientation(Multimodal.jpegFixture(10, 5)).isEmpty)
    assert(Multimodal.exifOrientation("not a jpeg".getBytes).isEmpty)
    assert(Multimodal.exifOrientation(Array.empty[Byte]).isEmpty)
  }

  // --- IVF / skew / frames --------------------------------------------------

  test("maxSimTopK: a query's own doc wins at rank 1 with four exact self-sims") {
    val qt = embs.filter(col("vec_id") < 8)
      .select(expr("vec_id DIV 4").as("qid"), expr("vec_id % 4").as("qtok"),
        col("embedding").as("qv"))
    val dt = embs.select(expr("vec_id DIV 4").as("did"), col("embedding").as("dv"))
    val top1 = Similarity.maxSimTopK(dt, qt, k = 1)
      .select("qid", "did", "score").as[(Long, Long, Long)].collect().toSet
    assert(top1 == Set((0L, 0L, 4000000L), (1L, 1L, 4000000L)), top1)
  }

  test("matryoshkaTopK: 16-dim shortlist recall vs full-dim brute force") {
    val brute = Similarity.bruteForceTopK(embs, embs.filter(col("vec_id") < 8),
        "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val mat = Similarity.matryoshkaTopK(embs, embs.filter(col("vec_id") < 8),
        "vec_id", "embedding", prefixDim = 16, shortlist = 32, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute & mat).size.toDouble / brute.size
    // random 64-dim vectors put only weak signal in a 16-dim prefix —
    // real MRL embeddings front-load much more; this pins the floor
    assert(recall >= 0.25, s"matryoshka recall $recall too low")
    info(s"matryoshka recall = $recall")
  }

  test("ivfTopK recall vs brute force with nprobe=4 of 16 cells") {
    import graft.operators.Ivf
    val centroids = Ivf.train(embs, "embedding", k = 16)
    assert(centroids.length == 16)
    val brute = Similarity.bruteForceTopK(embs, embs.filter(col("vec_id") < 8),
        "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Ivf.topK(embs, embs.filter(col("vec_id") < 8), "vec_id", "embedding",
        k = 5, centroids, nprobe = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.5, s"IVF recall $recall too low")
  }

  test("pqTopK: full re-rank equals brute force; 40-candidate recall holds") {
    import graft.operators.Pq
    val books = Pq.train(embs, "embedding", dim = 64)
    assert(books.length == 8 * 16 * 8)
    val brute = Similarity.bruteForceTopK(embs, embs.filter(col("vec_id") < 8),
        "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val full = Pq.topK(embs, embs.filter(col("vec_id") < 8), "vec_id", "embedding",
        k = 5, books, m = 8, ksub = 16, dsub = 8, candidates = 1 << 30)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(full == brute, "full re-rank must equal brute force exactly")
    val fast = Pq.topK(embs, embs.filter(col("vec_id") < 8), "vec_id", "embedding",
        k = 5, books, m = 8, ksub = 16, dsub = 8, candidates = 40)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute & fast).size.toDouble / brute.size
    assert(recall >= 0.5, s"PQ recall $recall too low")
  }

  test("ivfPqTopK: full probe + full re-rank equals brute force; fast recall holds") {
    import graft.operators.{Ivf, Pq}
    val centroids = Ivf.train(embs, "embedding", k = 16)
    val books = Pq.train(embs, "embedding", dim = 64)
    val brute = Similarity.bruteForceTopK(embs, embs.filter(col("vec_id") < 8),
        "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val full = Pq.ivfPqTopK(embs, embs.filter(col("vec_id") < 8), "vec_id", "embedding",
        k = 5, centroids, books, m = 8, ksub = 16, dsub = 8,
        nprobe = 16, candidates = 1 << 30)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(full == brute, "full IVF-PQ must equal brute force exactly")
    val fast = Pq.ivfPqTopK(embs, embs.filter(col("vec_id") < 8), "vec_id", "embedding",
        k = 5, centroids, books, m = 8, ksub = 16, dsub = 8,
        nprobe = 4, candidates = 40)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute & fast).size.toDouble / brute.size
    assert(recall >= 0.4, s"IVF-PQ recall $recall too low")
  }

  test("saltedCount equals plain groupBy count") {
    import graft.operators.Skew
    val df = spark.read.parquet(sf("events"))
    val expected = df.groupBy("event_type").count()
      .as[(String, Long)].collect().toMap
    val salted = Skew.saltedCount(df, Seq("event_type"), salts = 8)
      .as[(String, Long)].collect().toMap
    assert(salted == expected)
  }

  test("sampleFrames covers every byte exactly once, handles empty media") {
    import graft.operators.Multimodal
    val df = Seq((1L, "x" * 1234), (2L, "")).toDF("doc_id", "text")
      .select(col("doc_id"), col("text").cast("binary").as("media"))
    val frames = Multimodal.sampleFrames(spark, df, every = 500).collect()
    val d1 = frames.filter(_.doc_id == 1L).sortBy(_.frame_idx)
    assert(d1.map(_.frame_len).sum == 1234 && d1.length == 3)
    assert(d1.map(_.frame_off).toSeq == Seq(0L, 500L, 1000L))
    val d2 = frames.filter(_.doc_id == 2L)
    assert(d2.length == 1 && d2.head.frame_len == 0)
  }
}
