package graft

import graft.catalog.SchemaEvolution
import graft.config.{SortOrder, TableConfig}
import graft.operators.{BatchStats, Bookmarks}
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Property-based pins for the semantics SURVEY §5.2 calls out: schema
  * merge laws, bookmark monotonicity, and re-ingest idempotence.
  * (Raw ScalaCheck runner — the scalatest bridge artifact isn't in the
  * offline dependency set.)
  */
class PropertySpec extends SparkSpec {

  private def check(p: Prop, tests: Int = 50): Unit = {
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(tests), p)
    assert(r.passed, r.status.toString)
  }

  private val fieldGen: Gen[StructField] = for {
    name <- Gen.oneOf("a", "b", "c", "d", "e", "f", "g", "h")
    dt <- Gen.oneOf[DataType](LongType, IntegerType, StringType, DoubleType,
      DecimalType(10, 2), TimestampType)
  } yield StructField(name, dt)

  private val schemaGen: Gen[StructType] = Gen.listOf(fieldGen)
    .map(fs => StructType(fs.groupBy(_.name).map(_._2.head).toSeq.sortBy(_.name)))

  test("schema merge is idempotent: merge(merge(t,s), s) == merge(t,s)") {
    check(Prop.forAll(schemaGen, schemaGen) { (t, s) =>
      val once = SchemaEvolution.merge(t, s, Nil)
      SchemaEvolution.merge(once, s, Nil) == once
    })
  }

  test("schema merge preserves target column order as a prefix") {
    check(Prop.forAll(schemaGen, schemaGen) { (t, s) =>
      SchemaEvolution.merge(t, s, Nil).fieldNames.take(t.fields.length).toSeq ==
        t.fieldNames.toSeq
    })
  }

  test("schema merge never loses target columns, partition cols never appended") {
    check(Prop.forAll(schemaGen, schemaGen) { (t, s) =>
      val parts = Seq("a", "b")
      val merged = SchemaEvolution.merge(t, s, parts)
      t.fieldNames.toSet.subsetOf(merged.fieldNames.toSet) &&
        merged.fieldNames.drop(t.fields.length).forall(n => !parts.contains(n))
    })
  }

  test("bookmark advances monotonically under arbitrary batches (ASC)") {
    import spark.implicits._
    val cfg = TableConfig("t", Seq("k"), SortOrder.Asc)
    check(Prop.forAll(Gen.nonEmptyListOf(Gen.chooseNum(-1000L, 1000L)),
        Gen.chooseNum(-500L, 500L)) { (keys, bookmark) =>
      val df = keys.toDF("k")
      val fresh = Bookmarks.filterNew(df, cfg, Map("k" -> bookmark.toString))
      BatchStats.compute(fresh, cfg).bookmark match {
        case Some(bk) => bk("k").toLong > bookmark
        case None     => keys.forall(_ <= bookmark)
      }
    }, tests = 20)
  }

  test("re-filtering an ingested batch at its committed bookmark yields nothing") {
    import spark.implicits._
    val cfg = TableConfig("t", Seq("k"), SortOrder.Asc)
    check(Prop.forAll(Gen.nonEmptyListOf(Gen.chooseNum(-1000L, 1000L))) { keys =>
      val df = keys.toDF("k")
      val bk = BatchStats.compute(df, cfg).bookmark.get
      Bookmarks.filterNew(df, cfg, bk).isEmpty
    }, tests = 20)
  }

  test("DESC mirror: advance commits the min; re-filter yields nothing") {
    import spark.implicits._
    val cfg = TableConfig("t", Seq("k"), SortOrder.Desc)
    check(Prop.forAll(Gen.nonEmptyListOf(Gen.chooseNum(-1000L, 1000L))) { keys =>
      val df = keys.toDF("k")
      val bk = BatchStats.compute(df, cfg).bookmark.get
      bk("k").toLong == keys.min && Bookmarks.filterNew(df, cfg, bk).isEmpty
    }, tests = 20)
  }

  test("composite-key property: predicate admits exactly tuples beyond the advance") {
    import spark.implicits._
    val cfg = TableConfig("t", Seq("k1", "k2"), SortOrder.Asc)
    val tupleGen = Gen.nonEmptyListOf(Gen.zip(Gen.chooseNum(0L, 20L), Gen.chooseNum(0, 20)))
    check(Prop.forAll(tupleGen, tupleGen) { (batch1, batch2) =>
      val df1 = batch1.toDF("k1", "k2")
      val bk = BatchStats.compute(df1, cfg).bookmark.get
      val hi = batch1.max // lexicographic max of (Long, Int)
      val expected = batch2.filter(t => implicitly[Ordering[(Long, Int)]].gt(t, hi)).toSet
      val got = Bookmarks.filterNew(batch2.toDF("k1", "k2"), cfg, bk)
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      got == expected
    }, tests = 20)
  }

  test("WAV fixture/parse roundtrip for any PCM shape") {
    import graft.operators.Multimodal
    val shapeGen = Gen.zip(
      Gen.chooseNum(8000, 192000), Gen.chooseNum(1, 8),
      Gen.oneOf(8, 16, 24, 32), Gen.chooseNum(0, 2000))
    check(Prop.forAll(shapeGen) { case (rate, ch, bits, n) =>
      Multimodal.wavHeaderDecode(Multimodal.wavFixture(rate, ch, bits, n))
        .contains((rate, ch, bits, n.toLong))
    })
  }

  test("GIF fixture/walk roundtrip for any frame list") {
    import graft.operators.Multimodal
    val dimsGen = Gen.nonEmptyListOf(
      Gen.zip(Gen.chooseNum(1, 4000), Gen.chooseNum(1, 4000))).map(_.take(20))
    check(Prop.forAll(dimsGen) { dims =>
      val (ws, hs) = dims.unzip
      val frames = Multimodal.gifFrames(Multimodal.gifFixture(ws, hs))
      frames.map(f => (f._2, f._3)) == dims &&
        frames.zipWithIndex.forall { case (f, k) => f._1 == 13L + 17 * k }
    })
  }

  test("animated-GIF fixture/delay-walk roundtrip for any frame list") {
    import graft.operators.Multimodal
    val framesGen = Gen.nonEmptyListOf(Gen.zip(
      Gen.chooseNum(1, 4000), Gen.chooseNum(1, 4000), Gen.chooseNum(0, 65535)))
      .map(_.take(20))
    check(Prop.forAll(framesGen) { fs =>
      val (ws, hs, ds) = fs.unzip3
      Multimodal.gifFrameDelays(Multimodal.gifFixtureAnimated(ws, hs, ds)) ==
        fs.zipWithIndex.map { case ((w, h, d), k) => (k, d, w, h) }
    })
  }

  test("MP3 fixture/walk roundtrip for any frame shape") {
    import graft.operators.Multimodal
    val framesGen = Gen.zip(Gen.chooseNum(0, 2),
      Gen.nonEmptyListOf(Gen.zip(Gen.chooseNum(1, 14), Gen.chooseNum(0, 1)))
        .map(_.take(20)))
    val rates = Array(44100, 48000, 32000)
    val kbps = Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
    check(Prop.forAll(framesGen) { case (sr, fs) =>
      val (brs, pads) = fs.unzip
      Multimodal.mp3Frames(Multimodal.mp3Fixture(brs, sr, pads)) ==
        fs.zipWithIndex.map { case ((br, pad), k) =>
          (k, kbps(br), rates(sr), 144 * (kbps(br) * 1000) / rates(sr) + pad)
        }
    })
  }

  test("EXIF fixture/walk roundtrip for any orientation and byte order") {
    import graft.operators.Multimodal
    val g = Gen.zip(Gen.chooseNum(1, 65535), Gen.chooseNum(1, 65535),
      Gen.chooseNum(1, 8), Gen.oneOf(true, false))
    check(Prop.forAll(g) { case (w, h, o, le) =>
      Multimodal.exifOrientation(Multimodal.exifFixture(w, h, o, le))
        .contains((w, h, o, !le))
    })
  }

  test("BMP fixture/decode roundtrip incl. top-down negative heights") {
    import graft.operators.Multimodal
    val g = Gen.zip(Gen.chooseNum(1, 1 << 20), Gen.chooseNum(1, 1 << 20),
      Gen.oneOf(true, false), Gen.oneOf(1, 4, 8, 16, 24, 32))
    check(Prop.forAll(g) { case (w, h, td, bpp) =>
      Multimodal.bmpHeaderDecode(Multimodal.bmpFixture(w, h, td, bpp))
        .contains((w, h, td, bpp))
    })
  }

  test("media walks never throw on arbitrary bytes") {
    import graft.operators.Multimodal
    // random garbage AND random-corrupted valid prefixes: every parser
    // must stop cleanly, never throw
    val garbage = Gen.containerOf[Array, Byte](Gen.chooseNum(-128, 127).map(_.toByte))
    val seeded = for {
      base <- Gen.oneOf(
        Multimodal.gifFixtureAnimated(Seq(3, 4), Seq(5, 6), Seq(7, 8)).toSeq,
        Multimodal.mp3Fixture(Seq(9, 1), 0, Seq(0, 1)).toSeq,
        Multimodal.exifFixture(10, 20, 6, littleEndian = false).toSeq)
      cut <- Gen.chooseNum(0, base.length)
      flip <- Gen.chooseNum(0, math.max(0, cut - 1))
      b <- Gen.chooseNum(-128, 127).map(_.toByte)
    } yield { val a = base.take(cut).toArray; if (cut > 0) a(flip) = b; a }
    check(Prop.forAll(Gen.oneOf(garbage, seeded)) { bytes =>
      Multimodal.gifFrameDelays(bytes)
      Multimodal.mp3Frames(bytes)
      Multimodal.exifOrientation(bytes)
      Multimodal.gifFrames(bytes)
      Multimodal.tiffTags(bytes)
      Multimodal.bmpHeaderDecode(bytes)
      true
    })
  }

  test("MP4 fixture/walk roundtrip for any movie shape") {
    import graft.operators.Multimodal
    val shapeGen = Gen.zip(
      Gen.chooseNum(1, 1000000), Gen.chooseNum(0, Int.MaxValue), Gen.chooseNum(0, 12))
    check(Prop.forAll(shapeGen) { case (ts, dur, n) =>
      Multimodal.mp4Metadata(Multimodal.mp4Fixture(ts, dur, n))
        .contains((ts, dur.toLong, n))
    })
  }

  test("PNG encode/decode roundtrip: uniform fill survives a real codec") {
    import graft.operators.Multimodal
    val shapeGen = Gen.zip(
      Gen.chooseNum(1, 64), Gen.chooseNum(1, 64), Gen.chooseNum(0, 255))
    check(Prop.forAll(shapeGen) { case (w, h, gray) =>
      Multimodal.decodePixels(Multimodal.pngBytes(w, h, gray))
        .contains((w, h, gray, gray))
    })
  }

  test("PQ codes are always in [0, ksub) and self-ADC distance is minimal") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val dim = 16; val m = 4; val ksub = 4; val dsub = 4
    val booksGen = Gen.listOfN(m * ksub * dsub, Gen.chooseNum(-1.0, 1.0))
    val vecGen = Gen.listOfN(dim, Gen.chooseNum(-10.0, 10.0))
    check(Prop.forAll(Gen.zip(booksGen, vecGen)) { case (books, vec) =>
      val enc = graft.functions.PqEncode(
        org.apache.spark.sql.catalyst.expressions.Literal.create(
          vec.toArray, org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType)),
        books, m, ksub, dsub)
      val codes = enc.nullSafeEval(new GenericArrayData(vec.toArray))
        .asInstanceOf[GenericArrayData].toIntArray()
      codes.length == m && codes.forall(c => c >= 0 && c < ksub)
    })
  }

  test("URL canonicalization is idempotent and key-sorted for any URL shape") {
    import graft.functions.UrlCanonicalize.canonicalize
    val segGen = Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.take(8).mkString)
    val urlGen = for {
      scheme <- Gen.oneOf("http", "HTTP", "https", "HTTPS", "ftp")
      host <- segGen
      port <- Gen.oneOf("", ":80", ":443", ":8080")
      path <- Gen.listOf(segGen).map(_.take(3).map("/" + _).mkString)
      nParams <- Gen.chooseNum(0, 5)
      params <- Gen.listOfN(nParams, Gen.zip(segGen, segGen))
      frag <- Gen.oneOf("", "#x", "#sec")
    } yield {
      val q = if (params.isEmpty) ""
        else "?" + params.map { case (k, v) => s"$k=$v" }.mkString("&")
      s"$scheme://$host$port$path$q$frag"
    }
    check(Prop.forAll(urlGen) { url =>
      val c = canonicalize(url)
      // idempotent: canonical form is a fixed point
      val fixed = canonicalize(c) == c
      // no fragment survives; query keys are sorted
      val noFrag = !c.contains('#')
      val keysSorted = {
        val qIdx = c.indexOf('?')
        qIdx < 0 || {
          val keys = c.substring(qIdx + 1).split("&").toSeq
            .map(p => p.substring(0, math.max(p.indexOf('='), 0)))
          keys == keys.sorted
        }
      }
      fixed && noFrag && keysSorted
    })
  }

  test("TIFF fixture/parse roundtrip in both byte orders") {
    import graft.operators.Multimodal
    val dims = Gen.zip(Gen.chooseNum(1, 512), Gen.chooseNum(1, 512))
    check(Prop.forAll(dims, Gen.oneOf(true, false)) { case ((w, h), viaImageIO) =>
      val bytes =
        if (viaImageIO) Multimodal.tiffFixture(w, h)
        else Multimodal.tiffFixtureLE(w, h)
      Multimodal.tiffHeaderDecode(bytes) match {
        case Some((dw, dh, big, n)) =>
          dw == w && dh == h && big == viaImageIO && n >= 2
        case None => false
      }
    })
    // non-TIFF bytes are rejected, not misparsed
    assert(Multimodal.tiffHeaderDecode("not a tiff at all".getBytes).isEmpty)
    assert(Multimodal.tiffHeaderDecode(Array[Byte]('I', 'I', 1, 0)).isEmpty)
  }
}
