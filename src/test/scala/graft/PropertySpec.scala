package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalacheck.Gen

import graft.functions.{LocaleFuncs, Reshape}

/** Property-based checks of the locale/reshape hard parts (SURVEY.md
  * §7.2): German-number round-trips, DST-safe timestamp composition,
  * melt row accounting. Data-plane properties run through real Spark
  * plans on generated local frames. */
class PropertySpec extends SparkSpec {

  /** Plain ScalaCheck sampling (the scalatest bridge artifact isn't on
    * the offline classpath): evaluate the property on `n` generated
    * cases with a fixed seed path via Gen.listOfN sampling. */
  private def forAllSampled[A](gen: Gen[A], n: Int = 40)(body: A => Unit)
      : Unit =
    Gen.listOfN(n, gen).sample.getOrElse(Nil).foreach(body)
  import spark.implicits._

  test("germanDouble round-trips any 2-decimal value incl. thousands") {
    forAllSampled(Gen.chooseNum(-999999L, 999999L)) { cents =>
      val v = cents / 100.0
      // build "1.234,56"-style German representation
      val neg = v < 0
      val abs = math.abs(v)
      val intPart = abs.toLong
      val frac = math.round((abs - intPart) * 100)
      val grouped = f"$intPart%,d".replace(",", ".")
      val german = (if (neg) "-" else "") + grouped + f",$frac%02d"
      val got = Seq(german).toDF("s")
        .select(LocaleFuncs.germanDouble($"s")).as[Double].head()
      assert(math.abs(got - v) < 1e-9, s"$german -> $got != $v")
    }
  }

  test("germanDouble maps every null marker to null") {
    LocaleFuncs.NullMarkers.foreach { m =>
      val r = Seq(m).toDF("s")
        .select(LocaleFuncs.germanDouble($"s")).head()
      assert(r.isNullAt(0), s"marker '$m'")
    }
  }

  test("composeUtcTimestamp: CET/CEST offsets hold for arbitrary dates") {
    val gen = for {
      day <- Gen.chooseNum(1, 28)
      month <- Gen.chooseNum(1, 12)
      year <- Gen.chooseNum(2015, 2030)
      hour <- Gen.chooseNum(0, 23)
      cest <- Gen.oneOf(true, false)
    } yield (day, month, year, hour, cest)
    forAllSampled(gen) { case (day, month, year, hour, cest) =>
      val zone = if (cest) "CEST" else "CET"
      val offset = if (cest) 2 else 1
      val got = Seq((f"$day%02d.$month%02d.$year", f"$hour%02d:00", zone))
        .toDF("d", "t", "z")
        .select(LocaleFuncs.composeUtcTimestamp($"d", $"t", $"z"))
        .as[Timestamp].head()
      val local = java.time.LocalDateTime.of(year, month, day, hour, 0)
      val want = Timestamp.valueOf(local.minusHours(offset.toLong))
      assert(got == want, s"$day.$month.$year $hour:00 $zone")
    }
  }

  test("melt conserves rows and values for random widths") {
    forAllSampled(Gen.zip(Gen.chooseNum(1, 12), Gen.chooseNum(1, 30)),
      n = 8) { case (width, rows) =>
        val cols = (0 until width).map(i => s"c$i")
        val df = spark.range(rows.toLong).select(
          col("id") +: cols.map(c => (col("id") * 10 + lit(c.drop(1).toInt))
            .cast("double").as(c)): _*)
        val melted = Reshape.melt(df, Seq("id"), cols)
        assert(melted.count() == rows.toLong * width)
        val sumWide = df.select(cols.map(c => sum(col(c))): _*)
          .collect()(0).toSeq.map(_.asInstanceOf[Double]).sum
        val sumLong = melted.agg(sum("value")).as[Double].head()
        assert(math.abs(sumWide - sumLong) < 1e-6)
    }
  }

  test("codegen PointInRing ≡ Scala containsPointGeom on random multi-ring WKT") {
    import graft.functions.GeoFuncs
    // random multipolygons: 1-3 parts, each an axis-aligned ring with
    // an optional hole, over an integer grid (probe points offset by
    // 0.5 so nothing sits on an edge)
    val genPoly = for {
      nParts <- Gen.chooseNum(1, 3)
      parts <- Gen.listOfN(nParts, for {
        x0 <- Gen.chooseNum(-20, 10); y0 <- Gen.chooseNum(-20, 10)
        w <- Gen.chooseNum(4, 10); h <- Gen.chooseNum(4, 10)
        hasHole <- Gen.oneOf(true, false)
      } yield (x0, y0, w, h, hasHole))
    } yield parts
    def ring(x0: Int, y0: Int, x1: Int, y1: Int) =
      s"($x0 $y0, $x1 $y0, $x1 $y1, $x0 $y1, $x0 $y0)"
    forAllSampled(genPoly, n = 15) { parts =>
      val wkt = "MULTIPOLYGON " + parts.map { case (x0, y0, w, h, hole) =>
        val outer = ring(x0, y0, x0 + w, y0 + h)
        val inner =
          if (hole) ", " + ring(x0 + 1, y0 + 1, x0 + w - 1, y0 + h - 1)
          else ""
        s"($outer$inner)"
      }.mkString("(", ", ", ")")
      val geom = GeoFuncs.parseGeometry(wkt)
      val pts = (for (px <- -21 to 21 by 3; py <- -21 to 21 by 3)
        yield (px + 0.5, py + 0.5)).toSeq
      val polys = Seq(("z", wkt)).toDF("zone", "geometry")
      val joined = graft.operators.SpatialJoin.pointInPolygon(
        pts.toDF("lon", "lat"), "lon", "lat", polys, "geometry")
        .select("lon", "lat", "zone").collect()
        .map(r => (r.getDouble(0), r.getDouble(1)) -> (r.get(2) != null))
        .toMap
      pts.foreach { case (x, y) =>
        assert(joined((x, y)) == GeoFuncs.containsPointGeom(geom, x, y),
          s"kernel/Scala disagree at ($x,$y) for $wkt")
      }
    }
  }

  test("hamming_distance kernel ≡ reference count, codegen and interpreted") {
    val rnd = new scala.util.Random(7)
    val rows = (1 to 200).map { _ =>
      val n = rnd.nextInt(65)
      val a = Seq.fill(n)(if (rnd.nextBoolean()) '1' else '0').mkString
      val b = a.map(c =>
        if (rnd.nextInt(8) == 0) (if (c == '1') '0' else '1') else c)
      (a, b)
    } :+ (("0101", "01")) :+ (("", "111")) // unequal lengths
    val expected = rows.map { case (a, b) =>
      val common = a.zip(b).count { case (x, y) => x != y }
      common.toLong + math.abs(a.length - b.length)
    }
    // codegen path: one DataFrame pass through both the Column API and
    // the SQL registration
    val df = rows.toDF("da", "db")
    df.createOrReplaceTempView("ham_pairs")
    val gotCol = df.select(graft.expressions.HammingDistance
      .hamming(col("da"), col("db"))).as[Long].collect().toSeq
    val gotSql = spark.sql(
      "SELECT hamming_distance(da, db) FROM ham_pairs")
      .as[Long].collect().toSeq
    assert(gotCol == expected)
    assert(gotSql == expected)
    // interpreted path (nullSafeEval)
    rows.zip(expected).foreach { case ((a, b), want) =>
      val got = graft.expressions.HammingDistance(
        org.apache.spark.sql.catalyst.expressions.Literal(a),
        org.apache.spark.sql.catalyst.expressions.Literal(b))
        .eval(null)
      assert(got == want, s"'$a' vs '$b'")
    }
  }

  test("nfc_normalize kernel ≡ java.text.Normalizer, codegen + SQL + " +
      "interpreted, incl. Hangul jamo and combining-mark stacks") {
    val cases = Seq(
      "Cafe\u0301",            // e + combining acute -> \u00e9
      "Caf\u00e9",             // already precomposed (fast path)
      "\u1100\u1161\u11a8",  // Hangul jamo -> syllable GAG \uac01
      "A\u030a\u0301",        // A + ring + acute -> \u00c5 + acute
      "a\u0301\u0316",        // above mark then below mark
      "plain ascii", "")
    val expected = cases.map(s =>
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
    val df = cases.toDF("s")
    df.createOrReplaceTempView("nfc_cases")
    val gotCol = df.select(graft.expressions.NfcNormalize
      .nfcNormalize(col("s"))).as[String].collect().toSeq
    val gotSql = spark.sql("SELECT nfc_normalize(s) FROM nfc_cases")
      .as[String].collect().toSeq
    assert(gotCol == expected)
    assert(gotSql == expected)
    // interpreted path + the composition actually changed something
    cases.zip(expected).foreach { case (in, want) =>
      val got = graft.expressions.NfcNormalize(
        org.apache.spark.sql.catalyst.expressions.Literal(in))
        .eval(null).toString
      assert(got == want)
    }
    assert(expected.head == "Caf\u00e9" &&
      expected(2) == "\uac01", "composition must actually compose")
  }

  test("codec routing never throws: random bytes and mutated real payloads") {
    import graft.operators.{MediaCodecs, VideoCodec}
    // contract of the sniff-routing layer (decodeImage/Audio/Video):
    // ANY byte payload yields Some(decoded) or None — one exotic or
    // corrupt payload must degrade, never fail a corpus-wide query
    def route(b: Array[Byte]): Unit = {
      MediaCodecs.decodeImage(b)
      MediaCodecs.decodeAudio(b)
      MediaCodecs.decodeVideo(b)
      graft.operators.Mp4Census.census(b)
    }
    // pure random bytes, all sizes incl. empty
    forAllSampled(for {
      n <- Gen.chooseNum(0, 400)
      bs <- Gen.listOfN(n, Gen.chooseNum(-128, 127))
    } yield bs.map(_.toByte).toArray, 60)(route)
    // random bytes behind each REAL magic (forces every decoder body)
    val magics = Seq[Array[Byte]](
      Array('B', 'M'), Array('P', '6'),
      Array(0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a),
      Array(0xff.toByte, 0xd8.toByte, 0xff.toByte),
      Array(0xff.toByte, 0xfb.toByte),
      "fLaC".getBytes("US-ASCII"),
      "RIFFxxxxWAVE".getBytes("US-ASCII"),
      "RIFFxxxxAVI ".getBytes("US-ASCII"),
      "RIFFxxxxWEBP".getBytes("US-ASCII"),
      // ISO-BMFF: size(4) + 'ftyp' — routes into Mp4Census via sniff
      Array[Byte](0, 0, 0, 16, 'f', 't', 'y', 'p'))
    forAllSampled(for {
      m <- Gen.oneOf(magics)
      n <- Gen.chooseNum(0, 300)
      bs <- Gen.listOfN(n, Gen.chooseNum(-128, 127))
    } yield m ++ bs.map(_.toByte), 80)(route)
    // real payloads with random single-byte mutations: decode or None,
    // and a successful decode must still uphold basic invariants
    val real = Seq(
      MediaCodecs.encodePng(MediaCodecs.Image(9, 7,
        Array.tabulate(9 * 7 * 3)(i => (i * 5 % 256).toByte))),
      graft.operators.JpegCodec.encode(MediaCodecs.Image(16, 8,
        Array.tabulate(16 * 8 * 3)(i => (i * 3 % 256).toByte))),
      graft.operators.FlacCodec.encode(MediaCodecs.Audio(8000, 1,
        Array.tabulate[Short](120)(i => (i * 41 % 2000 - 1000).toShort))),
      VideoCodec.encodeAviMjpeg(12, Seq(MediaCodecs.Image(16, 8,
        Array.fill(16 * 8 * 3)(90.toByte)))),
      { // the committed ISO-BMFF fixture: mutations drive Mp4Census
        val in = getClass.getResourceAsStream("/graft/muxed_camera.mp4")
        try in.readAllBytes() finally in.close()
      },
      { // the fragmented fixture: mutations drive the moof/trun paths
        val in = getClass.getResourceAsStream("/graft/muxed_dash.mp4")
        try in.readAllBytes() finally in.close()
      },
      { // VP8L lossless: mutations drive huffman/LZ77/transform guards
        val in = getClass.getResourceAsStream("/graft/wild_lossless.webp")
        try in.readAllBytes() finally in.close()
      },
      { // VP8X + lossless-coded ALPH: mutations drive census+alphaPlane
        val in = getClass.getResourceAsStream("/graft/wild_vp8x_alpha.webp")
        try in.readAllBytes() finally in.close()
      },
      { // animated WebP: mutations drive the ANMF walk + frame decode
        val in = getClass.getResourceAsStream("/graft/wild_anim.webp")
        try in.readAllBytes() finally in.close()
      },
      { // lossy VP8 (r15): mutations drive the boolean decoder, token
        // trees, partition-size guards and the loop filter — Vp8Codec
        // must decode-or-refuse, never throw or hang
        val in = getClass.getResourceAsStream(
          "/graft/vp8_tex_64x64_q90.webp")
        try in.readAllBytes() finally in.close()
      },
      { // lossy VP8 with segmentation + odd dims
        val in = getClass.getResourceAsStream(
          "/graft/vp8_odd_33x17_q40.webp")
        try in.readAllBytes() finally in.close()
      })
    forAllSampled(for {
      p <- Gen.oneOf(real)
      at <- Gen.chooseNum(0, p.length - 1)
      v <- Gen.chooseNum(-128, 127)
    } yield (p, at, v.toByte), 80) { case (p, at, v) =>
      val c = p.clone(); c(at) = v
      MediaCodecs.decodeImage(c).foreach { case (_, img) =>
        assert(img.rgb.length == img.width * img.height * 3)
      }
      MediaCodecs.decodeAudio(c).foreach { case (_, a) =>
        assert(a.sampleRate > 0 && a.channels > 0)
      }
      MediaCodecs.decodeVideo(c).foreach { case (_, vdo) =>
        assert(vdo.frames.nonEmpty &&
          vdo.frames.forall(f => f.width == vdo.width &&
            f.height == vdo.height))
      }
      graft.operators.Mp4Census.census(c).foreach { r =>
        assert(r.nBoxes >= 1 && r.boxes.forall(_.size >= 8L))
        assert(r.tracks.forall(t => t.timescale > 0))
      }
      graft.operators.WebpCodec.census(c).foreach { r =>
        assert(r.width >= 0 && r.height >= 0 && r.chunkTags.nonEmpty)
      }
      graft.operators.WebpCodec.decodeVp8Planes(c).foreach { p =>
        assert(p.y.length == p.width * p.height &&
          p.u.length == ((p.width + 1) / 2) * ((p.height + 1) / 2))
      }
      // alphaPlane is TOTAL on untrusted bytes (decodeStats calls it
      // raw); a surviving decode must still be a full plane
      graft.operators.WebpCodec.alphaPlane(c).foreach { case (w, h, pl) =>
        assert(pl.length == w * h)
      }
      graft.operators.WebpCodec.animCensus(c).foreach { r =>
        assert(r.frames.nonEmpty && r.frames.forall(f =>
          f.width >= 1 && f.height >= 1 && f.durationMs >= 0))
      }
    }
  }

  test("corrupt container lengths terminate, not hang: truncated IDAT, " +
      "negative PNG/RIFF chunk sizes") {
    import graft.operators.MediaCodecs
    // regression shapes for two infinite loops the fuzz test surfaced:
    // (a) zlib Inflater returning 0 forever on a truncated IDAT while
    // finished() stays false, (b) a negative chunk length walking `pos`
    // backwards so the chunk scan never advances. Each decode must
    // return None promptly — a hang here is a stuck executor task on
    // one corrupt payload at corpus scale.
    val png = MediaCodecs.encodePng(MediaCodecs.Image(9, 7,
      Array.tabulate(9 * 7 * 3)(i => (i * 5 % 256).toByte)))
    // (a) cut into the IDAT data itself (the 16 trailing bytes are
    // CRC + IEND, which the decoder deliberately skips)
    val truncated = java.util.Arrays.copyOf(png, png.length - 20)
    assert(MediaCodecs.decodeImage(truncated).isEmpty)
    // (a') shrink the declared IDAT length: only a PREFIX of the
    // deflate stream is fed, so the Inflater consumes everything and
    // stalls wanting more input — the exact busy-loop shape
    val ihdrEndA = 8 + 8 + 13 + 4
    val shrunk = png.clone()
    val idatLen = ((shrunk(ihdrEndA) & 0xff) << 24) |
      ((shrunk(ihdrEndA + 1) & 0xff) << 16) |
      ((shrunk(ihdrEndA + 2) & 0xff) << 8) | (shrunk(ihdrEndA + 3) & 0xff)
    val cut = math.max(1, idatLen - 8)
    shrunk(ihdrEndA) = (cut >>> 24).toByte
    shrunk(ihdrEndA + 1) = ((cut >> 16) & 0xff).toByte
    shrunk(ihdrEndA + 2) = ((cut >> 8) & 0xff).toByte
    shrunk(ihdrEndA + 3) = (cut & 0xff).toByte
    assert(MediaCodecs.decodeImage(shrunk).isEmpty)
    // (b) negative PNG chunk length right after IHDR
    val negPng = png.clone()
    val ihdrEnd = 8 + 8 + 13 + 4 // magic, len+type, IHDR body, CRC
    negPng(ihdrEnd) = 0xff.toByte; negPng(ihdrEnd + 1) = 0xff.toByte
    negPng(ihdrEnd + 2) = 0xff.toByte; negPng(ihdrEnd + 3) = 0xf4.toByte
    assert(MediaCodecs.decodeImage(negPng).isEmpty)
    // (b') negative RIFF chunk size before fmt/data are found
    val wav = MediaCodecs.encodeWav(MediaCodecs.Audio(8000, 1,
      Array.tabulate[Short](32)(i => (i * 100).toShort)))
    val negWav = wav.clone()
    negWav(16) = 0xf8.toByte; negWav(17) = 0xff.toByte
    negWav(18) = 0xff.toByte; negWav(19) = 0xff.toByte // fmt size = -8
    assert(MediaCodecs.decodeAudio(negWav).isEmpty)
  }

  test("MediaCodecs: BMP and PPM round-trip arbitrary pixel buffers") {
    import graft.operators.MediaCodecs
    val gen = for {
      w <- Gen.chooseNum(1, 17) // odd widths exercise BMP row padding
      h <- Gen.chooseNum(1, 9)
      bytes <- Gen.listOfN(w * h * 3, Gen.chooseNum(-128, 127))
    } yield (w, h, bytes.map(_.toByte).toArray)
    forAllSampled(gen, 25) { case (w, h, rgb) =>
      val img = MediaCodecs.Image(w, h, rgb)
      val viaBmp = MediaCodecs.decodeBmp(MediaCodecs.encodeBmp(img))
      assert(viaBmp.width == w && viaBmp.height == h &&
        viaBmp.rgb.sameElements(rgb), s"BMP round trip failed ${w}x$h")
      val viaPpm = MediaCodecs.decodePpm(MediaCodecs.encodePpm(img))
      assert(viaPpm.rgb.sameElements(rgb), s"PPM round trip failed ${w}x$h")
      val viaPng = MediaCodecs.decodePng(MediaCodecs.encodePng(img))
      assert(viaPng.width == w && viaPng.height == h &&
        viaPng.rgb.sameElements(rgb), s"PNG round trip failed ${w}x$h")
    }
  }

  test("MediaCodecs: WAV round-trips arbitrary 16-bit sample buffers") {
    import graft.operators.MediaCodecs
    val gen = for {
      ch <- Gen.chooseNum(1, 2)
      sr <- Gen.oneOf(8000, 16000, 44100)
      n <- Gen.chooseNum(1, 200)
      samples <- Gen.listOfN(n * ch, Gen.chooseNum(-32768, 32767))
    } yield (sr, ch, samples.map(_.toShort).toArray)
    forAllSampled(gen, 25) { case (sr, ch, samples) =>
      val a = MediaCodecs.decodeWav(
        MediaCodecs.encodeWav(MediaCodecs.Audio(sr, ch, samples)))
      assert(a.sampleRate == sr && a.channels == ch &&
        a.samples.sameElements(samples))
    }
  }

  test("concaveHull: contains every input point, never beats the target " +
      "by growing") {
    import graft.functions.GeoFuncs
    val gen = for {
      n <- Gen.chooseNum(8, 40)
      pts <- Gen.listOfN(n, for {
        x <- Gen.chooseNum(0, 100); y <- Gen.chooseNum(0, 100)
      } yield (x.toDouble, y.toDouble))
    } yield pts.distinct
    forAllSampled(gen, 15) { pts =>
      if (pts.length >= 4) {
        val mp = pts.map { case (x, y) => s"($x $y)" }
          .mkString("MULTIPOINT (", ", ", ")")
        val convexW = GeoFuncs.concaveHull(mp, 1.0)
        val concaveW = GeoFuncs.concaveHull(mp, 0.6)
        if (convexW.startsWith("POLYGON") && concaveW.startsWith("POLYGON")) {
          def area(w: String): Double = {
            val ring = GeoFuncs.parseGeometry(w).head.head
            math.abs(ring.dropRight(1).zipWithIndex.map {
              case ((x0, y0), i) =>
                val (x1, y1) = ring((i + 1) % (ring.length - 1))
                x0 * y1 - x1 * y0
            }.sum) / 2
          }
          assert(area(concaveW) <= area(convexW) + 1e-9,
            s"concave area grew past convex for $mp")
          // every hull vertex must be an input point
          GeoFuncs.parseGeometry(concaveW).head.head.dropRight(1)
            .foreach { p =>
              assert(pts.contains(p), s"hull vertex $p not an input")
            }
        }
      }
    }
  }
}
