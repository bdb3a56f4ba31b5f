package graft

import graft.operators.{MediaCodecs, WebpCodec}

/** WebpCodec vs the reference implementation.
  *
  * `webp_golden.json` records libwebp 1.2.4's own decode (RGBA CRC32 +
  * channel sums) of each committed fixture: `wild_vp8x_alpha.webp` is
  * CPython's test-corpus python.webp verbatim (a real-world VP8X file
  * this repo did not produce — lossy VP8 pixels + VP8L-compressed
  * alpha); the others are libwebp's own lossless/lossy encoder output
  * over deterministic images (scripts/make_webp_fixtures.py). The
  * driver-side independent spec transcription (scripts/webp_ref.py)
  * is cross-checked against the same goldens at generation time, so
  * Scala, Python and libwebp agree pixel-exact on every stream — the
  * q295 two-transcription evidence standard.
  */
class WebpCodecSpec extends SparkSpec {

  private def res(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(s"/graft/$name")
    assert(in != null, s"missing $name fixture")
    try in.readAllBytes() finally in.close()
  }

  private lazy val golden: Map[String, com.fasterxml.jackson.databind.JsonNode] = {
    val in = getClass.getResourceAsStream("/graft/webp_golden.json")
    assert(in != null, "missing webp_golden.json")
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(try in.readAllBytes() finally in.close())
    (0 until root.size()).map { i =>
      root.get(i).get("file").asText -> root.get(i)
    }.toMap
  }

  private def rgbaOf(argb: Array[Int]): Array[Byte] = {
    val out = new Array[Byte](argb.length * 4)
    var i = 0
    while (i < argb.length) {
      out(i * 4) = ((argb(i) >>> 16) & 0xff).toByte
      out(i * 4 + 1) = ((argb(i) >>> 8) & 0xff).toByte
      out(i * 4 + 2) = (argb(i) & 0xff).toByte
      out(i * 4 + 3) = ((argb(i) >>> 24) & 0xff).toByte
      i += 1
    }
    out
  }

  private def crc32(b: Array[Byte]): Long = {
    val c = new java.util.zip.CRC32()
    c.update(b)
    c.getValue
  }

  test("VP8L lossless decode is pixel-exact vs libwebp (photo-class: " +
      "predictor/color/subtract-green transforms, LZ77, color cache)") {
    val g = golden("wild_lossless.webp")
    val (w, h, argb) = WebpCodec.decodeArgb(res("wild_lossless.webp"))
      .getOrElse(fail("VP8L payload refused"))
    assert(w == g.get("width").asInt && h == g.get("height").asInt)
    val rgba = rgbaOf(argb)
    assert(crc32(rgba) == g.get("rgba_crc32").asLong,
      "pixel buffer != libwebp's decode")
    assert(rgba.indices.collect { case i if i % 4 == 0 => rgba(i) & 0xff }
      .map(_.toLong).sum == g.get("sum_r").asLong)
  }

  test("VP8L color-indexing transform (13-color palette, 4-bit packed) " +
      "is pixel-exact vs libwebp") {
    val g = golden("wild_palette.webp")
    val (w, h, argb) = WebpCodec.decodeArgb(res("wild_palette.webp"))
      .getOrElse(fail("palette payload refused"))
    assert(w == g.get("width").asInt && h == g.get("height").asInt)
    assert(crc32(rgbaOf(argb)) == g.get("rgba_crc32").asLong)
  }

  test("SUBTRACT_GREEN fixture decodes pixel-exact vs libwebp") {
    val g = golden("wild_gray_sg.webp")
    val (w, h, argb) = WebpCodec.decodeArgb(res("wild_gray_sg.webp"))
      .getOrElse(fail("subtract-green payload refused"))
    assert(w == g.get("width").asInt && h == g.get("height").asInt)
    assert(crc32(rgbaOf(argb)) == g.get("rgba_crc32").asLong)
  }

  test("META-HUFFMAN fixture (2 entropy groups + color cache, probed) " +
      "decodes pixel-exact vs libwebp") {
    val g = golden("wild_meta.webp")
    val (w, h, argb) = WebpCodec.decodeArgb(res("wild_meta.webp"))
      .getOrElse(fail("meta-huffman payload refused"))
    assert(w == 200 && h == 150)
    assert(crc32(rgbaOf(argb)) == g.get("rgba_crc32").asLong)
    // webp_golden records the feature trace the spec decoder saw —
    // keep this fixture meaning what its name claims
    val feats = (0 until g.get("features").size())
      .map(g.get("features").get(_).asText)
    assert(feats.exists(_.startsWith("meta_huffman")), s"$feats")
  }

  test("the wild CPython VP8X fixture: census + EXACT VP8L alpha plane") {
    val bytes = res("wild_vp8x_alpha.webp")
    val g = golden("wild_vp8x_alpha.webp")
    val c = WebpCodec.census(bytes).getOrElse(fail("census refused"))
    assert(c.format == "lossy-alpha")
    assert(c.width == 16 && c.height == 16)
    assert(c.hasAlpha && !c.hasAnim)
    assert(c.chunkTags == Seq("VP8X", "ALPH", "VP8 "))
    assert(c.keyframe && c.vp8Version >= 0)
    val (w, h, plane) = WebpCodec.alphaPlane(bytes)
      .getOrElse(fail("ALPH refused"))
    assert(w == 16 && h == 16)
    assert(plane.map(_ & 0xff).map(_.toLong).sum == g.get("sum_a").asLong,
      "alpha plane != libwebp's decode")
    // lossy RGB stays out of scope: the pixel decoder must NOT claim it
    assert(WebpCodec.decode(bytes).isEmpty)
    assert(MediaCodecs.decodeImage(bytes).isEmpty)
  }

  test("lossy-alpha fixture: FILTERED alpha plane (vertical, method 2) " +
      "unfilters to libwebp's exact plane") {
    val bytes = res("wild_lossy_alpha.webp")
    val g = golden("wild_lossy_alpha.webp")
    // header byte of ALPH: compression=1 (lossless), filter=2
    val alphOff = {
      var off = 12; var found = -1
      while (found < 0 && off + 8 <= bytes.length) {
        if (new String(bytes, off, 4, "ISO-8859-1") == "ALPH") found = off + 8
        else {
          val sz = java.nio.ByteBuffer.wrap(bytes, off + 4, 4)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
          off += 8 + sz + (sz & 1)
        }
      }
      found
    }
    assert(((bytes(alphOff) & 0xff) & 3) == 1, "fixture not lossless-coded")
    assert((((bytes(alphOff) & 0xff) >> 2) & 3) == 2, "fixture not filter=2")
    val (w, h, plane) = WebpCodec.alphaPlane(bytes)
      .getOrElse(fail("ALPH refused"))
    assert(w == g.get("width").asInt && h == g.get("height").asInt)
    assert(plane.map(_ & 0xff).map(_.toLong).sum == g.get("sum_a").asLong,
      "unfiltered alpha != libwebp")
  }

  test("sniff claims RIFF....WEBP; decodeImage routes VP8L to pixels") {
    val bytes = res("wild_lossless.webp")
    assert(MediaCodecs.sniff(bytes).contains("webp"))
    val Some(("webp", img)) = MediaCodecs.decodeImage(bytes)
    val g = golden("wild_lossless.webp")
    assert(img.width == g.get("width").asInt)
    var sum = 0L
    img.rgb.foreach(b => sum += (b & 0xff))
    val expected = g.get("sum_r").asLong + g.get("sum_g").asLong +
      g.get("sum_b").asLong
    assert(sum == expected, "rgb sum != libwebp's decode")
    // RIFF sub-formats must not shadow each other
    assert(MediaCodecs.sniff(res("wild_stereo.wav")).contains("wav"))
  }

  test("hostile inputs refuse cleanly: truncation, dimension bomb, " +
      "oversubscribed huffman, chunk overrun") {
    val good = res("wild_lossless.webp")
    // truncations at every prefix length must throw/None, never hang
    for (n <- Seq(4, 12, 20, 30, good.length / 2)) {
      val cut = java.util.Arrays.copyOf(good, n)
      assert(MediaCodecs.decodeImage(cut).isEmpty, s"truncated at $n")
    }
    // VP8L header claiming 16383x16383 (268M pixels) over 30 bytes:
    // the pixel cap must fire before any allocation
    val bomb = new java.io.ByteArrayOutputStream()
    bomb.write("RIFF".getBytes); bomb.write(Array[Byte](30, 0, 0, 0))
    bomb.write("WEBP".getBytes); bomb.write("VP8L".getBytes)
    bomb.write(Array[Byte](18, 0, 0, 0))
    bomb.write(0x2f)
    bomb.write(Array[Byte](-1, -1, -1, 0x0f)) // w-1 = h-1 = 0x3fff
    bomb.write(new Array[Byte](13))
    val t0 = System.nanoTime()
    assert(MediaCodecs.decodeImage(bomb.toByteArray).isEmpty)
    assert((System.nanoTime() - t0) / 1e9 < 2.0, "dimension bomb not capped")
    // chunk size overrunning the file
    val overrun = good.clone()
    overrun(16) = -1; overrun(17) = -1 // VP8L chunk size becomes huge
    assert(MediaCodecs.decodeImage(overrun).isEmpty)
    assert(WebpCodec.census("RIFFxxxxWAVE....".getBytes).isEmpty)
    // raw-ALPH dimension bomb: VP8X claiming 65536×65536 wraps w*h to
    // 0 in Int arithmetic, so a 1-byte raw plane would pass `len-1 <
    // w*h` and come back as a Some with empty data (r14 ADVICE) — the
    // Long-product pixel cap must refuse it instead
    def le24(v: Int) = Array[Byte](
      (v & 0xff).toByte, ((v >> 8) & 0xff).toByte, ((v >> 16) & 0xff).toByte)
    val alphaBomb = new java.io.ByteArrayOutputStream()
    val vp8x = "VP8X".getBytes ++ Array[Byte](10, 0, 0, 0) ++
      Array[Byte](0x10, 0, 0, 0) ++ le24(65535) ++ le24(65535) // w-1, h-1
    val alph = "ALPH".getBytes ++ Array[Byte](2, 0, 0, 0) ++
      Array[Byte](0, 0) // comp=0 (raw), 1 plane byte
    // minimal lossy keyframe chunk so the census accepts the file and
    // alphaPlane reaches the raw-plane path (the ADVICE scenario is a
    // lossy-with-alpha file whose VP8X dims are hostile)
    val vp8 = "VP8 ".getBytes ++ Array[Byte](10, 0, 0, 0) ++
      Array[Byte](0, 0, 0, 0x9d.toByte, 0x01, 0x2a, 1, 0, 1, 0)
    val body = "WEBP".getBytes ++ vp8x ++ alph ++ vp8
    alphaBomb.write("RIFF".getBytes)
    alphaBomb.write(Array[Byte]((body.length & 0xff).toByte,
      ((body.length >> 8) & 0xff).toByte, 0, 0))
    alphaBomb.write(body)
    assert(WebpCodec.alphaPlane(alphaBomb.toByteArray).isEmpty,
      "65536×65536 raw ALPH must refuse, not return an empty plane")
  }

  test("animated WebP: frame-level census + full-canvas VP8L decode, " +
      "node-for-node vs the independent muxer's golden") {
    val bytes = res("wild_anim.webp")
    val in = getClass.getResourceAsStream("/graft/webp_anim_golden.json")
    assert(in != null, "missing webp_anim_golden.json")
    val g = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(try in.readAllBytes() finally in.close())
    val c = WebpCodec.animCensus(bytes).getOrElse(fail("anim refused"))
    assert(c.canvasWidth == g.get("canvas_width").asInt)
    assert(c.canvasHeight == g.get("canvas_height").asInt)
    assert(c.loopCount == g.get("loop_count").asInt)
    assert(c.bgColor == g.get("bg_color").asLong)
    assert(c.totalDurationMs == g.get("total_duration_ms").asLong)
    assert(c.frames.size == g.get("n_frames").asInt)
    c.frames.zipWithIndex.foreach { case (f, i) =>
      val e = g.get("frames").get(i)
      assert(f.x == e.get("x").asInt && f.y == e.get("y").asInt, s"f$i")
      assert(f.width == e.get("width").asInt &&
        f.height == e.get("height").asInt, s"f$i dims")
      assert(f.durationMs == e.get("duration_ms").asInt, s"f$i dur")
      assert(f.noBlend && !f.disposeBg, s"f$i flags")
      assert(f.codec == e.get("codec").asText, s"f$i codec")
      assert(f.payloadBytes == e.get("payload_bytes").asInt, s"f$i bytes")
    }
    // frame pixels: each embedded VP8L payload is real libwebp encoder
    // output; sums were verified against libwebp's decode of the same
    // stills at fixture-build time
    val Some((_, frames)) = WebpCodec.decodeAnimation(bytes)
    frames.zipWithIndex.foreach { case (img, i) =>
      var sum = 0L
      img.rgb.foreach(b => sum += (b & 0xff))
      assert(sum == g.get("frames").get(i).get("sum_rgb").asLong,
        s"frame $i pixel sum")
    }
    // routing: video decode path claims it; still-image path must not
    val Some(("webp", v)) = MediaCodecs.decodeVideo(bytes)
    assert(v.frames.size == 4 && v.width == 24 && v.height == 16)
    assert(MediaCodecs.decodeImage(bytes).isEmpty)
    assert(WebpCodec.census(bytes).exists(_.format == "animation"))
  }

  test("store-mode encoder: bit-exact vs the libwebp-verified golden, " +
      "and round-trips through this decoder") {
    // scripts/verify_webp_encode.py decoded EXACTLY these bytes with
    // libwebp 1.2.4 AND the independent Python transcription and
    // recorded the CRC — pinning the bytes here keeps the encoder
    // deterministic and keeps that three-way evidence valid
    val g = golden("scala_encode_sample")
    val img = WebpEncodeEmit.sample
    val enc = WebpCodec.encode(img)
    assert(enc.length == g.get("bytes").asInt)
    assert(crc32(enc) == g.get("encode_crc32").asLong,
      "encoder bytes drifted — rerun scripts/verify_webp_encode.py " +
        "to re-establish the libwebp evidence before accepting")
    val Some(("webp", dec)) = MediaCodecs.decodeImage(enc)
    assert(dec.width == img.width && dec.height == img.height)
    assert(java.util.Arrays.equals(dec.rgb, img.rgb),
      "encode->decode must be pixel-exact (store mode)")
    // single-pixel and max-channel-value edges
    for (px <- Seq(Array[Byte](0, 0, 0), Array[Byte](-1, -1, -1))) {
      val one = WebpCodec.encode(MediaCodecs.Image(1, 1, px))
      val Some(("webp", d1)) = MediaCodecs.decodeImage(one)
      assert(java.util.Arrays.equals(d1.rgb, px))
    }
  }

  test("animated WebP with LOSSY frames: per-frame VP8 decode matches " +
      "libwebp's WebPDecodeYUV of each payload byte-for-byte") {
    val bytes = res("wild_anim_lossy.webp")
    val g = {
      val in = getClass.getResourceAsStream(
        "/graft/webp_anim_lossy_golden.json")
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      om.readTree(try in.readAllBytes() finally in.close())
    }
    def md5(a: Array[Byte]) = java.security.MessageDigest
      .getInstance("MD5").digest(a).map(b => f"${b & 0xff}%02x").mkString
    val (c, planes) = graft.operators.WebpCodec
      .decodeAnimationLossyPlanes(bytes)
      .getOrElse(fail("lossy animation refused"))
    assert(c.canvasWidth == g.get("canvas_w").asInt &&
      c.canvasHeight == g.get("canvas_h").asInt &&
      c.loopCount == g.get("loop_count").asInt)
    val gf = g.get("frames")
    assert(planes.size == gf.size())
    planes.zipWithIndex.foreach { case (p, i) =>
      assert(md5(p.y) == gf.get(i).get("y_md5").asText(), s"frame $i Y")
      assert(md5(p.u) == gf.get(i).get("u_md5").asText(), s"frame $i U")
      assert(md5(p.v) == gf.get(i).get("v_md5").asText(), s"frame $i V")
      assert(c.frames(i).durationMs ==
        gf.get(i).get("duration_ms").asInt)
      assert(c.frames(i).payloadBytes ==
        gf.get(i).get("payload_bytes").asInt)
    }
    // the RGB/video route accepts the same class (conversion is the
    // documented toRgb choice, not a reference surface)
    val (_, imgs) = graft.operators.WebpCodec.decodeAnimation(bytes)
      .getOrElse(fail("video route refused lossy frames"))
    assert(imgs.size == planes.size &&
      imgs.forall(im => im.width == c.canvasWidth &&
        im.height == c.canvasHeight &&
        im.rgb.length == im.width * im.height * 3))
  }

  test("decodeStats routes webp: VP8L to pixel stats, lossy to " +
      "census-backed alpha stats") {
    import spark.implicits._
    val media = spark.createDataset(Seq(
      graft.operators.Multimodal.MediaRow(1L, "image",
        res("wild_lossless.webp"), 0, 0),
      graft.operators.Multimodal.MediaRow(2L, "image",
        res("wild_vp8x_alpha.webp"), 0, 0)))
    val rows = graft.operators.Multimodal.decodeStats(media)
      .collect().sortBy(_.media_id)
    val g1 = golden("wild_lossless.webp")
    assert(rows(0).format == "webp")
    assert(rows(0).dim1 == g1.get("width").asInt)
    assert(rows(0).n_units == g1.get("width").asInt.toLong *
      g1.get("height").asInt * 3)
    // lossy files take the full VP8 intra decode (r15): stats pin the
    // raw YUV420 planes — 16x16 luma + 2×8x8 chroma = 384 units, and
    // the value sum is libwebp's own WebPDecodeYUV sum of the same
    // bytes (vp8_golden.json, scripts/vp8_probe.py)
    assert(rows(1).format == "webp-lossy")
    assert(rows(1).dim1 == 16 && rows(1).dim2 == 16)
    assert(rows(1).n_units == 384L)
    assert(math.round(rows(1).mean_value * 384) == 40839L)
  }
}
