package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Multimodal

/** Multimodal pipeline surface. The decode/featurize stages run for
  * real (mapPartitions batches over binary payloads); the PROJECTION is
  * metadata-plus-md5 so DuckDB can hash-verify the whole pipeline —
  * payload byte counts, the content checksum, kind routing and the
  * feature-vector shape are all oracle-checked, while the float feature
  * VALUES (not SQL territory) stay covered by MultimodalSpec. */
object MultimodalOps {

  val qs: Seq[Q] = Seq(
    Q("q34_multimodal_pipeline",
      (s, dir) => {
        val media = Multimodal.packMedia(Tables.load(s, dir, "documents"))
        val decoded = Multimodal.decode(media).toDF()
        val feats = Multimodal.extractFeatures(media, 32).toDF()
        decoded.join(feats, "media_id")
          .select(col("media_id"), col("kind"),
            col("n_bytes").cast("long").as("n_bytes"),
            col("checksum_md5"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"),
            size(col("feature")).cast("long").as("fdim"))
          .orderBy("media_id")
      },
      // packMedia's derivations are pure SQL over documents; md5 of the
      // UTF-8 payload is bit-exact in both engines; strlen counts bytes
      Some("""SELECT doc_id AS media_id,
          CASE WHEN doc_id % 3 = 0 THEN 'image'
               WHEN doc_id % 3 = 1 THEN 'audio'
               ELSE 'video' END AS kind,
          CAST(strlen(text) AS BIGINT) AS n_bytes,
          md5(text) AS checksum_md5,
          CAST(doc_id % 640 + 64 AS BIGINT) AS width,
          CAST(doc_id % 480 + 48 AS BIGINT) AS height,
          CAST(32 AS BIGINT) AS fdim
        FROM documents ORDER BY media_id""")),

    // Frame sampling (video explode path): every stride-th fixed-size
    // block of each video payload becomes a frame row, map-side. The
    // oracle recomputes the sampling arithmetic from byte counts:
    // frames exist at indices 0, stride, … below floor(bytes/block),
    // every sampled frame is a full block by construction.
    Q("q67_frame_sampling",
      (s, dir) => {
        val media = Multimodal.packMedia(Tables.load(s, dir, "documents"))
        Multimodal.sampleFrames(media, blockSize = 16, stride = 4).toDF()
          .groupBy(col("media_id"))
          .agg(count(lit(1)).as("n_frames"),
            max(col("frame_idx")).cast("long").as("max_idx"),
            sum(length(col("frame"))).as("frame_bytes"))
          .orderBy("media_id")
      },
      Some("""SELECT doc_id AS media_id,
          CAST((nblocks - 1) // 4 + 1 AS BIGINT) AS n_frames,
          CAST(((nblocks - 1) // 4) * 4 AS BIGINT) AS max_idx,
          CAST(((nblocks - 1) // 4 + 1) * 16 AS BIGINT) AS frame_bytes
        FROM (SELECT doc_id, strlen(text) // 16 AS nblocks
          FROM documents WHERE doc_id % 3 = 2)
        WHERE nblocks >= 1
        ORDER BY media_id""")),

    // REAL codec decode: per doc a deterministic BMP / PNG / WAV / PPM
    // file is ENCODED executor-side (MediaCodecs), then DECODED back
    // by the byte-level parsers — header dims and the pixel/sample
    // mean come from the decoded output. Image payloads alternate the
    // uncompressed (BMP) and COMPRESSED (PNG — real zlib inflate +
    // scanline de-filtering) codecs, so the compressed path sits
    // under the oracle too. The oracle recomputes each mean
    // arithmetically (avg over the generating formula), so a single
    // mis-parsed byte anywhere in the encode→decode chain (BGR order,
    // row padding, bottom-up flip, inflate, filter reconstruction,
    // chunk walk, sample sign) breaks the hash. The mean is one
    // double division on an exact integer sum — bit-identical across
    // engines. Payloads never shuffle.
    Q("q141_media_decode",
      (s, dir) => {
        val media = Multimodal.packEncodedMedia(
          Tables.load(s, dir, "documents"))
        Multimodal.decodeStats(media).toDF()
          .select(col("media_id"), col("kind"), col("format"),
            col("dim1").cast("long").as("dim1"),
            col("dim2").cast("long").as("dim2"),
            col("n_units"), col("mean_value"))
          .orderBy("media_id")
      },
      Some("""SELECT doc_id AS media_id,
          CASE WHEN doc_id % 3 = 0 THEN 'image'
               WHEN doc_id % 3 = 1 THEN 'audio'
               ELSE 'video' END AS kind,
          CASE WHEN doc_id % 6 = 0 THEN 'bmp'
               WHEN doc_id % 3 = 0 THEN 'png'
               WHEN doc_id % 3 = 1 THEN 'wav'
               ELSE 'ppm' END AS format,
          CAST(CASE WHEN doc_id % 3 = 0 THEN 16
               WHEN doc_id % 3 = 1 THEN 8000
               ELSE 8 END AS BIGINT) AS dim1,
          CAST(CASE WHEN doc_id % 3 = 0 THEN 8
               WHEN doc_id % 3 = 1 THEN 1
               ELSE 8 END AS BIGINT) AS dim2,
          CAST(CASE WHEN doc_id % 3 = 0 THEN 384
               WHEN doc_id % 3 = 1 THEN 256
               ELSE 192 END AS BIGINT) AS n_units,
          CASE WHEN doc_id % 3 = 0 THEN
            (SELECT avg(CAST((g.i * 31 + doc_id) % 256 AS DOUBLE))
             FROM generate_series(0, 383) AS g(i))
          WHEN doc_id % 3 = 1 THEN
            (SELECT avg(CAST((g.i * 37 + doc_id) % 2048 - 1024 AS DOUBLE))
             FROM generate_series(0, 255) AS g(i))
          ELSE
            (SELECT avg(CAST((g.i * 13 + doc_id) % 256 AS DOUBLE))
             FROM generate_series(0, 191) AS g(i))
          END AS mean_value
        FROM documents ORDER BY media_id""")),

    // Audio featurization over REAL decoded WAV bytes: 64-sample
    // frames → RMS energy + zero-crossing rate (the first two features
    // of every VAD / audio-quality pipeline). The WAV payload is
    // encoded AND decoded executor-side; the oracle regenerates each
    // sample from the same closed-form signal ((i·37 + id) % 2048 −
    // 1024) and recomputes both features arithmetically — so sample
    // order, sign, frame boundaries and the 16-bit little-endian PCM
    // round-trip are all under the hash. Energy sums are exact BIGINT;
    // RMS is one mirrored sqrt(double/64).
    Q("q162_audio_frame_features",
      (s, dir) => {
        val media = Multimodal.packEncodedMedia(
          Tables.load(s, dir, "documents")
            .filter(col("doc_id") % 3 === 1))
        Multimodal.audioFrameFeatures(media, frameSize = 64).toDF()
          .select(col("media_id"), col("frame_idx"), col("n_samples"),
            col("ssq"), col("n_crossings"),
            sqrt(col("ssq").cast("double") / 64.0d).as("rms"))
          .orderBy("media_id", "frame_idx")
      },
      Some("""WITH s AS (SELECT doc_id, t.i,
            (t.i * 37 + doc_id) % 2048 - 1024 AS v,
            CASE WHEN t.i % 64 > 0 THEN
              ((t.i - 1) * 37 + doc_id) % 2048 - 1024 END AS pv,
            t.i // 64 AS frame_idx
          FROM documents, UNNEST(range(0, 256)) AS t(i)
          WHERE doc_id % 3 = 1)
        SELECT doc_id AS media_id, frame_idx,
          CAST(count(*) AS BIGINT) AS n_samples,
          CAST(sum(v * v) AS BIGINT) AS ssq,
          CAST(sum(CASE WHEN pv * v < 0 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_crossings,
          sqrt(CAST(sum(v * v) AS DOUBLE) / 64.0) AS rms
        FROM s GROUP BY 1, 2 ORDER BY 1, 2""")),

    // Per-channel pixel statistics over REAL decoded image bytes — the
    // dataset normalization pass (per-channel means) run across ALL
    // three image codecs at once: BMP (uncompressed, bottom-up BGR
    // rows), PNG (zlib inflate + scanline de-filtering) and PPM
    // (ASCII-header RGB). The oracle regenerates every pixel from the
    // generating formula and averages per channel, so a channel-order
    // slip in any one codec (e.g. BGR→RGB) flips exactly that
    // format's rows and breaks the hash. Integer sums exact; mean is
    // one mirrored double division.
    Q("q163_image_channel_stats",
      (s, dir) => {
        val media = Multimodal.packEncodedMedia(
          Tables.load(s, dir, "documents")
            .filter(col("doc_id") % 3 =!= 1))
        Multimodal.channelStats(media).toDF()
          .select(col("media_id"), col("format"), col("channel"),
            col("n"),
            (col("total").cast("double") / col("n").cast("double"))
              .as("mean_value"))
          .orderBy("media_id", "channel")
      },
      Some("""WITH px AS (SELECT doc_id,
            CASE WHEN doc_id % 6 = 0 THEN 'bmp'
                 WHEN doc_id % 3 = 0 THEN 'png'
                 ELSE 'ppm' END AS format,
            t.i % 3 AS channel,
            CASE WHEN doc_id % 3 = 0 THEN (t.i * 31 + doc_id) % 256
                 ELSE (t.i * 13 + doc_id) % 256 END AS v
          FROM documents,
            UNNEST(range(0, CASE WHEN doc_id % 3 = 0
              THEN 384 ELSE 192 END)) AS t(i)
          WHERE doc_id % 3 <> 1)
        SELECT doc_id AS media_id, format,
          CAST(channel AS BIGINT) AS channel,
          CAST(count(*) AS BIGINT) AS n,
          CAST(sum(v) AS DOUBLE) / CAST(count(*) AS DOUBLE)
            AS mean_value
        FROM px GROUP BY 1, 2, 3 ORDER BY 1, 3""")),

    // Perceptual dHash over REAL decoded pixels, across all three
    // image codecs at once (see Multimodal.dHash) — the oracle
    // recomputes every gradient-sign bit from the closed-form pixel
    // generator, so ANY positional decode slip (BGR order, row
    // padding, bottom-up rows, zlib framing) flips specific bits of
    // exactly that codec's hashes. Downstream near-dup pairing rides
    // the q68 band-LSH hamming machinery; this query pins the
    // fingerprints themselves.
    Q("q184_image_dhash",
      (s, dir) => {
        val media = Multimodal.packEncodedMedia(
          Tables.load(s, dir, "documents")
            .filter(col("doc_id") % 3 =!= 1))
        Multimodal.dHash(media).toDF()
          .select(col("media_id"), col("format"), col("dhash"),
            col("n_ones"))
          .orderBy("media_id")
      },
      Some("""WITH g AS (SELECT doc_id,
            CASE WHEN doc_id % 6 = 0 THEN 'bmp'
                 WHEN doc_id % 3 = 0 THEN 'png'
                 ELSE 'ppm' END AS format,
            CASE WHEN doc_id % 3 = 0 THEN 16 ELSE 8 END AS w,
            CASE WHEN doc_id % 3 = 0 THEN 31 ELSE 13 END AS mul
          FROM documents WHERE doc_id % 3 <> 1),
        bits AS (SELECT doc_id, format, p,
            CASE WHEN
              (((((p // (w-1)) * w + (p % (w-1))) * 3 + 1) * mul
                + doc_id) % 256)
              >
              (((((p // (w-1)) * w + (p % (w-1)) + 1) * 3 + 1) * mul
                + doc_id) % 256)
            THEN '1' ELSE '0' END AS b
          FROM g, UNNEST(range(0, 8 * (w - 1))) AS t(p))
        SELECT doc_id AS media_id, format,
          string_agg(b, '' ORDER BY p) AS dhash,
          CAST(sum(CASE WHEN b = '1' THEN 1 ELSE 0 END) AS BIGINT)
            AS n_ones
        FROM bits GROUP BY 1, 2 ORDER BY 1""")),

    // Image near-duplicate PAIRS from the q184 fingerprints: band-LSH
    // candidates (pigeonhole-complete for hamming < bands) + exact
    // hamming on candidates only — the q68 design applied to visual
    // dedup. The banding itself is mirrored in the oracle, so the
    // candidate rule AND the distances are hash-checked.
    Q("q185_image_neardup",
      (s, dir) => {
        val media = Multimodal.packEncodedMedia(
          Tables.load(s, dir, "documents")
            .filter(col("doc_id") % 3 =!= 1))
        Multimodal.dHashNearDup(
            Multimodal.dHash(media).toDF(), bands = 4, maxHamming = 3)
          .orderBy("media_a", "media_b")
      },
      Some("""WITH g AS (SELECT doc_id,
            CASE WHEN doc_id % 3 = 0 THEN 16 ELSE 8 END AS w,
            CASE WHEN doc_id % 3 = 0 THEN 31 ELSE 13 END AS mul
          FROM documents WHERE doc_id % 3 <> 1),
        bits AS (SELECT doc_id, p,
            CASE WHEN
              (((((p // (w-1)) * w + (p % (w-1))) * 3 + 1) * mul
                + doc_id) % 256)
              >
              (((((p // (w-1)) * w + (p % (w-1)) + 1) * 3 + 1) * mul
                + doc_id) % 256)
            THEN '1' ELSE '0' END AS b
          FROM g, UNNEST(range(0, 8 * (w - 1))) AS t(p)),
        h AS (SELECT doc_id AS media_id,
            string_agg(b, '' ORDER BY p) AS dh
          FROM bits GROUP BY 1),
        bands AS (SELECT media_id, dh, len(dh) AS l, t.b,
            substring(dh, CAST(b * (len(dh) // 4) + 1 AS INTEGER),
              CAST(len(dh) // 4 AS INTEGER)) AS bkey
          FROM h, UNNEST(range(0, 4)) AS t(b)),
        cand AS (SELECT DISTINCT a.media_id AS media_a,
            b.media_id AS media_b, a.dh AS da, b.dh AS db, a.l AS l
          FROM bands a JOIN bands b
            ON a.l = b.l AND a.b = b.b AND a.bkey = b.bkey
              AND a.media_id < b.media_id),
        ham AS (SELECT media_a, media_b,
            CAST(sum(CASE WHEN substring(da, CAST(j AS INTEGER), 1)
                <> substring(db, CAST(j AS INTEGER), 1)
              THEN 1 ELSE 0 END) AS BIGINT) AS hamming
          FROM cand, UNNEST(range(1, l + 1)) AS t(j)
          GROUP BY 1, 2)
        SELECT media_a, media_b, hamming FROM ham
        WHERE hamming <= 3 ORDER BY media_a, media_b""")),

    // Audio fingerprint — frame-energy gradient signs (the
    // shazam-style robust sketch, minus the FFT the exactness
    // contract can't hash): 8 frames of 32 samples from REAL WAV
    // decode (q162's exact BIGINT ssq), one bit per adjacent-frame
    // energy comparison. Composes audioFrameFeatures + a partition-
    // local 8-row window; only (id, 7-bit string) flows downstream.
    Q("q186_audio_fingerprint",
      (s, dir) => {
        val media = Multimodal.packEncodedMedia(
          Tables.load(s, dir, "documents")
            .filter(col("doc_id") % 3 === 1))
        val fr = Multimodal.audioFrameFeatures(media, frameSize = 32)
          .toDF()
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("media_id").orderBy("frame_idx")
        fr.withColumn("nxt", lead(col("ssq"), 1).over(w))
          .filter(col("nxt").isNotNull)
          .withColumn("b",
            when(col("ssq") > col("nxt"), "1").otherwise("0"))
          .groupBy("media_id")
          .agg(count(lit(1)).as("n_bits"),
            expr("concat_ws('', transform(array_sort(" +
              "collect_list(struct(frame_idx, b))), s -> s.b))")
              .as("fingerprint"),
            sum(when(col("b") === "1", 1L).otherwise(0L)).as("n_ones"))
          .orderBy("media_id")
      },
      Some("""WITH s AS (SELECT doc_id,
            (t.i * 37 + doc_id) % 2048 - 1024 AS v,
            t.i // 32 AS frame_idx
          FROM documents, UNNEST(range(0, 256)) AS t(i)
          WHERE doc_id % 3 = 1),
        fr AS (SELECT doc_id, frame_idx, sum(v * v) AS ssq
          FROM s GROUP BY 1, 2),
        b AS (SELECT doc_id, frame_idx,
            CASE WHEN ssq > lead(ssq) OVER w THEN '1' ELSE '0' END AS bb,
            lead(ssq) OVER w IS NOT NULL AS has
          FROM fr WINDOW w AS (PARTITION BY doc_id ORDER BY frame_idx))
        SELECT doc_id AS media_id, CAST(count(*) AS BIGINT) AS n_bits,
          string_agg(bb, '' ORDER BY frame_idx) AS fingerprint,
          CAST(sum(CASE WHEN bb = '1' THEN 1 ELSE 0 END) AS BIGINT)
            AS n_ones
        FROM b WHERE has GROUP BY 1 ORDER BY 1""")),

    // The END-TO-END visual dedup pipeline — what an image corpus
    // actually runs: real codec decode → dHash fingerprints (q184) →
    // banded near-dup pairs (q185) → connected components
    // (large-star/small-star, q70's machinery) → min-id canonical per
    // cluster. Every stage is individually oracle-checked; this query
    // hash-checks their COMPOSITION, cluster sizes included. Payloads
    // never shuffle (decode is map-side); pairing touches distinct
    // hash values only; CC is O(log² n) rounds of keyed joins.
    Q("q192_image_dedup_pipeline",
      (s, dir) => {
        val media = Multimodal.packEncodedMedia(
          Tables.load(s, dir, "documents")
            .filter(col("doc_id") % 3 =!= 1))
        // two consumers over the full encode+decode subtree — the
        // near-dup pairing AND the node universe (isolated images
        // must come back as singleton clusters); without the persist
        // the corpus decodes twice
        val hashes = Multimodal.dHash(media).toDF().persist()
        // edge variant, NOT the full pair list: components are the
        // deliverable here, and the m² duplicate cliques the pair
        // contract implies grew shuffle 94× on 10×-replicated data
        // (PLANS.md r14 scale proof); stars + rep edges span the
        // identical components with linear edge growth
        val pairs = Multimodal.dHashNearDupEdges(hashes, bands = 4,
          maxHamming = 3)
        val cc = graft.operators.ConnectedComponents.components(
          pairs, "media_a", "media_b",
          nodes = Some(hashes.select(col("media_id"))))
        val sizes = cc.groupBy("component")
          .agg(count(lit(1)).as("cluster_size"))
        cc.join(sizes, "component")
          .select(col("node").as("media_id"),
            col("component").as("cluster_id"), col("cluster_size"),
            (col("node") === col("component")).as("is_canonical"))
          .orderBy("media_id")
      },
      Some("""WITH RECURSIVE g AS (SELECT doc_id,
            CASE WHEN doc_id % 3 = 0 THEN 16 ELSE 8 END AS w,
            CASE WHEN doc_id % 3 = 0 THEN 31 ELSE 13 END AS mul
          FROM documents WHERE doc_id % 3 <> 1),
        bits AS (SELECT doc_id, p,
            CASE WHEN
              (((((p // (w-1)) * w + (p % (w-1))) * 3 + 1) * mul
                + doc_id) % 256)
              >
              (((((p // (w-1)) * w + (p % (w-1)) + 1) * 3 + 1) * mul
                + doc_id) % 256)
            THEN '1' ELSE '0' END AS b
          FROM g, UNNEST(range(0, 8 * (w - 1))) AS t(p)),
        h AS (SELECT doc_id AS media_id,
            string_agg(b, '' ORDER BY p) AS dh
          FROM bits GROUP BY 1),
        bands AS (SELECT media_id, dh, len(dh) AS l, t.b,
            substring(dh, CAST(b * (len(dh) // 4) + 1 AS INTEGER),
              CAST(len(dh) // 4 AS INTEGER)) AS bkey
          FROM h, UNNEST(range(0, 4)) AS t(b)),
        cand AS (SELECT DISTINCT a.media_id AS media_a,
            b.media_id AS media_b, a.dh AS da, b.dh AS db, a.l AS l
          FROM bands a JOIN bands b
            ON a.l = b.l AND a.b = b.b AND a.bkey = b.bkey
              AND a.media_id < b.media_id),
        ham AS (SELECT media_a, media_b,
            CAST(sum(CASE WHEN substring(da, CAST(j AS INTEGER), 1)
                <> substring(db, CAST(j AS INTEGER), 1)
              THEN 1 ELSE 0 END) AS BIGINT) AS hamming
          FROM cand, UNNEST(range(1, l + 1)) AS t(j)
          GROUP BY 1, 2),
        pairs AS (SELECT media_a, media_b FROM ham WHERE hamming <= 3),
        edges AS (SELECT media_a AS s, media_b AS d FROM pairs
          UNION ALL SELECT media_b, media_a FROM pairs),
        reach(node, lab) AS (
          SELECT media_id, media_id FROM h
          UNION
          SELECT e.d, r.lab FROM reach r JOIN edges e ON e.s = r.node),
        cl AS (SELECT node AS media_id, min(lab) AS cluster_id
          FROM reach GROUP BY 1),
        sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT)
            AS cluster_size
          FROM cl GROUP BY 1)
        SELECT cl.media_id, cl.cluster_id, sz.cluster_size,
          cl.media_id = cl.cluster_id AS is_canonical
        FROM cl JOIN sz USING (cluster_id)
        ORDER BY cl.media_id""")),

    // REAL JPEG decode end-to-end (JpegCodec — baseline DCT, huffman,
    // both 4:4:4 and 4:2:0): each doc packs a solid-color JPEG whose
    // color/dims derive from doc_id alone, the pipeline decodes actual
    // entropy-coded bytes, and the oracle predicts every output column
    // from first principles: dims from the header contract, and the
    // pixel-mean BUCKET from the source color — sound because a solid
    // block's roundtrip error is bounded by DC quantization (≤ 2,
    // JpegCodecSpec), and the color list keeps ≥ 3 from every bucket
    // boundary. A single wrong huffman bit or IDCT sign error lands
    // pixels in another bucket and fails the hash. Map-side only.
    Q("q213_jpeg_decode",
      (s, dir) => {
        import s.implicits._
        val colors = Array(40, 70, 100, 135, 165, 200, 230)
        val media = graft.sources.ScanSpread
          .spread(Tables.load(s, dir, "documents"))
          .select(col("doc_id")).as[Long].mapPartitions { ids =>
            ids.map { id =>
              val c = colors(((id % 7 + 7) % 7).toInt)
              val w = 16
              val h = if (id % 2 == 0) 8 else 16
              val rgb = Array.fill(w * h * 3)(c.toByte)
              Multimodal.MediaRow(id, "image",
                graft.operators.JpegCodec.encode(
                  graft.operators.MediaCodecs.Image(w, h, rgb),
                  quality = 90, subsample420 = id % 2 == 0), w, h)
            }
          }
        Multimodal.decodeStats(media).toDF()
          .select(col("media_id"), col("format"),
            col("dim1").cast("long").as("width"),
            col("dim2").cast("long").as("height"),
            col("n_units"),
            floor(col("mean_value") / 32).cast("long").as("mean_bucket"))
          .orderBy("media_id")
      },
      Some("""SELECT doc_id AS media_id, 'jpeg' AS format,
          CAST(16 AS BIGINT) AS width,
          CAST(CASE WHEN doc_id % 2 = 0 THEN 8 ELSE 16 END AS BIGINT)
            AS height,
          CAST(16 * (CASE WHEN doc_id % 2 = 0 THEN 8 ELSE 16 END) * 3
            AS BIGINT) AS n_units,
          CAST((CASE CAST(doc_id % 7 AS INTEGER)
            WHEN 0 THEN 40 WHEN 1 THEN 70 WHEN 2 THEN 100 WHEN 3 THEN 135
            WHEN 4 THEN 165 WHEN 5 THEN 200 ELSE 230 END) // 32 AS BIGINT)
            AS mean_bucket
        FROM documents ORDER BY media_id""")),

    // REAL compressed audio (G.711 μ-law, format-7 WAV) end-to-end:
    // constant-level payloads encode through the real companding path
    // and the ORACLE re-derives the expected decoded level from the
    // published G.711 formula itself — exponent via floor(log2),
    // mantissa via shifts — so Spark's byte-level decoder is checked
    // against an INDEPENDENT SQL statement of the same standard, not
    // against itself. A constant signal makes the decoded mean exactly
    // the companded level (one code repeated), so the compare is
    // bit-exact, no buckets needed. IMA ADPCM (the other compressed
    // WAV path) drifts ±(step>>3) on constants, so its proof lives in
    // AudioCodecSpec instead.
    Q("q214_mulaw_audio",
      (s, dir) => {
        import s.implicits._
        val media = Tables.load(s, dir, "documents")
          .filter(col("doc_id") % 3 === 1)
          .select(col("doc_id")).as[Long].mapPartitions { ids =>
            ids.map { id =>
              val c = ((id * 131) % 60001 - 30000).toShort
              val samples = Array.fill[Short](240)(c)
              Multimodal.MediaRow(id, "audio",
                graft.operators.MediaCodecs.encodeMulawWav(
                  graft.operators.MediaCodecs.Audio(8000, 1, samples)),
                0, 0)
            }
          }
        Multimodal.decodeStats(media).toDF()
          .select(col("media_id"), col("format"),
            col("dim1").cast("long").as("sample_rate"),
            col("dim2").cast("long").as("channels"),
            col("n_units"),
            col("mean_value").as("decoded_level"))
          .orderBy("media_id")
      },
      Some("""WITH src AS (SELECT doc_id,
            (doc_id * 131) % 60001 - 30000 AS c
          FROM documents WHERE doc_id % 3 = 1),
        e1 AS (SELECT doc_id, c,
            LEAST(abs(c), 32635) + 132 AS m FROM src),
        e2 AS (SELECT doc_id, c, m,
            CAST(floor(log2(m)) AS BIGINT) - 7 AS expo FROM e1),
        e3 AS (SELECT doc_id, c, expo,
            (m >> CAST(expo + 3 AS INTEGER)) & 15 AS mant FROM e2),
        d AS (SELECT doc_id, c,
            ((mant * 8 + 132) << CAST(expo AS INTEGER)) - 132 AS mag
          FROM e3)
        SELECT doc_id AS media_id, 'wav' AS format,
          CAST(8000 AS BIGINT) AS sample_rate,
          CAST(1 AS BIGINT) AS channels,
          CAST(240 AS BIGINT) AS n_units,
          CAST(CASE WHEN c < 0 THEN -mag ELSE mag END AS DOUBLE)
            AS decoded_level
        FROM d ORDER BY media_id""")),

    // REAL lossless compressed audio (FLAC — fixed predictors + Rice
    // residuals + CRC-8/16, FlacCodec) end-to-end: formula-generated
    // samples encode through the actual bit-level compressor and the
    // oracle regenerates every sample from the closed form — because
    // FLAC is LOSSLESS the decoded mean must equal the formula mean
    // EXACTLY, so unlike q213/q214 there is no quantization bound in
    // the contract at all: one wrong Rice bit anywhere in 300 samples
    // x 167 docs breaks the hash. Map-side only, like all codec paths.
    Q("q217_flac_audio",
      (s, dir) => {
        import s.implicits._
        val media = Tables.load(s, dir, "documents")
          .filter(col("doc_id") % 3 === 2)
          .select(col("doc_id")).as[Long].mapPartitions { ids =>
            ids.map { id =>
              val samples = Array.tabulate[Short](300)(i =>
                (((i * 37 + id) % 2048) - 1024).toShort)
              Multimodal.MediaRow(id, "audio",
                graft.operators.FlacCodec.encode(
                  graft.operators.MediaCodecs.Audio(8000, 1, samples)),
                0, 0)
            }
          }
        Multimodal.decodeStats(media).toDF()
          .select(col("media_id"), col("format"),
            col("dim1").cast("long").as("sample_rate"),
            col("dim2").cast("long").as("channels"),
            col("n_units"),
            col("mean_value").as("mean_level"))
          .orderBy("media_id")
      },
      Some("""WITH src AS (SELECT doc_id FROM documents
          WHERE doc_id % 3 = 2),
        s AS (SELECT doc_id, ((t.i * 37 + doc_id) % 2048) - 1024 AS v
          FROM src, UNNEST(range(0, 300)) AS t(i))
        SELECT doc_id AS media_id, 'flac' AS format,
          CAST(8000 AS BIGINT) AS sample_rate,
          CAST(1 AS BIGINT) AS channels,
          CAST(300 AS BIGINT) AS n_units,
          CAST(sum(v) AS DOUBLE) / 300.0 AS mean_level
        FROM s GROUP BY doc_id ORDER BY media_id""")),

    // REAL MPEG-1 Layer III audio (Mp3Codec) end-to-end — retires the
    // last lossy-audio stub: constant-level payloads encode through
    // actual Layer III frames (real header/side-info/Huffman bit
    // packing, power-law quantization) and decode back through the
    // full bitstream parse. A constant granule concentrates into ONE
    // spectral coefficient, so the roundtrip error is bounded by a
    // single quantization step (≤ 2, Mp3CodecSpec) — the oracle
    // predicts the decoded-mean BUCKET from the source level exactly,
    // with levels pinned to bucket centers (level = k·64 + 32, margin
    // 30 ≫ 2). One flipped Huffman bit, a wrong side-info width, or a
    // requantization-law error lands the mean in another bucket and
    // breaks the hash. Map-side only, like every codec path.
    Q("q219_mp3_audio",
      (s, dir) => {
        import s.implicits._
        val media = graft.sources.ScanSpread
          .spread(Tables.load(s, dir, "documents"))
          .filter(col("doc_id") % 3 === 0)
          .select(col("doc_id")).as[Long].mapPartitions { ids =>
            ids.map { id =>
              val level = (((id * 173) % 380) * 64 + 32).toShort
              val samples = Array.fill[Short](1152)(level)
              Multimodal.MediaRow(id, "audio",
                graft.operators.Mp3Codec.encode(
                  graft.operators.MediaCodecs.Audio(32000, 1, samples)),
                0, 0)
            }
          }
        Multimodal.decodeStats(media).toDF()
          .select(col("media_id"), col("format"),
            col("dim1").cast("long").as("sample_rate"),
            col("dim2").cast("long").as("channels"),
            col("n_units"),
            floor(col("mean_value") / 64).cast("long").as("mean_bucket"))
          .orderBy("media_id")
      },
      Some("""SELECT doc_id AS media_id, 'mp3' AS format,
          CAST(32000 AS BIGINT) AS sample_rate,
          CAST(1 AS BIGINT) AS channels,
          CAST(1152 AS BIGINT) AS n_units,
          CAST((doc_id * 173) % 380 AS BIGINT) AS mean_bucket
        FROM documents WHERE doc_id % 3 = 0 ORDER BY media_id""")),

    // REAL video (MJPEG-in-AVI, VideoCodec) end-to-end — retires the
    // video stub family: each doc packs an actual AVI container
    // (RIFF hdrl/movi/idx1, per-frame baseline JPEG) with 2–4
    // solid-color frames, and the pipeline walks the real container,
    // decodes every frame's entropy-coded bytes, and explodes to one
    // row per frame. The oracle predicts frame count, fps (from the
    // strh rate/scale header), dims, and each frame's pixel-mean
    // BUCKET from first principles — sound because a solid block's
    // JPEG roundtrip error is bounded by DC quantization (≤ 2,
    // JpegCodecSpec) and the q213 color list keeps ≥ 3 from every
    // bucket boundary. A wrong chunk offset, a swapped frame order, a
    // mis-read header field, or one bad huffman bit in any frame
    // breaks the hash. Map-side only: payloads never shuffle.
    Q("q220_video_frames",
      (s, dir) => {
        import s.implicits._
        val colors = Array(40, 70, 100, 135, 165, 200, 230)
        val media = graft.sources.ScanSpread
          .spread(Tables.load(s, dir, "documents"))
          .filter(col("doc_id") % 3 === 2)
          .select(col("doc_id")).as[Long].mapPartitions { ids =>
            ids.map { id =>
              val n = (2 + id % 3).toInt
              val w = 16
              val h = if (id % 2 == 0) 8 else 16
              val frames = (0 until n).map { f =>
                val c = colors(((id + 13 * f) % 7).toInt)
                graft.operators.MediaCodecs.Image(
                  w, h, Array.fill(w * h * 3)(c.toByte))
              }
              val fps = (10 + id % 21).toInt
              Multimodal.MediaRow(id, "video",
                graft.operators.VideoCodec.encodeAviMjpeg(
                  fps, frames, quality = 90, subsample420 = id % 2 == 0),
                w, h)
            }
          }
        Multimodal.videoFrameStats(media).toDF()
          .select(col("media_id"), col("frame_idx"),
            col("fps").cast("long").as("fps"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"),
            floor(col("mean_value") / 32).cast("long").as("mean_bucket"))
          .orderBy("media_id", "frame_idx")
      },
      Some("""WITH src AS (SELECT doc_id, 2 + doc_id % 3 AS n
            FROM documents WHERE doc_id % 3 = 2),
          f AS (SELECT doc_id, t.f FROM src,
            UNNEST(range(0, n)) AS t(f))
        SELECT doc_id AS media_id, CAST(f AS BIGINT) AS frame_idx,
          CAST(10 + doc_id % 21 AS BIGINT) AS fps,
          CAST(16 AS BIGINT) AS width,
          CAST(CASE WHEN doc_id % 2 = 0 THEN 8 ELSE 16 END AS BIGINT)
            AS height,
          CAST((CASE CAST((doc_id + 13 * f) % 7 AS INTEGER)
            WHEN 0 THEN 40 WHEN 1 THEN 70 WHEN 2 THEN 100 WHEN 3 THEN 135
            WHEN 4 THEN 165 WHEN 5 THEN 200 ELSE 230 END) // 32 AS BIGINT)
            AS mean_bucket
        FROM f ORDER BY media_id, frame_idx""")),

    // Video DEDUP across re-encodes — the multimodal op a byte hash
    // cannot do: members of each footage group (gid = doc_id % 40)
    // carry the SAME frame sequence but different JPEG quality
    // (90 vs 75 → different payload bytes) and a ±1 brightness jitter,
    // so exact-byte dedup finds nothing while the temporal perceptual
    // hash (sign of adjacent-frame mean deltas, videoTemporalHash)
    // clusters them exactly. Sound as an oracle contract because
    // adjacent frames always differ by ≥ 30 gray levels (the (gid+3f)%7
    // color walk never repeats consecutively) while re-encode error is
    // ≤ 2 and the jitter shifts both frames together — the delta SIGN
    // is deterministic from the source formula. Clustering is ONE
    // keyed window over (n_frames, thash): per-key state is bounded by
    // the duplicate-group width (the same bound every dedup op here
    // carries), no broadcast assumption on the cluster count, and
    // payloads stay map-side — only fingerprint rows shuffle.
    Q("q221_video_dedup",
      (s, dir) => {
        import s.implicits._
        val colors = Array(40, 70, 100, 135, 165, 200, 230)
        val media = graft.sources.ScanSpread
          .spread(Tables.load(s, dir, "documents"))
          .filter(col("doc_id") % 3 === 1)
          .select(col("doc_id")).as[Long].mapPartitions { ids =>
            ids.map { id =>
              val gid = (id % 40).toInt
              val n = 6 + gid % 4
              val bright = (id % 2).toInt
              val q = if (id % 4 < 2) 90 else 75
              val frames = (0 until n).map { f =>
                val c = colors((gid + 3 * f) % 7) + bright
                graft.operators.MediaCodecs.Image(
                  16, 8, Array.fill(16 * 8 * 3)(c.toByte))
              }
              Multimodal.MediaRow(id, "video",
                graft.operators.VideoCodec.encodeAviMjpeg(
                  12, frames, quality = q), 16, 8)
            }
          }
        val fp = Multimodal.videoTemporalHash(media).toDF()
          .select(col("media_id"), col("n_frames"), col("thash"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("n_frames", "thash")
        fp.withColumn("cluster_id", min(col("media_id")).over(w))
          .withColumn("cluster_size", count(lit(1)).over(w))
          .select(col("media_id"), col("n_frames"), col("thash"),
            col("cluster_id"), col("cluster_size"),
            (col("media_id") === col("cluster_id")).as("is_canonical"))
          .orderBy("media_id")
      },
      Some("""WITH src AS (SELECT doc_id,
            CAST(doc_id % 40 AS INTEGER) AS gid,
            6 + CAST(doc_id % 40 AS INTEGER) % 4 AS n
          FROM documents WHERE doc_id % 3 = 1),
        bits AS (SELECT doc_id, n, t.f,
            CASE WHEN (CASE (gid + 3 * CAST(f AS INTEGER)) % 7
                WHEN 0 THEN 40 WHEN 1 THEN 70 WHEN 2 THEN 100
                WHEN 3 THEN 135 WHEN 4 THEN 165 WHEN 5 THEN 200
                ELSE 230 END)
              > (CASE (gid + 3 * (CAST(f AS INTEGER) + 1)) % 7
                WHEN 0 THEN 40 WHEN 1 THEN 70 WHEN 2 THEN 100
                WHEN 3 THEN 135 WHEN 4 THEN 165 WHEN 5 THEN 200
                ELSE 230 END)
              THEN '1' ELSE '0' END AS b
          FROM src, UNNEST(range(0, n - 1)) AS t(f)),
        h AS (SELECT doc_id, n, string_agg(b, '' ORDER BY f) AS thash
          FROM bits GROUP BY 1, 2),
        cl AS (SELECT n, thash, min(doc_id) AS cluster_id,
            CAST(count(*) AS BIGINT) AS cluster_size
          FROM h GROUP BY 1, 2)
        SELECT h.doc_id AS media_id, CAST(h.n AS BIGINT) AS n_frames,
          h.thash, cl.cluster_id, cl.cluster_size,
          h.doc_id = cl.cluster_id AS is_canonical
        FROM h JOIN cl ON h.n = cl.n AND h.thash = cl.thash
        ORDER BY media_id""")),

    // Video SCENE SEGMENTATION (shot-boundary detection) — the
    // frame-sampling op a video training pipeline runs before clip
    // extraction: decode every frame, then cut wherever the mean
    // luminance jumps (|Δ| > 16 between adjacent frames) and emit one
    // row per detected shot. Each video is built as S shots × L
    // near-identical frames; within a shot the decoded means differ
    // only by the ≤2 DC-quantization wobble while shot boundaries jump
    // ≥ 26 (adjacent shots are ≥ 30 gray levels apart by the color
    // walk), so the cut predicate is deterministic — but the ORACLE
    // only states the resulting segmentation (s·L … s·L+L−1), so a
    // missed cut, a spurious cut, or an off-by-one frame order breaks
    // the hash. Plan shape: map-side decode/explode, ONE keyed
    // exchange on media_id — the lag window and the (media_id,
    // shot_id) aggregate both ride it (subset-clustered), payloads
    // never shuffle.
    Q("q222_video_scenes",
      (s, dir) => {
        import s.implicits._
        val colors = Array(40, 70, 100, 135, 165, 200, 230)
        val media = graft.sources.ScanSpread
          .spread(Tables.load(s, dir, "documents"))
          .filter(col("doc_id") % 3 === 0)
          .select(col("doc_id")).as[Long].mapPartitions { ids =>
            ids.map { id =>
              val gid = (id % 9).toInt
              val shotLen = (3 + id % 2).toInt
              val nShots = (2 + id % 3).toInt
              val frames = (0 until shotLen * nShots).map { f =>
                val c = colors((gid + 2 * (f / shotLen)) % 7)
                graft.operators.MediaCodecs.Image(
                  16, 8, Array.fill(16 * 8 * 3)(c.toByte))
              }
              Multimodal.MediaRow(id, "video",
                graft.operators.VideoCodec.encodeAviMjpeg(
                  8, frames, quality = 90), 16, 8)
            }
          }
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("media_id").orderBy("frame_idx")
        Multimodal.videoFrameStats(media).toDF()
          .withColumn("prev_mean", lag(col("mean_value"), 1).over(w))
          .withColumn("is_cut", when(col("prev_mean").isNull ||
            abs(col("mean_value") - col("prev_mean")) > 16, 1L)
            .otherwise(0L))
          .withColumn("shot_id", sum(col("is_cut")).over(
            w.rowsBetween(Long.MinValue, 0)) - 1)
          .groupBy(col("media_id"), col("shot_id"))
          .agg(min(col("frame_idx")).as("frame_start"),
            max(col("frame_idx")).as("frame_end"),
            count(lit(1)).as("n_frames"))
          .orderBy("media_id", "shot_id")
      },
      Some("""WITH src AS (SELECT doc_id,
            3 + doc_id % 2 AS len, 2 + doc_id % 3 AS shots
          FROM documents WHERE doc_id % 3 = 0)
        SELECT doc_id AS media_id, CAST(t.s AS BIGINT) AS shot_id,
          CAST(t.s * len AS BIGINT) AS frame_start,
          CAST(t.s * len + len - 1 AS BIGINT) AS frame_end,
          CAST(len AS BIGINT) AS n_frames
        FROM src, UNNEST(range(0, shots)) AS t(s)
        ORDER BY media_id, shot_id""")),

    // A/V SYNC AUDIT over REAL dual-stream AVI (interleaved MJPEG +
    // PCM, VideoCodec's mux) — the drift gate a video training
    // pipeline runs before pairing audio with frames: per container,
    // decode both tracks, derive each track's duration from its OWN
    // header+payload (video: frames/fps; audio: samples/rate), and
    // flag containers whose audio runs long (every 5th doc muxes 200
    // extra samples → 50 ms drift; the rest are exact). The
    // position-weighted sample sum makes the '01wb' interleave
    // reassembly order load-bearing: PCM is lossless so the oracle
    // states Σ i·s[i] exactly — a swapped or dropped audio chunk
    // changes it even though the sample multiset survives. Map-side
    // decode; only per-container stat rows flow on.
    Q("q223_av_sync",
      (s, dir) => {
        import s.implicits._
        val colors = Array(40, 70, 100, 135, 165, 200, 230)
        val media = graft.sources.ScanSpread
          .spread(Tables.load(s, dir, "documents"))
          .filter(col("doc_id") % 3 === 1)
          .select(col("doc_id")).as[Long].mapPartitions { ids =>
            ids.map { id =>
              val nf = (2 + id % 3).toInt
              val extra = if (id % 5 == 0) 200 else 0
              val n = nf * 800 + extra
              val samples = Array.tabulate[Short](n)(i =>
                (((i * 37 + id) % 2048) - 1024).toShort)
              val frames = (0 until nf).map { f =>
                val c = colors(((id + f) % 7).toInt)
                graft.operators.MediaCodecs.Image(
                  16, 8, Array.fill(16 * 8 * 3)(c.toByte))
              }
              Multimodal.MediaRow(id, "video",
                graft.operators.VideoCodec.encodeAviMjpeg(
                  5, frames, quality = 90,
                  audio = Some(graft.operators.MediaCodecs.Audio(
                    4000, 1, samples))), 16, 8)
            }
          }
        Multimodal.avStats(media).toDF()
          .select(col("media_id"), col("n_frames"),
            col("fps").cast("long").as("fps"),
            col("sample_rate").cast("long").as("sample_rate"),
            col("n_samples"),
            (col("n_frames") * 1000 / col("fps")).cast("long")
              .as("video_ms"),
            (col("n_samples") * 1000 / col("sample_rate")).cast("long")
              .as("audio_ms"),
            col("audio_weighted"))
          .withColumn("drift_ms", col("audio_ms") - col("video_ms"))
          .withColumn("in_sync", abs(col("drift_ms")) <= 25)
          .orderBy("media_id")
      },
      Some("""WITH src AS (SELECT doc_id, 2 + doc_id % 3 AS nf,
            (2 + doc_id % 3) * 800 +
              CASE WHEN doc_id % 5 = 0 THEN 200 ELSE 0 END AS ns
          FROM documents WHERE doc_id % 3 = 1),
        wsum AS (SELECT doc_id,
            CAST(sum(t.i * (((t.i * 37 + doc_id) % 2048) - 1024))
              AS BIGINT) AS audio_weighted
          FROM src, UNNEST(range(0, ns)) AS t(i) GROUP BY 1)
        SELECT s.doc_id AS media_id, CAST(nf AS BIGINT) AS n_frames,
          CAST(5 AS BIGINT) AS fps, CAST(4000 AS BIGINT) AS sample_rate,
          CAST(ns AS BIGINT) AS n_samples,
          CAST(nf * 200 AS BIGINT) AS video_ms,
          CAST(ns // 4 AS BIGINT) AS audio_ms,
          w.audio_weighted,
          CAST(ns // 4 - nf * 200 AS BIGINT) AS drift_ms,
          (abs(ns // 4 - nf * 200) <= 25) AS in_sync
        FROM src s JOIN wsum w ON s.doc_id = w.doc_id
        ORDER BY media_id""")),

    // REAL pixel resize — the training-pipeline preprocessing verb the
    // metadata-only resizeMeta stubs. Decode (BMP/PNG/PPM) → integer
    // box-filter downsample by 4 → re-encode BMP → decode again → emit
    // the resized raster pixel by pixel, all map-side inside one
    // mapPartitions batch. The oracle recomputes EVERY output channel
    // from the closed-form generating pixels: floor-mean over each 4×4
    // input block — so the box-filter arithmetic, the channel
    // interleave, the re-encode byte layout (row padding, BGR order,
    // bottom-up flip) and the second decode all sit under one hash.
    // Audio docs (doc_id % 3 = 1) don't decode as images and are
    // skipped; both image widths (16 → out 4×2, 8 → out 2×2) appear.
    Q("q227_image_resize",
      (s, dir) => {
        val media = Multimodal.packEncodedMedia(
          Tables.load(s, dir, "documents"))
        Multimodal.resizePixels(media, 4).toDF()
          .orderBy("media_id", "oy", "ox")
      },
      Some("""WITH img AS (SELECT doc_id,
            CASE WHEN doc_id % 6 = 0 THEN 'bmp'
                 WHEN doc_id % 3 = 0 THEN 'png'
                 ELSE 'ppm' END AS format,
            CASE WHEN doc_id % 3 = 0 THEN 16 ELSE 8 END AS w,
            CASE WHEN doc_id % 3 = 0 THEN 31 ELSE 13 END AS mult
          FROM documents WHERE doc_id % 3 <> 1),
        cells AS (SELECT doc_id, format, w, mult,
            t_ox.ox, t_oy.oy, t_dx.dx, t_dy.dy
          FROM img,
            generate_series(0, 3) AS t_ox(ox),
            generate_series(0, 1) AS t_oy(oy),
            generate_series(0, 3) AS t_dx(dx),
            generate_series(0, 3) AS t_dy(dy)
          WHERE t_ox.ox < w // 4)
        SELECT doc_id AS media_id, format,
          CAST(w // 4 AS INTEGER) AS out_w, CAST(2 AS INTEGER) AS out_h,
          CAST(ox AS INTEGER) AS ox, CAST(oy AS INTEGER) AS oy,
          CAST(sum(((((oy * 4 + dy) * w + ox * 4 + dx) * 3 + 0) * mult
            + doc_id) % 256) // 16 AS INTEGER) AS r,
          CAST(sum(((((oy * 4 + dy) * w + ox * 4 + dx) * 3 + 1) * mult
            + doc_id) % 256) // 16 AS INTEGER) AS g,
          CAST(sum(((((oy * 4 + dy) * w + ox * 4 + dx) * 3 + 2) * mult
            + doc_id) % 256) // 16 AS INTEGER) AS b
        FROM cells
        GROUP BY doc_id, format, w, ox, oy
        ORDER BY media_id, oy, ox""")),

    // REAL audio resample — decimate the 8 kHz WAV fixtures by 4 to
    // 2 kHz: per-block truncating-division means in exact integer
    // arithmetic, re-encoded and decoded again (the resizePixels
    // discipline). The oracle regenerates every decimated sample from
    // the closed-form signal; the position-weighted checksum pins
    // sample ORDER through the WAV round-trip, and the negative
    // sample values keep the truncation-toward-zero contract (both
    // engines' integer division) under the hash.
    Q("q231_audio_resample",
      (s, dir) => {
        val media = Multimodal.packEncodedMedia(
          Tables.load(s, dir, "documents"))
        Multimodal.resampleAudio(media, 4).toDF()
          .orderBy("media_id")
      },
      Some("""WITH au AS (SELECT doc_id FROM documents
            WHERE doc_id % 3 = 1),
        v AS (SELECT doc_id, b.j,
            CAST(sum(((4 * b.j + d.d) * 37 + doc_id) % 2048 - 1024)
              AS BIGINT) // 4 AS val
          FROM au, generate_series(0, 63) b(j),
            generate_series(0, 3) d(d)
          GROUP BY 1, 2)
        SELECT doc_id AS media_id, 'wav' AS format,
          CAST(2000 AS INTEGER) AS out_rate,
          CAST(1 AS INTEGER) AS channels,
          CAST(64 AS BIGINT) AS out_n,
          CAST(sum(val) AS BIGINT) AS out_sum,
          CAST(sum((j + 1) * val) AS BIGINT) AS checksum,
          CAST(sum(val) AS BIGINT) / 64.0 AS mean
        FROM v GROUP BY doc_id ORDER BY media_id""")),

    // HOG-style edge-orientation histograms over DECODED pixels: the
    // oracle replays the central-difference gradients, the 4-bin
    // orientation quantization and the per-bin magnitude sums from
    // the closed-form pixel formula — decode (both compressed and
    // raw codecs), channel addressing, and the binning rule all sit
    // under one hash. Map-side; one row per image.
    Q("q234_edge_histogram",
      (s, dir) => {
        val media = Multimodal.packEncodedMedia(
          Tables.load(s, dir, "documents"))
        Multimodal.edgeHistogram(media).toDF()
          .orderBy("media_id")
      },
      Some("""WITH img AS (SELECT doc_id,
            CASE WHEN doc_id % 6 = 0 THEN 'bmp'
                 WHEN doc_id % 3 = 0 THEN 'png'
                 ELSE 'ppm' END AS format,
            CASE WHEN doc_id % 3 = 0 THEN 16 ELSE 8 END AS w,
            CASE WHEN doc_id % 3 = 0 THEN 31 ELSE 13 END AS mult
          FROM documents WHERE doc_id % 3 <> 1),
        cells AS (SELECT doc_id, format, w, mult, x.x AS x, y.y AS y
          FROM img, generate_series(1, 14) x(x),
            generate_series(1, 6) y(y)
          WHERE x.x < w - 1),
        g AS (SELECT doc_id, format,
            ((((y * w + x + 1) * 3 + 1) * mult + doc_id) % 256)
              - ((((y * w + x - 1) * 3 + 1) * mult + doc_id) % 256)
              AS gx,
            (((((y + 1) * w + x) * 3 + 1) * mult + doc_id) % 256)
              - (((((y - 1) * w + x) * 3 + 1) * mult + doc_id) % 256)
              AS gy
          FROM cells),
        binned AS (SELECT doc_id, format,
            CASE WHEN abs(gx) >= 2 * abs(gy) THEN 0
                 WHEN abs(gy) >= 2 * abs(gx) THEN 1
                 WHEN gx * gy > 0 THEN 2 ELSE 3 END AS bin,
            abs(gx) + abs(gy) AS mag
          FROM g)
        SELECT doc_id AS media_id, format,
          CAST(count(*) AS BIGINT) AS n_interior,
          CAST(count(*) FILTER (bin = 0) AS BIGINT) AS b0,
          CAST(count(*) FILTER (bin = 1) AS BIGINT) AS b1,
          CAST(count(*) FILTER (bin = 2) AS BIGINT) AS b2,
          CAST(count(*) FILTER (bin = 3) AS BIGINT) AS b3,
          CAST(coalesce(sum(mag) FILTER (bin = 0), 0) AS BIGINT) AS mag0,
          CAST(coalesce(sum(mag) FILTER (bin = 1), 0) AS BIGINT) AS mag1,
          CAST(coalesce(sum(mag) FILTER (bin = 2), 0) AS BIGINT) AS mag2,
          CAST(coalesce(sum(mag) FILTER (bin = 3), 0) AS BIGINT) AS mag3
        FROM binned GROUP BY 1, 2 ORDER BY media_id""")),

    // Deterministic image augmentation: horizontal flip + top-left
    // 8×4 crop, re-encoded and decoded again. The position-weighted
    // checksum pins flip ORIENTATION and crop OFFSETS — a reflected
    // or shifted window has the same pixel multiset but a different
    // checksum. The oracle recomputes every channel from the closed
    // form with the mirrored source column (w-1-x).
    Q("q246_image_flip_crop",
      (s, dir) => {
        val media = Multimodal.packEncodedMedia(
          Tables.load(s, dir, "documents"))
        Multimodal.flipCrop(media, cw = 8, ch = 4).toDF()
          .orderBy("media_id")
      },
      Some("""WITH img AS (SELECT doc_id,
            CASE WHEN doc_id % 6 = 0 THEN 'bmp'
                 WHEN doc_id % 3 = 0 THEN 'png'
                 ELSE 'ppm' END AS format,
            CASE WHEN doc_id % 3 = 0 THEN 16 ELSE 8 END AS w,
            CASE WHEN doc_id % 3 = 0 THEN 31 ELSE 13 END AS mult
          FROM documents WHERE doc_id % 3 <> 1),
        px AS (SELECT doc_id, format, y.y * 8 + x.x AS i,
            ((((y.y * w + (w - 1 - x.x)) * 3 + 0) * mult + doc_id)
              % 256) AS r,
            ((((y.y * w + (w - 1 - x.x)) * 3 + 1) * mult + doc_id)
              % 256) AS g,
            ((((y.y * w + (w - 1 - x.x)) * 3 + 2) * mult + doc_id)
              % 256) AS b
          FROM img, generate_series(0, 7) x(x),
            generate_series(0, 3) y(y))
        SELECT doc_id AS media_id, format,
          CAST(8 AS INTEGER) AS out_w, CAST(4 AS INTEGER) AS out_h,
          CAST(sum(r) AS BIGINT) AS sum_r,
          CAST(sum(g) AS BIGINT) AS sum_g,
          CAST(sum(b) AS BIGINT) AS sum_b,
          CAST(sum((i + 1) * (r + 2 * g + 3 * b)) AS BIGINT)
            AS pos_checksum
        FROM px GROUP BY 1, 2 ORDER BY media_id""")),

    // Deterministic audio augmentation: integer gain 81/2 (truncating
    // division — the engines' shared contract) with int16 clipping,
    // through a WAV round-trip. The fixture's ±1024 samples make the
    // clip genuinely bite (|s| ≥ 810 clips), so the clip counter and
    // the clipped checksums are non-trivial under the hash.
    Q("q247_audio_gain_clip",
      (s, dir) => {
        val media = Multimodal.packEncodedMedia(
          Tables.load(s, dir, "documents"))
        Multimodal.gainClip(media, num = 81L, den = 2L).toDF()
          .orderBy("media_id")
      },
      Some("""WITH au AS (SELECT doc_id FROM documents
            WHERE doc_id % 3 = 1),
        sm AS (SELECT doc_id, t.i,
            ((t.i * 37 + doc_id) % 2048 - 1024) * 81 // 2 AS raw
          FROM au, generate_series(0, 255) t(i)),
        cl AS (SELECT doc_id, i,
            CASE WHEN raw > 32767 THEN 32767
                 WHEN raw < -32768 THEN -32768
                 ELSE raw END AS v,
            (raw > 32767 OR raw < -32768) AS clipped
          FROM sm)
        SELECT doc_id AS media_id, 'wav' AS format,
          CAST(256 AS BIGINT) AS n,
          CAST(count(CASE WHEN clipped THEN 1 END) AS BIGINT)
            AS n_clipped,
          CAST(sum(v) AS BIGINT) AS sum_out,
          CAST(sum((i + 1) * v) AS BIGINT) AS pos_checksum
        FROM cl GROUP BY 1 ORDER BY media_id""")),

    // WILD-bitstream MP3 interop census — the committed fixture is a
    // real LAME 3.98.2 encoding (MPEG-2 LSF Layer III, 22.05 kHz
    // mono, ID3v2.4 prefix), i.e. bytes this repo did NOT produce.
    // Mp3Codec.census walks it with the PUBLIC container spec: ID3v2
    // synchsafe skip, per-version bitrate/sample-rate tables, LSF
    // frame sizing (72·kbps/sr), Xing/Info/VBRI sniff, resync
    // accounting. The oracle pins every census field as constants —
    // independently hand-derivable from the spec (45 frames × 209
    // bytes + 32 ID3 = 9437 ≈ file length; 45 × 576 / 22050 =
    // 1.175 s). A wrong table entry, a mis-sized LSF frame, or a
    // botched ID3 skip desyncs the walk and flips
    // n_frames/resyncs/trailing. The census runs inside mapPartitions
    // (the fixture ships in the jar), exactly where a 100 TB crawl
    // would census its audio column.
    Q("q253_mp3_wild_census",
      (s, dir) => {
        import s.implicits._
        s.range(1).as[Long].mapPartitions { ids =>
          ids.map { _ =>
            val in = getClass.getResourceAsStream("/graft/wild_lame.mp3")
            val bytes = try in.readAllBytes() finally in.close()
            val c = graft.operators.Mp3Codec.census(bytes)
            // ID3v2 text frames: the tag metadata curation keys on
            // (TSSE here = the encoder string the muxer wrote)
            val tags = graft.operators.Mp3Codec.id3TextFrames(bytes)
            (c.version, c.layer.toLong, c.sampleRate.toLong,
              c.channels.toLong, c.nFrames.toLong,
              c.bitrateMinKbps.toLong, c.bitrateMaxKbps.toLong,
              c.vbr, c.vbrTag, c.durationMs, c.id3v2Bytes.toLong,
              c.resyncs.toLong, c.trailingBytes.toLong,
              bytes.length.toLong, tags.size.toLong,
              tags.getOrElse("TSSE", ""))
          }
        }.toDF("version", "layer", "sample_rate", "channels",
          "n_frames", "kbps_min", "kbps_max", "vbr", "vbr_tag",
          "duration_ms", "id3v2_bytes", "resyncs", "trailing_bytes",
          "file_bytes", "n_id3_text_frames", "encoder_tag")
      },
      Some("""SELECT 'MPEG-2' AS version, CAST(3 AS BIGINT) AS layer,
          CAST(22050 AS BIGINT) AS sample_rate,
          CAST(1 AS BIGINT) AS channels,
          CAST(45 AS BIGINT) AS n_frames,
          CAST(64 AS BIGINT) AS kbps_min,
          CAST(64 AS BIGINT) AS kbps_max,
          false AS vbr, 'none' AS vbr_tag,
          CAST(1175 AS BIGINT) AS duration_ms,
          CAST(32 AS BIGINT) AS id3v2_bytes,
          CAST(0 AS BIGINT) AS resyncs,
          CAST(0 AS BIGINT) AS trailing_bytes,
          CAST(9436 AS BIGINT) AS file_bytes,
          CAST(1 AS BIGINT) AS n_id3_text_frames,
          'Lavf53.5.0' AS encoder_tag""")),

    // WILD-image interop: committed real-world fixtures that this
    // repo did not produce run through the standard decodeStats
    // dispatch. The baseline JPEG (a 161×161 photo-class file with
    // encoder-supplied Huffman tables) decodes FULLY through the T.81
    // path — pinning that the entropy decoder reads arbitrary DHT
    // tables, not just our encoder's canonical ones; the PROGRESSIVE
    // JPEGs (SOF2) decode through the Annex G path (spectral
    // selection on the wild 4:4:4 file; successive approximation +
    // AC refinement + interleaved DC on the JDK-encoder 4:2:0 file),
    // pixels proven against the JDK's independent ImageIO decoder in
    // WildFixturesSpec; the PNGs decode through inflate + de-filter
    // (8- AND 16-bit depths). The oracle pins exact pixel/byte sums
    // as constants — one wrong Huffman decode step, IDCT coefficient,
    // refinement bit, or PNG filter reconstruction moves value_sum.
    Q("q254_image_wild_decode",
      (s, dir) => {
        import s.implicits._
        val names = Seq((1L, "wild_baseline.jpg"),
          (2L, "wild_rgba.png"), (3L, "wild_progressive.jpg"),
          (4L, "wild_gray.png"), (5L, "wild_grayalpha.png"),
          (6L, "wild_palette.png"), (7L, "wild_interlaced.png"),
          (8L, "wild_89a.gif"), (9L, "wild_87a.gif"),
          (10L, "wild_interlaced.gif"),
          (11L, "wild_progressive_sa.jpg"), (12L, "wild_16bit.png"))
        val media = s.createDataset(names).mapPartitions { rows =>
          rows.map { case (id, name) =>
            val in = getClass.getResourceAsStream(s"/graft/$name")
            val bytes = try in.readAllBytes() finally in.close()
            Multimodal.MediaRow(id, "image", bytes, 0, 0)
          }
        }
        Multimodal.decodeStats(media).toDF()
          .select(col("media_id"), col("format"),
            col("dim1").cast("long").as("width"),
            col("dim2").cast("long").as("height"),
            col("n_units"),
            // sum/len*len can land 1 ulp under the integer — round,
            // never truncate (the q*-codec floor-vs-cast lesson)
            round(col("mean_value") * col("n_units"))
              .cast("long").as("value_sum"))
          .orderBy("media_id")
      },
      Some("""SELECT * FROM (VALUES
          (CAST(1 AS BIGINT), 'jpeg', CAST(161 AS BIGINT),
            CAST(161 AS BIGINT), CAST(77763 AS BIGINT),
            CAST(16762233 AS BIGINT)),
          (CAST(2 AS BIGINT), 'png', CAST(16 AS BIGINT),
            CAST(16 AS BIGINT), CAST(768 AS BIGINT),
            CAST(123194 AS BIGINT)),
          (CAST(3 AS BIGINT), 'jpeg', CAST(493 AS BIGINT),
            CAST(58 AS BIGINT), CAST(85782 AS BIGINT),
            CAST(20019719 AS BIGINT)),
          (CAST(4 AS BIGINT), 'png', CAST(11 AS BIGINT),
            CAST(11 AS BIGINT), CAST(363 AS BIGINT),
            CAST(78483 AS BIGINT)),
          (CAST(5 AS BIGINT), 'png', CAST(48 AS BIGINT),
            CAST(48 AS BIGINT), CAST(6912 AS BIGINT),
            CAST(955113 AS BIGINT)),
          (CAST(6 AS BIGINT), 'png', CAST(48 AS BIGINT),
            CAST(48 AS BIGINT), CAST(6912 AS BIGINT),
            CAST(1025981 AS BIGINT)),
          (CAST(7 AS BIGINT), 'png', CAST(91 AS BIGINT),
            CAST(69 AS BIGINT), CAST(18837 AS BIGINT),
            CAST(687369 AS BIGINT)),
          (CAST(8 AS BIGINT), 'gif', CAST(180 AS BIGINT),
            CAST(68 AS BIGINT), CAST(36720 AS BIGINT),
            CAST(6050829 AS BIGINT)),
          (CAST(9 AS BIGINT), 'gif', CAST(460 AS BIGINT),
            CAST(497 AS BIGINT), CAST(685860 AS BIGINT),
            CAST(164879396 AS BIGINT)),
          (CAST(10 AS BIGINT), 'gif', CAST(100 AS BIGINT),
            CAST(100 AS BIGINT), CAST(30000 AS BIGINT),
            CAST(3598720 AS BIGINT)),
          (CAST(11 AS BIGINT), 'jpeg', CAST(161 AS BIGINT),
            CAST(161 AS BIGINT), CAST(77763 AS BIGINT),
            CAST(16702542 AS BIGINT)),
          (CAST(12 AS BIGINT), 'png', CAST(1052 AS BIGINT),
            CAST(744 AS BIGINT), CAST(2348064 AS BIGINT),
            CAST(569691488 AS BIGINT)))
          AS t(media_id, format, width, height, n_units, value_sum)
        ORDER BY media_id""")),

    // WILD-audio interop, same construction as q254: the same real
    // recording from CPython's test corpus in THREE containers — WAV
    // (RIFF little-endian), AIFF (IFF big-endian with the 80-bit
    // extended sample rate and ancillary NAME/AUTH/ANNO/ID3 chunks),
    // and Sun AU (big-endian) — plus its G.711 μ-law AU variant, all
    // decoding to pinned exact signed sample sums that MATCH an
    // independent reference decoder (CPython's wave/aifc/sunau +
    // audioop readers produced the oracle constants). The wild LAME
    // MP3 is an encode of DIGITAL SILENCE (q253's census proves
    // part2_3_length == 0 in all 45 granules), which is the one wild
    // entropy class whose samples reconstruct bit-exactly without
    // ISO's tabular Huffman codes (Mp3Codec.decodeWild): 45 LSF
    // granules x 576 = 25920 zero samples at 22050 Hz mono — what any
    // conformant decoder emits for this file.
    Q("q255_audio_wild_decode",
      (s, dir) => {
        import s.implicits._
        val names = Seq((1L, "wild_stereo.wav"), (2L, "wild_lame.mp3"),
          (3L, "wild_stereo.aiff"), (4L, "wild_stereo.au"),
          (5L, "wild_ulaw.au"), (6L, "wild_pcm8.wav"),
          (7L, "wild_pcm24.wav"), (8L, "wild_pcm32.wav"))
        val media = s.createDataset(names).mapPartitions { rows =>
          rows.map { case (id, name) =>
            val in = getClass.getResourceAsStream(s"/graft/$name")
            val bytes = try in.readAllBytes() finally in.close()
            Multimodal.MediaRow(id, "audio", bytes, 0, 0)
          }
        }
        Multimodal.decodeStats(media).toDF()
          .select(col("media_id"), col("format"),
            col("dim1").cast("long").as("sample_rate"),
            col("dim2").cast("long").as("channels"),
            col("n_units"),
            round(col("mean_value") * col("n_units"))
              .cast("long").as("value_sum"))
          .orderBy("media_id")
      },
      Some("""SELECT * FROM (VALUES
          (CAST(1 AS BIGINT), 'wav', CAST(11025 AS BIGINT),
            CAST(2 AS BIGINT), CAST(6614 AS BIGINT),
            CAST(-463547 AS BIGINT)),
          (CAST(2 AS BIGINT), 'mp3', CAST(22050 AS BIGINT),
            CAST(1 AS BIGINT), CAST(25920 AS BIGINT),
            CAST(0 AS BIGINT)),
          (CAST(3 AS BIGINT), 'aiff', CAST(11025 AS BIGINT),
            CAST(2 AS BIGINT), CAST(6614 AS BIGINT),
            CAST(-463555 AS BIGINT)),
          (CAST(4 AS BIGINT), 'au', CAST(11025 AS BIGINT),
            CAST(2 AS BIGINT), CAST(6614 AS BIGINT),
            CAST(-463537 AS BIGINT)),
          (CAST(5 AS BIGINT), 'au', CAST(11025 AS BIGINT),
            CAST(2 AS BIGINT), CAST(6614 AS BIGINT),
            CAST(-469976 AS BIGINT)),
          (CAST(6 AS BIGINT), 'wav', CAST(11025 AS BIGINT),
            CAST(2 AS BIGINT), CAST(6614 AS BIGINT),
            CAST(-1314304 AS BIGINT)),
          (CAST(7 AS BIGINT), 'wav', CAST(11025 AS BIGINT),
            CAST(2 AS BIGINT), CAST(6614 AS BIGINT),
            CAST(-466871 AS BIGINT)),
          (CAST(8 AS BIGINT), 'wav', CAST(11025 AS BIGINT),
            CAST(2 AS BIGINT), CAST(6614 AS BIGINT),
            CAST(-466871 AS BIGINT)))
          AS t(media_id, format, sample_rate, channels, n_units,
            value_sum)
        ORDER BY media_id""")),

    // WILD-WebP interop, same construction as q254: WebP is the
    // largest wild-web image format previously absent from the decode
    // boundary. The LOSSLESS (VP8L) fixtures — real libwebp encoder
    // output over deterministic images — decode to exact pixels
    // through the full spec surface (canonical huffman + LZ77 + color
    // cache, predictor/color/subtract-green transforms on the photo
    // file, 4-bit-packed color indexing on the palette file); the two
    // VP8X LOSSY files now take the full VP8 intra decode (r15,
    // Vp8Codec: boolean decoder, token trees, WHT/IDCT, all intra
    // predictors, in-loop deblocking) — their rows pin the RAW YUV420
    // PLANES, which is exactly what libwebp's WebPDecodeYUV returns
    // for the same bytes (wild_vp8x_alpha.webp is CPython's
    // test-corpus python.webp verbatim; their VP8L-compressed/
    // filtered ALPH planes stay exactly decoded in WebpCodecSpec).
    // Every constant below is libwebp 1.2.4's own decode of the same
    // bytes (webp_golden.json / vp8_golden.json via
    // scripts/vp8_probe.py), and for the VP8L files a SECOND
    // independent spec transcription (scripts/webp_ref.py) reproduces
    // them pixel-exact — one wrong huffman step, probability-table
    // byte, transform inverse, or loop-filter tap moves value_sum.
    // The VP8L distance map AND the VP8 probability tables were
    // DERIVED from libwebp by probing/extraction (scripts/
    // vp8l_probe.py, scripts/vp8_probe.py), not transcribed from
    // memory.
    Q("q310_webp_wild_decode",
      (s, dir) => {
        import s.implicits._
        val names = Seq((1L, "wild_lossless.webp"),
          (2L, "wild_palette.webp"), (3L, "wild_vp8x_alpha.webp"),
          (4L, "wild_lossy_alpha.webp"),
          // the two fixtures probed to exercise the remaining VP8L
          // features: SUBTRACT_GREEN, and META-HUFFMAN blocks (2
          // entropy groups) + color cache on a 200x150 photo
          (5L, "wild_gray_sg.webp"), (6L, "wild_meta.webp"))
        val media = s.createDataset(names).mapPartitions { rows =>
          rows.map { case (id, name) =>
            val in = getClass.getResourceAsStream(s"/graft/$name")
            val bytes = try in.readAllBytes() finally in.close()
            Multimodal.MediaRow(id, "image", bytes, 0, 0)
          }
        }
        Multimodal.decodeStats(media).toDF()
          .select(col("media_id"), col("format"),
            col("dim1").cast("long").as("width"),
            col("dim2").cast("long").as("height"),
            col("n_units"),
            round(col("mean_value") * col("n_units"))
              .cast("long").as("value_sum"))
          .orderBy("media_id")
      },
      Some("""SELECT * FROM (VALUES
          (CAST(1 AS BIGINT), 'webp', CAST(97 AS BIGINT),
            CAST(61 AS BIGINT), CAST(17751 AS BIGINT),
            CAST(2229085 AS BIGINT)),
          (CAST(2 AS BIGINT), 'webp', CAST(48 AS BIGINT),
            CAST(32 AS BIGINT), CAST(4608 AS BIGINT),
            CAST(530952 AS BIGINT)),
          (CAST(3 AS BIGINT), 'webp-lossy', CAST(16 AS BIGINT),
            CAST(16 AS BIGINT), CAST(384 AS BIGINT),
            CAST(40839 AS BIGINT)),
          (CAST(4 AS BIGINT), 'webp-lossy', CAST(64 AS BIGINT),
            CAST(48 AS BIGINT), CAST(4608 AS BIGINT),
            CAST(552186 AS BIGINT)),
          (CAST(5 AS BIGINT), 'webp', CAST(120 AS BIGINT),
            CAST(80 AS BIGINT), CAST(28800 AS BIGINT),
            CAST(3668864 AS BIGINT)),
          (CAST(6 AS BIGINT), 'webp', CAST(200 AS BIGINT),
            CAST(150 AS BIGINT), CAST(90000 AS BIGINT),
            CAST(11748830 AS BIGINT)))
          AS t(media_id, format, width, height, n_units, value_sum)
        ORDER BY media_id""")),

    // Animated-WebP frame census + decode (the ANIM/ANMF layer the
    // still-image q310 boundary left at flags-only): wild_anim.webp is
    // a VP8X+ANIM+ANMF container written by an INDEPENDENT spec
    // muxer (scripts/make_webp_anim_fixture.py, the q295 convention)
    // whose FRAME payloads are real libwebp encoder output; every
    // frame is full-canvas non-blending VP8L, the compositing-free
    // class the video decode route claims. One row per frame pins
    // placement, timing, flags, payload size AND the decoded pixel
    // sum (libwebp-verified at fixture build) next to the canvas /
    // loop-count / total-duration census. Decode runs in
    // mapPartitions; frame payloads never shuffle.
    Q("q315_webp_anim",
      (s, dir) => {
        import s.implicits._
        s.range(1).as[Long].mapPartitions(_.flatMap { _ =>
          val in = getClass.getResourceAsStream("/graft/wild_anim.webp")
          val bytes = try in.readAllBytes() finally in.close()
          val (c, frames) = graft.operators.WebpCodec
            .decodeAnimation(bytes)
            .getOrElse(sys.error("anim fixture refused"))
          c.frames.zip(frames).zipWithIndex.iterator.map {
            case ((f, img), i) =>
              var sum = 0L
              img.rgb.foreach(b => sum += (b & 0xff))
              (i.toLong, f.durationMs.toLong, f.payloadBytes.toLong,
                sum, f.width.toLong, f.height.toLong,
                c.canvasWidth.toLong, c.canvasHeight.toLong,
                c.loopCount.toLong, c.totalDurationMs,
                c.frames.size.toLong)
          }
        }).toDF("frame_idx", "duration_ms", "payload_bytes", "sum_rgb",
          "width", "height", "canvas_w", "canvas_h", "loop_count",
          "total_duration_ms", "n_frames")
          .orderBy("frame_idx")
      },
      Some("""SELECT * FROM (VALUES
          (CAST(0 AS BIGINT), CAST(100 AS BIGINT), CAST(42 AS BIGINT),
            CAST(104832 AS BIGINT), CAST(24 AS BIGINT),
            CAST(16 AS BIGINT), CAST(24 AS BIGINT), CAST(16 AS BIGINT),
            CAST(3 AS BIGINT), CAST(700 AS BIGINT), CAST(4 AS BIGINT)),
          (CAST(1 AS BIGINT), CAST(200 AS BIGINT), CAST(48 AS BIGINT),
            CAST(137216 AS BIGINT), CAST(24 AS BIGINT),
            CAST(16 AS BIGINT), CAST(24 AS BIGINT), CAST(16 AS BIGINT),
            CAST(3 AS BIGINT), CAST(700 AS BIGINT), CAST(4 AS BIGINT)),
          (CAST(2 AS BIGINT), CAST(150 AS BIGINT), CAST(50 AS BIGINT),
            CAST(179840 AS BIGINT), CAST(24 AS BIGINT),
            CAST(16 AS BIGINT), CAST(24 AS BIGINT), CAST(16 AS BIGINT),
            CAST(3 AS BIGINT), CAST(700 AS BIGINT), CAST(4 AS BIGINT)),
          (CAST(3 AS BIGINT), CAST(250 AS BIGINT), CAST(49 AS BIGINT),
            CAST(124160 AS BIGINT), CAST(24 AS BIGINT),
            CAST(16 AS BIGINT), CAST(24 AS BIGINT), CAST(16 AS BIGINT),
            CAST(3 AS BIGINT), CAST(700 AS BIGINT), CAST(4 AS BIGINT)))
          AS t(frame_idx, duration_ms, payload_bytes, sum_rgb, width,
            height, canvas_w, canvas_h, loop_count, total_duration_ms,
            n_frames)
        ORDER BY frame_idx""")),

    // WILD-video interop census — the MP4 companion to q253: frames
    // don't decode (AVC/HEVC are out of codec scope) but the ISO-BMFF
    // CONTAINER walk (Mp4Census) yields the metadata a 100 TB crawl
    // censuses first: brands, box tree, per-track codec/timing/sample
    // accounting, keyframe density, encoder tag. The committed fixture
    // was produced by an INDEPENDENT spec-written Python muxer whose
    // own read-back walk emitted the golden layout (mp4_golden.json;
    // Mp4CensusSpec pins the full 47-box tree node for node) — the two
    // implementations share only ISO/IEC 14496-12. The oracle pins one
    // row per track: a mis-sized FullBox skip, a wrong largesize read,
    // or a botched stsz sum flips a constant. Census runs inside
    // mapPartitions, exactly where an ingest would census its video
    // column; payload bytes never shuffle.
    Q("q295_video_wild_census",
      (s, dir) => {
        import s.implicits._
        s.range(1).as[Long].mapPartitions { ids =>
          ids.flatMap { _ =>
            val in = getClass.getResourceAsStream("/graft/muxed_camera.mp4")
            val bytes = try in.readAllBytes() finally in.close()
            val c = graft.operators.Mp4Census.census(bytes)
              .getOrElse(sys.error("census refused the committed fixture"))
            c.tracks.map { t =>
              (t.trackId, t.handler, t.codec, t.timescale, t.durationMs,
                t.nSamples, t.sampleBytes, t.nChunks, t.nKeyframes,
                t.width.toLong, t.height.toLong, t.channels.toLong,
                t.sampleRate.toLong, c.brand,
                c.compatibleBrands.size.toLong, c.nBoxes.toLong,
                c.maxDepth.toLong, c.hasLargesize, c.mdatBytes,
                c.movieDurationMs, c.encoderTag, bytes.length.toLong)
            }
          }
        }.toDF("track_id", "handler", "codec", "timescale", "duration_ms",
          "n_samples", "sample_bytes", "n_chunks", "n_keyframes",
          "width", "height", "channels", "sample_rate", "brand",
          "n_compat_brands", "n_boxes", "max_depth", "largesize",
          "mdat_bytes", "movie_duration_ms", "encoder_tag", "file_bytes")
          .orderBy("track_id")
      },
      Some("""SELECT * FROM (VALUES
          (CAST(1 AS BIGINT), 'vide', 'avc1', CAST(30000 AS BIGINT),
            CAST(1601 AS BIGINT), CAST(48 AS BIGINT),
            CAST(36352 AS BIGINT), CAST(8 AS BIGINT),
            CAST(4 AS BIGINT), CAST(640 AS BIGINT),
            CAST(360 AS BIGINT), CAST(0 AS BIGINT),
            CAST(0 AS BIGINT), 'isom', CAST(4 AS BIGINT),
            CAST(47 AS BIGINT), CAST(5 AS BIGINT), true,
            CAST(56290 AS BIGINT), CAST(1602 AS BIGINT),
            'graftmux 1.0', CAST(58192 AS BIGINT)),
          (CAST(2 AS BIGINT), 'soun', 'mp4a', CAST(44100 AS BIGINT),
            CAST(1602 AS BIGINT), CAST(69 AS BIGINT),
            CAST(19938 AS BIGINT), CAST(8 AS BIGINT),
            CAST(69 AS BIGINT), CAST(0 AS BIGINT),
            CAST(0 AS BIGINT), CAST(2 AS BIGINT),
            CAST(44100 AS BIGINT), 'isom', CAST(4 AS BIGINT),
            CAST(47 AS BIGINT), CAST(5 AS BIGINT), true,
            CAST(56290 AS BIGINT), CAST(1602 AS BIGINT),
            'graftmux 1.0', CAST(58192 AS BIGINT)))
          AS t(track_id, handler, codec, timescale, duration_ms,
            n_samples, sample_bytes, n_chunks, n_keyframes, width,
            height, channels, sample_rate, brand, n_compat_brands,
            n_boxes, max_depth, largesize, mdat_bytes,
            movie_duration_ms, encoder_tag, file_bytes)
        ORDER BY track_id""")),

    // Animated WebP with LOSSY (VP8) frames — the class q315's
    // lossless-frame route could not touch before the r15 Vp8Codec:
    // wild_anim_lossy.webp is the same independent-muxer construction
    // (scripts/make_webp_anim_lossy_fixture.py) whose frame payloads
    // are real libwebp LOSSY encoder output. One row per frame pins
    // placement/timing/payload size AND the per-plane Y/U/V sums of
    // the full VP8 intra decode — every sum below is libwebp's own
    // WebPDecodeYUV of the identical payload (the golden the build
    // script records; WebpCodecSpec additionally md5-pins the raw
    // planes). Decode runs in mapPartitions; payloads never shuffle.
    Q("q324_webp_anim_lossy",
      (s, dir) => {
        import s.implicits._
        s.range(1).as[Long].mapPartitions(_.flatMap { _ =>
          val in = getClass.getResourceAsStream(
            "/graft/wild_anim_lossy.webp")
          val bytes = try in.readAllBytes() finally in.close()
          val (c, planes) = graft.operators.WebpCodec
            .decodeAnimationLossyPlanes(bytes)
            .getOrElse(sys.error("lossy anim fixture refused"))
          def sum(a: Array[Byte]): Long = {
            var s0 = 0L; var i = 0
            while (i < a.length) { s0 += (a(i) & 0xff); i += 1 }
            s0
          }
          c.frames.zip(planes).zipWithIndex.iterator.map {
            case ((f, p), i) =>
              (i.toLong, f.durationMs.toLong, f.payloadBytes.toLong,
                sum(p.y), sum(p.u), sum(p.v),
                c.canvasWidth.toLong, c.canvasHeight.toLong,
                c.loopCount.toLong, c.frames.size.toLong)
          }
        }).toDF("frame_idx", "duration_ms", "payload_bytes", "y_sum",
          "u_sum", "v_sum", "canvas_w", "canvas_h", "loop_count",
          "n_frames")
          .orderBy("frame_idx")
      },
      Some("""SELECT * FROM (VALUES
          (CAST(0 AS BIGINT), CAST(80 AS BIGINT), CAST(502 AS BIGINT),
            CAST(112894 AS BIGINT), CAST(33229 AS BIGINT),
            CAST(34008 AS BIGINT), CAST(32 AS BIGINT),
            CAST(32 AS BIGINT), CAST(2 AS BIGINT), CAST(3 AS BIGINT)),
          (CAST(1 AS BIGINT), CAST(120 AS BIGINT), CAST(522 AS BIGINT),
            CAST(116997 AS BIGINT), CAST(32501 AS BIGINT),
            CAST(35601 AS BIGINT), CAST(32 AS BIGINT),
            CAST(32 AS BIGINT), CAST(2 AS BIGINT), CAST(3 AS BIGINT)),
          (CAST(2 AS BIGINT), CAST(160 AS BIGINT), CAST(622 AS BIGINT),
            CAST(122298 AS BIGINT), CAST(32025 AS BIGINT),
            CAST(34740 AS BIGINT), CAST(32 AS BIGINT),
            CAST(32 AS BIGINT), CAST(2 AS BIGINT), CAST(3 AS BIGINT)))
          AS t(frame_idx, duration_ms, payload_bytes, y_sum, u_sum,
            v_sum, canvas_w, canvas_h, loop_count, n_frames)
        ORDER BY frame_idx""")),

    // Energy-threshold VAD segmentation — the speech-corpus trimming
    // pass that rides directly on q162's frame features: 32-sample
    // frames → squared-energy gate → maximal runs of active frames
    // (gaps-and-islands via frame_idx − row_number, the same pattern
    // both engines express identically) → segments of ≥ 2 frames with
    // start/end/energy. The WAV payload is encoded AND decoded
    // executor-side (mapPartitions, payloads never shuffle); the
    // oracle regenerates every sample from the closed-form signal and
    // replays the gate + islands arithmetically, so frame boundaries,
    // the 16-bit PCM round-trip, the threshold comparison, and the
    // run-length grouping are all under the hash. Energy sums exact
    // BIGINT.
    Q("q303_audio_vad",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val media = Multimodal.packEncodedMedia(
          Tables.load(s, dir, "documents")
            .filter(col("doc_id") % 3 === 1))
        val frames = Multimodal.audioFrameFeatures(media, frameSize = 32)
          .toDF()
        val w = Window.partitionBy("media_id").orderBy("frame_idx")
        frames.filter(col("ssq") > 10000000L)
          .withColumn("island",
            col("frame_idx") - row_number().over(w))
          .groupBy("media_id", "island")
          .agg(min("frame_idx").cast("long").as("seg_start"),
            max("frame_idx").cast("long").as("seg_end"),
            count(lit(1)).as("n_frames"),
            sum("ssq").as("energy"))
          .filter(col("n_frames") >= 2L)
          .select("media_id", "seg_start", "seg_end", "n_frames",
            "energy")
          .orderBy("media_id", "seg_start")
      },
      Some("""WITH s AS (SELECT doc_id, t.i,
            (t.i * 37 + doc_id) % 2048 - 1024 AS v,
            t.i // 32 AS frame_idx
          FROM documents, UNNEST(range(0, 256)) AS t(i)
          WHERE doc_id % 3 = 1),
        fr AS (SELECT doc_id AS media_id, frame_idx,
            sum(v * v) AS ssq
          FROM s GROUP BY 1, 2),
        act AS (SELECT media_id, frame_idx, ssq,
            frame_idx - row_number() OVER (PARTITION BY media_id
              ORDER BY frame_idx) AS island
          FROM fr WHERE ssq > 10000000)
        SELECT media_id,
          CAST(min(frame_idx) AS BIGINT) AS seg_start,
          CAST(max(frame_idx) AS BIGINT) AS seg_end,
          CAST(count(*) AS BIGINT) AS n_frames,
          CAST(sum(ssq) AS BIGINT) AS energy
        FROM act GROUP BY media_id, island
        HAVING count(*) >= 2
        ORDER BY media_id, seg_start""")),

    // FRAGMENTED MP4 census — wild streaming video is mostly fMP4
    // (DASH/HLS/CMAF segments: an unfragmented moov with an EMPTY
    // stbl, then moof/traf/trun + mdat per segment), so a census that
    // only reads stbl sees zero samples in exactly the files a video
    // crawl most often meets. Mp4Census walks the fragment layer:
    // mvex/trex defaults, per-trun sample counts/sizes/durations
    // (flag-gated field layout per §8.8.8), tfdt decode times across
    // fragments. Fixture provenance as q295: an independent
    // spec-written Python muxer + its own read-back golden
    // (fmp4_golden.json; Mp4CensusSpec pins the 48-box tree and every
    // fragment sum). One row; a wrong trun flag decode, a missed trex
    // default, or a tfdt v1 misread flips a constant.
    Q("q308_fmp4_census",
      (s, dir) => {
        import s.implicits._
        s.range(1).as[Long].mapPartitions { ids =>
          ids.map { _ =>
            val in = getClass.getResourceAsStream("/graft/muxed_dash.mp4")
            val bytes = try in.readAllBytes() finally in.close()
            val c = graft.operators.Mp4Census.census(bytes)
              .getOrElse(sys.error("census refused the committed fixture"))
            val t = c.tracks.head
            (c.brand, c.nBoxes.toLong, c.maxDepth.toLong,
              c.nTopLevel.toLong, c.nFragments, c.fragSamples,
              c.fragBytes, c.fragDurationTicks, c.firstTfdt, c.lastTfdt,
              t.trackId, t.handler, t.codec, t.timescale,
              t.width.toLong, t.height.toLong, t.nSamples,
              bytes.length.toLong)
          }
        }.toDF("brand", "n_boxes", "max_depth", "n_top_level",
          "n_fragments", "frag_samples", "frag_bytes",
          "frag_duration_ticks", "first_tfdt", "last_tfdt", "track_id",
          "handler", "codec", "timescale", "width", "height",
          "stbl_samples", "file_bytes")
      },
      Some("""SELECT 'iso5' AS brand, CAST(48 AS BIGINT) AS n_boxes,
          CAST(5 AS BIGINT) AS max_depth,
          CAST(10 AS BIGINT) AS n_top_level,
          CAST(4 AS BIGINT) AS n_fragments,
          CAST(24 AS BIGINT) AS frag_samples,
          CAST(17000 AS BIGINT) AS frag_bytes,
          CAST(24024 AS BIGINT) AS frag_duration_ticks,
          CAST(0 AS BIGINT) AS first_tfdt,
          CAST(18018 AS BIGINT) AS last_tfdt,
          CAST(1 AS BIGINT) AS track_id,
          'vide' AS handler, 'avc1' AS codec,
          CAST(30000 AS BIGINT) AS timescale,
          CAST(320 AS BIGINT) AS width,
          CAST(180 AS BIGINT) AS height,
          CAST(0 AS BIGINT) AS stbl_samples,
          CAST(18142 AS BIGINT) AS file_bytes""")))
}
