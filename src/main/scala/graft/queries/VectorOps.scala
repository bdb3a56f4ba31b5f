package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{KMeans, Similarity}

/** Similarity search over the `embeddings` table (vec_id, embedding
  * FLOAT[64], label). Exact brute-force cosine is the baseline; the LSH
  * bucketing is the 100 TB path (oracle-less — buckets are an internal
  * pruning artifact, verified by ScalaTest recall checks instead).
  */
object VectorOps {

  private val Dim = 64

  /** SQL bit-string expression mirroring Similarity.lshBuckets: the
    * identical double literals in the identical left-associated order,
    * so the sign bits agree exactly. */
  private def bitsSql(nBits: Int): String =
    (0 until nBits).map { h =>
      val terms = (0 until Dim).map { i =>
        s"CAST(embedding[${i + 1}] AS DOUBLE) * " +
          s"(${Similarity.lshWeight(h, Dim, i)})"
      }.mkString(" + ")
      s"(CASE WHEN ($terms) >= 0 THEN '1' ELSE '0' END)"
    }.mkString(" || ")

  /** Shared oracle prelude: long-form embeddings + exact decimal
    * partials, mirroring Similarity.explodeVecs/norms. */
  private val exCte =
    """ex AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS e,
         generate_subscripts(embedding, 1) AS i FROM embeddings),
       nrm AS (SELECT vec_id,
         CAST(sum(CAST(e * e AS DECIMAL(18,9))) AS DOUBLE) AS nn
         FROM ex GROUP BY 1)"""

  /** Row-level decontamination oracle — the streaming twin (q290)
    * replays q285's gate per vector. Hosted here (as a def: object
    * vals declared after `qs` are still null when qs captures them)
    * so the streaming file cannot drift from the batch construction. */
  private[queries] def decontaminateRowOracle: String =
    s"""WITH $exCte,
      dots AS (SELECT a.vec_id AS tr_id, b.vec_id AS ev_id,
          CAST(sum(CAST(a.e * b.e AS DECIMAL(18,9))) AS DOUBLE) AS dot
        FROM ex a JOIN ex b ON a.i = b.i
        WHERE a.vec_id % 20 <> 0 AND b.vec_id % 20 = 0
        GROUP BY 1, 2),
      hits AS (SELECT DISTINCT tr_id FROM dots
        JOIN nrm na ON na.vec_id = tr_id
        JOIN nrm nb ON nb.vec_id = ev_id
        WHERE dot / (sqrt(na.nn) * sqrt(nb.nn)) >= 0.35),
      tr AS (SELECT vec_id, label FROM embeddings
        WHERE vec_id % 20 <> 0)
      SELECT tr.vec_id, tr.label,
        hits.tr_id IS NOT NULL AS contaminated
      FROM tr LEFT JOIN hits ON hits.tr_id = tr.vec_id
      ORDER BY vec_id"""

  val qs: Seq[Q] = Seq(

    // Brute-force cosine top-k: 5 nearest neighbors for each of the 10
    // lowest-id query vectors.
    Q("q23_ann_cosine_topk",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        Similarity.bruteForceTopK(
            emb.filter(col("vec_id") < 10), emb, k = 5)
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH $exCte,
        dots AS (
          SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
            CAST(sum(CAST(a.e * b.e AS DECIMAL(18,9))) AS DOUBLE) AS dot
          FROM ex a JOIN ex b ON a.i = b.i
          WHERE a.vec_id < 10 AND b.vec_id <> a.vec_id
          GROUP BY 1, 2),
        scored AS (
          SELECT query_id, cand_id,
            dot / (sqrt(na.nn) * sqrt(nb.nn)) AS cosine
          FROM dots
          JOIN nrm na ON na.vec_id = query_id
          JOIN nrm nb ON nb.vec_id = cand_id)
        SELECT query_id, cand_id, rank, cosine FROM (
          SELECT query_id, cand_id, cosine,
            row_number() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, cand_id) AS rank
          FROM scored)
        WHERE rank <= 5 ORDER BY query_id, rank""")),

    // Embedding near-duplicate pairs: exact all-pairs cosine ≥ 0.35.
    Q("q27_embedding_neardup",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        Similarity.cosinePairsAbove(emb, 0.35)
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH $exCte,
        dots AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b,
            CAST(sum(CAST(a.e * b.e AS DECIMAL(18,9))) AS DOUBLE) AS dot
          FROM ex a JOIN ex b ON a.i = b.i AND a.vec_id < b.vec_id
          GROUP BY 1, 2)
        SELECT id_a, id_b, dot / (sqrt(na.nn) * sqrt(nb.nn)) AS cosine
        FROM dots
        JOIN nrm na ON na.vec_id = id_a
        JOIN nrm nb ON nb.vec_id = id_b
        WHERE dot / (sqrt(na.nn) * sqrt(nb.nn)) >= 0.35
        ORDER BY id_a, id_b""")),

    // LSH-bucketed ANN (scale path): bucket signature per vector. The
    // hyperplane weights are plan-time constants, so the oracle embeds
    // the identical double literals and left-associated sums — the sign
    // bits match exactly.
    Q("q28_ann_lsh_buckets",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        Similarity.lshBuckets(emb, "vec_id", "embedding",
            nBits = 8, dim = Dim)
          .orderBy("vec_id")
      },
      Some {
        val bits = (0 until 8).map { h =>
          val terms = (0 until Dim).map { i =>
            s"CAST(embedding[${i + 1}] AS DOUBLE) * " +
              s"(${Similarity.lshWeight(h, Dim, i)})"
          }.mkString(" + ")
          s"(CASE WHEN ($terms) >= 0 THEN '1' ELSE '0' END)"
        }.mkString(" || ")
        s"SELECT vec_id, $bits AS bucket FROM embeddings ORDER BY vec_id"
      }),

    // IVF cell-probe ANN: data-seeded coarse quantizer (16 lowest-id
    // vectors), nProbe=4 probed cells, exact rescore within cells. The
    // whole index — assignment, probing, scoring — is decimal-exact, so
    // it hash-matches DuckDB end-to-end.
    Q("q55_ann_ivf",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        Similarity.ivfTopK(
            emb, emb.filter(col("vec_id") < 10),
            emb.filter(col("vec_id") < 16), k = 5, nProbe = 4)
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH $exCte,
        cd AS (SELECT a.vec_id AS vid, b.vec_id AS cid,
            CAST(sum(CAST(a.e * b.e AS DECIMAL(18,9))) AS DOUBLE) AS dot
          FROM ex a JOIN ex b ON a.i = b.i
          WHERE b.vec_id < 16 GROUP BY 1, 2),
        cc AS (SELECT vid, cid, dot / (sqrt(nv.nn) * sqrt(nc.nn)) AS ccos
          FROM cd
          JOIN nrm nv ON nv.vec_id = vid
          JOIN nrm nc ON nc.vec_id = cid),
        assign AS (SELECT vid AS cand_id, cid FROM (
            SELECT vid, cid, row_number() OVER (PARTITION BY vid
              ORDER BY ccos DESC, cid) AS rn FROM cc) WHERE rn = 1),
        probes AS (SELECT vid AS query_id, cid FROM (
            SELECT vid, cid, row_number() OVER (PARTITION BY vid
              ORDER BY ccos DESC, cid) AS rn FROM cc WHERE vid < 10)
          WHERE rn <= 4),
        cand AS (SELECT query_id, cand_id
          FROM probes JOIN assign USING (cid)
          WHERE query_id <> cand_id),
        dots2 AS (SELECT c.query_id, c.cand_id,
            CAST(sum(CAST(a.e * b.e AS DECIMAL(18,9))) AS DOUBLE) AS dot
          FROM cand c
          JOIN ex a ON a.vec_id = c.query_id
          JOIN ex b ON b.vec_id = c.cand_id AND a.i = b.i
          GROUP BY 1, 2),
        scored AS (SELECT query_id, cand_id,
            dot / (sqrt(nq.nn) * sqrt(nc.nn)) AS cosine
          FROM dots2
          JOIN nrm nq ON nq.vec_id = query_id
          JOIN nrm nc ON nc.vec_id = cand_id)
        SELECT query_id, cand_id, rank, cosine FROM (
          SELECT query_id, cand_id, cosine,
            row_number() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, cand_id) AS rank
          FROM scored)
        WHERE rank <= 5 ORDER BY query_id, rank""")),

    // Product-quantization ADC top-k (IVF-PQ's compression half):
    // 8 subspaces × 16 data-seeded codewords, squared-L2 encode,
    // asymmetric-distance ranking. Every stage is decimal-exact, so
    // codes, lookup tables and the final ranking all hash-match DuckDB.
    Q("q64_ann_pq_adc",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        Similarity.pqTopK(
            emb, emb.filter(col("vec_id") < 10),
            emb.filter(col("vec_id") < 16), m = 8, dim = Dim, k = 5)
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH ex AS (
          SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS e,
            generate_subscripts(embedding, 1) AS i FROM embeddings),
        sub AS (SELECT vec_id, e, i,
            CAST((i - 1) // ${Dim / 8} AS INT) AS sub FROM ex),
        cw AS (SELECT vec_id AS cid, e AS ce, i, sub
          FROM sub WHERE vec_id < 16),
        cdist AS (SELECT a.vec_id AS vid, c.cid, a.sub,
            CAST(sum(CAST((a.e - c.ce) * (a.e - c.ce) AS DECIMAL(18,9)))
              AS DOUBLE) AS d
          FROM sub a JOIN cw c ON a.i = c.i
          GROUP BY 1, 2, 3),
        codes AS (SELECT vid AS cand_id, sub, cid FROM (
            SELECT vid, sub, cid, row_number() OVER (PARTITION BY vid, sub
              ORDER BY d, cid) AS rn
            FROM cdist) WHERE rn = 1),
        qd AS (SELECT vid AS query_id, sub, cid, d
          FROM cdist WHERE vid < 10),
        adc AS (SELECT q.query_id, c.cand_id,
            CAST(sum(CAST(q.d AS DECIMAL(28,12))) AS DOUBLE) AS adc_dist
          FROM codes c JOIN qd q ON q.sub = c.sub AND q.cid = c.cid
          WHERE q.query_id <> c.cand_id
          GROUP BY 1, 2)
        SELECT query_id, cand_id, rank, adc_dist FROM (
          SELECT query_id, cand_id, adc_dist,
            row_number() OVER (PARTITION BY query_id
              ORDER BY adc_dist, cand_id) AS rank
          FROM adc)
        WHERE rank <= 5 ORDER BY query_id, rank""")),

    // Banded-LSH-pruned near-dup: candidates share ≥1 of 4 four-bit
    // sign bands, survivors exactly rescored at ≥ 0.35. The equi-join on
    // (band, signature) replaces q27's quadratic loop at scale; both
    // engines prune identically (the sign bits are oracle-exact per
    // q28), so even the pruned pipeline hash-matches.
    Q("q56_neardup_lsh_pruned",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        Similarity.cosinePairsAboveLsh(emb, 0.35,
            nBits = 16, dim = Dim, bandBits = 4)
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH $exCte,
        sig AS (SELECT vec_id, ${bitsSql(16)} AS bucket FROM embeddings),
        bands AS (SELECT vec_id, t.band,
            substr(bucket, t.band * 4 + 1, 4) AS key
          FROM sig, (VALUES (0), (1), (2), (3)) AS t(band)),
        pairs AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id),
        dots AS (SELECT p.id_a, p.id_b,
            CAST(sum(CAST(a.e * b.e AS DECIMAL(18,9))) AS DOUBLE) AS dot
          FROM pairs p
          JOIN ex a ON a.vec_id = p.id_a
          JOIN ex b ON b.vec_id = p.id_b AND a.i = b.i
          GROUP BY 1, 2)
        SELECT id_a, id_b, dot / (sqrt(na.nn) * sqrt(nb.nn)) AS cosine
        FROM dots
        JOIN nrm na ON na.vec_id = id_a
        JOIN nrm nb ON nb.vec_id = id_b
        WHERE dot / (sqrt(na.nn) * sqrt(nb.nn)) >= 0.35
        ORDER BY id_a, id_b""")),

    // K-means embedding clustering (2 Lloyd iterations from the 8
    // lowest-id seeds): the semantic-dedup / diversity-sampling /
    // IVF-quantizer-training primitive. Every stage — decimal-exact
    // squared-L2, (d, cid) argmin, decimal-sum/double-divide centroid
    // update — is mirrored op-for-op in the oracle, so the full
    // iterative fit is hash-checked, not just the final shape.
    Q("q75_kmeans",
      (s, dir) => {
        KMeans.fitAssign(Tables.load(s, dir, "embeddings"),
            k = 8, iters = 2)
          .orderBy("vec_id")
      },
      Some(s"""WITH $exCte,
        $kmeansCtes
        SELECT vec_id, cid AS cluster, d AS dist
        FROM a2 WHERE rn = 1 ORDER BY vec_id""")),

    // L2 normalization — the vector-prep step ahead of every cosine /
    // ANN stage (a normalized corpus turns cosine into a plain dot
    // product). Shape: explode → codegen'd decimal hash-aggregate →
    // norm table joined back (AQE broadcasts the |vectors|-row side).
    // A shuffle-free HOF fold per row was tried first and REJECTED:
    // Spark's higher-order functions are CodegenFallback, and the
    // interpreted per-element fold measured 8.6 s vs ~1 s for this
    // codegen'd relational form at sf0.1 (same lesson as the q72
    // rewrite recorded in PLANS.md). Decimal addition is associative,
    // so the aggregate equals the oracle's unordered sum bit-for-bit;
    // sqrt/divide are single correctly-rounded IEEE ops on identical
    // operands. Zero vectors are filtered, not divided by.
    Q("q124_l2_normalize",
      (s, dir) => {
        val dec = org.apache.spark.sql.types.DecimalType(18, 9)
        val ex = Tables.load(s, dir, "embeddings")
          .select(col("vec_id"),
            posexplode(transform(col("embedding"), x => x.cast("double")))
              .as(Seq("p", "e")))
          .select(col("vec_id"), (col("p") + 1).cast("long").as("i"),
            col("e"))
        val nrm = ex.groupBy("vec_id")
          .agg(sum((col("e") * col("e")).cast(dec)).cast("double")
            .as("nn"))
          .filter(col("nn") > 0d)
        ex.join(nrm, "vec_id")
          .select(col("vec_id"), col("i"),
            (col("e") / sqrt(col("nn"))).as("e_norm"))
          .orderBy("vec_id", "i")
      },
      Some(s"""WITH $exCte
        SELECT ex.vec_id, CAST(ex.i AS BIGINT) AS i,
          ex.e / sqrt(nrm.nn) AS e_norm
        FROM ex JOIN nrm ON ex.vec_id = nrm.vec_id
        WHERE nrm.nn > 0
        ORDER BY ex.vec_id, i""")),

    // Semantic dedup (SemDeDup): k-means clusters scope the pairwise
    // exact-cosine check, so the quadratic term is Σ cluster² — never
    // N² — and the pair join is an equi-join on the cluster id (one
    // shuffle, nothing broadcast). Every near-dup pair's greater id is
    // dropped; the report counts survivors per cluster. The whole
    // composite — iterative fit, cluster-scoped pairs, drop rule — is
    // hash-checked.
    Q("q107_semantic_dedup",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        // consumed twice (pair scoping + the survivor report) — off
        // fitAssign's persisted result, so the iterative fit runs once
        val assign = KMeans.fitAssign(emb, k = 8, iters = 2)
          .select(col("vec_id"), col("cluster"))
        val scoped = emb.join(assign, "vec_id")
          .select(col("cluster"), col("vec_id"), col("embedding"))
        val dropped = Similarity
          .cosinePairsAboveWithin(scoped, "cluster", 0.35)
          .select(col("id_b").as("vec_id")).distinct()
          .withColumn("is_dropped", lit(1L))
        assign.join(dropped, Seq("vec_id"), "left")
          .groupBy("cluster")
          .agg(count(lit(1)).as("n_vectors"),
            count(col("is_dropped")).as("n_dropped"),
            (count(lit(1)) - count(col("is_dropped"))).as("n_kept"))
          .orderBy("cluster")
      },
      Some(s"""WITH $exCte,
        $kmeansCtes,
        assign AS (SELECT vec_id, cid AS cluster FROM a2 WHERE rn = 1),
        dots AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
            CAST(sum(CAST(a.e * b.e AS DECIMAL(18,9))) AS DOUBLE) AS dot
          FROM ex a
          JOIN assign aa ON a.vec_id = aa.vec_id
          JOIN assign bb ON bb.cluster = aa.cluster
          JOIN ex b ON b.vec_id = bb.vec_id AND b.i = a.i
            AND a.vec_id < b.vec_id
          GROUP BY 1, 2),
        dropped AS (SELECT DISTINCT id_b AS vec_id FROM dots
          JOIN nrm na ON na.vec_id = id_a
          JOIN nrm nb ON nb.vec_id = id_b
          WHERE dot / (sqrt(na.nn) * sqrt(nb.nn)) >= 0.35)
        SELECT cluster, CAST(count(*) AS BIGINT) AS n_vectors,
          CAST(count(d.vec_id) AS BIGINT) AS n_dropped,
          CAST(count(*) - count(d.vec_id) AS BIGINT) AS n_kept
        FROM assign aa LEFT JOIN dropped d ON aa.vec_id = d.vec_id
        GROUP BY 1 ORDER BY 1""")),

    // Symmetric int8 embedding quantization (see int8Quantize below
    // for the layout and exactness contract). Reports per-vector
    // scale, decimal-exact reconstruction error, and the positional
    // code checksum that pins every int8 code cross-engine.
    Q("q179_int8_quantize",
      (s, dir) => {
        import org.apache.spark.sql.types.DoubleType
        val ex = Tables.load(s, dir, "embeddings")
          .select(col("vec_id"), posexplode(col("embedding")))
          .select(col("vec_id"), col("pos"),
            col("col").cast(DoubleType).as("e"))
        int8Quantize(ex).orderBy("vec_id")
      },
      Some(s"""WITH $exCte,
        st AS (SELECT vec_id, max(abs(e)) AS maxabs FROM ex GROUP BY 1),
        q AS (SELECT ex.vec_id, i, e, maxabs / 127.0 AS scale,
            CASE WHEN maxabs = 0 THEN 0.0
              ELSE least(greatest(
                floor(e / (maxabs / 127.0) + 0.5), -127.0), 127.0)
            END AS qv
          FROM ex JOIN st USING (vec_id))
        SELECT vec_id, max(scale) AS scale,
          CAST(sum(CAST((e - qv * scale) * (e - qv * scale)
            AS DECIMAL(38,12))) AS DOUBLE) AS sq_err,
          CAST(sum(CAST(qv AS BIGINT) * i) AS BIGINT) AS checksum
        FROM q GROUP BY 1 ORDER BY 1""")),

    // Hard-negative mining — for each query vector, the 5 most-SIMILAR
    // candidates with a DIFFERENT label: the contrastive-training
    // negatives a retriever pipeline mines (random negatives are
    // trivially far; hard ones sit near the decision boundary). The
    // label inequality rides the broadcast-join condition so same-label
    // pairs never leave the fused cosine kernel; survivors are
    // decimal-rescored and re-ranked, making the top-k boundary
    // oracle-exact like q23's.
    Q("q226_hard_negatives",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        Similarity.hardNegativesTopK(
            emb.filter(col("vec_id") < 20), emb, k = 5)
          .withColumn("neg_label", col("neg_label").cast("long"))
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH $exCte,
        lab AS (SELECT vec_id, label FROM embeddings),
        dots AS (
          SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
            CAST(sum(CAST(a.e * b.e AS DECIMAL(18,9))) AS DOUBLE) AS dot
          FROM ex a JOIN ex b ON a.i = b.i
          JOIN lab la ON la.vec_id = a.vec_id
          JOIN lab lb ON lb.vec_id = b.vec_id
          WHERE a.vec_id < 20 AND la.label <> lb.label
          GROUP BY 1, 2),
        scored AS (
          SELECT query_id, cand_id,
            dot / (sqrt(na.nn) * sqrt(nb.nn)) AS cosine
          FROM dots
          JOIN nrm na ON na.vec_id = query_id
          JOIN nrm nb ON nb.vec_id = cand_id)
        SELECT query_id, cand_id,
          CAST(lb.label AS BIGINT) AS neg_label, rank, cosine
        FROM (
          SELECT query_id, cand_id, cosine,
            row_number() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, cand_id) AS rank
          FROM scored)
        JOIN lab lb ON lb.vec_id = cand_id
        WHERE rank <= 5 ORDER BY query_id, rank""")),

    // Johnson–Lindenstrauss compression of the embedding table: 64-d
    // float vectors → 16 coordinates against a ±1 matrix both engines
    // derive independently from md5 parity, plus the sign-bit sketch.
    // Q2.30 fixed-point terms (floor on BOTH engines — SQL casts
    // round, the JVM truncates) make the projection VALUES
    // hash-checkable, not just their signs. Scale: explode + ONE
    // map-side-combinable hash agg computing all 16 coordinates.
    Q("q230_jl_projection",
      (s, dir) => {
        Similarity.randomProject(Tables.load(s, dir, "embeddings"),
            "vec_id", "embedding", outDims = 16, dim = Dim)
          .orderBy("vec_id", "j")
      },
      Some(s"""WITH ex AS (SELECT vec_id,
            CAST(unnest(embedding) AS DOUBLE) AS e,
            generate_subscripts(embedding, 1) AS i FROM embeddings),
        sgn AS (SELECT j.j, i.i,
            CASE WHEN (strpos('0123456789abcdef',
                substr(md5('rp|' || j.j || '|' || i.i), 1, 1)) - 1)
                % 2 = 0
              THEN 1 ELSE -1 END AS s
          FROM generate_series(0, 15) j(j),
            generate_series(0, ${Dim - 1}) i(i))
        SELECT e.vec_id, s.j AS j,
          CAST(sum(CAST(floor(e.e * 1073741824.0 * s.s) AS BIGINT))
            AS BIGINT) / 1073741824.0 AS proj,
          CAST(sum(CAST(floor(e.e * 1073741824.0 * s.s) AS BIGINT))
            AS BIGINT) > 0 AS bit
        FROM ex e JOIN sgn s ON s.i = e.i - 1
        GROUP BY 1, 2 ORDER BY vec_id, j""")),

    // Retrieval evaluation for the ANN layer — Precision@5 and MRR
    // against label-match relevance over the exact cosine top-10.
    // Reciprocal ranks accumulate as EXACT integers (2520/r — the
    // lcm(1..10) trick) so corpus MRR is order-free and
    // hash-checkable; queries with no relevant hit in the top-10
    // contribute 0 and a null first_rel_rank.
    Q("q242_retrieval_eval",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val top = Similarity.bruteForceTopK(
          emb.filter(col("vec_id") < 20), emb, k = 10)
        val lab = emb.select(col("vec_id"), col("label"))
        val rel = top
          .join(lab.select(col("vec_id").as("query_id"),
            col("label").as("lq")), Seq("query_id"))
          .join(lab.select(col("vec_id").as("cand_id"),
            col("label").as("lc")), Seq("cand_id"))
          .withColumn("rel", col("lq") === col("lc"))
        val per = rel.groupBy("query_id")
          .agg(count(when(col("rank") <= 5 && col("rel"), 1))
              .as("hits5"),
            min(when(col("rel"), col("rank"))).as("first_rel_rank"))
          .withColumn("p_at_5",
            col("hits5").cast("double") / 5.0)
          .withColumn("rr_num",
            coalesce(expr("2520 DIV first_rel_rank"), lit(0L)))
        val tot = per.agg(sum(col("rr_num")).as("s"),
          count(lit(1)).as("nq"))
        per.crossJoin(broadcast(tot))
          .select(col("query_id"), col("hits5"), col("p_at_5"),
            col("first_rel_rank"), col("rr_num"),
            (col("s").cast("double") /
              (col("nq").cast("double") * 2520.0)).as("corpus_mrr"))
          .orderBy("query_id")
      },
      Some(s"""WITH $exCte,
        dots AS (
          SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
            CAST(sum(CAST(a.e * b.e AS DECIMAL(18,9))) AS DOUBLE) AS dot
          FROM ex a JOIN ex b ON a.i = b.i
          WHERE a.vec_id < 20 AND b.vec_id <> a.vec_id
          GROUP BY 1, 2),
        ranked AS (SELECT query_id, cand_id, rank FROM (
            SELECT query_id, cand_id,
              row_number() OVER (PARTITION BY query_id
                ORDER BY dot / (sqrt(na.nn) * sqrt(nb.nn)) DESC,
                  cand_id) AS rank
            FROM dots
            JOIN nrm na ON na.vec_id = query_id
            JOIN nrm nb ON nb.vec_id = cand_id)
          WHERE rank <= 10),
        lab AS (SELECT vec_id, label FROM embeddings),
        rel AS (SELECT r.query_id, r.rank,
            (lq.label = lc.label) AS rel
          FROM ranked r
          JOIN lab lq ON lq.vec_id = r.query_id
          JOIN lab lc ON lc.vec_id = r.cand_id),
        per AS (SELECT query_id,
            CAST(count(CASE WHEN rank <= 5 AND rel THEN 1 END)
              AS BIGINT) AS hits5,
            min(CASE WHEN rel THEN rank END) AS first_rel_rank
          FROM rel GROUP BY 1),
        per2 AS (SELECT query_id, hits5,
            CAST(hits5 AS DOUBLE) / 5.0 AS p_at_5, first_rel_rank,
            CAST(coalesce(2520 // first_rel_rank, 0) AS BIGINT)
              AS rr_num
          FROM per),
        tot AS (SELECT CAST(sum(rr_num) AS BIGINT) AS s,
            CAST(count(*) AS BIGINT) AS nq FROM per2)
        SELECT query_id, hits5, p_at_5, first_rel_rank, rr_num,
          CAST(s AS DOUBLE) / (CAST(nq AS DOUBLE) * 2520.0)
            AS corpus_mrr
        FROM per2, tot ORDER BY query_id""")),

    // Embedding-space decontamination — the semantic complement of
    // q71's n-gram gate: a train vector is contaminated when ANY
    // benchmark (eval) vector sits within cosine ≥ 0.35 of it, even
    // with zero lexical overlap. Every 20th vec_id plays the held-out
    // benchmark. 100 TB shape: the benchmark set is fixed-size by
    // construction, so it broadcasts and the train side streams
    // through the fused kernel once (the documented bounded-broadcast
    // BNLJ); the double-kernel prune at τ−1e-6 can never drop a true
    // ≥ τ survivor, and the decimal rescore decides the boundary
    // identically to the oracle's long-form replay. Report: per-label
    // contamination census.
    Q("q285_embed_decontaminate",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val ev = emb.filter(col("vec_id") % 20 === 0)
        val tr = emb.filter(col("vec_id") % 20 =!= 0)
        val hits = Similarity.idsNearAny(tr, ev, 0.35)
          .withColumn("hit", lit(1))
        tr.select(col("vec_id"), col("label"))
          .join(hits, Seq("vec_id"), "left")
          .groupBy("label")
          .agg(count(lit(1)).as("n_train"),
            count(col("hit")).as("n_contaminated"))
          .withColumn("contam_share",
            col("n_contaminated").cast("double") /
              col("n_train").cast("double"))
          .orderBy("label")
      },
      Some(s"""WITH $exCte,
        dots AS (SELECT a.vec_id AS tr_id, b.vec_id AS ev_id,
            CAST(sum(CAST(a.e * b.e AS DECIMAL(18,9))) AS DOUBLE) AS dot
          FROM ex a JOIN ex b ON a.i = b.i
          WHERE a.vec_id % 20 <> 0 AND b.vec_id % 20 = 0
          GROUP BY 1, 2),
        hits AS (SELECT DISTINCT tr_id FROM dots
          JOIN nrm na ON na.vec_id = tr_id
          JOIN nrm nb ON nb.vec_id = ev_id
          WHERE dot / (sqrt(na.nn) * sqrt(nb.nn)) >= 0.35),
        tr AS (SELECT vec_id, label FROM embeddings
          WHERE vec_id % 20 <> 0)
        SELECT tr.label, CAST(count(*) AS BIGINT) AS n_train,
          CAST(count(hits.tr_id) AS BIGINT) AS n_contaminated,
          CAST(count(hits.tr_id) AS DOUBLE)
            / CAST(count(*) AS DOUBLE) AS contam_share
        FROM tr LEFT JOIN hits ON hits.tr_id = tr.vec_id
        GROUP BY 1 ORDER BY label""")),

    // Topic-balance resampling — flatten a skewed topic distribution
    // toward uniform: LSH signatures stand in for topic clusters
    // (deterministic, oracle-mirrored bit for bit), each bucket gets
    // keep probability min(1, target/size), and membership is decided
    // by a multiplicative hash on the id — reproducible on any
    // engine, no RNG state. 100 TB shape: the per-bucket histogram
    // and thresholds are a |buckets|-row broadcast; the keep decision
    // is row-local, so the corpus streams through one aggregate
    // (the id is pre-reduced mod a prime so the hash product can
    // never overflow BIGINT on either engine).
    Q("q288_cluster_balance",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val b = Similarity.lshBuckets(emb, "vec_id", "embedding",
          nBits = 4, dim = Dim)
        val sizes = b.groupBy("bucket").agg(count(lit(1)).as("n"))
        val tot = sizes.agg(sum("n").as("tot"),
          count(lit(1)).as("k"))
        val wp = sizes.crossJoin(broadcast(tot))
          .withColumn("keep_prob",
            least(lit(1.0),
              (col("tot").cast("double") / col("k").cast("double"))
                / col("n").cast("double")))
          .withColumn("thresh",
            floor(col("keep_prob") * lit(4294967296.0))
              .cast("long"))
        val h = ((col("vec_id") % 100000007L) * 2654435761L) %
          4294967296L
        b.join(broadcast(wp), Seq("bucket"))
          .withColumn("kept", when(h < col("thresh"), 1L)
            .otherwise(0L))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n"), sum("kept").as("n_kept"),
            max("keep_prob").as("keep_prob"))
          .orderBy("bucket")
      },
      Some(s"""WITH b AS (SELECT vec_id, ${bitsSql(4)} AS bucket
          FROM embeddings),
        sz AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n
          FROM b GROUP BY 1),
        t AS (SELECT CAST(sum(n) AS BIGINT) AS tot,
            CAST(count(*) AS BIGINT) AS k FROM sz),
        wp AS (SELECT bucket, n,
            least(CAST(1 AS DOUBLE),
              (CAST(tot AS DOUBLE) / CAST(k AS DOUBLE))
                / CAST(n AS DOUBLE)) AS keep_prob
          FROM sz, t),
        wt AS (SELECT bucket, n, keep_prob,
            CAST(floor(keep_prob * 4294967296.0) AS BIGINT) AS thresh
          FROM wp)
        SELECT b.bucket, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CASE WHEN ((b.vec_id % 100000007) * 2654435761)
              % 4294967296 < wt.thresh THEN 1 ELSE 0 END)
            AS BIGINT) AS n_kept,
          max(wt.keep_prob) AS keep_prob
        FROM b JOIN wt USING (bucket)
        GROUP BY 1 ORDER BY bucket""")),

    // Centroid silhouette — the standard cluster-quality verdict on a
    // k-means fit (is the clustering real, or did k slice one blob?).
    // The exact O(n²) silhouette is off the table at scale; the
    // centroid form (a = distance to own centroid, b = distance to the
    // nearest OTHER centroid, s = (b−a)/max(a,b)) needs only the TWO
    // nearest centroids per vector, which KMeans.fitAssignTop2 emits
    // from the same single map-side projection as the assignment — the
    // whole query adds zero shuffles beyond the fit. With argmin
    // assignment a ≤ b always, so s ∈ [0,1]: near 0 = overlapping
    // cells (k too large / blob sliced), near 1 = tight separation.
    // sqrt/divide are single IEEE ops on decimal-exact operands; the
    // per-cluster mean routes through DECIMAL(38,12) partials (the
    // q134 rule) so the unordered sum hashes identically cross-engine.
    Q("q296_silhouette",
      (s, dir) => {
        import org.apache.spark.sql.types.{DecimalType, DoubleType}
        val t2 = KMeans.fitAssignTop2(
          Tables.load(s, dir, "embeddings"), k = 8, iters = 2)
        t2.select(col("cluster"),
            when(sqrt(col("dist2")) === 0d, lit(0d))
              .otherwise((sqrt(col("dist2")) - sqrt(col("dist"))) /
                sqrt(col("dist2"))).as("sil"))
          .groupBy("cluster")
          .agg(count(lit(1)).as("n_vectors"),
            (sum(col("sil").cast(DecimalType(38, 12))).cast(DoubleType) /
              count(lit(1))).as("mean_silhouette"),
            min(col("sil")).as("min_silhouette"))
          .orderBy("cluster")
      },
      Some(s"""WITH $exCte,
        $kmeansCtes,
        sil AS (SELECT a.vec_id, a.cid AS cluster,
            CASE WHEN sqrt(b.d) = 0 THEN 0.0
                 ELSE (sqrt(b.d) - sqrt(a.d)) / sqrt(b.d) END AS sil
          FROM (SELECT vec_id, cid, d FROM a2 WHERE rn = 1) a
          JOIN (SELECT vec_id, d FROM a2 WHERE rn = 2) b
            USING (vec_id))
        SELECT cluster, CAST(count(*) AS BIGINT) AS n_vectors,
          CAST(sum(CAST(sil AS DECIMAL(38,12))) AS DOUBLE)
            / CAST(count(*) AS DOUBLE) AS mean_silhouette,
          min(sil) AS min_silhouette
        FROM sil GROUP BY 1 ORDER BY cluster""")),

    // Greedy k-center (Gonzalez farthest-point) — the DIVERSITY
    // coreset: the k mutually-farthest documents as anchors/eval
    // probes, the opposite selection pressure from density-seeking
    // k-means. Each round is one map-side min-distance projection over
    // the corpus (centers ride a 1-row broadcast) + a single-row
    // struct-max; the oracle replays all six rounds as staged CTEs
    // with the identical decimal-exact distances and the identical
    // (d DESC, vec_id) tie rule, so the full greedy trajectory —
    // center ids AND coverage radii — is hash-checked, not just the
    // final set.
    Q("q297_kcenter_coreset",
      (s, dir) => graft.operators.KCenter.select(
        Tables.load(s, dir, "embeddings"), k = 6),
      Some {
        val dist = (tbl: String) =>
          s"""SELECT a.vec_id, CAST(sum(CAST((a.e - b.e) * (a.e - b.e)
                AS DECIMAL(18,9))) AS DOUBLE) AS d
              FROM ex a JOIN ex b ON a.i = b.i
                AND b.vec_id = (SELECT c FROM $tbl)
              GROUP BY 1"""
        val stages = (1 to 5).map { t =>
          val prev = if (t == 1) "d0" else s"m$t"
          val minCte = if (t == 1) s"m1 AS (SELECT vec_id, d FROM d0)"
            else s"m$t AS (SELECT m${t - 1}.vec_id, " +
              s"least(m${t - 1}.d, dd${t - 1}.d) AS d " +
              s"FROM m${t - 1} JOIN dd${t - 1} USING (vec_id))"
          val pick = s"p$t AS (SELECT vec_id AS c, d AS r FROM m$t " +
            "ORDER BY d DESC, vec_id LIMIT 1)"
          val nextDist =
            if (t < 5) s", dd$t AS (${dist(s"p$t")})" else ""
          s"$minCte, $pick$nextDist"
        }.mkString(",\n        ")
        val rows = (1 to 5).map { t =>
          s"UNION ALL SELECT CAST($t AS BIGINT), " +
            s"(SELECT CAST(c AS BIGINT) FROM p$t), (SELECT r FROM p$t)"
        }.mkString("\n        ")
        s"""WITH ex AS (SELECT vec_id,
            CAST(unnest(embedding) AS DOUBLE) AS e,
            generate_subscripts(embedding, 1) AS i FROM embeddings),
        seed AS (SELECT min(vec_id) AS c FROM embeddings),
        d0 AS (${dist("seed")}),
        $stages
        SELECT CAST(0 AS BIGINT) AS round,
          (SELECT CAST(c AS BIGINT) FROM seed) AS center_id,
          CAST(0.0 AS DOUBLE) AS radius
        $rows
        ORDER BY round"""
      }),

    // Matryoshka truncation eval — modern embedding models train
    // prefix dims to stand alone (MRL), and a 100 TB retrieval stack
    // wants to know what recall it buys before storing 4× fewer
    // floats. Per query: top-5 by full-dim exact cosine vs top-5 by
    // PREFIX-16 cosine, scored as recall@5 plus the top-1 agreement —
    // both retrievals ride the audited bruteForceTopK shape (broadcast
    // query set, fast-kernel prune, exact decimal rescore), and the
    // truncated arm is literally `slice(embedding, 1, 16)`: zero new
    // machinery, which is the point — truncation must be free.
    Q("q300_matryoshka_eval",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val qset = emb.filter(col("vec_id") < 10)
        val tr = emb.select(col("vec_id"),
          slice(col("embedding"), 1, 16).as("embedding"))
        // both arms are consumed twice (overlap + top-1): persist the
        // 50-row retrievals or each brute-force pass executes twice
        val full = Similarity.bruteForceTopK(qset, emb, k = 5)
          .select(col("query_id"), col("cand_id"), col("rank"))
          .cache()
        val trunc = Similarity.bruteForceTopK(
            tr.filter(col("vec_id") < 10), tr, k = 5)
          .select(col("query_id"), col("cand_id").as("t_cand"),
            col("rank").as("t_rank"))
          .cache()
        val overlap = full.join(trunc,
            full("query_id") === trunc("query_id") &&
              full("cand_id") === trunc("t_cand"))
          .groupBy(full("query_id").as("query_id"))
          .agg(count(lit(1)).as("n_overlap"))
        val top1 = full.filter(col("rank") === 1L)
          .select(col("query_id"), col("cand_id").as("full_top1"))
          .join(trunc.filter(col("t_rank") === 1L)
            .select(col("query_id"), col("t_cand").as("trunc_top1")),
            "query_id")
        top1.join(overlap, Seq("query_id"), "left")
          .select(col("query_id"),
            (coalesce(col("n_overlap"), lit(0L)).cast("double") / 5.0)
              .as("recall_at_5"),
            (col("full_top1") === col("trunc_top1")).as("top1_match"),
            col("full_top1"), col("trunc_top1"))
          .orderBy("query_id")
      },
      Some(s"""WITH $exCte,
        fdots AS (SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
            CAST(sum(CAST(a.e * b.e AS DECIMAL(18,9))) AS DOUBLE) AS dot
          FROM ex a JOIN ex b ON a.i = b.i
          WHERE a.vec_id < 10 AND b.vec_id <> a.vec_id
          GROUP BY 1, 2),
        ftop AS (SELECT query_id, cand_id,
            row_number() OVER (PARTITION BY query_id ORDER BY
              dot / (sqrt(na.nn) * sqrt(nb.nn)) DESC, cand_id) AS rank
          FROM fdots
          JOIN nrm na ON na.vec_id = query_id
          JOIN nrm nb ON nb.vec_id = cand_id),
        tnrm AS (SELECT vec_id,
            CAST(sum(CAST(e * e AS DECIMAL(18,9))) AS DOUBLE) AS nn
          FROM ex WHERE i <= 16 GROUP BY 1),
        tdots AS (SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
            CAST(sum(CAST(a.e * b.e AS DECIMAL(18,9))) AS DOUBLE) AS dot
          FROM ex a JOIN ex b ON a.i = b.i AND a.i <= 16
          WHERE a.vec_id < 10 AND b.vec_id <> a.vec_id
          GROUP BY 1, 2),
        ttop AS (SELECT query_id, cand_id,
            row_number() OVER (PARTITION BY query_id ORDER BY
              dot / (sqrt(na.nn) * sqrt(nb.nn)) DESC, cand_id) AS rank
          FROM tdots
          JOIN tnrm na ON na.vec_id = query_id
          JOIN tnrm nb ON nb.vec_id = cand_id),
        ov AS (SELECT f.query_id, count(*) AS n_overlap
          FROM (SELECT query_id, cand_id FROM ftop WHERE rank <= 5) f
          JOIN (SELECT query_id, cand_id FROM ttop WHERE rank <= 5) t
            ON f.query_id = t.query_id AND f.cand_id = t.cand_id
          GROUP BY 1)
        SELECT f1.query_id,
          CAST(coalesce(ov.n_overlap, 0) AS DOUBLE) / 5.0 AS recall_at_5,
          f1.cand_id = t1.cand_id AS top1_match,
          f1.cand_id AS full_top1, t1.cand_id AS trunc_top1
        FROM (SELECT query_id, cand_id FROM ftop WHERE rank = 1) f1
        JOIN (SELECT query_id, cand_id FROM ttop WHERE rank = 1) t1
          USING (query_id)
        LEFT JOIN ov USING (query_id)
        ORDER BY query_id""")),

    // HyperBall-style 2-hop neighborhood function over the near-dup
    // graph (exact cosine ≥ 0.35 edges + self-loops): per node, the
    // radius-2 ball size BOTH ways — exact (two edge joins + distinct,
    // the eval arm) and via HLL REGISTER PROPAGATION (the 100 TB arm:
    // round t+1's registers are the max over out-neighbors of round
    // t's, so per-node state is 16 mergeable registers forever and
    // each round is ONE equi-join shuffle on the edge list — no
    // distinct-set explosion, which is the entire point of HyperBall).
    // The register hash/rank/raw-estimator follow the q168 contract
    // exactly (integer finalizer, length(bin()) rank, dyadic-rational
    // Z — every piece hash-exact cross-engine; no bias corrections
    // under the hash). At corpus scale you keep only the sketch arm.
    Q("q304_reach_sketch",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val edges = Similarity.cosinePairsAbove(emb, 0.35)
          .select(col("id_a"), col("id_b"))
        val nodes = emb.select(col("vec_id"))
        // directed closure: both edge directions + a self-loop per
        // node, so "max over out-neighbors" includes keeping your own
        // registers and the two-step join covers dist 0, 1, 2
        val symSelf = edges.select(col("id_a").as("a"), col("id_b").as("b"))
          .unionAll(edges.select(col("id_b").as("a"), col("id_a").as("b")))
          .unionAll(nodes.select(col("vec_id").as("a"),
            col("vec_id").as("b")))
          .cache()
        val h0 = nodes
          .withColumn("x", expr(
            "(vec_id * 2654435761 + 1000003) % 4294967296"))
          .withColumn("x2", expr("x ^ (x div 65536)"))
          .withColumn("x3", expr("(x2 * 2145916205) % 4294967296"))
          .withColumn("h", expr("x3 ^ (x3 div 8192)"))
          .select(col("vec_id"),
            expr("h % 16").as("j"),
            when(expr("h div 16") === 0, lit(29))
              .otherwise(lit(29) - length(expr("bin(h div 16)")))
              .as("m"))
        def propagate(regs: org.apache.spark.sql.DataFrame) =
          symSelf.join(regs.select(col("vec_id").as("b"), col("j"),
              col("m")), "b")
            .groupBy(col("a").as("vec_id"), col("j"))
            .agg(max(col("m")).as("m"))
        val r2 = propagate(propagate(h0))
        val est = r2.groupBy("vec_id")
          .agg(count(lit(1)).as("n_regs"),
            (sum(expr(
              "1.0 / cast(shiftleft(cast(1 as bigint), m) as double)"))
              + (lit(16) - count(lit(1))) * lit(1.0)).as("z"))
          .select(col("vec_id"), col("n_regs"),
            (lit(0.673) * lit(256.0) / col("z")).as("hll_estimate"))
        val exact = symSelf.as("e1")
          .join(symSelf.as("e2"), col("e1.b") === col("e2.a"))
          .select(col("e1.a").as("vec_id"), col("e2.b").as("w"))
          .distinct()
          .groupBy("vec_id").agg(count(lit(1)).as("exact_ball2"))
        exact.join(est, "vec_id")
          .select(col("vec_id"), col("exact_ball2"), col("n_regs"),
            col("hll_estimate"))
          .orderBy("vec_id")
      },
      Some(s"""WITH $exCte,
        dots AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
            CAST(sum(CAST(a.e * b.e AS DECIMAL(18,9))) AS DOUBLE) AS dot
          FROM ex a JOIN ex b ON a.i = b.i AND a.vec_id < b.vec_id
          GROUP BY 1, 2),
        und AS (SELECT id_a, id_b FROM dots
          JOIN nrm na ON na.vec_id = id_a
          JOIN nrm nb ON nb.vec_id = id_b
          WHERE dot / (sqrt(na.nn) * sqrt(nb.nn)) >= 0.35),
        sym AS (SELECT id_a AS a, id_b AS b FROM und
          UNION ALL SELECT id_b, id_a FROM und
          UNION ALL SELECT vec_id, vec_id FROM embeddings),
        h0 AS (SELECT vec_id, h % 16 AS j,
            CASE WHEN h // 16 = 0 THEN 29
              ELSE 29 - length(bin(h // 16)) END AS m
          FROM (SELECT vec_id,
              xor(x3, x3 // 8192) AS h
            FROM (SELECT vec_id,
                (xor(x, x // 65536) * 2145916205) % 4294967296 AS x3
              FROM (SELECT vec_id,
                  (vec_id * 2654435761 + 1000003) % 4294967296 AS x
                FROM embeddings)))),
        r1 AS (SELECT sym.a AS vec_id, j, max(m) AS m
          FROM sym JOIN h0 ON h0.vec_id = sym.b GROUP BY 1, 2),
        r2 AS (SELECT sym.a AS vec_id, j, max(m) AS m
          FROM sym JOIN r1 ON r1.vec_id = sym.b GROUP BY 1, 2),
        est AS (SELECT vec_id, CAST(count(*) AS BIGINT) AS n_regs,
            sum(1.0 / CAST((1::BIGINT << m) AS DOUBLE))
              + (16 - count(*)) * 1.0 AS z
          FROM r2 GROUP BY 1),
        ball AS (SELECT e1.a AS vec_id,
            CAST(count(DISTINCT e2.b) AS BIGINT) AS exact_ball2
          FROM sym e1 JOIN sym e2 ON e1.b = e2.a GROUP BY 1)
        SELECT ball.vec_id, ball.exact_ball2, est.n_regs,
          0.673 * 256.0 / est.z AS hll_estimate
        FROM ball JOIN est USING (vec_id)
        ORDER BY vec_id""")),

    // PQ recall — the eval that closes the ANN quality matrix (LSH →
    // q203, Matryoshka truncation → q300, PQ-ADC → here): per query,
    // top-5 by the q64 PQ-ADC index vs top-5 by EXACT squared-L2
    // (the metric PQ approximates), scored as recall@5 + top-1
    // agreement. This is the number you tune m / codebook size by
    // before committing a 100 TB embedding store to 8-byte codes. The
    // exact arm is one broadcast of the 10-query set against the
    // corpus with the decimal-exact L2 kernel (map-side, the KMeans
    // distance shape); the PQ arm is the audited pqTopK.
    Q("q305_pq_recall",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val emb = Tables.load(s, dir, "embeddings")
        val qset = emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"),
            col("embedding").as("qe"))
        // round 20: compiled DecimalFold kernel replaces the
        // interpreted aggregate(zip_with(…)) HOF (DecimalFoldSpec)
        val sq = graft.expressions.DecimalFold
          .sqDist(col("embedding"), col("qe"))
        val w = Window.partitionBy("query_id")
          .orderBy(col("d"), col("cand_id"))
        // both retrievals are consumed twice (overlap + top-1):
        // persist the 50-row frames or each pass executes twice
        val exact = graft.sources.ScanSpread
          .spread(emb.select(col("vec_id").as("cand_id"),
            col("embedding")))
          .crossJoin(broadcast(qset))
          .filter(col("cand_id") =!= col("query_id"))
          .select(col("query_id"), col("cand_id"), sq.as("d"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 5)
          .cache()
        val pq = Similarity.pqTopK(emb, emb.filter(col("vec_id") < 10),
            emb.filter(col("vec_id") < 16), m = 8, dim = Dim, k = 5)
          .select(col("query_id"), col("cand_id").as("p_cand"),
            col("rank").as("p_rank"))
          .cache()
        val overlap = exact.join(pq,
            exact("query_id") === pq("query_id") &&
              exact("cand_id") === pq("p_cand"))
          .groupBy(exact("query_id").as("query_id"))
          .agg(count(lit(1)).as("n_overlap"))
        exact.filter(col("rank") === 1)
          .select(col("query_id"), col("cand_id").as("exact_top1"))
          .join(pq.filter(col("p_rank") === 1L)
            .select(col("query_id"), col("p_cand").as("pq_top1")),
            "query_id")
          .join(overlap, Seq("query_id"), "left")
          .select(col("query_id"),
            (coalesce(col("n_overlap"), lit(0L)).cast("double") / 5.0)
              .as("recall_at_5"),
            (col("exact_top1") === col("pq_top1")).as("top1_match"),
            col("exact_top1"), col("pq_top1"))
          .orderBy("query_id")
      },
      Some(s"""WITH ex AS (
          SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS e,
            generate_subscripts(embedding, 1) AS i FROM embeddings),
        sub AS (SELECT vec_id, e, i,
            CAST((i - 1) // ${Dim / 8} AS INT) AS sub FROM ex),
        cw AS (SELECT vec_id AS cid, e AS ce, i, sub
          FROM sub WHERE vec_id < 16),
        cdist AS (SELECT a.vec_id AS vid, c.cid, a.sub,
            CAST(sum(CAST((a.e - c.ce) * (a.e - c.ce) AS DECIMAL(18,9)))
              AS DOUBLE) AS d
          FROM sub a JOIN cw c ON a.i = c.i
          GROUP BY 1, 2, 3),
        codes AS (SELECT vid AS cand_id, sub, cid FROM (
            SELECT vid, sub, cid, row_number() OVER (PARTITION BY vid, sub
              ORDER BY d, cid) AS rn
            FROM cdist) WHERE rn = 1),
        qd AS (SELECT vid AS query_id, sub, cid, d
          FROM cdist WHERE vid < 10),
        adc AS (SELECT q.query_id, c.cand_id,
            CAST(sum(CAST(q.d AS DECIMAL(28,12))) AS DOUBLE) AS adc_dist
          FROM codes c JOIN qd q ON q.sub = c.sub AND q.cid = c.cid
          WHERE q.query_id <> c.cand_id
          GROUP BY 1, 2),
        ptop AS (SELECT query_id, cand_id, rank FROM (
            SELECT query_id, cand_id,
              row_number() OVER (PARTITION BY query_id
                ORDER BY adc_dist, cand_id) AS rank
            FROM adc) WHERE rank <= 5),
        edist AS (SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
            CAST(sum(CAST((a.e - b.e) * (a.e - b.e) AS DECIMAL(18,9)))
              AS DOUBLE) AS d
          FROM ex a JOIN ex b ON a.i = b.i
          WHERE a.vec_id < 10 AND b.vec_id <> a.vec_id
          GROUP BY 1, 2),
        etop AS (SELECT query_id, cand_id, rank FROM (
            SELECT query_id, cand_id,
              row_number() OVER (PARTITION BY query_id
                ORDER BY d, cand_id) AS rank
            FROM edist) WHERE rank <= 5),
        ov AS (SELECT e.query_id, count(*) AS n_overlap
          FROM etop e JOIN ptop p
            ON e.query_id = p.query_id AND e.cand_id = p.cand_id
          GROUP BY 1)
        SELECT e1.query_id,
          CAST(coalesce(ov.n_overlap, 0) AS DOUBLE) / 5.0 AS recall_at_5,
          e1.cand_id = p1.cand_id AS top1_match,
          e1.cand_id AS exact_top1, p1.cand_id AS pq_top1
        FROM (SELECT query_id, cand_id FROM etop WHERE rank = 1) e1
        JOIN (SELECT query_id, cand_id FROM ptop WHERE rank = 1) p1
          USING (query_id)
        LEFT JOIN ov USING (query_id)
        ORDER BY query_id""")),

    // Cell conductance — does the k-means partitioning RESPECT the
    // near-dup graph? SemDeDup (q107) only compares pairs INSIDE a
    // cell, so every near-dup edge CUT by a cell boundary is a
    // duplicate the cheap pass can never see. Per cell: members,
    // volume (Σ degree), cut edges (one endpoint outside), and
    // conductance cut/min(vol, totalVol−vol) — the standard partition
    // quality score. High conductance = the cell slices dup clusters
    // = raise k-means iters or add a cross-cell pass. Everything is
    // keyed equi-joins on the sparse edge list (assignment broadcast
    // by AQE); the oracle replays the identical fit (kmeansCtes) and
    // edge set, so the composite — fit + graph + score — is under the
    // hash.
    Q("q306_cell_conductance",
      (s, dir) => {
        import org.apache.spark.sql.types.DoubleType
        val emb = Tables.load(s, dir, "embeddings")
        val edges = Similarity.cosinePairsAbove(emb, 0.35)
          .select(col("id_a"), col("id_b"))
        val assign = KMeans.fitAssign(emb, k = 8, iters = 2)
          .select(col("vec_id"), col("cluster"))
        val lab = edges
          .join(assign.select(col("vec_id").as("id_a"),
            col("cluster").as("ca")), "id_a")
          .join(assign.select(col("vec_id").as("id_b"),
            col("cluster").as("cb")), "id_b")
        // vol(S) = Σ_{v∈S} deg(v): every edge adds 1 to each
        // endpoint's cluster; cut edges count once per side
        val perSide = lab.select(col("ca").as("cluster"),
            when(col("ca") =!= col("cb"), 1L).otherwise(0L).as("cut"))
          .unionAll(lab.select(col("cb").as("cluster"),
            when(col("ca") =!= col("cb"), 1L).otherwise(0L).as("cut")))
        // k rows, but consumed TWICE (the final join AND the total):
        // without this persist the whole edge kernel upstream executes
        // twice (ExplainAudit round 13 caught the recompute)
        val stats = perSide.groupBy("cluster")
          .agg(count(lit(1)).as("volume"), sum("cut").as("cut_edges"))
          .cache()
        val members = assign.groupBy("cluster")
          .agg(count(lit(1)).as("n_members"))
        val total = stats.agg(sum("volume").as("total_vol"))
        members.join(stats, Seq("cluster"), "left")
          .na.fill(0L, Seq("volume", "cut_edges"))
          .crossJoin(broadcast(total))
          .select(col("cluster"), col("n_members"), col("volume"),
            col("cut_edges"),
            when(least(col("volume"),
                col("total_vol") - col("volume")) === 0L, lit(0.0))
              .otherwise(col("cut_edges").cast(DoubleType) /
                least(col("volume"), col("total_vol") - col("volume"))
                  .cast(DoubleType))
              .as("conductance"))
          .orderBy("cluster")
      },
      Some(s"""WITH $exCte,
        $kmeansCtes,
        assign AS (SELECT vec_id, cid AS cluster FROM a2 WHERE rn = 1),
        dots AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
            CAST(sum(CAST(a.e * b.e AS DECIMAL(18,9))) AS DOUBLE) AS dot
          FROM ex a JOIN ex b ON a.i = b.i AND a.vec_id < b.vec_id
          GROUP BY 1, 2),
        und AS (SELECT id_a, id_b FROM dots
          JOIN nrm na ON na.vec_id = id_a
          JOIN nrm nb ON nb.vec_id = id_b
          WHERE dot / (sqrt(na.nn) * sqrt(nb.nn)) >= 0.35),
        lab AS (SELECT aa.cluster AS ca, bb.cluster AS cb
          FROM und
          JOIN assign aa ON aa.vec_id = und.id_a
          JOIN assign bb ON bb.vec_id = und.id_b),
        side AS (SELECT ca AS cluster,
            CASE WHEN ca <> cb THEN 1 ELSE 0 END AS cut FROM lab
          UNION ALL SELECT cb,
            CASE WHEN ca <> cb THEN 1 ELSE 0 END FROM lab),
        stats AS (SELECT cluster, CAST(count(*) AS BIGINT) AS volume,
            CAST(sum(cut) AS BIGINT) AS cut_edges
          FROM side GROUP BY 1),
        mem AS (SELECT cluster, CAST(count(*) AS BIGINT) AS n_members
          FROM assign GROUP BY 1),
        tot AS (SELECT CAST(sum(volume) AS BIGINT) AS total_vol
          FROM stats)
        SELECT mem.cluster, mem.n_members,
          coalesce(stats.volume, 0) AS volume,
          coalesce(stats.cut_edges, 0) AS cut_edges,
          CASE WHEN least(coalesce(stats.volume, 0),
              tot.total_vol - coalesce(stats.volume, 0)) = 0 THEN 0.0
            ELSE CAST(coalesce(stats.cut_edges, 0) AS DOUBLE)
              / CAST(least(coalesce(stats.volume, 0),
                  tot.total_vol - coalesce(stats.volume, 0)) AS DOUBLE)
            END AS conductance
        FROM mem LEFT JOIN stats USING (cluster), tot
        ORDER BY mem.cluster"""))
  )

  /** Two Lloyd iterations from the 8 lowest-id seeds, mirrored CTE by
    * CTE from KMeans.fitAssign (seeds → distances → argmin → centroid
    * update → distances → argmin). Shared by q75's and q107's oracles
    * so the fit exists in exactly one SQL copy. Yields `a2`; the
    * assignment is `SELECT vec_id, cid FROM a2 WHERE rn = 1`. */
  private lazy val kmeansCtes: String =
    """c0 AS (SELECT vec_id AS cid, i, e AS c FROM ex WHERE vec_id < 8),
        d1 AS (SELECT ex.vec_id, cid,
            CAST(sum(CAST((e - c) * (e - c) AS DECIMAL(18,9)))
              AS DOUBLE) AS d
          FROM ex JOIN c0 USING (i) GROUP BY 1, 2),
        a1 AS (SELECT vec_id, cid, d,
            row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
          FROM d1),
        c1 AS (SELECT cid, i,
            CAST(sum(CAST(e AS DECIMAL(18,9))) AS DOUBLE) / count(*) AS c
          FROM (SELECT vec_id, cid FROM a1 WHERE rn = 1) s
          JOIN ex USING (vec_id) GROUP BY 1, 2),
        d2 AS (SELECT ex.vec_id, cid,
            CAST(sum(CAST((e - c) * (e - c) AS DECIMAL(18,9)))
              AS DOUBLE) AS d
          FROM ex JOIN c1 USING (i) GROUP BY 1, 2),
        a2 AS (SELECT vec_id, cid, d,
            row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
          FROM d2)"""

  /** Symmetric int8 quantization — the standard 4× memory compression
    * for embedding stores (scale = max|v|/127, code = round(v/scale)).
    * Exposed as q179 below; factored for spec reuse. Explode → hash
    * aggregate → join-back on vec_id (the q124-measured layout: codegen
    * hash aggregates beat HOF folds); the final aggregate rides the
    * join's vec_id partitioning, so quantization costs two shuffles of
    * the long-form table total. The positional checksum Σ code·i pins
    * every individual int8 code cross-engine without shipping arrays;
    * reconstruction error accumulates in DECIMAL(38,12) (order-free).
    * round() is spelled floor(x + 0.5) explicitly so both engines use
    * the identical tie rule; ±maxabs lands exactly on ±127, zero
    * vectors quantize to all-zero codes by the maxabs = 0 guard. */
  private[queries] def int8Quantize(ex: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types.DoubleType
    val stats = ex.groupBy("vec_id").agg(max(abs(col("e"))).as("maxabs"))
    ex.join(stats, "vec_id")
      .withColumn("scale", col("maxabs") / 127.0)
      .withColumn("qv",
        when(col("maxabs") === 0.0, 0.0)
          .otherwise(least(greatest(
            floor(col("e") / col("scale") + 0.5), lit(-127.0)), lit(127.0))))
      .withColumn("err", col("e") - col("qv") * col("scale"))
      .groupBy("vec_id")
      .agg(max(col("scale")).as("scale"),
        sum((col("err") * col("err")).cast("decimal(38,12)"))
          .cast(DoubleType).as("sq_err"),
        sum(col("qv").cast("long") * (col("pos") + lit(1L)))
          .as("checksum"))
  }
}
