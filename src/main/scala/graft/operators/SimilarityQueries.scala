package graft.operators

import org.apache.spark.sql.functions._
import graft.Tables
import graft.analytics.{CorpusOps, Similarity}

/** Similarity-search queries (north-star ANN tier) over `embeddings`.
  * The cosine is a left-fold double sum in both engines (Spark
  * `aggregate` with 0.0 init vs DuckDB `list_reduce` seeded by the first
  * element — `0.0 + x` is exact, so the two folds are bit-identical).
  */
object SimilarityQueries {

  /** DuckDB cosine between two DOUBLE[] expressions, as a left fold. */
  private[operators] def duckCosine(a: String, b: String): String =
    s"""list_reduce(list_transform(list_zip($a, $b), x -> x[1] * x[2]), (acc, v) -> acc + v)
       | / (sqrt(list_reduce(list_transform($a, x -> x * x), (acc, v) -> acc + v))
       |   * sqrt(list_reduce(list_transform($b, x -> x * x), (acc, v) -> acc + v)))"""
      .stripMargin

  /** DuckDB mirror of [[Similarity.signBucket]]: the same seeded ±1
    * hyperplane pattern (generated from one source of truth), each
    * projection a left-fold multiply-add — bit-identical to the Spark
    * expression. */
  private[operators] def duckSignBucket(tbl: String, bits: Int,
      dim: Int = 64, seed: Long = 42L): String = {
    val signs = Similarity.hyperplaneSigns(bits, dim, seed)
    (0 until bits).map { i =>
      val arr = signs(i).map(s => if (s > 0) "1.0" else "-1.0")
        .mkString("[", ",", "]")
      s"CASE WHEN ${duckFold(s"$tbl.embedding::DOUBLE[]", arr)} >= 0 THEN ${1 << i} ELSE 0 END"
    }.mkString(" + ")
  }

  /** One hyperplane fold: the left-assoc multiply-add `list_reduce`
    * shared by [[duckSignBucket]] and [[duckResidualBucket]]. */
  private def duckFold(vec: String, arr: String): String =
    s"list_reduce(list_transform(list_zip($vec, $arr::DOUBLE[]), " +
      s"x -> x[1] * x[2]), (acc, v) -> acc + v)"

  /** DuckDB mirror of [[Similarity.residualSignBucket]]: per bit, the
    * DIFFERENCE of the vector's and the centroid's folds (each
    * left-assoc, then one subtract — the pinned evaluation order),
    * bit i contributes `1 << i` iff the difference is ≥ 0. */
  private[operators] def duckResidualBucket(vec: String, cent: String,
      bits: Int, dim: Int = 64, seed: Long = 42L): String = {
    val signs = Similarity.hyperplaneSigns(bits, dim, seed)
    (0 until bits).map { i =>
      val arr = signs(i).map(s => if (s > 0) "1.0" else "-1.0")
        .mkString("[", ",", "]")
      s"CASE WHEN (${duckFold(vec, arr)}) - (${duckFold(cent, arr)})" +
        s" >= 0 THEN ${1 << i} ELSE 0 END"
    }.mkString(" + ")
  }

  /** Any-table bucket-match join condition (the OR-amplified candidate
    * rule of [[Similarity.bucketedTopK]]) between aliases `a` and `b`. */
  private[operators] def duckAnyBucketMatch(a: String, b: String,
      bits: Int, dim: Int = 64, tables: Int = 2): String =
    (0 until tables).map { t =>
      val s = Similarity.tableSeed(t)
      s"(${duckSignBucket(a, bits, dim, s)}) = (${duckSignBucket(b, bits, dim, s)})"
    }.mkString("(", " OR ", ")")

  /** Trained-codebook CTE chain `cent0 → assign1,cent1 → … →
    * cent$iters`: DuckDB replay of [[Similarity.kmeansCodebook]]'s
    * deterministic spherical k-means (integer-quantized per-dimension
    * sums, so centroids are reproducible under any partitioning) —
    * shared by q58 (inline trained IVF) and q98 (persisted index). */
  private def trainedCentCtes(kC: Int, dim: Int, iters: Int,
      src: String = "embeddings"): String = {
    def assignCte(i: Int): String = s"""
      assign$i AS (
        SELECT centroid_id, embedding FROM (
          SELECT e.embedding, c.centroid_id,
            ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
              ${duckCosine("e.embedding::DOUBLE[]", "c.cent_emb")} DESC,
              c.centroid_id) AS rn
          FROM $src e CROSS JOIN cent${i - 1} c) t
        WHERE rn = 1)"""
    def centCte(i: Int): String = s"""
      cent$i AS (
        SELECT c0.centroid_id, COALESCE(m.cent_emb, c0.cent_emb) AS cent_emb
        FROM cent${i - 1} c0 LEFT JOIN (
          SELECT centroid_id, list(m ORDER BY pos) AS cent_emb FROM (
            SELECT centroid_id, g.i AS pos,
              SUM(CAST(floor(embedding[g.i] * 1048576.0) AS BIGINT))
                / COUNT(*) / 1048576.0 AS m
            FROM assign$i, generate_series(1, $dim) AS g(i)
            GROUP BY centroid_id, g.i) s
          GROUP BY centroid_id) m
        ON c0.centroid_id = m.centroid_id)"""
    s"""cent0 AS (
        SELECT CAST(vec_id AS INT) AS centroid_id,
          embedding::DOUBLE[] AS cent_emb
        FROM $src WHERE vec_id < $kC),
      ${(1 to iters).map(i => assignCte(i) + "," + centCte(i))
        .mkString(",")}"""
  }

  /** Cell-assignment CTE pair against centroid table `centTbl`:
    * `corpus_cells` (nearest cell per corpus vector) and `query_cells`
    * (the `nprobe` nearest cells per query, queries = vec_id < 16) —
    * the probe shape shared by q46/q58/q75/q98. */
  private def cellCtes(centTbl: String, nprobe: Int): String = s"""
      corpus_cells AS (
        SELECT neighbor_id, c_emb, centroid_id AS cell FROM (
          SELECT e.vec_id AS neighbor_id, e.embedding AS c_emb,
            c.centroid_id,
            ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
              ${duckCosine("e.embedding::DOUBLE[]", "c.cent_emb")} DESC,
              c.centroid_id) AS crn
          FROM embeddings e CROSS JOIN $centTbl c) t
        WHERE crn <= 1),
      query_cells AS (
        SELECT query_id, q_emb, centroid_id AS cell FROM (
          SELECT e.vec_id AS query_id, e.embedding AS q_emb,
            c.centroid_id,
            ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
              ${duckCosine("e.embedding::DOUBLE[]", "c.cent_emb")} DESC,
              c.centroid_id) AS crn
          FROM embeddings e CROSS JOIN $centTbl c
          WHERE e.vec_id < 16) t
        WHERE crn <= $nprobe)"""

  /** Int8 scalar-quantization CTE pair `coded → normed(vec_id, code,
    * n2)` — the exact floor arithmetic of [[Similarity.sq8Quantize]]
    * (zero / NaN / Inf vectors excluded), shared by q77 and q98. */
  private def sq8CodedCtes: String = """coded AS (
        SELECT vec_id,
          list_transform(embedding::DOUBLE[], x ->
            CAST(floor(x * 127.0 /
              list_max(list_transform(embedding::DOUBLE[], y -> abs(y)))
              + 0.5) AS BIGINT)) AS code
        FROM embeddings
        WHERE list_max(list_transform(embedding::DOUBLE[], y -> abs(y))) > 0
          AND NOT isnan(list_max(list_transform(embedding::DOUBLE[], y -> abs(y))))
          AND list_max(list_transform(embedding::DOUBLE[], y -> abs(y)))
            <> 'infinity'::DOUBLE),
      normed AS (
        SELECT vec_id, code,
          list_reduce(list_transform(code, x -> x * x),
            (acc, v) -> acc + v) AS n2
        FROM coded)"""

  val all: Seq[Q] = Seq(

    // Exact brute-force top-k: query set (vec_id < 16) broadcast against
    // the corpus scan; per-query top-5 via row_number. At 100 TB the
    // corpus side stays a single narrow scan — no corpus shuffle.
    // Per-label embedding diagnostics: centroid norm + mean squared
    // distance to the centroid from 2^20 fixed-point component sums
    // (float vector means can never hash-match across engines; exact
    // integer sums + one fixed double sequence can).
    Q("q137_embedding_stats", Some("""
      WITH x AS (
        SELECT label,
          unnest(list_transform(embedding,
            e -> CAST(floor(CAST(e AS DOUBLE) * 1048576) AS BIGINT)))
            AS fx,
          unnest(range(1, len(embedding) + 1)) AS dim
        FROM embeddings WHERE embedding IS NOT NULL
      ), pd AS (
        SELECT label, dim, sum(CAST(fx AS HUGEINT)) AS s,
          sum(CAST(fx * fx AS HUGEINT)) AS ss, count(*) AS c
        FROM x GROUP BY 1, 2
      ), pl AS (
        SELECT label, max(CASE WHEN dim = 1 THEN c END) AS n,
          sum(s * s) AS b, sum(ss) AS a
        FROM pd GROUP BY 1
      )
      SELECT CAST(label AS BIGINT) AS label, CAST(n AS BIGINT) AS n,
        sqrt(CAST(b AS DOUBLE)
          / CAST(CAST(n AS HUGEINT) * n AS DOUBLE)
          / 1099511627776.0) AS centroid_norm,
        CAST(a AS DOUBLE) / CAST(n AS DOUBLE) / 1099511627776.0
          - CAST(b AS DOUBLE)
            / CAST(CAST(n AS HUGEINT) * n AS DOUBLE)
            / 1099511627776.0 AS avg_sq_dist
      FROM pl ORDER BY label""")) { (s, dir) =>
      graft.analytics.EmbeddingStats.groupStats(
        Tables.load(s, dir, "embeddings")
          .withColumn("label", col("label").cast("long")),
        "label", "embedding")
    },

    // Embedding quality gate: null / wrong-dim / non-finite /
    // zero-norm counts plus the norm² envelope in exact fixed-point
    // units — the pre-indexing validation pass. Map-only + one
    // scalar aggregation; every output is an exact BIGINT.
    Q("q206_embedding_gate", Some("""
      WITH r AS (
        SELECT embedding IS NULL AS nl,
          embedding IS NOT NULL AND len(embedding) <> 64 AS wd,
          embedding IS NOT NULL AND len(embedding) = 64 AND
            len(list_filter(embedding,
              x -> isnan(CAST(x AS DOUBLE))
                OR isinf(CAST(x AS DOUBLE)))) > 0 AS nf,
          CASE WHEN embedding IS NOT NULL AND len(embedding) = 64
            THEN CAST(list_sum(list_transform(embedding,
              x -> CAST(floor(CAST(x AS DOUBLE) * 1048576) AS BIGINT)
                * CAST(floor(CAST(x AS DOUBLE) * 1048576) AS BIGINT)))
              AS BIGINT) END AS n2r
        FROM embeddings),
      r2 AS (
        SELECT nl, wd, nf,
          CASE WHEN NOT nl AND NOT wd AND NOT nf THEN n2r END AS n2
        FROM r)
      SELECT CAST(count(*) AS BIGINT) AS n_vecs,
        CAST(SUM(CASE WHEN nl THEN 1 ELSE 0 END) AS BIGINT)
          AS n_null_vec,
        CAST(SUM(CASE WHEN wd THEN 1 ELSE 0 END) AS BIGINT)
          AS n_wrong_dim,
        CAST(SUM(CASE WHEN nf THEN 1 ELSE 0 END) AS BIGINT)
          AS n_nonfinite,
        CAST(SUM(CASE WHEN n2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_zero,
        CAST(MIN(n2) AS BIGINT) AS min_norm2_fp,
        CAST(MAX(n2) AS BIGINT) AS max_norm2_fp
      FROM r2""")) { (s, dir) =>
      graft.analytics.EmbeddingStats.qualityGate(
        Tables.load(s, dir, "embeddings"), "embedding",
        expectedDim = 64)
    },

    // Inter-centroid separation matrix over the q137 fixed-point
    // sums: per label pair, centroid distance and the Fisher-style
    // dist²/(disp_a+disp_b) ratio. dist² expands to the three exact
    // HUGEINT cross sums; doubles only in the closed form — the
    // "are my labels separable" audit before training on them.
    Q("q201_centroid_sep", Some("""
      WITH x AS (
        SELECT label,
          unnest(list_transform(embedding,
            e -> CAST(floor(CAST(e AS DOUBLE) * 1048576) AS BIGINT)))
            AS fx,
          unnest(range(1, len(embedding) + 1)) AS dim
        FROM embeddings WHERE embedding IS NOT NULL
          AND label IS NOT NULL
      ), pd AS (
        SELECT label, dim, sum(CAST(fx AS HUGEINT)) AS s,
          sum(CAST(fx * fx AS HUGEINT)) AS ss, count(*) AS c
        FROM x GROUP BY 1, 2
      ), pl AS (
        SELECT label, max(CASE WHEN dim = 1 THEN c END) AS n,
          sum(s * s) AS b, sum(ss) AS a
        FROM pd GROUP BY 1
      ), st AS (
        SELECT label, n,
          CAST(a AS DOUBLE) / CAST(n AS DOUBLE) / 1099511627776.0
            - CAST(b AS DOUBLE)
              / CAST(CAST(n AS HUGEINT) * n AS DOUBLE)
              / 1099511627776.0 AS disp
        FROM pl
      ), cr AS (
        SELECT a.label AS ga, b.label AS gb,
          sum(a.s * a.s) AS saa, sum(a.s * b.s) AS sab,
          sum(b.s * b.s) AS sbb
        FROM pd a JOIN pd b ON a.dim = b.dim AND a.label < b.label
        GROUP BY 1, 2
      ), j AS (
        SELECT ga, gb,
          (CAST(saa AS DOUBLE)
             / CAST(CAST(sa.n AS HUGEINT) * sa.n AS DOUBLE)
           - 2.0 * CAST(sab AS DOUBLE)
             / CAST(CAST(sa.n AS HUGEINT) * sb.n AS DOUBLE)
           + CAST(sbb AS DOUBLE)
             / CAST(CAST(sb.n AS HUGEINT) * sb.n AS DOUBLE))
            / 1099511627776.0 AS dist2,
          sa.disp AS da, sb.disp AS db
        FROM cr JOIN st sa ON cr.ga = sa.label
          JOIN st sb ON cr.gb = sb.label)
      SELECT CAST(ga AS BIGINT) AS label_a,
        CAST(gb AS BIGINT) AS label_b,
        sqrt(dist2) AS centroid_dist,
        CASE WHEN da + db > 0 THEN dist2 / (da + db) END AS sep_ratio
      FROM j ORDER BY label_a, label_b""")) { (s, dir) =>
      graft.analytics.EmbeddingStats.centroidSeparation(
        Tables.load(s, dir, "embeddings")
          .withColumn("label", col("label").cast("long")),
        "label", "embedding")
    },

    // Top principal component of the embedding cloud (anisotropy /
    // spectral-collapse audit): exact fixed-point moment matrix in one
    // corpus pass, then power iteration on the driver over the
    // collected dim×dim model — every inner sum a first-element-seeded
    // left fold, so the oracle replays the identical IEEE chain with
    // unrolled list_reduce CTEs (the q58 trained-centroid pattern
    // applied to an eigensolve).
    {
      val dim = 64
      val iters = 12
      // MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and
      // each iteration references cov plus the previous v twice — an
      // inlined chain re-expands the whole prefix 2^iters times (the
      // kmeansCodebook plan-growth hazard, here on the oracle side).
      val iterCtes = (1 to iters).map { t =>
        s"""mv$t AS MATERIALIZED (
        SELECT cov.i AS i,
          list_reduce(list(cov.c * pv.v ORDER BY cov.j),
            (a, b) -> a + b) AS mv
        FROM cov JOIN v${t - 1} pv ON cov.j = pv.i GROUP BY cov.i),
      nm$t AS MATERIALIZED (
        SELECT sqrt(list_reduce(list(mv * mv ORDER BY i),
          (a, b) -> a + b)) AS nm FROM mv$t),
      v$t AS MATERIALIZED (SELECT i, mv / nm AS v FROM mv$t, nm$t)"""
      }.mkString(",\n      ")
      Q("q234_pca_top_pc", Some(s"""
      WITH x AS (
        SELECT unnest(list_transform(embedding,
            e -> CAST(floor(CAST(e AS DOUBLE) * 1048576) AS BIGINT)))
            AS fx,
          unnest(range(1, len(embedding) + 1)) AS dim
        FROM embeddings
        WHERE embedding IS NOT NULL AND len(embedding) = $dim),
      s AS (
        SELECT dim, sum(CAST(fx AS HUGEINT)) AS s, count(*) AS c
        FROM x GROUP BY 1),
      nn AS (SELECT MAX(c) AS n FROM s),
      ev AS (
        SELECT list_transform(embedding, e -> CAST(e AS DOUBLE)) AS v
        FROM embeddings
        WHERE embedding IS NOT NULL AND len(embedding) = $dim),
      m AS (
        SELECT gi.i AS i, gj.j AS j,
          sum(CAST(floor(v[gi.i] * v[gj.j] * 1048576.0) AS HUGEINT))
            AS m
        FROM ev, generate_series(1, $dim) gi(i),
          generate_series(1, $dim) gj(j)
        GROUP BY 1, 2),
      cov AS MATERIALIZED (
        SELECT m.i AS i, m.j AS j,
          CAST(m.m AS DOUBLE) / CAST(nn.n AS DOUBLE) / 1048576.0
            - (CAST(si.s AS DOUBLE) / CAST(nn.n AS DOUBLE) / 1048576.0)
            * (CAST(sj.s AS DOUBLE) / CAST(nn.n AS DOUBLE) / 1048576.0)
            AS c
        FROM m JOIN s si ON si.dim = m.i JOIN s sj ON sj.dim = m.j
        CROSS JOIN nn),
      v0 AS MATERIALIZED (
        SELECT g.i AS i, 1.0 / sqrt(CAST($dim AS DOUBLE)) AS v
        FROM generate_series(1, $dim) g(i)),
      $iterCtes,
      pvt AS (SELECT i, v FROM v$iters),
      pvmax AS (SELECT v FROM pvt ORDER BY abs(v) DESC, i ASC LIMIT 1),
      sg AS (
        SELECT CASE WHEN v < 0 THEN -1.0 ELSE 1.0 END AS sg
        FROM pvmax),
      tr AS (
        SELECT list_reduce(list(c ORDER BY i), (a, b) -> a + b)
          AS trace
        FROM cov WHERE i = j)
      SELECT CAST(pvt.i - 1 AS BIGINT) AS dim_idx,
        CAST(si.s AS DOUBLE) / CAST(nn.n AS DOUBLE) / 1048576.0 AS mu,
        cv.c AS variance, pvt.v * sg.sg AS loading,
        nm$iters.nm AS eigenvalue, nm$iters.nm / tr.trace AS explained
      FROM pvt JOIN s si ON si.dim = pvt.i
      JOIN cov cv ON cv.i = pvt.i AND cv.j = pvt.i
      CROSS JOIN nn CROSS JOIN sg CROSS JOIN tr CROSS JOIN nm$iters
      ORDER BY dim_idx""")) { (s, dir) =>
        graft.analytics.EmbeddingStats.pcaTopComponent(
          Tables.load(s, dir, "embeddings"), "embedding", dim = dim,
          iterations = iters)
      }
    },

    // Distance-concentration audit (Beyer et al.): pairwise distance
    // stats over the deterministic k-smallest-(h30,id) sample — the
    // bounded-state TopKByHash aggregate is the only corpus-scale
    // stage; the k(k-1)/2 distances and their mean/std are seed-first
    // folds in (id_a, id_b) order, replayed verbatim by list_reduce.
    // concentration (std/mean) -> 0 is the "every neighbor looks
    // equidistant" regime where ANN recall quietly dies.
    {
      val dim = 64
      val k = 48
      Q("q235_dist_concentration", Some(s"""
      WITH e AS (
        SELECT CAST(vec_id AS BIGINT) AS id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
        WHERE embedding IS NOT NULL AND len(embedding) = $dim
          AND vec_id IS NOT NULL),
      h AS (
        SELECT id, v FROM (
          SELECT id, v, ROW_NUMBER() OVER (ORDER BY
            CAST('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 8)
              AS BIGINT) % ${graft.analytics.Dedup.P}, id) AS rk
          FROM e) t
        WHERE rk <= $k),
      p AS (
        SELECT a.id AS ia, b.id AS ib,
          sqrt(list_reduce(list_transform(range(1, ${dim + 1}),
            i -> (a.v[i] - b.v[i]) * (a.v[i] - b.v[i])),
            (x, y) -> x + y)) AS dist
        FROM h a JOIN h b ON a.id < b.id),
      st AS (
        SELECT CAST((SELECT count(*) FROM h) AS BIGINT) AS n_sample,
          CAST(count(*) AS BIGINT) AS n_pairs,
          MIN(dist) AS mn, MAX(dist) AS mx,
          list_reduce(list(dist ORDER BY ia, ib), (x, y) -> x + y)
            / CAST(count(*) AS DOUBLE) AS mean
        FROM p),
      vr AS (
        SELECT sqrt(
          list_reduce(list((dist - st.mean) * (dist - st.mean)
            ORDER BY ia, ib), (x, y) -> x + y)
          / CAST(st.n_pairs AS DOUBLE)) AS std
        FROM p, st GROUP BY st.n_pairs, st.mean)
      SELECT n_sample, n_pairs, mean AS mean_dist, std AS std_dist,
        std / mean AS concentration, mn AS min_dist, mx AS max_dist
      FROM st, vr""")) { (s, dir) =>
        graft.analytics.EmbeddingStats.distanceConcentration(
          Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
          dim = dim, k = k)
      }
    },

    // Top-2 spectral profile via Hotelling deflation (q234's
    // eigensolve, then subtract λ·u·uᵀ and iterate again): loadings,
    // eigenvalues, per-component and CUMULATIVE explained variance —
    // the effective-dimensionality read. The oracle replays both
    // power iterations as two unrolled MATERIALIZED CTE blocks with
    // the deflated matrix computed between them; the outer product
    // uses the RAW iterate (sign-invariant), exactly as the engine.
    {
      val dim = 64
      val iters = 12
      def iterBlock(covName: String, p: String): String =
        (1 to iters).map { t =>
          s"""${p}mv$t AS MATERIALIZED (
        SELECT $covName.i AS i,
          list_reduce(list($covName.c * pv.v ORDER BY $covName.j),
            (a, b) -> a + b) AS mv
        FROM $covName JOIN ${p}v${t - 1} pv ON $covName.j = pv.i
        GROUP BY $covName.i),
      ${p}nm$t AS MATERIALIZED (
        SELECT sqrt(list_reduce(list(mv * mv ORDER BY i),
          (a, b) -> a + b)) AS nm FROM ${p}mv$t),
      ${p}v$t AS MATERIALIZED (
        SELECT i, mv / nm AS v FROM ${p}mv$t, ${p}nm$t)"""
        }.mkString(",\n      ")
      Q("q237_pca_spectrum", Some(s"""
      WITH x AS (
        SELECT unnest(list_transform(embedding,
            e -> CAST(floor(CAST(e AS DOUBLE) * 1048576) AS BIGINT)))
            AS fx,
          unnest(range(1, len(embedding) + 1)) AS dim
        FROM embeddings
        WHERE embedding IS NOT NULL AND len(embedding) = $dim),
      s AS (
        SELECT dim, sum(CAST(fx AS HUGEINT)) AS s, count(*) AS c
        FROM x GROUP BY 1),
      nn AS (SELECT MAX(c) AS n FROM s),
      ev AS (
        SELECT list_transform(embedding, e -> CAST(e AS DOUBLE)) AS v
        FROM embeddings
        WHERE embedding IS NOT NULL AND len(embedding) = $dim),
      m AS (
        SELECT gi.i AS i, gj.j AS j,
          sum(CAST(floor(v[gi.i] * v[gj.j] * 1048576.0) AS HUGEINT))
            AS m
        FROM ev, generate_series(1, $dim) gi(i),
          generate_series(1, $dim) gj(j)
        GROUP BY 1, 2),
      cov AS MATERIALIZED (
        SELECT m.i AS i, m.j AS j,
          CAST(m.m AS DOUBLE) / CAST(nn.n AS DOUBLE) / 1048576.0
            - (CAST(si.s AS DOUBLE) / CAST(nn.n AS DOUBLE) / 1048576.0)
            * (CAST(sj.s AS DOUBLE) / CAST(nn.n AS DOUBLE) / 1048576.0)
            AS c
        FROM m JOIN s si ON si.dim = m.i JOIN s sj ON sj.dim = m.j
        CROSS JOIN nn),
      v0 AS MATERIALIZED (
        SELECT g.i AS i, 1.0 / sqrt(CAST($dim AS DOUBLE)) AS v
        FROM generate_series(1, $dim) g(i)),
      ${iterBlock("cov", "")},
      cov2 AS MATERIALIZED (
        SELECT cov.i AS i, cov.j AS j,
          cov.c - nm$iters.nm * pa.v * pb.v AS c
        FROM cov JOIN v$iters pa ON cov.i = pa.i
        JOIN v$iters pb ON cov.j = pb.i
        CROSS JOIN nm$iters),
      bv0 AS MATERIALIZED (SELECT i, v FROM v0),
      ${iterBlock("cov2", "b")},
      tr AS (
        SELECT list_reduce(list(c ORDER BY i), (a, b) -> a + b)
          AS trace
        FROM cov WHERE i = j),
      sg1 AS (
        SELECT CASE WHEN v < 0 THEN -1.0 ELSE 1.0 END AS sg FROM (
          SELECT v FROM v$iters ORDER BY abs(v) DESC, i ASC LIMIT 1)),
      sg2 AS (
        SELECT CASE WHEN v < 0 THEN -1.0 ELSE 1.0 END AS sg FROM (
          SELECT v FROM bv$iters ORDER BY abs(v) DESC, i ASC LIMIT 1))
      SELECT * FROM (
        SELECT CAST(1 AS BIGINT) AS component,
          CAST(pvt.i - 1 AS BIGINT) AS dim_idx,
          pvt.v * sg1.sg AS loading, nm$iters.nm AS eigenvalue,
          nm$iters.nm / tr.trace AS explained,
          nm$iters.nm / tr.trace AS cum_explained
        FROM v$iters pvt CROSS JOIN sg1 CROSS JOIN nm$iters
        CROSS JOIN tr
        UNION ALL
        SELECT CAST(2 AS BIGINT), CAST(bp.i - 1 AS BIGINT),
          bp.v * sg2.sg, bnm$iters.nm,
          bnm$iters.nm / tr.trace,
          (nm$iters.nm + bnm$iters.nm) / tr.trace
        FROM bv$iters bp CROSS JOIN sg2 CROSS JOIN bnm$iters
        CROSS JOIN nm$iters CROSS JOIN tr)
      ORDER BY component, dim_idx""")) { (s, dir) =>
        graft.analytics.EmbeddingStats.pcaTopComponents(
          Tables.load(s, dir, "embeddings"), "embedding", dim = dim,
          nComponents = 2, iterations = iters)
      }
    },

    Q("q23_cosine_topk", Some(s"""
      WITH scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          ${duckCosine("q.embedding::DOUBLE[]", "c.embedding::DOUBLE[]")} AS score
        FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        WHERE q.vec_id < 16)
      SELECT query_id, neighbor_id, score, CAST(rn AS INT) AS rn FROM (
        SELECT query_id, neighbor_id, score,
          ROW_NUMBER() OVER (PARTITION BY query_id
                             ORDER BY score DESC, neighbor_id) AS rn
        FROM scored) t
      WHERE rn <= 5 ORDER BY query_id, rn""")) { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb.filter(col("vec_id") < 16), emb, k = 5)
        .orderBy("query_id", "rn")
    },

    // Retrieval-quality metrics of the LSH ANN run against the exact
    // brute-force ground truth: per-query MRR@5 and NDCG@5. The log2
    // discounts are pre-quantized to INTEGER micro-units
    // (⌊10¹²/log2(rank+1)⌋, shared Scala-generated literals), so DCG
    // sums are exact longs and NDCG is one double division — no libm
    // log at query time, no order-dependent double summation.
    {
      val bits = 8
      val disc: Map[Int, Long] = (1 to 5).map(i =>
        i -> math.floor(1e12 / (math.log(i + 1) / math.log(2)))
          .toLong).toMap
      val idcg: Long = (1 to 5).map(disc).sum
      val discSql = (1 to 5).map(i =>
        s"WHEN ${i} THEN ${disc(i)}").mkString(" ")
      Q("q158_retrieval_metrics", Some(s"""
      WITH truth AS (
        SELECT query_id, neighbor_id, rn FROM (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
            ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
              ${duckCosine("q.embedding::DOUBLE[]",
                "c.embedding::DOUBLE[]")} DESC, c.vec_id) AS rn
          FROM embeddings q JOIN embeddings c
            ON q.vec_id <> c.vec_id
          WHERE q.vec_id < 16) t
        WHERE rn <= 5
      ), cand AS (
        SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          ${duckCosine("q.embedding::DOUBLE[]",
            "c.embedding::DOUBLE[]")} AS score
        FROM embeddings q JOIN embeddings c
          ON ${duckAnyBucketMatch("q", "c", bits)}
         AND q.vec_id <> c.vec_id
        WHERE q.vec_id < 16
      ), ann AS (
        SELECT query_id, neighbor_id, rn FROM (
          SELECT query_id, neighbor_id,
            ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY score DESC, neighbor_id) AS rn
          FROM cand) t
        WHERE rn <= 5
      ), hits AS (
        SELECT a.query_id, a.rn
        FROM ann a JOIN truth t
          ON a.query_id = t.query_id
         AND a.neighbor_id = t.neighbor_id
      ), per AS (
        SELECT query_id,
          CAST(count(*) AS BIGINT) AS n_hits,
          min(rn) AS first_hit,
          sum(CASE rn $discSql ELSE 0 END) AS dcg
        FROM hits GROUP BY 1
      )
      SELECT q.query_id, coalesce(per.n_hits, 0) AS n_hits,
        CASE WHEN per.first_hit IS NOT NULL THEN
          CAST(1.0 AS DOUBLE) / CAST(per.first_hit AS DOUBLE)
          ELSE CAST(0.0 AS DOUBLE) END AS mrr,
        CASE WHEN per.dcg IS NOT NULL THEN
          CAST(per.dcg AS DOUBLE) / CAST(${idcg} AS DOUBLE)
          ELSE CAST(0.0 AS DOUBLE) END AS ndcg
      FROM (SELECT DISTINCT query_id FROM truth) q
      LEFT JOIN per ON q.query_id = per.query_id
      ORDER BY q.query_id""")) { (s, dir) =>
        val emb = Tables.load(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") < 16)
        val truth = Similarity.bruteForceTopK(queries, emb, k = 5)
          .select(col("query_id"), col("neighbor_id"))
        val ann = Similarity.bucketedTopK(queries, emb,
            k = 5, bits = bits)
          .select(col("query_id"), col("neighbor_id"), col("rn"))
        val discCol = (1 to 5).foldLeft(lit(0L)) { (acc, i) =>
          when(col("rn") === i, lit(disc(i))).otherwise(acc)
        }
        val per = ann
          .join(truth, Seq("query_id", "neighbor_id"))
          .groupBy("query_id")
          .agg(count(lit(1)).as("n_hits"),
            min(col("rn")).as("first_hit"),
            sum(discCol).as("dcg"))
        truth.select("query_id").distinct()
          .join(per, Seq("query_id"), "left_outer")
          .select(col("query_id"),
            coalesce(col("n_hits"), lit(0L)).as("n_hits"),
            when(col("first_hit").isNotNull,
              lit(1.0) / col("first_hit").cast("double"))
              .otherwise(lit(0.0)).as("mrr"),
            when(col("dcg").isNotNull,
              col("dcg").cast("double") / lit(idcg.toDouble))
              .otherwise(lit(0.0)).as("ndcg"))
          .orderBy("query_id")
      }
    },

    // LSH-bucketed approximate top-k: candidates = any-bucket match
    // across 2 independent seeded random-hyperplane tables (8 bits
    // each, OR-amplified), deduped before exact scoring — per-table the
    // shuffle key is still the bucket id.
    {
      val bits = 8
      Q("q24_cosine_topk_lsh", Some(s"""
      WITH cand AS (
        SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          ${duckCosine("q.embedding::DOUBLE[]", "c.embedding::DOUBLE[]")} AS score
        FROM embeddings q JOIN embeddings c
          ON ${duckAnyBucketMatch("q", "c", bits)}
         AND q.vec_id <> c.vec_id
        WHERE q.vec_id < 16)
      SELECT query_id, neighbor_id, score, CAST(rn AS INT) AS rn FROM (
        SELECT query_id, neighbor_id, score,
          ROW_NUMBER() OVER (PARTITION BY query_id
                             ORDER BY score DESC, neighbor_id) AS rn
        FROM cand) t
      WHERE rn <= 5 ORDER BY query_id, rn""")) { (s, dir) =>
        val emb = Tables.load(s, dir, "embeddings")
        Similarity.bucketedTopK(emb.filter(col("vec_id") < 16), emb,
            k = 5, bits = bits)
          .orderBy("query_id", "rn")
      }
    },

    // IVF approximate top-k: 16-centroid codebook (first vectors),
    // corpus assigned to nearest cell, queries probe 2 cells, exact
    // cosine only within candidate cells.
    Q("q46_ivf_topk", Some(s"""
      WITH centroids AS (
        SELECT vec_id AS centroid_id, embedding AS cent_emb
        FROM embeddings WHERE vec_id < 16),
      corpus_cells AS (
        SELECT neighbor_id, c_emb, centroid_id AS cell FROM (
          SELECT e.vec_id AS neighbor_id, e.embedding AS c_emb,
            c.centroid_id,
            ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
              ${duckCosine("e.embedding::DOUBLE[]", "c.cent_emb::DOUBLE[]")} DESC,
              c.centroid_id) AS crn
          FROM embeddings e CROSS JOIN centroids c) t
        WHERE crn <= 1),
      query_cells AS (
        SELECT query_id, q_emb, centroid_id AS cell FROM (
          SELECT e.vec_id AS query_id, e.embedding AS q_emb,
            c.centroid_id,
            ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
              ${duckCosine("e.embedding::DOUBLE[]", "c.cent_emb::DOUBLE[]")} DESC,
              c.centroid_id) AS crn
          FROM embeddings e CROSS JOIN centroids c
          WHERE e.vec_id < 16) t
        WHERE crn <= 2),
      scored AS (
        SELECT q.query_id, cc.neighbor_id,
          ${duckCosine("q.q_emb::DOUBLE[]", "cc.c_emb::DOUBLE[]")} AS score
        FROM query_cells q JOIN corpus_cells cc USING (cell)
        WHERE q.query_id <> cc.neighbor_id)
      SELECT query_id, neighbor_id, score, CAST(rn AS INT) AS rn FROM (
        SELECT query_id, neighbor_id, score,
          ROW_NUMBER() OVER (PARTITION BY query_id
                             ORDER BY score DESC, neighbor_id) AS rn
        FROM scored) t
      WHERE rn <= 5 ORDER BY query_id, rn""")) { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      Similarity.ivfTopK(emb.filter(col("vec_id") < 16), emb,
          k = 5, codebookSize = 16, nprobe = 2)
        .orderBy("query_id", "rn")
    },

    // Incremental IVF index maintenance END-TO-END: build the
    // persisted index on the BASE corpus (vec_id < 400), append the
    // delta (vec_id >= 400) against the FROZEN stored codebook, and
    // report per-cell base/delta counts read back FROM DISK — the
    // ingest path that never retrains or rescans the base. The
    // oracle trains the same codebook on base only and assigns all
    // vectors against it — identical cell membership.
    {
      val kC = 8; val dim = 64; val iters = 2; val cutoff = 400
      Q("q220_incremental_index", Some(s"""
      WITH ${trainedCentCtes(kC, dim, iters,
          src = s"(SELECT * FROM embeddings WHERE vec_id < $cutoff)")},
      cells AS (
        SELECT neighbor_id, cell FROM (
          SELECT e.vec_id AS neighbor_id, c.centroid_id AS cell,
            ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
              ${duckCosine("e.embedding::DOUBLE[]", "c.cent_emb")} DESC,
              c.centroid_id) AS crn
          FROM embeddings e CROSS JOIN cent$iters c) t
        WHERE crn = 1)
      SELECT CAST(cell AS INT) AS cell,
        CAST(SUM(CASE WHEN neighbor_id < $cutoff THEN 1 ELSE 0 END)
          AS BIGINT) AS n_base,
        CAST(SUM(CASE WHEN neighbor_id >= $cutoff THEN 1 ELSE 0 END)
          AS BIGINT) AS n_delta
      FROM cells GROUP BY cell ORDER BY cell""")) { (s, dir) =>
        val emb = Tables.load(s, dir, "embeddings")
        val path = Q.scratchPath("q220ivf", dir)
        Similarity.buildIvfIndex(emb.where(col("vec_id") < cutoff),
          path, k = kC, dim = dim, iterations = iters)
        Similarity.appendToIvfIndex(
          emb.where(col("vec_id") >= cutoff), path)
        s.read.parquet(s"$path/cells")
          .groupBy(col("cell").cast("int").as("cell"))
          .agg(sum((col("neighbor_id") < cutoff).cast("long"))
            .as("n_base"),
            sum((col("neighbor_id") >= cutoff).cast("long"))
              .as("n_delta"))
          .orderBy("cell")
      }
    },

    // IVF with a TRAINED codebook: 2 Lloyd rounds of deterministic
    // spherical k-means (integer-quantized per-dimension sums — exact
    // and associative, so centroids are reproducible under any
    // partitioning) then the same cell-probe shape as q46. The oracle
    // unrolls both iterations as CTE pairs generated from the same
    // constants.
    {
      val kC = 8; val dim = 64; val iters = 2
      Q("q58_ivf_kmeans", Some(s"""
      WITH ${trainedCentCtes(kC, dim, iters)},
      ${cellCtes(s"cent$iters", nprobe = 2)},
      scored AS (
        SELECT q.query_id, cc.neighbor_id,
          ${duckCosine("q.q_emb::DOUBLE[]", "cc.c_emb::DOUBLE[]")} AS score
        FROM query_cells q JOIN corpus_cells cc USING (cell)
        WHERE q.query_id <> cc.neighbor_id)
      SELECT query_id, neighbor_id, score, CAST(rn AS INT) AS rn FROM (
        SELECT query_id, neighbor_id, score,
          ROW_NUMBER() OVER (PARTITION BY query_id
                             ORDER BY score DESC, neighbor_id) AS rn
        FROM scored) t
      WHERE rn <= 5 ORDER BY query_id, rn""")) { (s, dir) =>
        val emb = Tables.load(s, dir, "embeddings")
        val codebook = Similarity.kmeansCodebook(emb, "vec_id",
          "embedding", k = kC, dim = dim, iterations = iters)
        Similarity.ivfTopKWith(emb.filter(col("vec_id") < 16), emb,
            codebook, k = 5, nprobe = 2)
          .orderBy("query_id", "rn")
      }
    },

    // ANN quality measurement: recall@5 of the two approximate paths —
    // IVF cell-probe (q46's codebook/probe shape, via ivfTopKWith) and
    // sign-bucket LSH (q24's bucketing) — against the exact brute-force
    // top-5, one row per (method, query). This is the "how good is the
    // approximation?" number an ANN user needs before trading recall
    // for the pruned scan. Deterministic: every top-k (exact and
    // approximate) breaks score ties on neighbor_id in both engines,
    // so the hit sets — not just the averages — are reproducible.
    // Queries whose candidate set came up empty surface as recall 0.
    {
      val bits = 8
      Q("q75_ann_recall", Some(s"""
      WITH exact AS (
        SELECT query_id, neighbor_id FROM (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
            ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
              ${duckCosine("q.embedding::DOUBLE[]", "c.embedding::DOUBLE[]")} DESC,
              c.vec_id) AS rn
          FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
          WHERE q.vec_id < 16) t
        WHERE rn <= 5),
      lsh_cand AS (
        SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          ${duckCosine("q.embedding::DOUBLE[]", "c.embedding::DOUBLE[]")} AS score
        FROM embeddings q JOIN embeddings c
          ON ${duckAnyBucketMatch("q", "c", bits)}
         AND q.vec_id <> c.vec_id
        WHERE q.vec_id < 16),
      lsh AS (
        SELECT query_id, neighbor_id FROM (
          SELECT query_id, neighbor_id,
            ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
              score DESC, neighbor_id) AS rn
          FROM lsh_cand) t
        WHERE rn <= 5),
      centroids AS (
        SELECT vec_id AS centroid_id, embedding AS cent_emb
        FROM embeddings WHERE vec_id < 16),
      corpus_cells AS (
        SELECT neighbor_id, c_emb, centroid_id AS cell FROM (
          SELECT e.vec_id AS neighbor_id, e.embedding AS c_emb,
            c.centroid_id,
            ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
              ${duckCosine("e.embedding::DOUBLE[]", "c.cent_emb::DOUBLE[]")} DESC,
              c.centroid_id) AS crn
          FROM embeddings e CROSS JOIN centroids c) t
        WHERE crn <= 1),
      query_cells AS (
        SELECT query_id, q_emb, centroid_id AS cell FROM (
          SELECT e.vec_id AS query_id, e.embedding AS q_emb,
            c.centroid_id,
            ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
              ${duckCosine("e.embedding::DOUBLE[]", "c.cent_emb::DOUBLE[]")} DESC,
              c.centroid_id) AS crn
          FROM embeddings e CROSS JOIN centroids c
          WHERE e.vec_id < 16) t
        WHERE crn <= 2),
      ivf AS (
        SELECT query_id, neighbor_id FROM (
          SELECT q.query_id, cc.neighbor_id,
            ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
              ${duckCosine("q.q_emb::DOUBLE[]", "cc.c_emb::DOUBLE[]")} DESC,
              cc.neighbor_id) AS rn
          FROM query_cells q JOIN corpus_cells cc USING (cell)
          WHERE q.query_id <> cc.neighbor_id) t
        WHERE rn <= 5),
      approx AS (
        SELECT 'ivf' AS method, query_id, neighbor_id FROM ivf
        UNION ALL
        SELECT 'lsh_bucket' AS method, query_id, neighbor_id FROM lsh),
      hit_counts AS (
        SELECT a.method, a.query_id, COUNT(*) AS h
        FROM approx a JOIN exact e USING (query_id, neighbor_id)
        GROUP BY 1, 2),
      exact_counts AS (
        SELECT query_id, COUNT(*) AS ec FROM exact GROUP BY 1)
      SELECT m.method, q.vec_id AS query_id,
        CAST(COALESCE(h.h, 0) AS INT) AS hits,
        CASE WHEN COALESCE(ec.ec, 0) = 0 THEN 1.0
             ELSE CAST(COALESCE(h.h, 0) AS DOUBLE) / LEAST(5, ec.ec)
        END AS recall
      FROM (SELECT 'ivf' AS method UNION ALL SELECT 'lsh_bucket') m
      CROSS JOIN (SELECT vec_id FROM embeddings WHERE vec_id < 16) q
      LEFT JOIN hit_counts h
        ON h.method = m.method AND h.query_id = q.vec_id
      LEFT JOIN exact_counts ec ON ec.query_id = q.vec_id
      ORDER BY m.method, q.vec_id""")) { (s, dir) =>
        val emb = Tables.load(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") < 16)
        val qids = queries.select(col("vec_id").as("query_id"))
        val exact = Similarity.bruteForceTopK(queries, emb, k = 5)
        val ivf = Similarity.ivfTopK(queries, emb, k = 5,
          codebookSize = 16, nprobe = 2)
        val lsh = Similarity.bucketedTopK(queries, emb, k = 5, bits = bits)
        Similarity.recallAtK(qids, exact, ivf, k = 5, method = "ivf")
          .union(Similarity.recallAtK(qids, exact, lsh, k = 5,
            method = "lsh_bucket"))
          .orderBy("method", "query_id")
      }
    },

    // int8 scalar-quantized top-k: per-vector max-abs scale, codes =
    // floor(x·127/scale + 0.5), scoring on exact integer dot products.
    // The 100 TB angle is memory bandwidth — the corpus scan reads 1
    // byte/dim instead of 4 — and bit-reproducibility (integer sums
    // have no accumulation-order sensitivity). Both engines run the
    // identical floor arithmetic, so codes (and therefore scores)
    // hash-match exactly.
    Q("q77_sq8_topk", Some(s"""
      WITH $sq8CodedCtes,
      scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          CAST(list_reduce(list_transform(list_zip(q.code, c.code),
                 x -> x[1] * x[2]), (acc, v) -> acc + v) AS DOUBLE)
            / (sqrt(CAST(q.n2 AS DOUBLE)) * sqrt(CAST(c.n2 AS DOUBLE))) AS score
        FROM normed q JOIN normed c ON q.vec_id <> c.vec_id
        WHERE q.vec_id < 16)
      SELECT query_id, neighbor_id, score, CAST(rn AS INT) AS rn FROM (
        SELECT query_id, neighbor_id, score,
          ROW_NUMBER() OVER (PARTITION BY query_id
                             ORDER BY score DESC, neighbor_id) AS rn
        FROM scored) t
      WHERE rn <= 5 ORDER BY query_id, rn""")) { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      // packed-binary path: same integers as the long-array form the
      // oracle replays (spec-asserted equal), a quarter of the bytes
      Similarity.sq8TopKPacked(emb.filter(col("vec_id") < 16), emb, k = 5)
        .orderBy("query_id", "rn")
    },

    // PERSISTED IVF index paths, oracle-checked end to end: build the
    // float index (trained codebook + cell-partitioned assignments) and
    // the SQ8 index (same codebook, packed int8 codes) on disk, query
    // BOTH through the partition-pruned indexed readers, and measure
    // recall@5 of each against the exact brute-force top-5 — one row
    // per (method, query). The indexed readers are the shape a
    // production ANN service runs at 100 TB (train/assign once, every
    // query pays only its nprobe cell partitions); until now they were
    // covered only by inline-equivalence specs. The oracle re-derives
    // the trained k-means, the cell probe, the int8 quantization, AND
    // the recall arithmetic in SQL — per-query hit counts must match
    // exactly, a strictly stronger check than an average-recall floor.
    {
      val kC = 8; val dim = 64; val iters = 2; val nprobe = 2
      Q("q98_ivf_index_recall", Some(s"""
      WITH ${trainedCentCtes(kC, dim, iters)},
      ${cellCtes(s"cent$iters", nprobe)},
      exact AS (
        SELECT query_id, neighbor_id FROM (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
            ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
              ${duckCosine("q.embedding::DOUBLE[]", "c.embedding::DOUBLE[]")} DESC,
              c.vec_id) AS rn
          FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
          WHERE q.vec_id < 16) t
        WHERE rn <= 5),
      ivf AS (
        SELECT query_id, neighbor_id FROM (
          SELECT q.query_id, cc.neighbor_id,
            ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
              ${duckCosine("q.q_emb::DOUBLE[]", "cc.c_emb::DOUBLE[]")} DESC,
              cc.neighbor_id) AS rn
          FROM query_cells q JOIN corpus_cells cc USING (cell)
          WHERE q.query_id <> cc.neighbor_id) t
        WHERE rn <= 5),
      $sq8CodedCtes,
      sq8 AS (
        SELECT query_id, neighbor_id FROM (
          SELECT q.query_id, cc.neighbor_id,
            ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
              CAST(list_reduce(list_transform(list_zip(nq.code, nc.code),
                     x -> x[1] * x[2]), (acc, v) -> acc + v) AS DOUBLE)
                / (sqrt(CAST(nq.n2 AS DOUBLE))
                   * sqrt(CAST(nc.n2 AS DOUBLE))) DESC,
              cc.neighbor_id) AS rn
          FROM query_cells q
          JOIN normed nq ON nq.vec_id = q.query_id
          JOIN corpus_cells cc USING (cell)
          JOIN normed nc ON nc.vec_id = cc.neighbor_id
          WHERE q.query_id <> cc.neighbor_id) t
        WHERE rn <= 5),
      approx AS (
        SELECT 'ivf_indexed' AS method, query_id, neighbor_id FROM ivf
        UNION ALL
        SELECT 'sq8_indexed' AS method, query_id, neighbor_id FROM sq8),
      hit_counts AS (
        SELECT a.method, a.query_id, COUNT(*) AS h
        FROM approx a JOIN exact e USING (query_id, neighbor_id)
        GROUP BY 1, 2),
      exact_counts AS (
        SELECT query_id, COUNT(*) AS ec FROM exact GROUP BY 1)
      SELECT m.method, q.vec_id AS query_id,
        CAST(COALESCE(h.h, 0) AS INT) AS hits,
        CASE WHEN COALESCE(ec.ec, 0) = 0 THEN 1.0
             ELSE CAST(COALESCE(h.h, 0) AS DOUBLE) / LEAST(5, ec.ec)
        END AS recall
      FROM (SELECT 'ivf_indexed' AS method
            UNION ALL SELECT 'sq8_indexed') m
      CROSS JOIN (SELECT vec_id FROM embeddings WHERE vec_id < 16) q
      LEFT JOIN hit_counts h
        ON h.method = m.method AND h.query_id = q.vec_id
      LEFT JOIN exact_counts ec ON ec.query_id = q.vec_id
      ORDER BY m.method, q.vec_id""")) { (s, dir) =>
        val emb = Tables.load(s, dir, "embeddings")
        val idx = Q.scratchPath("q98idx", dir)
        // build both indexes BEFORE any indexed read opens the codebook
        // (overwrite replaces files; a reader holding the old file list
        // would hit deleted paths). One k-means training pass feeds
        // both layouts — same corpus, same seed, so separate trainings
        // produced an identical codebook at double the cost
        val cb = Similarity.kmeansCodebook(emb, "vec_id", "embedding",
          kC, dim, iters)
        // ONE corpus-assignment pass feeds both layouts too (r20):
        // cell membership is the same argmax against the same
        // codebook, so separate assignments computed an identical
        // frame at double the n·k kernel cost
        val assigned = Similarity.assignNearestCellScored(cb,
            emb.select(col("vec_id").as("neighbor_id"),
              col("embedding").as("c_emb")),
            "neighbor_id", "c_emb")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          Similarity.buildIvfIndex(emb, idx, k = kC, dim = dim,
            iterations = iters, codebook = Some(cb),
            assignments = Some(assigned))
          Similarity.buildIvfIndexSq8(emb, idx, k = kC, dim = dim,
            iterations = iters, codebook = Some(cb),
            assignments = Some(assigned))
        } finally assigned.unpersist(false)
        val queries = emb.filter(col("vec_id") < 16)
        val qids = queries.select(col("vec_id").as("query_id"))
        val exact = Similarity.bruteForceTopK(queries, emb, k = 5)
        val ivf = Similarity.ivfTopKIndexed(s, idx, queries, k = 5,
          nprobe = nprobe)
        val sq8 = Similarity.ivfTopKIndexedSq8(s, idx, queries, k = 5,
          nprobe = nprobe)
        Similarity.recallAtK(qids, exact, ivf, k = 5,
            method = "ivf_indexed")
          .union(Similarity.recallAtK(qids, exact, sq8, k = 5,
            method = "sq8_indexed"))
          .orderBy("method", "query_id")
      }
    },

    // SemDeDup (Abbas et al. 2023): k-means cluster the embeddings,
    // prune near-duplicates WITHIN each cluster — a vector is dropped
    // iff a same-cell vector at cosine >= 0.35 sits strictly closer
    // to the centroid (tie: lower id). The oracle re-derives the
    // trained codebook (same integer-quantized Lloyd replay as
    // q58/q98), the cell assignment, and the full within-cell
    // pairwise pass in SQL. Pairwise work never crosses a cell — the
    // paper's scalability argument, and ours at 100 TB (k ≈ √n keeps
    // Σ|cell|² linear-ish; here k=8 on a 500-vector corpus).
    {
      val kC = 8; val dim = 64; val iters = 2; val tau = "0.35"
      Q("q103_semantic_dedup", Some(s"""
      WITH ${trainedCentCtes(kC, dim, iters)},
      semcells AS (
        SELECT vec_id, embedding, cell, cscore FROM (
          SELECT e.vec_id, e.embedding, c.centroid_id AS cell,
            ${duckCosine("e.embedding::DOUBLE[]", "c.cent_emb")} AS cscore,
            ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
              ${duckCosine("e.embedding::DOUBLE[]", "c.cent_emb")} DESC,
              c.centroid_id) AS rn
          FROM embeddings e CROSS JOIN cent$iters c) t
        WHERE rn = 1),
      sempairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          a.cscore AS ca, b.cscore AS cb,
          ${duckCosine("a.embedding::DOUBLE[]", "b.embedding::DOUBLE[]")}
            AS sim
        FROM semcells a JOIN semcells b
          ON a.cell = b.cell AND a.vec_id <> b.vec_id),
      near AS (
        SELECT id_a, COUNT(*) AS near_dups FROM sempairs
        WHERE sim >= $tau GROUP BY id_a),
      dom AS (
        SELECT DISTINCT id_a FROM sempairs
        WHERE sim >= $tau
          AND (cb < ca OR (cb = ca AND id_b < id_a)))
      SELECT c.vec_id, CAST(c.cell AS INT) AS cell,
        (d.id_a IS NULL) AS kept,
        CAST(COALESCE(n.near_dups, 0) AS BIGINT) AS near_dups
      FROM semcells c
      LEFT JOIN dom d ON c.vec_id = d.id_a
      LEFT JOIN near n ON c.vec_id = n.id_a
      ORDER BY c.vec_id""")) { (s, dir) =>
        Similarity.semDedup(Tables.load(s, dir, "embeddings"),
            "vec_id", "embedding", k = kC, dim = dim,
            iterations = iters, threshold = 0.35)
          .orderBy("vec_id")
      }
    },

    // TWO-LEVEL semantic dedup — the sub-n^1.5 replacement for the
    // flat SemDeDup internals (the only designed tier the r15 sf10
    // rehearsal measured super-linear, 14.8x/decade even at k=sqrt n):
    // level 1 the same trained k-means (centroid distance still
    // drives the keep rule), level 2 splits each cell by sign-LSH
    // over RESIDUAL vectors (raw projections of same-cell vectors
    // concentrate around the centroid's — residual centering is what
    // makes the buckets actually split), pairwise only within
    // (cell, residual bucket) in ANY of 2 OR'd tables. The oracle
    // replays the Lloyd training, the argmax assignment, both
    // residual tables' fold-difference buckets, and the within-bucket
    // prune — parameters pinned (k1=8, bits2=2, t=2) like q103; the
    // auto sizing rules (k1 = ceil(n^1/3) capped, 2^bits ∝ n/k1) are
    // spec-pinned.
    {
      val k1 = 8; val dim = 64; val iters = 2; val tau = "0.35"
      val bits2 = 2; val tables = 2
      val rbCols = (0 until tables).map { t =>
        duckResidualBucket("s.embedding::DOUBLE[]", "c.cent_emb",
          bits2, dim, Similarity.tableSeed(t)) + s" AS rb$t"
      }.mkString(",\n          ")
      val rbMatch = (0 until tables).map(t => s"a.rb$t = b.rb$t")
        .mkString("(", " OR ", ")")
      Q("q255_semdedup_two_level", Some(s"""
      WITH ${trainedCentCtes(k1, dim, iters)},
      semcells AS (
        SELECT vec_id, embedding, cell, cscore FROM (
          SELECT e.vec_id, e.embedding, c.centroid_id AS cell,
            ${duckCosine("e.embedding::DOUBLE[]", "c.cent_emb")} AS cscore,
            ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
              ${duckCosine("e.embedding::DOUBLE[]", "c.cent_emb")} DESC,
              c.centroid_id) AS rn
          FROM embeddings e CROSS JOIN cent$iters c) t
        WHERE rn = 1),
      bk AS MATERIALIZED (
        SELECT s.vec_id, s.embedding, s.cell, s.cscore,
          $rbCols
        FROM semcells s JOIN cent$iters c ON s.cell = c.centroid_id),
      sempairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          a.cscore AS ca, b.cscore AS cb,
          ${duckCosine("a.embedding::DOUBLE[]", "b.embedding::DOUBLE[]")}
            AS sim
        FROM bk a JOIN bk b
          ON a.cell = b.cell AND $rbMatch
         AND a.vec_id <> b.vec_id),
      near AS (
        SELECT id_a, COUNT(*) AS near_dups FROM sempairs
        WHERE sim >= $tau GROUP BY id_a),
      dom AS (
        SELECT DISTINCT id_a FROM sempairs
        WHERE sim >= $tau
          AND (cb < ca OR (cb = ca AND id_b < id_a)))
      SELECT c.vec_id, CAST(c.cell AS INT) AS cell,
        (d.id_a IS NULL) AS kept,
        CAST(COALESCE(n.near_dups, 0) AS BIGINT) AS near_dups
      FROM semcells c
      LEFT JOIN dom d ON c.vec_id = d.id_a
      LEFT JOIN near n ON c.vec_id = n.id_a
      ORDER BY c.vec_id""")) { (s, dir) =>
        Similarity.semDedupTwoLevel(Tables.load(s, dir, "embeddings"),
            "vec_id", "embedding", k1 = k1, dim = dim,
            iterations = iters, threshold = 0.35, bits2 = bits2,
            tables = tables)
          .orderBy("vec_id")
      }
    },

    // SEMANTIC eval-set decontamination: an n-gram check (q68/q243)
    // only catches VERBATIM benchmark quotes — a paraphrased leak
    // shares no shingles but sits next to the benchmark item in
    // embedding space. Benchmark = the first 32 vectors (eval-suite-
    // sized, broadcast); corpus = the rest; a corpus doc is flagged
    // iff some benchmark vector at cosine >= 0.35 shares a sign
    // bucket in either of 2 seeded tables, reporting the best match
    // (max score, tie lowest bench id — NaN-greatest ordering shared
    // by both engines). Clean docs keep a null-match row: the
    // survivor list is WHERE NOT contaminated. Pinned bits=4/t=2
    // like q22; the recall-targeted auto sizing
    // (CorpusOps.semanticContaminationAuto — bits from the constant-
    // bucket rule, tables from the q256 inversion) is spec-pinned.
    Q("q258_semantic_decontamination", Some(s"""
      WITH b AS (
        SELECT vec_id AS bench_id, embedding FROM embeddings
        WHERE vec_id < 32),
      c AS (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 32),
      cand AS (
        SELECT DISTINCT c.vec_id, b.bench_id
        FROM c JOIN b ON ${duckAnyBucketMatch("c", "b", 4, 64, 2)}),
      scored AS (
        SELECT cand.vec_id, cand.bench_id,
          ${duckCosine("c.embedding::DOUBLE[]", "b.embedding::DOUBLE[]")}
            AS score
        FROM cand
        JOIN c ON cand.vec_id = c.vec_id
        JOIN b ON cand.bench_id = b.bench_id
        WHERE ${duckCosine("c.embedding::DOUBLE[]",
          "b.embedding::DOUBLE[]")} >= 0.35),
      best AS (
        SELECT vec_id, bench_id, score FROM (
          SELECT vec_id, bench_id, score,
            ROW_NUMBER() OVER (PARTITION BY vec_id
              ORDER BY score DESC, bench_id) AS rn
          FROM scored) t
        WHERE rn = 1)
      SELECT c.vec_id, best.bench_id, best.score,
        (best.bench_id IS NOT NULL) AS contaminated
      FROM c LEFT JOIN best USING (vec_id)
      ORDER BY c.vec_id""")) { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      CorpusOps.semanticContamination(
          emb.filter(col("vec_id") >= 32),
          emb.filter(col("vec_id") < 32),
          "vec_id", "embedding", threshold = 0.35, bits = 4,
          tables = 2)
        .orderBy("vec_id")
    },

    // ROUTED decontamination — the moderate-τ cap rule firing: at
    // (τ=0.35, R=0.99, maxTables=4) the inverted table count exceeds
    // the cap at EVERY corpus size here (needed grows with the auto
    // bit width: 7 at sf0.001, 30 at sf0.01, 372 at sf0.1), so
    // semanticContaminationAuto routes to a recall-1 scorer instead
    // of silently clamping below the stated recall: the EXACT
    // broadcast scan here (wall-flat at eval-suite bench sizes -
    // measured sf1->sf10 in SURVEY r18), or the centroid-PRUNED
    // indexed tier when the caller passes a persisted IVF index whose
    // training is already paid (q297 exercises that path; the two are
    // verdict-identical by the admissible bound, CorpusOpsSpec). The
    // oracle is therefore parameter-free: the same all-pairs scoring
    // + per-doc argmax, no centroid CTEs.
    Q("q283_decontamination_routed", Some(s"""
      WITH b AS (
        SELECT vec_id AS bench_id, embedding FROM embeddings
        WHERE vec_id < 32),
      c AS (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 32),
      scored AS (
        SELECT c.vec_id, b.bench_id,
          ${duckCosine("c.embedding::DOUBLE[]", "b.embedding::DOUBLE[]")}
            AS score
        FROM c CROSS JOIN b
        WHERE ${duckCosine("c.embedding::DOUBLE[]",
          "b.embedding::DOUBLE[]")} >= 0.35),
      best AS (
        SELECT vec_id, bench_id, score FROM (
          SELECT vec_id, bench_id, score,
            ROW_NUMBER() OVER (PARTITION BY vec_id
              ORDER BY score DESC, bench_id) AS rn
          FROM scored) t
        WHERE rn = 1)
      SELECT c.vec_id, best.bench_id, best.score,
        (best.bench_id IS NOT NULL) AS contaminated
      FROM c LEFT JOIN best USING (vec_id)
      ORDER BY c.vec_id""")) { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      CorpusOps.semanticContaminationAuto(
          emb.filter(col("vec_id") >= 32),
          emb.filter(col("vec_id") < 32),
          "vec_id", "embedding", threshold = 0.35,
          targetRecall = 0.99, maxTables = 4)
        .orderBy("vec_id")
    },

    // ROUTED embedding near-dup pairs — the cap rule firing on the
    // self-dedup side: on a fixed 120-vector slice the auto width is
    // bits=2, the (τ=0.35, R=0.9) inversion demands 5 tables > cap 2,
    // so embeddingNearDupsAuto routes to the CENTROID tier
    // (embeddingNearDupsCentroid: auto k₁=⌈120^⅓⌉=5 coarse cells,
    // residual bits 0 at this size → within-cell exact pairs). The
    // oracle replays the Lloyd training and the within-cell scored
    // pairs; the fixed slice keeps every routed parameter
    // sf-independent (no COUNT-gated branches needed), while the
    // sizing rules themselves stay spec-pinned.
    Q("q284_embdedup_centroid_routed", Some(s"""
      WITH sub AS (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id < 120),
      ${trainedCentCtes(5, 64, 2, "sub")},
      semcells AS (
        SELECT vec_id, embedding, cell FROM (
          SELECT e.vec_id, e.embedding, c.centroid_id AS cell,
            ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
              ${duckCosine("e.embedding::DOUBLE[]", "c.cent_emb")} DESC,
              c.centroid_id) AS rn
          FROM sub e CROSS JOIN cent2 c) t
        WHERE rn = 1)
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        ${duckCosine("a.embedding::DOUBLE[]", "b.embedding::DOUBLE[]")}
          AS score
      FROM semcells a JOIN semcells b
        ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE ${duckCosine("a.embedding::DOUBLE[]",
        "b.embedding::DOUBLE[]")} >= 0.35
      ORDER BY id_a, id_b""")) { (s, dir) =>
      import graft.analytics.Dedup
      val emb = Tables.load(s, dir, "embeddings")
        .filter(col("vec_id") < 120)
      Dedup.embeddingNearDupsAuto(emb, "vec_id", "embedding",
          threshold = 0.35, targetRecall = Some(0.9), maxTables = 2)
        .orderBy("id_a", "id_b")
    },

    // INDEXED exact-recall decontamination — q283's verdict (recall
    // 1) at the 100 TB operating point: the corpus lives in a
    // persisted IVF index whose per-cell stats carry residual radii,
    // a (bench, cell) pair is scored only when the spherical
    // triangle-inequality bound cos(max(0, θ(q,c) − r_cell)) admits
    // a ≥ τ member, and the unpruned-cell set drives PARTITION
    // PRUNING on the cell-partitioned assignment table — sublinear
    // corpus reads when the bench suite is concentrated, never more
    // than one scan. Pruning is provably recall-exact (admissible
    // bound + 1e-9 float slack, CorpusOpsSpec), so the oracle is the
    // SAME parameter-free all-pairs scoring as q283 — no centroid
    // CTEs to replay.
    Q("q297_decontamination_indexed", Some(s"""
      WITH b AS (
        SELECT vec_id AS bench_id, embedding FROM embeddings
        WHERE vec_id < 32),
      c AS (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 32),
      scored AS (
        SELECT c.vec_id, b.bench_id,
          ${duckCosine("c.embedding::DOUBLE[]", "b.embedding::DOUBLE[]")}
            AS score
        FROM c CROSS JOIN b
        WHERE ${duckCosine("c.embedding::DOUBLE[]",
          "b.embedding::DOUBLE[]")} >= 0.35),
      best AS (
        SELECT vec_id, bench_id, score FROM (
          SELECT vec_id, bench_id, score,
            ROW_NUMBER() OVER (PARTITION BY vec_id
              ORDER BY score DESC, bench_id) AS rn
          FROM scored) t
        WHERE rn = 1)
      SELECT c.vec_id, best.bench_id, best.score,
        (best.bench_id IS NOT NULL) AS contaminated
      FROM c LEFT JOIN best USING (vec_id)
      ORDER BY c.vec_id""")) { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val corpus = emb.filter(col("vec_id") >= 32)
      val bench = emb.filter(col("vec_id") < 32)
      val idx = Q.scratchPath("q297idx", dir)
      val kC = Similarity.autoNlist(corpus.count())
      // corpus ids start at 32: train via the smallest-k init (the
      // default id<k rule would seed an empty codebook here)
      Similarity.buildIvfIndex(corpus, idx, k = kC, dim = 64,
        iterations = 2,
        codebook = Some(Similarity.kmeansCodebook(corpus, "vec_id",
          "embedding", kC, 64, 2, initSmallestK = true)))
      CorpusOps.semanticContaminationIndexed(s, idx, bench,
          "vec_id", "embedding", threshold = 0.35)
        .orderBy("vec_id")
    },

    // Prototypicality pruning (Sorscher et al. 2022): rank each
    // vector within its k-means cell by centroid cosine and drop the
    // most prototypical 25% per cell — the data-pruning rule that
    // breaks power-law scaling on large corpora (prune EASY examples,
    // keep hard ones). Same trained-codebook replay as q103; the
    // verdict is one cell-keyed window — floor(0.25·|cell|) uses an
    // exactly-representable fraction so no FP boundary can disagree.
    Q("q261_prototypicality_prune", Some(s"""
      WITH ${trainedCentCtes(8, 64, 2)},
      semcells AS (
        SELECT vec_id, cell, cscore FROM (
          SELECT e.vec_id, c.centroid_id AS cell,
            ${duckCosine("e.embedding::DOUBLE[]", "c.cent_emb")} AS cscore,
            ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
              ${duckCosine("e.embedding::DOUBLE[]", "c.cent_emb")} DESC,
              c.centroid_id) AS rn
          FROM embeddings e CROSS JOIN cent2 c) t
        WHERE rn = 1),
      r AS (
        SELECT vec_id, cell, cscore,
          ROW_NUMBER() OVER (PARTITION BY cell
            ORDER BY cscore DESC, vec_id) AS rank_in_cell,
          COUNT(*) OVER (PARTITION BY cell) AS cell_size
        FROM semcells)
      SELECT vec_id, CAST(cell AS INT) AS cell, cscore,
        CAST(rank_in_cell AS BIGINT) AS rank_in_cell,
        CAST(cell_size AS BIGINT) AS cell_size,
        (rank_in_cell > floor(0.25 * cell_size)) AS kept
      FROM r ORDER BY vec_id""")) { (s, dir) =>
      Similarity.prototypicality(Tables.load(s, dir, "embeddings"),
          "vec_id", "embedding", k = 8, dim = 64, iterations = 2,
          pruneFraction = 0.25)
        .orderBy("vec_id")
    },

    // Clustering-quality audit: per trained k-means cell, the
    // ground-truth-label purity (majority/size, ties to the lowest
    // label) — the agreement number read before trusting a codebook
    // for IVF routing or semantic dedup. Purity over NMI on purpose:
    // exact counts and one double ratio, no libm entropy in the
    // cross-engine hash. Same Lloyd replay as q103/q255/q261.
    Q("q262_cluster_purity", Some(s"""
      WITH ${trainedCentCtes(8, 64, 2)},
      semcells AS (
        SELECT vec_id, cell FROM (
          SELECT e.vec_id, c.centroid_id AS cell,
            ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
              ${duckCosine("e.embedding::DOUBLE[]", "c.cent_emb")} DESC,
              c.centroid_id) AS rn
          FROM embeddings e CROSS JOIN cent2 c) t
        WHERE rn = 1),
      cl AS (
        SELECT s.cell, e.label, COUNT(*) AS cnt
        FROM semcells s JOIN embeddings e USING (vec_id)
        WHERE e.label IS NOT NULL
        GROUP BY 1, 2),
      agg AS (SELECT cell, SUM(cnt) AS cell_size FROM cl GROUP BY cell),
      maj AS (
        SELECT cell, label AS majority_label, cnt AS majority_count
        FROM (
          SELECT cell, label, cnt,
            ROW_NUMBER() OVER (PARTITION BY cell
              ORDER BY cnt DESC, label) AS rn
          FROM cl) t
        WHERE rn = 1)
      SELECT CAST(a.cell AS INT) AS cell,
        CAST(cell_size AS BIGINT) AS cell_size,
        CAST(majority_label AS INT) AS majority_label,
        CAST(majority_count AS BIGINT) AS majority_count,
        CAST(majority_count AS DOUBLE) / CAST(cell_size AS DOUBLE)
          AS purity
      FROM agg a JOIN maj USING (cell)
      ORDER BY cell""")) { (s, dir) =>
      Similarity.clusterLabelAudit(Tables.load(s, dir, "embeddings"),
          "vec_id", "embedding", "label", k = 8, dim = 64,
          iterations = 2)
        .orderBy("cell")
    },

    // INCREMENTAL two-level semantic dedup — the per-ingest-batch
    // path of q255: build the state (frozen coarse quantizer +
    // assigned cells with residual buckets and verdicts) from the
    // first 256 vectors, then judge the remaining vectors against
    // stored cells + each other WITHOUT ever re-pairing the old
    // corpus with itself. Drop rule: any old candidate neighbor at
    // cosine >= tau (the stored corpus wins — its cluster structure
    // already carries a survivor), or a dominating new neighbor
    // (farther from the centroid, ties by lower id — the
    // keep-the-extreme-member rule). The oracle replays the FULL
    // chain: Lloyd training over the old subset, both sides'
    // argmax assignments and residual fold-difference buckets, the
    // old-new and new-new candidate joins, and the verdict.
    {
      val k1 = 8; val dim = 64; val iters = 2; val tau = "0.35"
      val bits2 = 2; val tables = 2
      def rbCols(alias: String): String = (0 until tables).map { t =>
        duckResidualBucket(s"$alias.embedding::DOUBLE[]", "c.cent_emb",
          bits2, dim, Similarity.tableSeed(t)) + s" AS rb$t"
      }.mkString(",\n          ")
      val rbMatch = (0 until tables)
        .map(t => s"n.rb$t = o.rb$t").mkString("(", " OR ", ")")
      val rbMatchNN = (0 until tables)
        .map(t => s"n.rb$t = m.rb$t").mkString("(", " OR ", ")")
      Q("q260_semdedup_incremental", Some(s"""
      WITH oldv AS (
        SELECT * FROM embeddings WHERE vec_id < 256),
      ${trainedCentCtes(k1, dim, iters, src = "oldv")},
      ocell AS (
        SELECT vec_id, embedding, cell, cscore FROM (
          SELECT e.vec_id, e.embedding, c.centroid_id AS cell,
            ${duckCosine("e.embedding::DOUBLE[]", "c.cent_emb")} AS cscore,
            ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
              ${duckCosine("e.embedding::DOUBLE[]", "c.cent_emb")} DESC,
              c.centroid_id) AS rn
          FROM oldv e CROSS JOIN cent$iters c) t
        WHERE rn = 1),
      ob AS MATERIALIZED (
        SELECT s.vec_id, s.embedding, s.cell, s.cscore,
          ${rbCols("s")}
        FROM ocell s JOIN cent$iters c ON s.cell = c.centroid_id),
      newv AS (
        SELECT * FROM embeddings WHERE vec_id >= 256),
      ncell AS (
        SELECT vec_id, embedding, cell, cscore FROM (
          SELECT e.vec_id, e.embedding, c.centroid_id AS cell,
            ${duckCosine("e.embedding::DOUBLE[]", "c.cent_emb")} AS cscore,
            ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
              ${duckCosine("e.embedding::DOUBLE[]", "c.cent_emb")} DESC,
              c.centroid_id) AS rn
          FROM newv e CROSS JOIN cent$iters c) t
        WHERE rn = 1),
      nb AS MATERIALIZED (
        SELECT s.vec_id, s.embedding, s.cell, s.cscore,
          ${rbCols("s")}
        FROM ncell s JOIN cent$iters c ON s.cell = c.centroid_id),
      cand AS (
        SELECT n.vec_id, o.vec_id AS nid, o.embedding AS n_emb,
          o.cscore AS n_cscore, TRUE AS is_old
        FROM nb n JOIN ob o ON n.cell = o.cell AND $rbMatch
        UNION ALL
        SELECT n.vec_id, m.vec_id, m.embedding, m.cscore, FALSE
        FROM nb n JOIN nb m ON n.cell = m.cell AND $rbMatchNN
         AND n.vec_id <> m.vec_id),
      scored AS (
        SELECT c.vec_id, c.nid, c.is_old, c.n_cscore, n.cscore,
          ${duckCosine("n.embedding::DOUBLE[]", "c.n_emb::DOUBLE[]")}
            AS sim
        FROM cand c JOIN nb n ON c.vec_id = n.vec_id
        WHERE ${duckCosine("n.embedding::DOUBLE[]",
          "c.n_emb::DOUBLE[]")} >= $tau),
      near AS (
        SELECT vec_id, COUNT(*) AS near_dups,
          MAX(CASE WHEN is_old THEN 1 ELSE 0 END) AS joined
        FROM scored GROUP BY vec_id),
      dom AS (
        SELECT DISTINCT vec_id FROM scored
        WHERE is_old OR n_cscore < cscore
           OR (n_cscore = cscore AND nid < vec_id))
      SELECT n.vec_id, CAST(n.cell AS INT) AS cell,
        (d.vec_id IS NULL) AS kept,
        CAST(COALESCE(near.near_dups, 0) AS BIGINT) AS near_dups,
        CAST(COALESCE(near.joined, 0) AS INT) AS joined_existing
      FROM nb n
      LEFT JOIN dom d ON n.vec_id = d.vec_id
      LEFT JOIN near ON n.vec_id = near.vec_id
      ORDER BY n.vec_id""")) { (s, dir) =>
        val emb = Tables.load(s, dir, "embeddings")
        val statePath = Q.scratchPath("q260state", dir)
        Similarity.buildSemDedupState(
          emb.filter(col("vec_id") < 256), "vec_id", "embedding",
          statePath, k1 = k1, dim = dim, iterations = iters,
          threshold = 0.35, bits2 = bits2, tables = tables)
        Similarity.semDedupAssignIncrement(s, statePath,
            emb.filter(col("vec_id") >= 256), "vec_id", "embedding")
          .withColumn("joined_existing",
            col("joined_existing").cast("int"))
          .orderBy("vec_id")
      }
    }
  )
}
