package graft.operators

import org.apache.spark.sql.functions._
import graft.Tables
import graft.analytics.Dedup

/** Near-duplicate detection queries (north-star dedup tier) over
  * `documents` / `embeddings`, each hash-checked against a DuckDB oracle
  * built from the same portable md5-derived hashing (see
  * [[graft.analytics.Dedup]]).
  *
  * The oracle SQL for minhash/simhash is *generated* from the same
  * coefficient arrays the Spark plan uses, so both engines evaluate the
  * identical integer arithmetic.
  */
object DedupQueries {

  private val P = Dedup.P

  /** DuckDB expression: distinct word-3-gram shingles of `text`. */
  private def duckShingles(n: Int): String =
    s"""list_distinct([array_to_string(t[i:i+${n - 1}], ' ')
       |  for i in generate_series(1, greatest(len(t) - ${n - 1}, 0))])"""
      .stripMargin

  private def duckShingleIndex(n: Int, from: String = "documents"): String =
    s"""SELECT doc_id, unnest(${duckShingles(n)}) AS shingle
       |FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
       |      FROM $from)""".stripMargin

  /** DuckDB form of [[Dedup.stopShingleCap]] over `COUNT(*)`, built
    * from the same constants. */
  private val duckStopShingleCap: String =
    s"greatest(${Dedup.StopShingleFloor}, " +
      s"ceil(${Dedup.StopShingleFraction} * COUNT(*)))"

  /** Stop-shingle-capped 60-bit shingle index + per-doc set sizes,
    * mirroring [[Dedup.ngramJaccardPairs]]'s DEFAULT semantics: shingles
    * in more than [[Dedup.stopShingleCap]] docs are boilerplate and
    * leave the Jaccard universe.
    * Assumes a CTE named `sh(doc_id, shingle)` is in scope. */
  private def duckCappedShingleCtes: String =
    s"""shh0 AS (SELECT doc_id,
       |  ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h FROM sh),
       |dfreq AS (SELECT h, COUNT(*) AS df FROM shh0 GROUP BY h),
       |shh AS (SELECT doc_id, shh0.h FROM shh0 JOIN dfreq USING (h)
       |  WHERE df <= (SELECT $duckStopShingleCap
       |               FROM documents)),
       |sizes AS (SELECT doc_id, COUNT(*) AS set_size
       |          FROM shh GROUP BY doc_id)""".stripMargin

  /** Shared MinHash/LSH oracle pieces (32 hashes, 16 bands × 2 rows):
    * CTE chain `sh → hashes → sig → buckets → cand` plus the
    * signature-agreement expression — generated from the same
    * coefficients the Spark plan uses. q20 selects the scored
    * candidates; q71 clusters them. */
  private val MhNumHashes = 32
  private val MhBands = 16
  private def mhAgree: String = (0 until MhNumHashes)
    .map(i => s"CAST(sa.mh_$i = sb.mh_$i AS INT)").mkString(" + ")
  private def mhCtes: String = mhCtesFrom("documents")
  private def mhCtesFrom(from: String): String = {
    val rows = MhNumHashes / MhBands
    val coeffs = (0 until MhNumHashes).map(Dedup.hashCoeffs)
    val mhExprs = coeffs.zipWithIndex.map { case ((a, b), i) =>
      s"MIN((h * $a + $b) % $P) AS mh_$i"
    }.mkString(",\n          ")
    val bandSelects = (0 until MhBands).map { bnd =>
      val ks = (bnd * rows until (bnd + 1) * rows)
        .map(i => s"mh_$i").mkString(", ")
      s"SELECT doc_id, $bnd AS band, concat_ws('-', $ks) AS bkey FROM sig"
    }.mkString("\n        UNION ALL ")
    s"""sh AS (${duckShingleIndex(3, from)}),
      hashes AS (
        SELECT doc_id,
          CAST('0x' || substr(md5(shingle), 1, 8) AS BIGINT) % $P AS h
        FROM sh),
      sig AS (
        SELECT doc_id,
          $mhExprs
        FROM hashes GROUP BY doc_id),
      buckets AS (
        $bandSelects),
      cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM buckets a JOIN buckets b USING (band, bkey)
        WHERE a.doc_id < b.doc_id)"""
  }

  /** Shared DuckDB simhash CTE chain `tok → votes → fp(doc_id,
    * simhash_hex)` — q21 selects the fingerprints, q81 joins them
    * band-wise; generated once so both replay identical bit votes. */
  private def simhashCtes: String = {
    val voteExprs = (0 until 64).map { j =>
      s"""SUM(((strpos('0123456789abcdef', substr(th, ${j / 4 + 1}, 1)) - 1) >> ${3 - j % 4}) % 2 * 2 - 1) AS v_$j"""
    }.mkString(",\n          ")
    val nibbleExprs = (0 until 16).map { d =>
      val nib = (0 until 4).map { b =>
        s"CASE WHEN v_${d * 4 + b} > 0 THEN ${1 << (3 - b)} ELSE 0 END"
      }.mkString(" + ")
      s"substr('0123456789abcdef', ($nib) + 1, 1)"
    }.mkString(" || ")
    s"""tok AS (
        SELECT doc_id, md5(unnest(string_split_regex(trim(text), '\\s+'))) AS th
        FROM documents),
      votes AS (
        SELECT doc_id,
          $voteExprs
        FROM tok GROUP BY doc_id),
      fp AS (
        SELECT doc_id, $nibbleExprs AS simhash_hex FROM votes)"""
  }

  /** The COUNT(*) range gate of the auto-width unroll: branch `bits`
    * applies when n ∈ (lo, hi], matching [[Dedup.autoSignBits]]
    * (targetBucket 32): n ≤ 64 → 1, then one bit per doubling. */
  private def embAutoGate(bits: Int): (Long, Long) = {
    val lo = if (bits == 1) 0L else 32L << (bits - 1)
    (lo, 32L << bits)
  }

  /** COUNT(*)-branched scalar CASE over the auto-width gates —
    * `valueOf(bits)` must return a SQL literal; shared by the bits /
    * tables / model-floor output columns of q251/q256 so the oracle
    * replays the corpus-dependent parameter exactly as the Scala
    * selection rule computes it. */
  private def embAutoCase(valueOf: Int => String): String =
    (1 to 6).map { b =>
      val (lo, hi) = embAutoGate(b)
      s"WHEN (SELECT c FROM nn) > $lo AND (SELECT c FROM nn) <= $hi" +
        s" THEN ${valueOf(b)}"
    }.mkString("(CASE ", " ", " END)")

  /** A Scala double as a SQL DOUBLE literal: round-tripped through
    * `Double.toString` (shortest repr that parses back to the same
    * double) and a string cast, so both engines hold the identical
    * bit pattern. */
  private def duckDouble(v: Double): String = s"CAST('$v' AS DOUBLE)"

  /** COUNT(*)-branched model floor at similarity `sLo` for the
    * shipped tables=4 default — the q251 per-band floor column. */
  private def duckRecallFloor(sLo: Double): String =
    embAutoCase(b => duckDouble(Dedup.signRecallModel(b, 4, sLo)))

  /** Shared q241/q251/q256 oracle pieces: the COUNT(*)-branched
    * auto-width sign-LSH candidate CTEs (`nn` + `cand(id_a, id_b,
    * score)`). One unrolled branch per bits ∈ 1..6 — covering every
    * driver sf. `tablesOf(bits)` sets the per-branch OR-amplification
    * width (4 = the shipped default; q256 passes the recall-targeted
    * [[Dedup.autoSignTables]] inversion). */
  private def embAutoCandCtes(tablesOf: Int => Int = _ => 4): String = {
    def branch(bits: Int): String = {
      val (lo, hi) = embAutoGate(bits)
      s"""
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          ${SimilarityQueries.duckCosine(
            "a.embedding::DOUBLE[]", "b.embedding::DOUBLE[]")} AS score
        FROM embeddings a JOIN embeddings b
          ON ${SimilarityQueries.duckAnyBucketMatch("a", "b", bits,
            tables = tablesOf(bits))}
         AND a.vec_id < b.vec_id
        WHERE (SELECT c FROM nn) > $lo AND (SELECT c FROM nn) <= $hi"""
    }
    // terminal guard: beyond the unrolled range (n > 2048 ⇒ bits > 6)
    // the union above would be silently EMPTY and the gate would fail
    // as an opaque hash mismatch — raise a named error instead so an
    // unsupported-scale corpus is a one-line diagnosis, and extending
    // the unroll is the fix
    s"""nn AS (SELECT count(*) AS c FROM embeddings),
      cand AS (${(1 to 6).map(branch).mkString("\n        UNION ALL\n")}
        UNION ALL
        SELECT CAST(error('embAutoCandCtes: corpus has ' || c ||
            ' embeddings > 2048 - extend the bits unroll past 6')
            AS BIGINT) AS id_a,
          CAST(NULL AS BIGINT) AS id_b, CAST(NULL AS DOUBLE) AS score
        FROM nn WHERE c > ${32L << 6})"""
  }

  val all: Seq[Q] = Seq(

    // Inverted-index n-gram Jaccard: candidate pairs share >=1 shingle;
    // two shuffles (shingle key, then pair key) — never O(n²).
    Q("q19_ngram_jaccard", Some(s"""
      WITH sh AS (${duckShingleIndex(3)}),
      $duckCappedShingleCtes,
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        FROM shh a JOIN shh b USING (h) WHERE a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
        CAST(inter AS BIGINT) AS inter,
        CAST(sa.set_size AS BIGINT) AS size_a,
        CAST(sb.set_size AS BIGINT) AS size_b,
        CAST(inter AS DOUBLE) / CAST(sa.set_size + sb.set_size - inter AS DOUBLE) AS jaccard
      FROM pairs
      JOIN sizes sa ON id_a = sa.doc_id
      JOIN sizes sb ON id_b = sb.doc_id
      WHERE CAST(inter AS DOUBLE) / CAST(sa.set_size + sb.set_size - inter AS DOUBLE) >= 0.5
      ORDER BY id_a, id_b""")) { (s, dir) =>
      Dedup.ngramJaccardPairs(Tables.load(s, dir, "documents"),
          "doc_id", "text", n = 3, threshold = 0.5)
        .orderBy("id_a", "id_b")
    },

    // Dedup-graph transitivity audit: connected components treat
    // similarity as transitive, but Jaccard is not — every OPEN
    // wedge (A~B, B~C, A≁C) is a place where CC glues non-duplicates
    // through a hub. The census of the τ=0.5 pair graph (wedges vs
    // closed triangles) quantifies that over-merge risk in one row;
    // low clustering coefficient = chain-merging, review the τ.
    Q("q228_dedup_transitivity", Some(s"""
      WITH sh AS (${duckShingleIndex(3)}),
      $duckCappedShingleCtes,
      cand AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        FROM shh a JOIN shh b USING (h) WHERE a.doc_id < b.doc_id
        GROUP BY 1, 2),
      e AS (
        SELECT id_a AS u, id_b AS v FROM cand
        JOIN sizes sa ON id_a = sa.doc_id
        JOIN sizes sb ON id_b = sb.doc_id
        WHERE CAST(inter AS DOUBLE) /
          CAST(sa.set_size + sb.set_size - inter AS DOUBLE) >= 0.5),
      deg AS (
        SELECT n, CAST(count(*) AS BIGINT) AS d FROM (
          SELECT u AS n FROM e UNION ALL SELECT v FROM e)
        GROUP BY n),
      agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_nodes,
          CAST(SUM(d) // 2 AS BIGINT) AS n_edges,
          CAST(SUM(d * (d - 1)) // 2 AS BIGINT) AS n_wedges
        FROM deg),
      tri AS (
        SELECT CAST(count(*) AS BIGINT) AS n_triangles
        FROM e e1 JOIN e e2 ON e1.v = e2.u
        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
      SELECT n_nodes, n_edges, n_wedges, n_triangles,
        CASE WHEN n_wedges > 0 THEN
          3.0 * CAST(n_triangles AS DOUBLE) /
            CAST(n_wedges AS DOUBLE) END AS clustering_coeff
      FROM agg CROSS JOIN tri""")) { (s, dir) =>
      val pairs = Dedup.ngramJaccardPairs(
          Tables.load(s, dir, "documents"), "doc_id", "text",
          n = 3, threshold = 0.5)
        .select("id_a", "id_b")
      graft.analytics.Graph.triangleCensus(pairs, "id_a", "id_b")
    },

    // The LINEAR-tier transitivity audit: the same census run on
    // the simhash hamming<=3 pair graph — q228's exact-Jaccard
    // input inherits the Ω(n²)-candidate curve at sf3 (139 s),
    // while this corpus-wide tier stays measured-linear; at 100 TB
    // THIS is the shipped over-merge diagnostic.
    {
      val hammingExpr = (0 until 4)
        .map(i => s"bit_count(xor(ba.b_$i, bb.b_$i))").mkString(" + ")
      Q("q229_transitivity_linear", Some(s"""
      WITH $simhashCtes,
      bands AS (
        SELECT doc_id,
          ${(0 until 4).map(i =>
            s"CAST('0x' || substr(simhash_hex, ${1 + 4 * i}, 4) " +
              s"AS BIGINT) AS b_$i").mkString(",\n          ")}
        FROM fp),
      bucket AS (
        ${(0 until 4).map(i =>
          s"SELECT doc_id, $i AS band, b_$i AS bval FROM bands")
          .mkString("\n        UNION ALL ")}),
      cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bucket a JOIN bucket b USING (band, bval)
        WHERE a.doc_id < b.doc_id),
      e AS (
        SELECT id_a AS u, id_b AS v FROM cand
        JOIN bands ba ON id_a = ba.doc_id
        JOIN bands bb ON id_b = bb.doc_id
        WHERE $hammingExpr <= 3),
      deg AS (
        SELECT n, CAST(count(*) AS BIGINT) AS d FROM (
          SELECT u AS n FROM e UNION ALL SELECT v FROM e)
        GROUP BY n),
      agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_nodes,
          CAST(SUM(d) // 2 AS BIGINT) AS n_edges,
          CAST(SUM(d * (d - 1)) // 2 AS BIGINT) AS n_wedges
        FROM deg),
      tri AS (
        SELECT CAST(count(*) AS BIGINT) AS n_triangles
        FROM e e1 JOIN e e2 ON e1.v = e2.u
        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
      SELECT n_nodes, n_edges, n_wedges, n_triangles,
        CASE WHEN n_wedges > 0 THEN
          3.0 * CAST(n_triangles AS DOUBLE) /
            CAST(n_wedges AS DOUBLE) END AS clustering_coeff
      FROM agg CROSS JOIN tri""")) { (s, dir) =>
        val pairs = Dedup.simHashNearDups(
            Tables.load(s, dir, "documents"), "doc_id", "text",
            maxHamming = 3)
          .select("id_a", "id_b")
        graft.analytics.Graph.triangleCensus(pairs, "id_a", "id_b")
      }
    },

    // What did dedup actually save — effective corpus size after
    // keeping one representative per LSH cluster (the q97 pipeline),
    // in tokens: raw vs kept token mass and the savings rate. The
    // number a pretraining budget planner asks for before paying for
    // the dedup run corpus-wide.
    Q("q226_effective_tokens", Some(s"""
      WITH RECURSIVE $mhCtes,
      scored AS (
        SELECT id_a, id_b FROM cand
        JOIN sig sa ON id_a = sa.doc_id
        JOIN sig sb ON id_b = sb.doc_id
        WHERE ($mhAgree) * 2 >= $MhNumHashes),
      edges AS (
        SELECT id_a AS src, id_b AS dst FROM scored
        UNION SELECT id_b, id_a FROM scored),
      reach(id, r) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT e.dst, reach.r FROM reach JOIN edges e
          ON reach.id = e.src),
      labels AS (
        SELECT id AS doc_id, MIN(r) AS rep FROM reach GROUP BY id),
      assigned AS (
        SELECT d.doc_id, COALESCE(l.rep, d.doc_id) AS rep,
          CAST(len(string_split_regex(trim(d.text), '\\s+'))
            AS BIGINT) AS toks
        FROM documents d LEFT JOIN labels l USING (doc_id)
        WHERE d.text IS NOT NULL)
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
        CAST(SUM(CASE WHEN doc_id = rep THEN 1 ELSE 0 END) AS BIGINT)
          AS n_kept,
        CAST(SUM(toks) AS BIGINT) AS raw_tokens,
        CAST(SUM(CASE WHEN doc_id = rep THEN toks ELSE 0 END)
          AS BIGINT) AS kept_tokens,
        1.0 - CAST(SUM(CASE WHEN doc_id = rep THEN toks ELSE 0 END)
            AS DOUBLE) / CAST(SUM(toks) AS DOUBLE) AS savings
      FROM assigned""")) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
        .where(col("text").isNotNull)
        .select(col("doc_id"),
          size(split(trim(col("text")), "\\s+")).cast("long")
            .as("toks"))
      val cand = Dedup.minHashLshCandidates(
          Tables.load(s, dir, "documents"), "doc_id", "text",
          n = 3, numHashes = MhNumHashes, bands = MhBands)
        .where(col("est_jaccard") >= 0.5)
      val kept = Dedup.keepRepresentatives(docs, "doc_id", cand)
        .agg(count(lit(1)).as("n_kept"),
          sum(col("toks")).as("kept_tokens"))
      docs.agg(count(lit(1)).as("n_docs"),
          sum(col("toks")).as("raw_tokens"))
        .crossJoin(broadcast(kept))
        .select(col("n_docs"), col("n_kept").cast("long"),
          col("raw_tokens").cast("long"),
          col("kept_tokens").cast("long"),
          (lit(1.0) - col("kept_tokens").cast("double") /
            col("raw_tokens").cast("double")).as("savings"))
    },

    // Blocking-cost profile: the SNM prefix-block size histogram
    // with exact C(b,2) pair budgets — what the q157 blocking scheme
    // will cost BEFORE running it (a fat head means the in-block
    // pair volume explodes). Two aggregations; never the pairs.
    Q("q222_blocking_profile", Some("""
      WITH k AS (
        SELECT lower(substr(regexp_replace(trim(text), '\s+', ' ',
          'g'), 1, 2)) AS block
        FROM documents WHERE text IS NOT NULL),
      b AS (SELECT block, CAST(count(*) AS BIGINT) AS b
            FROM k GROUP BY 1),
      h AS (SELECT b AS block_size, CAST(count(*) AS BIGINT)
              AS n_blocks
            FROM b GROUP BY 1)
      SELECT block_size, n_blocks,
        CAST(block_size * n_blocks AS BIGINT) AS n_docs,
        CAST((CAST(block_size AS HUGEINT) * (block_size - 1)) // 2
          * n_blocks AS BIGINT) AS n_pairs
      FROM h ORDER BY block_size""")) { (s, dir) =>
      Dedup.blockingProfile(Tables.load(s, dir, "documents"),
        "doc_id", "text", blockChars = 2)
    },

    // Borderline-pair QA sample: the 25 candidate pairs CLOSEST to
    // the production Jaccard threshold (τ = 0.5), with their verdict
    // — the deterministic human-review sample that tells a curator
    // whether τ sits in a gap or cuts through a dense band. Reuses
    // the q19 machinery at a lower discovery threshold (0.4: low
    // enough to surface the sub-τ side of the band, high enough
    // that the PPJoin prefix filter keeps its bite — measured sf1
    // cost 31.7 s at a 0.2 cut vs 22.2 s here, with the emitted
    // sample unchanged on this corpus; the residual premium over
    // q19's ~10 s is the sub-τ candidate mass the audit exists to
    // inspect). Top-k by (|J − τ|, ids), never a full sort — an
    // occasional curator audit, not a per-batch pipeline stage.
    Q("q214_borderline_pairs", Some(s"""
      WITH sh AS (${duckShingleIndex(3)}),
      $duckCappedShingleCtes,
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        FROM shh a JOIN shh b USING (h) WHERE a.doc_id < b.doc_id
        GROUP BY 1, 2),
      scored AS (
        SELECT CAST(id_a AS BIGINT) AS id_a,
          CAST(id_b AS BIGINT) AS id_b,
          CAST(inter AS DOUBLE) /
            CAST(sa.set_size + sb.set_size - inter AS DOUBLE)
            AS jaccard
        FROM pairs
        JOIN sizes sa ON id_a = sa.doc_id
        JOIN sizes sb ON id_b = sb.doc_id
        WHERE CAST(inter AS DOUBLE) /
          CAST(sa.set_size + sb.set_size - inter AS DOUBLE) >= 0.4)
      SELECT id_a, id_b, jaccard, jaccard >= 0.5 AS kept
      FROM scored
      ORDER BY abs(jaccard - 0.5), id_a, id_b LIMIT 25""")) {
      (s, dir) =>
      Dedup.ngramJaccardPairs(Tables.load(s, dir, "documents"),
          "doc_id", "text", n = 3, threshold = 0.4)
        .select(col("id_a"), col("id_b"), col("jaccard"),
          (col("jaccard") >= 0.5).as("kept"))
        .orderBy(abs(col("jaccard") - 0.5), col("id_a"), col("id_b"))
        .limit(25)
    },

    // MinHash + banded LSH: 32 portable hashes, 16 bands × 2 rows.
    // Candidate generation is the (band, bkey) equi-join; est_jaccard
    // verified from full signatures.
    Q("q20_minhash_lsh", Some(s"""
      WITH $mhCtes
      SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
        CAST($mhAgree AS DOUBLE) / $MhNumHashes AS est_jaccard
      FROM cand
      JOIN sig sa ON id_a = sa.doc_id
      JOIN sig sb ON id_b = sb.doc_id
      ORDER BY id_a, id_b""")) { (s, dir) =>
      Dedup.minHashLshCandidates(Tables.load(s, dir, "documents"),
          "doc_id", "text", n = 3, numHashes = MhNumHashes,
          bands = MhBands)
        .orderBy("id_a", "id_b")
    },

    // Cross-source duplication matrix — near-dup PROVENANCE: LSH
    // candidates at est >= 0.5 joined to both docs' sources, counted
    // per unordered source pair. The "which source copies which"
    // audit that drives source-level dedup priorities (within-source
    // pairs land on the diagonal). Candidate-bounded: only the q20
    // pair set ever meets the source table.
    Q("q204_cross_source_dups", Some(s"""
      WITH $mhCtes,
      scored AS (
        SELECT id_a, id_b
        FROM cand
        JOIN sig sa ON id_a = sa.doc_id
        JOIN sig sb ON id_b = sb.doc_id
        WHERE CAST($mhAgree AS DOUBLE) / $MhNumHashes >= 0.5),
      lab AS (
        SELECT s.id_a, s.id_b,
          least(da.source, db.source) AS source_a,
          greatest(da.source, db.source) AS source_b
        FROM scored s
        JOIN documents da ON s.id_a = da.doc_id
        JOIN documents db ON s.id_b = db.doc_id
        WHERE da.source IS NOT NULL AND db.source IS NOT NULL)
      SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs
      FROM lab GROUP BY 1, 2 ORDER BY source_a, source_b""")) {
      (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val src = docs.select(col("doc_id"), col("source"))
        .where(col("source").isNotNull)
      Dedup.minHashLshCandidates(docs, "doc_id", "text", n = 3,
          numHashes = MhNumHashes, bands = MhBands)
        .where(col("est_jaccard") >= 0.5)
        .join(src.select(col("doc_id").as("id_a"),
          col("source").as("sa")), Seq("id_a"))
        .join(src.select(col("doc_id").as("id_b"),
          col("source").as("sb")), Seq("id_b"))
        .groupBy(least(col("sa"), col("sb")).as("source_a"),
          greatest(col("sa"), col("sb")).as("source_b"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("source_a", "source_b")
    },

    // MinHash estimator calibration — the designed 100 TB tiering run
    // as ONE query: LSH discovers candidates (q20 machinery), exact
    // Jaccard verifies ONLY those pairs (candidate-scoped shingle
    // join — cost Σ_pairs |shingles|, never the corpus-wide Σdf²),
    // and the output lays the 32-hash estimate next to the exact
    // value with its absolute error. Exact here is UNBOUNDED (no
    // stop-shingle cap): signatures are computed over the full
    // shingle set, so the comparison must be too.
    Q("q170_minhash_calibration", Some(s"""
      WITH $mhCtes,
      shh AS (SELECT doc_id,
        ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h FROM sh),
      sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shh GROUP BY 1),
      est AS (
        SELECT c.id_a, c.id_b,
          CAST($mhAgree AS DOUBLE) / $MhNumHashes AS est_jaccard
        FROM cand c
        JOIN sig sa ON c.id_a = sa.doc_id
        JOIN sig sb ON c.id_b = sb.doc_id),
      inter AS (
        SELECT e.id_a, e.id_b, COUNT(*) AS i
        FROM est e
        JOIN shh a ON a.doc_id = e.id_a
        JOIN shh b ON b.doc_id = e.id_b AND b.h = a.h
        GROUP BY 1, 2),
      scored AS (
        SELECT e.id_a, e.id_b, e.est_jaccard,
          CAST(COALESCE(i.i, 0) AS DOUBLE)
            / CAST(sa.sz + sb.sz - COALESCE(i.i, 0) AS DOUBLE)
            AS jaccard
        FROM est e
        LEFT JOIN inter i ON e.id_a = i.id_a AND e.id_b = i.id_b
        JOIN sizes sa ON e.id_a = sa.doc_id
        JOIN sizes sb ON e.id_b = sb.doc_id)
      SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
        est_jaccard, jaccard, abs(est_jaccard - jaccard) AS abs_err
      FROM scored ORDER BY id_a, id_b""")) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val cand = Dedup.minHashLshCandidates(docs, "doc_id", "text",
        n = 3, numHashes = MhNumHashes, bands = MhBands)
      val sh = Dedup.shingleIndex(docs, "doc_id", "text", 3)
        .select(col("doc_id"), Dedup.h60(col("shingle")).as("h"))
      val sizes = docs.select(col("doc_id"),
        size(Dedup.shingles(col("text"), 3)).cast("long").as("sz"))
      val inter = cand.select("id_a", "id_b")
        .join(sh.select(col("doc_id").as("id_a"), col("h")), Seq("id_a"))
        .join(sh.select(col("doc_id").as("id_b"), col("h")),
          Seq("id_b", "h"))
        .groupBy("id_a", "id_b").agg(count(lit(1)).as("i"))
      cand
        .join(inter, Seq("id_a", "id_b"), "left")
        .join(sizes.withColumnRenamed("doc_id", "id_a")
          .withColumnRenamed("sz", "sa"), Seq("id_a"))
        .join(sizes.withColumnRenamed("doc_id", "id_b")
          .withColumnRenamed("sz", "sb"), Seq("id_b"))
        .withColumn("__i", coalesce(col("i"), lit(0L)))
        .withColumn("jaccard", col("__i").cast("double") /
          (col("sa") + col("sb") - col("__i")).cast("double"))
        .select(col("id_a"), col("id_b"), col("est_jaccard"),
          col("jaccard"),
          abs(col("est_jaccard") - col("jaccard")).as("abs_err"))
        .orderBy("id_a", "id_b")
    },

    // 64-bit SimHash fingerprints (md5 bit votes per token occurrence).
    Q("q21_simhash", Some(s"""
      WITH $simhashCtes
      SELECT CAST(doc_id AS BIGINT) AS doc_id, simhash_hex
      FROM fp ORDER BY doc_id""")) { (s, dir) =>
      Dedup.simHash(Tables.load(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    },

    // The injected SQL surface end-to-end: a PURE spark.sql query
    // using the extension-registered native functions (word_ngrams,
    // simhash64) over a temp view — proof that a SQL-only
    // consumer of the library gets the same codegen'd expressions
    // the DataFrame API uses, driver-gate-checked against the
    // regular shingle/simhash oracles.
    Q("q227_sql_surface", Some(s"""
      WITH $simhashCtes,
      sh AS (${duckShingleIndex(3)}),
      n AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles
        FROM sh GROUP BY doc_id)
      SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
        COALESCE(n.n_shingles, 0) AS n_shingles,
        fp.simhash_hex AS simhash
      FROM documents d
      LEFT JOIN n ON d.doc_id = n.doc_id
      JOIN fp ON d.doc_id = fp.doc_id
      WHERE d.text IS NOT NULL
      ORDER BY doc_id""")) { (s, dir) =>
      Tables.load(s, dir, "documents").createOrReplaceTempView(
        "q227_docs")
      s.sql("""
        SELECT doc_id,
          CAST(size(word_ngrams(text, 3, true)) AS BIGINT)
            AS n_shingles,
          simhash64(text) AS simhash
        FROM q227_docs WHERE text IS NOT NULL ORDER BY doc_id""")
    },

    // SimHash hamming near-dup pairs. Spark side: 8×8-bit blocks
    // joined on C(8,3)=56 five-block combinations (Manku WWW'07 —
    // 40-bit keys, no random-collision quadratic term; see
    // Dedup.simHashNearDups). The ORACLE keeps the simpler 4×16-bit
    // single-band pigeonhole: both schemes have exact recall at
    // distance <= 3, so both compute the same set — all pairs with
    // hamming(fingerprint) <= 3 — through deliberately different
    // candidate generators (a stronger check than mirroring the
    // scheme).
    {
      val hammingExpr = (0 until 4)
        .map(i => s"bit_count(xor(ba.b_$i, bb.b_$i))").mkString(" + ")
      Q("q81_simhash_near_dup", Some(s"""
      WITH $simhashCtes,
      bands AS (
        SELECT doc_id,
          ${(0 until 4).map(i =>
            s"CAST('0x' || substr(simhash_hex, ${1 + 4 * i}, 4) " +
              s"AS BIGINT) AS b_$i").mkString(",\n          ")}
        FROM fp),
      bucket AS (
        ${(0 until 4).map(i =>
          s"SELECT doc_id, $i AS band, b_$i AS bval FROM bands")
          .mkString("\n        UNION ALL ")}),
      cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bucket a JOIN bucket b USING (band, bval)
        WHERE a.doc_id < b.doc_id)
      SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
        CAST($hammingExpr AS INT) AS hamming
      FROM cand
      JOIN bands ba ON id_a = ba.doc_id
      JOIN bands bb ON id_b = bb.doc_id
      WHERE $hammingExpr <= 3
      ORDER BY id_a, id_b""")) { (s, dir) =>
        Dedup.simHashNearDups(Tables.load(s, dir, "documents"),
            "doc_id", "text", maxHamming = 3)
          .orderBy("id_a", "id_b")
      }
    },

    // SimHash estimator calibration — the q170 pattern for the OTHER
    // corpus-wide near-dup tier: the banded hamming≤3 candidates are
    // re-scored with candidate-scoped EXACT n-gram Jaccard, so the
    // query measures what the simhash tier's distance actually means
    // in Jaccard terms (the tiering-evidence row next to q81, which
    // only checks the pairing itself).
    {
      val hammingExpr = (0 until 4)
        .map(i => s"bit_count(xor(ba.b_$i, bb.b_$i))").mkString(" + ")
      Q("q202_simhash_calibration", Some(s"""
      WITH $simhashCtes,
      bands AS (
        SELECT doc_id,
          ${(0 until 4).map(i =>
            s"CAST('0x' || substr(simhash_hex, ${1 + 4 * i}, 4) " +
              s"AS BIGINT) AS b_$i").mkString(",\n          ")}
        FROM fp),
      bucket AS (
        ${(0 until 4).map(i =>
          s"SELECT doc_id, $i AS band, b_$i AS bval FROM bands")
          .mkString("\n        UNION ALL ")}),
      cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bucket a JOIN bucket b USING (band, bval)
        WHERE a.doc_id < b.doc_id),
      hcand AS (
        SELECT id_a, id_b, CAST($hammingExpr AS INT) AS hamming
        FROM cand
        JOIN bands ba ON id_a = ba.doc_id
        JOIN bands bb ON id_b = bb.doc_id
        WHERE $hammingExpr <= 3),
      sh AS (${duckShingleIndex(3)}),
      shh AS (SELECT doc_id,
        ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h FROM sh),
      sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shh GROUP BY 1),
      inter AS (
        SELECT e.id_a, e.id_b, COUNT(*) AS i
        FROM hcand e
        JOIN shh a ON a.doc_id = e.id_a
        JOIN shh b ON b.doc_id = e.id_b AND b.h = a.h
        GROUP BY 1, 2)
      SELECT CAST(e.id_a AS BIGINT) AS id_a,
        CAST(e.id_b AS BIGINT) AS id_b, hamming,
        CAST(COALESCE(i.i, 0) AS DOUBLE)
          / CAST(sa.sz + sb.sz - COALESCE(i.i, 0) AS DOUBLE) AS jaccard
      FROM hcand e
      LEFT JOIN inter i ON e.id_a = i.id_a AND e.id_b = i.id_b
      JOIN sizes sa ON e.id_a = sa.doc_id
      JOIN sizes sb ON e.id_b = sb.doc_id
      ORDER BY id_a, id_b""")) { (s, dir) =>
        val docs = Tables.load(s, dir, "documents")
        val cand = Dedup.simHashNearDups(docs, "doc_id", "text",
          maxHamming = 3)
        val sh = Dedup.shingleIndex(docs, "doc_id", "text", 3)
          .select(col("doc_id"), Dedup.h60(col("shingle")).as("h"))
        val sizes = docs.select(col("doc_id"),
          size(Dedup.shingles(col("text"), 3)).cast("long").as("sz"))
        val inter = cand.select("id_a", "id_b")
          .join(sh.select(col("doc_id").as("id_a"), col("h")),
            Seq("id_a"))
          .join(sh.select(col("doc_id").as("id_b"), col("h")),
            Seq("id_b", "h"))
          .groupBy("id_a", "id_b").agg(count(lit(1)).as("i"))
        cand
          .join(inter, Seq("id_a", "id_b"), "left")
          .join(sizes.withColumnRenamed("doc_id", "id_a")
            .withColumnRenamed("sz", "sa"), Seq("id_a"))
          .join(sizes.withColumnRenamed("doc_id", "id_b")
            .withColumnRenamed("sz", "sb"), Seq("id_b"))
          .withColumn("__i", coalesce(col("i"), lit(0L)))
          .select(col("id_a"), col("id_b"), col("hamming"),
            (col("__i").cast("double") /
              (col("sa") + col("sb") - col("__i")).cast("double"))
              .as("jaccard"))
          .orderBy("id_a", "id_b")
      }
    },

    // Dedup clusters: connected components over the q19 n-gram
    // Jaccard pairs — (doc, representative) where the rep is the
    // component's min id. The oracle computes min-reachable via a
    // recursive CTE; Spark reaches the same integer fixpoint by
    // large-star/small-star contraction (O(log² d) rounds, never
    // diameter-bound — the 100 TB path; min-label propagation is
    // kept as a DedupSpec-only equivalence witness).
    Q("q61_dedup_clusters", Some(s"""
      WITH RECURSIVE sh AS (${duckShingleIndex(3)}),
      $duckCappedShingleCtes,
      cand AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        FROM shh a JOIN shh b USING (h) WHERE a.doc_id < b.doc_id
        GROUP BY 1, 2),
      pairs AS (
        SELECT id_a, id_b FROM cand
        JOIN sizes sa ON id_a = sa.doc_id
        JOIN sizes sb ON id_b = sb.doc_id
        WHERE CAST(inter AS DOUBLE) /
          CAST(sa.set_size + sb.set_size - inter AS DOUBLE) >= 0.5),
      edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
      reach(id, r) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT e.dst, reach.r FROM reach JOIN edges e ON reach.id = e.src)
      SELECT CAST(id AS BIGINT) AS doc_id,
        CAST(MIN(r) AS BIGINT) AS cluster_rep
      FROM reach GROUP BY id ORDER BY doc_id""")) { (s, dir) =>
      val pairs = Dedup.ngramJaccardPairs(Tables.load(s, dir, "documents"),
        "doc_id", "text", n = 3, threshold = 0.5)
      Dedup.connectedComponentsStar(pairs, "id_a", "id_b",
          materializeResult = false)
        .orderBy("doc_id")
    },

    // Embedding-cosine near-dup pairs via sign-bucket LSH pruning —
    // the corpus-scale path (candidates ≈ n²/2^bits instead of n²);
    // the exact all-pairs variant is the tiny-corpus baseline and is
    // spec-tested for recall against this one.
    {
      val bits = 8
      Q("q22_embedding_near_dup", Some(s"""
      WITH cand AS (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
          list_reduce(list_transform(list_zip(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), x -> x[1] * x[2]), (acc, v) -> acc + v)
            / (sqrt(list_reduce(list_transform(a.embedding::DOUBLE[], x -> x * x), (acc, v) -> acc + v))
             * sqrt(list_reduce(list_transform(b.embedding::DOUBLE[], x -> x * x), (acc, v) -> acc + v))) AS score
        FROM embeddings a JOIN embeddings b
          ON ${SimilarityQueries.duckAnyBucketMatch("a", "b", bits)}
         AND a.vec_id < b.vec_id)
      SELECT id_a, id_b, score FROM cand
      WHERE score >= 0.35
      ORDER BY id_a, id_b""")) { (s, dir) =>
        Dedup.embeddingNearDupsBucketed(Tables.load(s, dir, "embeddings"),
            "vec_id", "embedding", threshold = 0.35, bits = bits)
          .orderBy("id_a", "id_b")
      }
    },

    // The full 100 TB dedup chain: minhash signatures → banded LSH
    // candidates → est-jaccard filter → large-star/small-star
    // connected components. Same recursive-CTE oracle shape as q61
    // but clustering the LSH candidates instead of the exact
    // n-gram Jaccard pairs.
    Q("q71_lsh_clusters", Some(s"""
      WITH RECURSIVE $mhCtes,
      scored AS (
        SELECT id_a, id_b FROM cand
        JOIN sig sa ON id_a = sa.doc_id
        JOIN sig sb ON id_b = sb.doc_id
        WHERE ($mhAgree) * 2 >= $MhNumHashes),
      edges AS (
        SELECT id_a AS src, id_b AS dst FROM scored
        UNION SELECT id_b, id_a FROM scored),
      reach(id, r) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT e.dst, reach.r FROM reach JOIN edges e ON reach.id = e.src)
      SELECT CAST(id AS BIGINT) AS doc_id,
        CAST(MIN(r) AS BIGINT) AS cluster_rep
      FROM reach GROUP BY id ORDER BY doc_id""")) { (s, dir) =>
      val cand = Dedup.minHashLshCandidates(
          Tables.load(s, dir, "documents"), "doc_id", "text",
          n = 3, numHashes = MhNumHashes, bands = MhBands)
        .where(col("est_jaccard") >= 0.5)
      Dedup.connectedComponentsStar(cand, "id_a", "id_b",
          materializeResult = false)
        .orderBy("doc_id")
    },

    // Apply the dedup: q71's minhash→LSH→cluster chain carried through
    // to the KEPT corpus — one surviving doc per cluster (the min-id
    // rep) with its member count, singletons kept as themselves. This
    // is the operator a training-data pipeline actually ships: the
    // deduplicated document set, not the cluster table.
    Q("q97_dedup_apply", Some(s"""
      WITH RECURSIVE $mhCtes,
      scored AS (
        SELECT id_a, id_b FROM cand
        JOIN sig sa ON id_a = sa.doc_id
        JOIN sig sb ON id_b = sb.doc_id
        WHERE ($mhAgree) * 2 >= $MhNumHashes),
      edges AS (
        SELECT id_a AS src, id_b AS dst FROM scored
        UNION SELECT id_b, id_a FROM scored),
      reach(id, r) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT e.dst, reach.r FROM reach JOIN edges e ON reach.id = e.src),
      labels AS (
        SELECT id AS doc_id, MIN(r) AS rep FROM reach GROUP BY id),
      assigned AS (
        SELECT d.doc_id, COALESCE(l.rep, d.doc_id) AS rep
        FROM documents d LEFT JOIN labels l USING (doc_id)),
      grouped AS (
        SELECT rep, COUNT(*) AS n_members FROM assigned GROUP BY rep)
      SELECT CAST(g.rep AS BIGINT) AS doc_id,
        CAST(g.n_members AS BIGINT) AS n_members,
        CAST(d.n_chars AS BIGINT) AS n_chars
      FROM grouped g JOIN documents d ON d.doc_id = g.rep
      ORDER BY doc_id""")) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val cand = Dedup.minHashLshCandidates(docs, "doc_id", "text",
          n = 3, numHashes = MhNumHashes, bands = MhBands)
        .where(col("est_jaccard") >= 0.5)
      Dedup.keepRepresentatives(docs.select("doc_id", "n_chars"),
          "doc_id", cand)
        .select(col("doc_id"), col("n_members"),
          col("n_chars").cast("long").as("n_chars"))
        .orderBy("doc_id")
    },

    // Incremental dedup: docs with doc_id % 5 == 0 play the NEW ingest
    // batch; the rest are the EXISTING corpus, clustered first from
    // old-only LSH pairs. New docs are assigned append-only — to the
    // smallest matched existing cluster rep, else clustered among
    // themselves — without rescanning the old corpus (only its
    // (doc_id, rep) assignment table joins in). The oracle replays the
    // same rep-rewrite + id-offset encoding with two recursive-CTE
    // component searches.
    {
      val Off = 1000000000L
      Q("q78_incremental_dedup", Some(s"""
      WITH RECURSIVE $mhCtes,
      scored AS (
        SELECT id_a, id_b FROM cand
        JOIN sig sa ON id_a = sa.doc_id
        JOIN sig sb ON id_b = sb.doc_id
        WHERE ($mhAgree) * 2 >= $MhNumHashes),
      old_pairs AS (
        SELECT id_a, id_b FROM scored
        WHERE id_a % 5 <> 0 AND id_b % 5 <> 0),
      old_edges AS (
        SELECT id_a AS src, id_b AS dst FROM old_pairs
        UNION SELECT id_b, id_a FROM old_pairs),
      old_reach(id, r) AS (
        SELECT DISTINCT src, src FROM old_edges
        UNION
        SELECT e.dst, old_reach.r FROM old_reach
        JOIN old_edges e ON old_reach.id = e.src),
      old_labels AS (SELECT id, MIN(r) AS rep FROM old_reach GROUP BY id),
      inc_pairs AS (
        SELECT id_a, id_b FROM scored
        WHERE id_a % 5 = 0 OR id_b % 5 = 0),
      e0 AS (
        SELECT
          CASE WHEN id_a % 5 <> 0 THEN COALESCE(la.rep, id_a)
               ELSE id_a + $Off END AS src,
          CASE WHEN id_b % 5 <> 0 THEN COALESCE(lb.rep, id_b)
               ELSE id_b + $Off END AS dst
        FROM inc_pairs
        LEFT JOIN old_labels la ON id_a = la.id
        LEFT JOIN old_labels lb ON id_b = lb.id),
      edges AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
      reach(id, r) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT e.dst, reach.r FROM reach JOIN edges e ON reach.id = e.src),
      comp AS (SELECT id, MIN(r) AS lbl FROM reach GROUP BY id)
      SELECT CAST(id - $Off AS BIGINT) AS doc_id,
        CAST(CASE WHEN lbl >= $Off THEN lbl - $Off ELSE lbl END AS BIGINT)
          AS cluster_rep,
        CAST(CASE WHEN lbl < $Off THEN 1 ELSE 0 END AS INT)
          AS joined_existing
      FROM comp WHERE id >= $Off ORDER BY doc_id""")) { (s, dir) =>
        val isOld = (c: org.apache.spark.sql.Column) => c % 5 =!= 0
        val scored = Dedup.minHashLshCandidates(
            Tables.load(s, dir, "documents"), "doc_id", "text",
            n = 3, numHashes = MhNumHashes, bands = MhBands)
          .where(col("est_jaccard") >= 0.5)
        val oldLabels = Dedup.connectedComponentsStar(
          scored.where(isOld(col("id_a")) && isOld(col("id_b"))),
          "id_a", "id_b")
        val incPairs = scored.where(
          !isOld(col("id_a")) || !isOld(col("id_b")))
        Dedup.incrementalAssign(incPairs, "id_a", "id_b", oldLabels,
            isOld, offset = Off)
          .orderBy("doc_id")
      }
    },

    // Streaming dedup state machine ≡ batchwise incremental assign:
    // the corpus arrives as 3 micro-batches (doc_id % 3, in order)
    // through CorpusStreams.assignBatch — the exact per-batch fold the
    // streaming wrapper triggers — and the materialized assignment
    // state must equal the oracle's replay of the same fold: per batch,
    // candidates whose newest endpoint is in that batch, old endpoints
    // rewritten to their already-assigned cluster rep, a recursive-CTE
    // component search, and append-only state growth. This proves the
    // lake-state streaming path (signatures-before-assignments ordering,
    // replay anti-join, per-batch checkpoint scope) computes the batch
    // answer, not an approximation of it.
    {
      val B = 3
      val Off = 1L << 40 // assignBatch's id-encode offset
      def foldCtes: String = {
        val sb = new StringBuilder
        sb.append(s"""
      p0 AS (
        SELECT id_a, id_b FROM scored
        WHERE id_a % $B = 0 AND id_b % $B = 0),
      u0 AS MATERIALIZED (
        SELECT id_a AS src, id_b AS dst FROM p0
        UNION SELECT id_b, id_a FROM p0),
      r0(id, r) AS (
        SELECT DISTINCT src, src FROM u0
        UNION
        SELECT e.dst, r0.r FROM r0 JOIN u0 e ON r0.id = e.src),
      c0 AS (SELECT id, MIN(r) AS lbl FROM r0 GROUP BY id),
      s0 AS MATERIALIZED (
        SELECT d.doc_id, COALESCE(c0.lbl, d.doc_id) AS cluster_rep
        FROM (SELECT doc_id FROM documents WHERE doc_id % $B = 0) d
        LEFT JOIN c0 ON d.doc_id = c0.id)""")
        for (b <- 1 until B) sb.append(s""",
      p$b AS (
        SELECT id_a, id_b FROM scored
        WHERE id_a % $B <= $b AND id_b % $B <= $b
          AND (id_a % $B = $b OR id_b % $B = $b)),
      e$b AS (
        SELECT
          CASE WHEN id_a % $B = $b THEN id_a + $Off
               ELSE COALESCE(la.cluster_rep, id_a) END AS src,
          CASE WHEN id_b % $B = $b THEN id_b + $Off
               ELSE COALESCE(lb.cluster_rep, id_b) END AS dst
        FROM p$b
        LEFT JOIN s${b - 1} la ON id_a = la.doc_id
        LEFT JOIN s${b - 1} lb ON id_b = lb.doc_id),
      u$b AS MATERIALIZED (
        SELECT src, dst FROM e$b UNION SELECT dst, src FROM e$b),
      r$b(id, r) AS (
        SELECT DISTINCT src, src FROM u$b
        UNION
        SELECT e.dst, r$b.r FROM r$b JOIN u$b e ON r$b.id = e.src),
      c$b AS (SELECT id, MIN(r) AS lbl FROM r$b GROUP BY id),
      n$b AS (
        SELECT id - $Off AS doc_id,
          CASE WHEN lbl >= $Off THEN lbl - $Off ELSE lbl END
            AS cluster_rep
        FROM c$b WHERE id >= $Off),
      s$b AS MATERIALIZED (
        SELECT doc_id, cluster_rep FROM s${b - 1}
        UNION ALL
        SELECT d.doc_id, COALESCE(n$b.cluster_rep, d.doc_id)
        FROM (SELECT doc_id FROM documents WHERE doc_id % $B = $b) d
        LEFT JOIN n$b ON d.doc_id = n$b.doc_id)""")
        sb.toString
      }
      Q("q99_streaming_dedup", Some(s"""
      WITH RECURSIVE $mhCtes,
      scored AS MATERIALIZED (
        SELECT id_a, id_b FROM cand
        JOIN sig sa ON id_a = sa.doc_id
        JOIN sig sb ON id_b = sb.doc_id
        WHERE ($mhAgree) * 2 >= $MhNumHashes),
      $foldCtes
      SELECT CAST(doc_id AS BIGINT) AS doc_id,
        CAST(cluster_rep AS BIGINT) AS cluster_rep
      FROM s${B - 1} ORDER BY doc_id""")) { (s, dir) =>
        val state = Q.scratchPath("q99state", dir)
        // fresh state per call: a bench rerun must redo the fold, not
        // no-op through the replay anti-join against last run's state
        val statePath = new org.apache.hadoop.fs.Path(state)
        statePath.getFileSystem(s.sparkContext.hadoopConfiguration)
          .delete(statePath, true): Unit
        val docs = Tables.load(s, dir, "documents")
        for (b <- 0 until B)
          graft.streaming.CorpusStreams.assignBatch(
            docs.filter(col("doc_id") % B === b).select("doc_id", "text"),
            state, n = 3, numHashes = MhNumHashes, bands = MhBands,
            threshold = 0.5, offset = Off)
        graft.streaming.CorpusStreams.assignments(s, state)
          .select(col("doc_id").cast("long").as("doc_id"),
            col("cluster_rep").cast("long").as("cluster_rep"))
          .orderBy("doc_id")
      }
    },

    // PageRank centrality over the verified near-dup similarity graph
    // — the graph-aware canonical-document selector (rank the cluster
    // graph, keep the most central member; the alternative to min-id
    // survivorship). Fixed-point BIGINT arithmetic end to end: float
    // PageRank's per-node sums are order-dependent and could never
    // hash-match an oracle; integer multiply/floor-div/sum is exact
    // under any partitioning. The oracle unrolls the same 10
    // iterations as CTEs over the shared minhash candidate chain.
    {
      val Scale = 1000000000000L
      val Iters = 10
      def prCtes: String = {
        val sb = new StringBuilder
        sb.append(s"""
      adj AS MATERIALIZED (
        SELECT id_a AS src, id_b AS dst FROM scored
        UNION SELECT id_b, id_a FROM scored),
      dg AS (SELECT src, COUNT(*) AS deg FROM adj GROUP BY src),
      adjd AS MATERIALIZED (
        SELECT a.src, a.dst, dg.deg FROM adj a JOIN dg USING (src)),
      nn AS (SELECT COUNT(DISTINCT src) AS n FROM adj),
      pr0 AS (
        SELECT DISTINCT src AS doc_id,
          $Scale // (SELECT n FROM nn) AS rank FROM adj)""")
        for (k <- 1 to Iters) sb.append(s""",
      pr$k AS MATERIALIZED (
        SELECT a.dst AS doc_id,
          (15 * $Scale) // (100 * (SELECT n FROM nn))
            + (85 * SUM(p.rank // a.deg)) // 100 AS rank
        FROM adjd a JOIN pr${k - 1} p ON a.src = p.doc_id
        GROUP BY a.dst)""")
        sb.toString
      }
      Q("q109_pagerank_canon", Some(s"""
      WITH $mhCtes,
      scored AS MATERIALIZED (
        SELECT id_a, id_b FROM cand
        JOIN sig sa ON id_a = sa.doc_id
        JOIN sig sb ON id_b = sb.doc_id
        WHERE ($mhAgree) * 2 >= $MhNumHashes),
      $prCtes
      SELECT CAST(doc_id AS BIGINT) AS doc_id,
        CAST(rank AS BIGINT) AS rank
      FROM pr$Iters ORDER BY rank DESC, doc_id LIMIT 20""")) { (s, dir) =>
        val pairs = Dedup.minHashLshCandidates(
            Tables.load(s, dir, "documents"), "doc_id", "text",
            n = 3, numHashes = MhNumHashes, bands = MhBands)
          .where(col("est_jaccard") >= 0.5)
          .select("id_a", "id_b")
        graft.analytics.Graph.pageRank(pairs, "id_a", "id_b",
            iters = Iters, scale = Scale)
          .select(col("doc_id").cast("long").as("doc_id"),
            col("rank").cast("long").as("rank"))
          .orderBy(col("rank").desc, col("doc_id"))
          .limit(20)
      }
    },

    // N-gram novelty scoring: per doc, the fraction of its distinct
    // 3-gram shingles whose corpus-FIRST appearance (min doc_id) is
    // this doc — the curriculum/curation signal for "how much new
    // content does this document contribute". Two keyed shuffles
    // (shingle → min doc, doc_id → fractions), linear at any scale.
    Q("q120_ngram_novelty", Some(s"""
      WITH sh AS (${duckShingleIndex(3)}),
      first AS (
        SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY shingle)
      SELECT s.doc_id,
        CAST(COUNT(*) AS BIGINT) AS n_shingles,
        CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
          AS BIGINT) AS n_novel,
        CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
          AS DOUBLE) / COUNT(*) AS novelty
      FROM sh s JOIN first f USING (shingle)
      GROUP BY s.doc_id ORDER BY s.doc_id""")) { (s, dir) =>
      val sh = Dedup.shingleIndex(
        Tables.load(s, dir, "documents"), "doc_id", "text", n = 3)
      val first = sh.groupBy("shingle")
        .agg(min(col("doc_id")).as("first_doc"))
      sh.join(first, Seq("shingle"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"))
        .select(col("doc_id"), col("n_shingles"), col("n_novel"),
          (col("n_novel").cast("double") / col("n_shingles"))
            .as("novelty"))
        .orderBy("doc_id")
    },

    // Asymmetric containment (directional near-dup): pairs where ≥80%
    // of a's distinct 5-gram shingles appear in b — catches a small
    // doc embedded in a larger one, which symmetric Jaccard dilutes
    // below any usable threshold. 80% is the integer test 5·i ≥ 4·sz,
    // so no FP boundary; ~50 directed pairs at sf0.01. The oracle
    // mirrors the operator's DEFAULT stop-shingle cap
    // (max(64, ⌈0.01·corpus⌉), same as q19/q61/q127): it binds
    // nothing at oracle scale — the operator adaptively drops a
    // non-binding cap, so both universes are the full shingle set —
    // but keeps the compared semantics aligned as corpora grow.
    Q("q122_containment", Some(s"""
      WITH sh AS (${duckShingleIndex(5)}),
      dfreq AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle),
      shc AS (SELECT doc_id, sh.shingle FROM sh JOIN dfreq USING (shingle)
        WHERE df <= (SELECT $duckStopShingleCap
                     FROM documents)),
      sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shc GROUP BY 1),
      inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
        FROM shc a JOIN shc b USING (shingle)
        WHERE a.doc_id <> b.doc_id GROUP BY 1, 2)
      SELECT id_a, id_b, CAST(i AS BIGINT) AS i,
        CAST(sa.sz AS BIGINT) AS sz_a,
        CAST(i AS DOUBLE) / sa.sz AS containment
      FROM inter JOIN sizes sa ON id_a = sa.doc_id
      WHERE i * 5 >= sa.sz * 4
      ORDER BY id_a, id_b""")) { (s, dir) =>
      Dedup.containmentPairs(Tables.load(s, dir, "documents"),
          "doc_id", "text", n = 5, tauNum = 4, tauDen = 5)
        .select(col("id_a"), col("id_b"), col("i").cast("long").as("i"),
          col("sz_a").cast("long").as("sz_a"), col("containment"))
        .orderBy("id_a", "id_b")
    },

    // Cross-corpus (R-S) exact Jaccard join: even-id docs as the
    // reference corpus, odd-id docs as the new batch — only
    // cross-side pairs are generated (a self-join would pay for
    // within-corpus pairs nobody asked for). Shingle universe and
    // stop-shingle cap over the combined corpus, mirroring the
    // operator's default config.
    // Sorted-neighborhood dedup candidates (Hernández–Stolfo): the
    // prefix-sorted sliding-window blocking family — catches
    // versioned/re-crawled near-dups that share a key prefix; pairs
    // within a 3-rank window of the normalized 32-char key, matched
    // at Levenshtein ≤ 5 (integer DP, engine-portable).
    Q("q157_sorted_neighborhood", Some("""
      WITH k AS (
        SELECT doc_id AS id,
          lower(substr(regexp_replace(trim(text), '\s+', ' ', 'g'),
            1, 32)) AS key
        FROM documents WHERE text IS NOT NULL
      ), rk AS (
        SELECT id, key, substr(key, 1, 2) AS block,
          row_number() OVER (PARTITION BY substr(key, 1, 2)
            ORDER BY key, id) AS r
        FROM k
      )
      SELECT a.id AS id_a, b.id AS id_b,
        a.key AS key_a, b.key AS key_b,
        CAST(levenshtein(a.key, b.key) AS INT) AS lev
      FROM rk a JOIN rk b
        ON a.block = b.block AND b.r > a.r AND b.r <= a.r + 3
      WHERE levenshtein(a.key, b.key) <= 5
      ORDER BY id_a, id_b""")) { (s, dir) =>
      Dedup.sortedNeighborhoodPairs(
          Tables.load(s, dir, "documents"), "doc_id", "text",
          keyChars = 32, blockChars = 2, window = 3, maxDist = 5)
        .orderBy("id_a", "id_b")
    },

    Q("q127_cross_jaccard", Some(s"""
      WITH sh AS (${duckShingleIndex(3)}),
      $duckCappedShingleCtes,
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        FROM shh a JOIN shh b USING (h)
        WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
        GROUP BY 1, 2)
      SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
        CAST(inter AS BIGINT) AS inter,
        CAST(sa.set_size AS BIGINT) AS size_a,
        CAST(sb.set_size AS BIGINT) AS size_b,
        CAST(inter AS DOUBLE)
          / CAST(sa.set_size + sb.set_size - inter AS DOUBLE) AS jaccard
      FROM pairs
      JOIN sizes sa ON id_a = sa.doc_id
      JOIN sizes sb ON id_b = sb.doc_id
      WHERE CAST(inter AS DOUBLE)
          / CAST(sa.set_size + sb.set_size - inter AS DOUBLE) >= 0.4
      ORDER BY id_a, id_b""")) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      Dedup.crossCorpusJaccardPairs(
          docs.where(col("doc_id") % 2 === 0),
          docs.where(col("doc_id") % 2 === 1),
          "doc_id", "text", n = 3, threshold = 0.4)
        .orderBy("id_a", "id_b")
    },

    // Full-text edit-distance verification of the sorted-neighborhood
    // candidates — the SNM tier's verify stage (mirrors how q170
    // verifies LSH candidates with in-bucket exact Jaccard). The
    // Levenshtein DP runs only on SNM candidate pairs (O(window) per
    // row) over a capped 240-char verify window, so the stage is
    // candidate-bounded with O(verifyChars²) per-pair cost — never
    // corpus². rel = lev / max(len) is one double division of exact
    // ints; is_dup emitted as 0/1 so every candidate carries its
    // verdict (the operator doubles as the tier's calibration report).
    Q("q171_edit_verified_dedup", Some("""
      WITH k AS (
        SELECT doc_id AS id,
          lower(substr(regexp_replace(trim(text), '\s+', ' ', 'g'),
            1, 32)) AS key,
          lower(substr(regexp_replace(trim(text), '\s+', ' ', 'g'),
            1, 240)) AS t
        FROM documents WHERE text IS NOT NULL
      ), rk AS (
        SELECT id, key, t, substr(key, 1, 2) AS block,
          row_number() OVER (PARTITION BY substr(key, 1, 2)
            ORDER BY key, id) AS r
        FROM k
      )
      SELECT a.id AS id_a, b.id AS id_b,
        CAST(levenshtein(a.t, b.t) AS BIGINT) AS lev,
        CAST(length(a.t) AS BIGINT) AS len_a,
        CAST(length(b.t) AS BIGINT) AS len_b,
        CAST(levenshtein(a.t, b.t) AS DOUBLE)
          / CAST(greatest(length(a.t), length(b.t)) AS DOUBLE) AS rel,
        CAST(CAST(levenshtein(a.t, b.t) AS DOUBLE)
          / CAST(greatest(length(a.t), length(b.t)) AS DOUBLE)
          <= 0.2 AS BIGINT) AS is_dup
      FROM rk a JOIN rk b
        ON a.block = b.block AND b.r > a.r AND b.r <= a.r + 3
      WHERE levenshtein(a.key, b.key) <= 5
      ORDER BY id_a, id_b""")) { (s, dir) =>
      Dedup.editVerifiedPairs(
          Tables.load(s, dir, "documents"), "doc_id", "text",
          keyChars = 32, blockChars = 2, window = 3, maxKeyDist = 5,
          verifyChars = 240, maxRel = 0.2)
        .withColumn("is_dup", col("is_dup").cast("long"))
        .orderBy("id_a", "id_b")
    },

    // Consumer-grade auto-routed near-dup entry point: ONE call
    // (Dedup.nearDups, strategy="auto") that picks the tier from the
    // free strategy statistics (corpus size, capped Σ df²) instead of
    // making the user read three scaladocs. At this corpus size the
    // selector prices the exact tier under the 256 M-collision budget
    // and routes "exact", so the oracle replays the capped exact
    // Jaccard with the uniform (id_a, id_b, score, method) schema all
    // tiers share; NearDupsAutoSpec pins the lsh/simhash switchovers
    // the sf corpus can't reach.
    Q("q239_neardups_auto", Some(s"""
      WITH sh AS (${duckShingleIndex(3)}),
      $duckCappedShingleCtes,
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        FROM shh a JOIN shh b USING (h) WHERE a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
        CAST(inter AS DOUBLE)
          / CAST(sa.set_size + sb.set_size - inter AS DOUBLE) AS score,
        'exact' AS method
      FROM pairs
      JOIN sizes sa ON id_a = sa.doc_id
      JOIN sizes sb ON id_b = sb.doc_id
      WHERE CAST(inter AS DOUBLE)
        / CAST(sa.set_size + sb.set_size - inter AS DOUBLE) >= 0.5
      ORDER BY id_a, id_b""")) { (s, dir) =>
      Dedup.nearDups(Tables.load(s, dir, "documents"),
          "doc_id", "text", n = 3, threshold = 0.5)
        .orderBy("id_a", "id_b")
    },

    // The composed end-to-end corpus-prep pipeline — the full "raw
    // crawl → training shards" story a user of the LLM tier runs
    // first, as ONE registered query: q79's per-doc verdict (lang +
    // quality + exact-dup + decontamination) → q97's LSH near-dup
    // representatives over the KEPT docs → q191's greedy token-budget
    // selection over the survivors → q106's sharded JSONL export with
    // the manifest computed from what was READ BACK from disk. Every
    // stage is the same library call its standalone query verifies;
    // the oracle replays the whole chain (verdict CTEs → recursive-CC
    // over kept-doc LSH pairs → budget window → manifest group-by).
    // kept/keptdocs are MATERIALIZED: the prefix feeds the 16-way
    // band UNION and would otherwise re-expand per reference.
    {
      val keepLang = "en"; val minQuality = 0.75; val maxContam = 0.5
      val budget = 8000L; val S = 4
      Q("q240_corpus_pipeline", Some(s"""
      WITH RECURSIVE tok AS (
        SELECT doc_id, source, text,
          string_split_regex(trim(text), '\\s+') AS t
        FROM documents WHERE text IS NOT NULL),
      corpus AS (SELECT * FROM tok WHERE source <> 'src0'),
      lang AS (
        SELECT doc_id, ${TextQueries.duckLangCase} AS predicted FROM (
          SELECT doc_id,
            ${TextQueries.duckLangScores}
          FROM corpus)),
      qual AS (
        SELECT doc_id,
          (CAST(n_tokens BETWEEN 20 AND 100000 AS INT)
           + CAST(mean_token_len BETWEEN 3.0 AND 10.0 AS INT)
           + CAST(stop_ratio >= 0.01 AS INT)
           + CAST(punct_ratio <= 0.1 AS INT))::DOUBLE / 4 AS quality_score
        FROM (
          SELECT doc_id, len(t) AS n_tokens,
            length(regexp_replace(text, '\\s', '', 'g'))::DOUBLE / len(t)::DOUBLE AS mean_token_len,
            len(list_filter(t, x -> x IN ('the', 'a', 'of', 'and', 'to', 'in', 'is', 'it', 'that', 'for')))::DOUBLE / len(t)::DOUBLE AS stop_ratio,
            length(regexp_replace(text, '[^.,!?;:]', '', 'g'))::DOUBLE / greatest(length(text), 1)::DOUBLE AS punct_ratio
          FROM corpus)),
      dup AS (
        SELECT doc_id,
          CAST(ROW_NUMBER() OVER (PARTITION BY md5(text)
            ORDER BY doc_id) > 1 AS INT) AS is_dup
        FROM corpus),
      sh5 AS (
        SELECT doc_id, source,
          unnest(list_distinct(CASE WHEN len(t) >= 5
            THEN list_transform(generate_series(1, len(t) - 4),
                 i -> array_to_string(t[i:i+4], ' '))
            ELSE CAST([] AS VARCHAR[]) END)) AS shingle
        FROM tok),
      bench5 AS (SELECT DISTINCT shingle FROM sh5 WHERE source = 'src0'),
      cont AS (
        SELECT c.doc_id,
          CAST(sum(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END)
            AS DOUBLE) / CAST(count(*) AS DOUBLE) AS contamination
        FROM (SELECT doc_id, shingle FROM sh5 WHERE source <> 'src0') c
        LEFT JOIN bench5 b USING (shingle)
        GROUP BY 1),
      kept AS MATERIALIZED (
        SELECT c.doc_id
        FROM (SELECT doc_id FROM corpus) c
        JOIN lang l USING (doc_id)
        JOIN qual q USING (doc_id)
        JOIN dup d USING (doc_id)
        LEFT JOIN cont ct USING (doc_id)
        WHERE l.predicted = '$keepLang' AND q.quality_score >= $minQuality
          AND d.is_dup = 0
          AND COALESCE(ct.contamination, 0.0) < $maxContam),
      keptdocs AS MATERIALIZED (
        SELECT d.doc_id, d.text, d.n_chars
        FROM documents d JOIN kept USING (doc_id)),
      ${mhCtesFrom("keptdocs")},
      scored AS (
        SELECT id_a, id_b FROM cand
        JOIN sig sa ON id_a = sa.doc_id
        JOIN sig sb ON id_b = sb.doc_id
        WHERE ($mhAgree) * 2 >= $MhNumHashes),
      edges AS (
        SELECT id_a AS src, id_b AS dst FROM scored
        UNION SELECT id_b, id_a FROM scored),
      reach(id, r) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT e.dst, reach.r FROM reach JOIN edges e ON reach.id = e.src),
      labels AS (
        SELECT id AS doc_id, MIN(r) AS rep FROM reach GROUP BY id),
      assigned AS (
        SELECT k.doc_id, COALESCE(l.rep, k.doc_id) AS rep
        FROM keptdocs k LEFT JOIN labels l USING (doc_id)),
      reps AS (
        SELECT rep AS doc_id FROM assigned GROUP BY rep),
      bd AS (
        SELECT r.doc_id, CAST(d.n_chars AS BIGINT) AS score,
          CAST(len(string_split_regex(trim(d.text), '\\s+')) AS BIGINT)
            AS toks
        FROM reps r JOIN documents d USING (doc_id)),
      br AS (
        SELECT doc_id,
          SUM(toks) OVER (ORDER BY score DESC,
            md5(CAST(doc_id AS VARCHAR)), doc_id
            ROWS UNBOUNDED PRECEDING) AS cum
        FROM bd),
      sel AS (SELECT doc_id FROM br WHERE cum <= $budget),
      seld AS (SELECT d.* FROM documents d JOIN sel USING (doc_id))
      SELECT CAST(doc_id % $S AS BIGINT) AS shard,
        CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT)
          AS n_tokens,
        CAST(SUM(strlen(text)) AS BIGINT) AS n_bytes,
        CAST(MIN(doc_id) AS BIGINT) AS min_doc,
        CAST(MAX(doc_id) AS BIGINT) AS max_doc
      FROM seld GROUP BY 1 ORDER BY shard""")) { (s, dir) =>
        import graft.pipeline.CorpusPipeline
        val d = Tables.load(s, dir, "documents")
          .where(col("text").isNotNull)
        val back = CorpusPipeline.prepareAndExport(
          d.where(col("source") =!= "src0"),
          d.where(col("source") === "src0"),
          "doc_id", "text", "n_chars",
          CorpusPipeline.Config(keepLang = keepLang,
            minQuality = minQuality, maxContam = maxContam,
            lshNumHashes = MhNumHashes, lshBands = MhBands,
            tokenBudget = budget),
          Q.scratchPath("q240jsonl", dir), shards = S)
        back.groupBy(col("shard").cast("long").as("shard"))
          .agg(count(lit(1)).as("n_docs"),
            sum(size(split(trim(col("text")), "\\s+")).cast("long"))
              .as("n_tokens"),
            sum(octet_length(col("text")).cast("long")).as("n_bytes"),
            min(col("doc_id")).as("min_doc"),
            max(col("doc_id")).as("max_doc"))
          .orderBy("shard")
      }
    },

    // Auto-width embedding near-dup (the q22 tier made scale-safe):
    // bits = clamp(⌈log₂(n/32)⌉, 1, 24) chosen from one count(*), so
    // expected bucket size stays constant as the corpus grows — the
    // r15 sf10 rehearsal measured the pinned-bits form at 228×/10×
    // data and this rule at 3.8×. The oracle can't compute a dynamic
    // hyperplane count, so it unrolls one candidate branch per bits
    // value with COUNT(*)-gated ranges matching autoSignBits (n ≤ 64
    // → 1 … 1024 < n ≤ 2048 → 6, covering every driver sf);
    // AutoSignBitsSpec pins the rule itself across the full range.
    {
      val thr = 0.35; val targetBucket = 32
      Q("q241_embdedup_auto", Some(s"""
      WITH ${embAutoCandCtes()}
      SELECT id_a, id_b, score FROM cand
      WHERE score >= $thr
      ORDER BY id_a, id_b""")) { (s, dir) =>
        Dedup.embeddingNearDupsAuto(Tables.load(s, dir, "embeddings"),
            "vec_id", "embedding", threshold = thr,
            targetBucket = targetBucket)
          .orderBy("id_a", "id_b")
      }
    },

    // Quality-aware dedup apply: q97's LSH clusters, but each cluster
    // keeps its BEST-scored member (n_chars as the quality key, min
    // doc id on ties) instead of the min id — what Dolma-style
    // pipelines ship (keep the longest/highest-quality copy). One
    // max(struct) hash aggregation per cluster; the oracle picks the
    // survivor with a per-cluster ROW_NUMBER.
    Q("q244_dedup_keep_best", Some(s"""
      WITH RECURSIVE $mhCtes,
      scored AS (
        SELECT id_a, id_b FROM cand
        JOIN sig sa ON id_a = sa.doc_id
        JOIN sig sb ON id_b = sb.doc_id
        WHERE ($mhAgree) * 2 >= $MhNumHashes),
      edges AS (
        SELECT id_a AS src, id_b AS dst FROM scored
        UNION SELECT id_b, id_a FROM scored),
      reach(id, r) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT e.dst, reach.r FROM reach JOIN edges e ON reach.id = e.src),
      labels AS (
        SELECT id AS doc_id, MIN(r) AS rep FROM reach GROUP BY id),
      assigned AS (
        SELECT d.doc_id, d.n_chars, COALESCE(l.rep, d.doc_id) AS rep
        FROM documents d LEFT JOIN labels l USING (doc_id)),
      best AS (
        SELECT rep, doc_id, n_chars,
          ROW_NUMBER() OVER (PARTITION BY rep
            ORDER BY n_chars DESC, doc_id) AS rn,
          COUNT(*) OVER (PARTITION BY rep) AS n_members
        FROM assigned)
      SELECT CAST(doc_id AS BIGINT) AS doc_id,
        CAST(n_chars AS BIGINT) AS n_chars,
        CAST(n_members AS BIGINT) AS n_members
      FROM best WHERE rn = 1 ORDER BY doc_id""")) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val cand = Dedup.minHashLshCandidates(docs, "doc_id", "text",
          n = 3, numHashes = MhNumHashes, bands = MhBands)
        .where(col("est_jaccard") >= 0.5)
      Dedup.keepBestRepresentatives(
          docs.select(col("doc_id"), col("n_chars").cast("long")
            .as("n_chars")), "doc_id", "n_chars", cand)
        .orderBy("doc_id")
    },

    // Dedup-aware train/val split: assignment by CLUSTER rep hash,
    // never by document, so near-duplicates cannot straddle the split
    // (the classic eval leak). Deterministic h30(rep) % 100 rule —
    // stable as the corpus grows; the oracle replays the CC labels
    // and the same md5-derived arithmetic.
    Q("q245_cluster_split", Some(s"""
      WITH RECURSIVE $mhCtes,
      scored AS (
        SELECT id_a, id_b FROM cand
        JOIN sig sa ON id_a = sa.doc_id
        JOIN sig sb ON id_b = sb.doc_id
        WHERE ($mhAgree) * 2 >= $MhNumHashes),
      edges AS (
        SELECT id_a AS src, id_b AS dst FROM scored
        UNION SELECT id_b, id_a FROM scored),
      reach(id, r) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT e.dst, reach.r FROM reach JOIN edges e ON reach.id = e.src),
      labels AS (
        SELECT id AS doc_id, MIN(r) AS rep FROM reach GROUP BY id),
      assigned AS (
        SELECT d.doc_id, COALESCE(l.rep, d.doc_id) AS rep
        FROM documents d LEFT JOIN labels l USING (doc_id))
      SELECT CAST(doc_id AS BIGINT) AS doc_id,
        CAST(rep AS BIGINT) AS rep,
        CASE WHEN (CAST('0x' || substr(md5(CAST(rep AS VARCHAR)), 1, 8)
            AS BIGINT) % $P) % 100 < 10
          THEN 'val' ELSE 'train' END AS split
      FROM assigned ORDER BY doc_id""")) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val cand = Dedup.minHashLshCandidates(docs, "doc_id", "text",
          n = 3, numHashes = MhNumHashes, bands = MhBands)
        .where(col("est_jaccard") >= 0.5)
      Dedup.clusterSplit(docs, "doc_id", cand, valPct = 10)
        .orderBy("doc_id")
    },

    // Split-leakage audit: q245's guarantee AS A QUERY — join every
    // near-dup pair with its endpoints' split sides and count pairs
    // that straddle train/val (zero by construction for the
    // cluster-keyed split; the per-doc hash split leaks, which the
    // spec demonstrates). Also reports the split populations so the
    // audit carries its denominators.
    Q("q249_split_leakage", Some(s"""
      WITH RECURSIVE $mhCtes,
      scored AS (
        SELECT id_a, id_b FROM cand
        JOIN sig sa ON id_a = sa.doc_id
        JOIN sig sb ON id_b = sb.doc_id
        WHERE ($mhAgree) * 2 >= $MhNumHashes),
      edges AS (
        SELECT id_a AS src, id_b AS dst FROM scored
        UNION SELECT id_b, id_a FROM scored),
      reach(id, r) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT e.dst, reach.r FROM reach JOIN edges e ON reach.id = e.src),
      labels AS (
        SELECT id AS doc_id, MIN(r) AS rep FROM reach GROUP BY id),
      assigned AS (
        SELECT d.doc_id, COALESCE(l.rep, d.doc_id) AS rep
        FROM documents d LEFT JOIN labels l USING (doc_id)),
      splits AS (
        SELECT doc_id,
          CASE WHEN (CAST('0x' || substr(md5(CAST(rep AS VARCHAR)), 1, 8)
              AS BIGINT) % $P) % 100 < 10
            THEN 'val' ELSE 'train' END AS split
        FROM assigned),
      pairsplit AS (
        SELECT sa.split AS split_a, sb.split AS split_b FROM scored
        JOIN splits sa ON id_a = sa.doc_id
        JOIN splits sb ON id_b = sb.doc_id)
      SELECT CAST((SELECT count(*) FROM pairsplit) AS BIGINT) AS n_pairs,
        CAST((SELECT count(*) FROM pairsplit WHERE split_a <> split_b)
          AS BIGINT) AS n_cross_split,
        CAST((SELECT count(*) FROM splits WHERE split = 'train')
          AS BIGINT) AS n_train,
        CAST((SELECT count(*) FROM splits WHERE split = 'val')
          AS BIGINT) AS n_val""")) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val cand = Dedup.minHashLshCandidates(docs, "doc_id", "text",
          n = 3, numHashes = MhNumHashes, bands = MhBands)
        .where(col("est_jaccard") >= 0.5)
        .select("id_a", "id_b")
      val splits = Dedup.clusterSplit(docs, "doc_id", cand, valPct = 10)
      val pairSides = cand
        .join(splits.select(col("doc_id").as("id_a"),
          col("split").as("split_a")), Seq("id_a"))
        .join(splits.select(col("doc_id").as("id_b"),
          col("split").as("split_b")), Seq("id_b"))
      val sides = splits.groupBy()
        .agg(sum(when(col("split") === "train", 1L).otherwise(0L))
            .as("n_train"),
          sum(when(col("split") === "val", 1L).otherwise(0L))
            .as("n_val"))
      pairSides.groupBy()
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("split_a") =!= col("split_b"), 1L).otherwise(0L))
            .as("n_cross_split"))
        .crossJoin(broadcast(sides)) // 1-row side -> BNLJ, never CP
        .select("n_pairs", "n_cross_split", "n_train", "n_val")
    },

    // Recall calibration for the auto-width embedding tier (the q241
    // counterpart of q170/q202), BANDED BY TRUE SIMILARITY: ground
    // truth = exact all-pairs cosine (the tiny-corpus baseline, BNLJ
    // on the broadcastable side — a calibration query runs at sample
    // scale by design); caught = the auto-bits bucketed pairs. The
    // bucketed tier never emits a false positive (every candidate is
    // exact-cosine verified), and sign-LSH retention is
    // (1 − θ/π)^bits per table, so recall RISES with similarity —
    // strong where the tier is meant to operate (near-identity),
    // honest about the weak low-similarity band (measured ~0.28
    // overall at τ=0.35, sf0.01). Banded output makes the trade
    // auditable instead of hiding it in one blended number.
    Q("q251_embdedup_auto_recall", Some(s"""
      WITH ${embAutoCandCtes()},
      auto AS (
        SELECT DISTINCT id_a, id_b FROM cand WHERE score >= 0.35),
      bf AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          CASE WHEN ${SimilarityQueries.duckCosine(
            "a.embedding::DOUBLE[]", "b.embedding::DOUBLE[]")} >= 0.8
              THEN '0.80+'
            WHEN ${SimilarityQueries.duckCosine(
              "a.embedding::DOUBLE[]", "b.embedding::DOUBLE[]")} >= 0.6
              THEN '0.60-0.80'
            ELSE '0.35-0.60' END AS band
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE ${SimilarityQueries.duckCosine(
          "a.embedding::DOUBLE[]", "b.embedding::DOUBLE[]")} >= 0.35),
      r AS (
        SELECT band, CAST(count(*) AS BIGINT) AS n_true,
          CAST(SUM(CASE WHEN auto.id_a IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_caught,
          CAST(SUM(CASE WHEN auto.id_a IS NOT NULL THEN 1 ELSE 0 END)
              AS DOUBLE)
            / CAST(count(*) AS DOUBLE) AS recall,
          CASE band
            WHEN '0.35-0.60' THEN ${duckRecallFloor(0.35)}
            WHEN '0.60-0.80' THEN ${duckRecallFloor(0.60)}
            ELSE ${duckRecallFloor(0.80)} END AS model_floor
        FROM bf LEFT JOIN auto USING (id_a, id_b)
        GROUP BY band)
      SELECT band, n_true, n_caught, recall, model_floor,
        recall >= model_floor AS meets_floor
      FROM r ORDER BY band""")) { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      // model floor per band: the closed-form retention at the band's
      // LOWER similarity edge (recall rises with similarity, so this
      // is the prediction's worst case) at the width the auto rule
      // picks for THIS corpus and the shipped tables=4 default —
      // measured band recall must sit on or above it
      val bits = Dedup.autoSignBits(emb.count(), 32)
      def floorAt(sLo: Double): Double =
        Dedup.signRecallModel(bits, 4, sLo)
      val bf = Dedup.embeddingNearDups(emb, "vec_id", "embedding",
          threshold = 0.35)
        .select(col("id_a"), col("id_b"),
          when(col("score") >= 0.8, lit("0.80+"))
            .when(col("score") >= 0.6, lit("0.60-0.80"))
            .otherwise(lit("0.35-0.60")).as("band"))
      val auto = Dedup.embeddingNearDupsAuto(emb, "vec_id", "embedding",
          threshold = 0.35)
        .select("id_a", "id_b").withColumn("__c", lit(1L))
      bf.join(auto, Seq("id_a", "id_b"), "left")
        .groupBy("band")
        .agg(count(lit(1)).as("n_true"),
          coalesce(sum(col("__c")), lit(0L)).as("n_caught"))
        .withColumn("recall",
          col("n_caught").cast("double") / col("n_true").cast("double"))
        .withColumn("model_floor",
          when(col("band") === "0.35-0.60", lit(floorAt(0.35)))
            .when(col("band") === "0.60-0.80", lit(floorAt(0.60)))
            .otherwise(lit(floorAt(0.80))))
        .withColumn("meets_floor", col("recall") >= col("model_floor"))
        .orderBy("band")
    },

    // Recall-TARGETED embedding near-dup: the q251 retention model
    // INVERTED — given (τ=0.35, target recall 0.8: the MODERATE
    // band, exactly where the t=4 default measured an honest 0.49)
    // solve for the table count,
    // T = ⌈ln(1−R)/ln(1−(1−acos τ/π)^bits)⌉, at the
    // width the auto rule picks for this corpus
    // (Dedup.autoSignTables; AutoSignBitsSpec pins the inversion).
    // The oracle replays bits AND tables through the same COUNT(*)
    // gates (per-branch table counts in the candidate CTE), and the
    // output row carries the chosen parameters, the model floor at
    // τ, the measured recall against exact all-pairs truth, and
    // meets_target — the contract "asking for recall R actually
    // buys recall ≥ R" as a hash-checked result, not a doc claim.
    Q("q256_embdedup_target_recall", Some(s"""
      WITH ${embAutoCandCtes(b =>
        Dedup.autoSignTables(b, 0.35, 0.8))},
      auto AS (
        SELECT DISTINCT id_a, id_b FROM cand WHERE score >= 0.35),
      bf AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE ${SimilarityQueries.duckCosine(
          "a.embedding::DOUBLE[]", "b.embedding::DOUBLE[]")} >= 0.35),
      r AS (
        SELECT CAST(count(*) AS BIGINT) AS n_true,
          CAST(COALESCE(SUM(CASE WHEN auto.id_a IS NOT NULL
            THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_caught,
          CASE WHEN count(*) > 0 THEN
            CAST(SUM(CASE WHEN auto.id_a IS NOT NULL THEN 1 ELSE 0 END)
                AS DOUBLE)
              / CAST(count(*) AS DOUBLE) END AS recall
        FROM bf LEFT JOIN auto USING (id_a, id_b))
      SELECT n_true, n_caught, recall,
        ${embAutoCase(b => s"CAST($b AS BIGINT)")} AS bits,
        ${embAutoCase(b =>
          s"CAST(${Dedup.autoSignTables(b, 0.35, 0.8)} AS BIGINT)")}
          AS tables,
        ${embAutoCase(b => duckDouble(Dedup.signRecallModel(b,
          Dedup.autoSignTables(b, 0.35, 0.8), 0.35)))} AS model_floor,
        COALESCE(recall >= 0.8, TRUE) AS meets_target
      FROM r""")) { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val bits = Dedup.autoSignBits(emb.count(), 32)
      val tables = Dedup.autoSignTables(bits, 0.35, 0.8)
      val bf = Dedup.embeddingNearDups(emb, "vec_id", "embedding",
          threshold = 0.35)
        .select("id_a", "id_b")
      val auto = Dedup.embeddingNearDupsAuto(emb, "vec_id", "embedding",
          threshold = 0.35, targetRecall = Some(0.8))
        .select("id_a", "id_b").withColumn("__c", lit(1L))
      bf.join(auto, Seq("id_a", "id_b"), "left")
        .agg(count(lit(1)).as("n_true"),
          coalesce(sum(col("__c")), lit(0L)).as("n_caught"))
        .withColumn("recall",
          // n_true = 0 (a corpus with no τ-pairs at all) is a
          // legitimate calibration outcome: recall is undefined,
          // null on both engines — never a divide-by-zero
          when(col("n_true") > 0,
            col("n_caught").cast("double") /
              col("n_true").cast("double")))
        .withColumn("bits", lit(bits.toLong))
        .withColumn("tables", lit(tables.toLong))
        .withColumn("model_floor",
          lit(Dedup.signRecallModel(bits, tables, 0.35)))
        // vacuously true on a corpus with no τ-pairs (nothing to
        // find, nothing missed) — also sidesteps the engines'
        // differing null-boolean renderings in the value hash
        .withColumn("meets_target",
          coalesce(col("recall") >= 0.8, lit(true)))
    },

    // Exact-dup safety audit for the LSH dedup apply: identical docs
    // have identical minhash signatures, collide in EVERY band, and
    // therefore land in one cluster — so after q97's keep-first apply
    // no exact-duplicate PAIR can survive (n_multi_survivor = 0 by
    // construction; the audit proves it against the exact md5-group
    // truth). The synthetic corpus carries no exact text dups, so the
    // audit PLANTS them (q73's synthetic-input pattern): every
    // doc_id % 10 = 0 doc is duplicated under id + 10^9, making the
    // guarantee observable rather than vacuous. n_zero_survivor > 0
    // is legitimate — an exact group inside a larger near-dup cluster
    // whose representative is another member — and quantifies the
    // over-merge q228's transitivity census warns about, from the
    // exact-dup side.
    Q("q254_dedup_exact_audit", Some(s"""
      WITH RECURSIVE documents2 AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000000 AS doc_id, text FROM documents
        WHERE doc_id % 10 = 0),
      ${mhCtesFrom("documents2")},
      scored AS (
        SELECT id_a, id_b FROM cand
        JOIN sig sa ON id_a = sa.doc_id
        JOIN sig sb ON id_b = sb.doc_id
        WHERE ($mhAgree) * 2 >= $MhNumHashes),
      edges AS (
        SELECT id_a AS src, id_b AS dst FROM scored
        UNION SELECT id_b, id_a FROM scored),
      reach(id, r) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT e.dst, reach.r FROM reach JOIN edges e ON reach.id = e.src),
      labels AS (
        SELECT id AS doc_id, MIN(r) AS rep FROM reach GROUP BY id),
      assigned AS (
        SELECT d.doc_id, COALESCE(l.rep, d.doc_id) AS rep
        FROM documents2 d LEFT JOIN labels l USING (doc_id)),
      kept AS (SELECT MIN(doc_id) AS doc_id FROM assigned GROUP BY rep),
      eg AS (
        SELECT md5(text) AS th, doc_id FROM documents2
        WHERE text IS NOT NULL),
      gs AS (
        SELECT th, COUNT(*) AS n,
          SUM(CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END)
            AS n_kept
        FROM eg LEFT JOIN kept k USING (doc_id) GROUP BY th)
      SELECT
        CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_dup_groups,
        CAST(SUM(CASE WHEN n > 1 AND n_kept = 1 THEN 1 ELSE 0 END)
          AS BIGINT) AS n_single_survivor,
        CAST(SUM(CASE WHEN n > 1 AND n_kept = 0 THEN 1 ELSE 0 END)
          AS BIGINT) AS n_zero_survivor,
        CAST(SUM(CASE WHEN n > 1 AND n_kept > 1 THEN 1 ELSE 0 END)
          AS BIGINT) AS n_multi_survivor
      FROM gs""")) { (s, dir) =>
      val base = Tables.load(s, dir, "documents")
        .select("doc_id", "text")
      val docs = base.unionByName(
        base.where(pmod(col("doc_id"), lit(10L)) === 0L)
          .select((col("doc_id") + 1000000000L).as("doc_id"),
            col("text")))
      val cand = Dedup.minHashLshCandidates(docs, "doc_id", "text",
          n = 3, numHashes = MhNumHashes, bands = MhBands)
        .where(col("est_jaccard") >= 0.5)
      val kept = Dedup.keepRepresentatives(
          docs.select("doc_id"), "doc_id", cand)
        .select("doc_id").withColumn("__k", lit(1L))
      docs.where(col("text").isNotNull)
        .select(md5(col("text")).as("th"), col("doc_id"))
        .join(kept, Seq("doc_id"), "left")
        .groupBy("th")
        .agg(count(lit(1)).as("n"),
          coalesce(sum(col("__k")), lit(0L)).as("n_kept"))
        .agg(
          sum(when(col("n") > 1, 1L).otherwise(0L)).as("n_dup_groups"),
          sum(when(col("n") > 1 && col("n_kept") === 1L, 1L)
            .otherwise(0L)).as("n_single_survivor"),
          sum(when(col("n") > 1 && col("n_kept") === 0L, 1L)
            .otherwise(0L)).as("n_zero_survivor"),
          sum(when(col("n") > 1 && col("n_kept") > 1L, 1L)
            .otherwise(0L)).as("n_multi_survivor"))
    }
  )
}
