package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.util.Lineage

/** Iterative graph analytics over edge frames. First citizen:
  * PageRank centrality, the canonical-document selector of a dedup
  * pipeline (rank the near-duplicate similarity graph, keep the most
  * central member of each cluster as the canonical copy — the
  * graph-aware alternative to min-id selection).
  *
  * Scale shape (the textbook Pregel dataflow, expressed
  * declaratively): per iteration, ONE edge-keyed equi-join
  * (edge table × node-rank table) and ONE node-keyed aggregation
  * (incoming-contribution sum, map-side combined so a celebrity node
  * condenses to one partial per map partition). The edge table is
  * degree-annotated and materialized ONCE before the loop — the
  * (possibly expensive) edge derivation never re-executes per
  * iteration, and the loop's lineage stays linear in the iteration
  * count. Nothing is ever node × node.
  *
  * Determinism: ranks are FIXED-POINT INTEGERS (scaled by `scale`),
  * all arithmetic is BIGINT multiply / floor-divide / sum — exact,
  * associative, and identical in any engine and under any
  * partitioning. Floating-point PageRank can never hash-match across
  * engines (per-node float sums are order-dependent); integer
  * fixed-point trades ~1/scale of precision for bit-exact
  * reproducibility — at the default scale of 10¹² the loss is far
  * below any ranking-relevant difference.
  */
object Graph {

  /** Partition count for a stage whose OUTPUT explodes relative to its
    * input (the wedge join: Σ outdeg² candidates from m edges). AQE
    * sizes post-shuffle partitions by the exchange's INPUT bytes, so a
    * small edge frame coalesces to a handful of tasks and the
    * explosion runs nearly serial (measured on q154: the wedge stage
    * got 3 tasks of 4.5 s on 32 cores). Floor at the cluster's
    * default parallelism, keep the input's own width when it is
    * already wider (at scale the frame arrives with many partitions —
    * never shrink it). Scale-adaptive by construction, not a local
    * constant (guide §2.5 input-vs-output skew). */
  private def explodingJoinPartitions(df: DataFrame): Int = {
    val sc = df.sparkSession.sparkContext
    math.max(sc.defaultParallelism, df.rdd.getNumPartitions)
  }

  /** Repartition the oriented edge frame by `src` with an explicit
    * width (explicit numPartitions is exempt from AQE coalescing), so
    * the wedge self-join that follows reads it co-partitioned and runs
    * the explosion at full parallelism with NO additional exchange —
    * both join sides derive from this one frame, so the join's
    * requirement is already satisfied. */
  private def spreadBySrc(oriented: DataFrame): DataFrame =
    oriented.repartition(explodingJoinPartitions(oriented), col("src"))

  /** Fixed-point PageRank over an UNDIRECTED edge set.
    *
    * `edges` is one row per undirected edge (aCol, bCol); it is
    * symmetrized and de-duplicated here. Every edge endpoint is a
    * node; rank mass starts uniform (scale div N) and each of `iters`
    * rounds applies
    *
    *   rank'(v) = (1−d)·scale/N  +  d · Σ_{u~v} rank(u) div deg(u)
    *
    * with d = dampNum/dampDen and every step in BIGINT floor
    * arithmetic (see class doc). In a symmetrized graph every node
    * has an incoming edge, so the aggregation covers all nodes.
    *
    * Returns (doc_id, rank) with rank in fixed-point `scale` units.
    */
  def pageRank(edges: DataFrame, aCol: String, bCol: String,
      iters: Int = 10, scale: Long = 1000000000000L,
      dampNum: Long = 85L, dampDen: Long = 100L): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    require(dampNum > 0 && dampNum < dampDen, "need 0 < damp < 1")
    val adj = edges
      .select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionByName(edges.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct()
    val deg = adj.groupBy("src").agg(count(lit(1)).as("deg"))
    // materialized once: the loop joins this frame every iteration,
    // and its lineage (e.g. a minhash candidate generation) must not
    // re-execute per round
    val adjDeg = Lineage.materialize(adj.join(deg, Seq("src")))
    val nodes = adjDeg.select(col("src").as("doc_id")).distinct()
    val n = nodes.count()
    require(n > 0, "pageRank: empty edge set")
    val base = ((dampDen - dampNum) * scale) / (dampDen * n)
    var r = nodes.withColumn("rank", lit(scale / n))
    for (_ <- 0 until iters) {
      r = adjDeg
        .join(r.withColumnRenamed("doc_id", "src"), Seq("src"))
        .select(col("dst").as("doc_id"),
          expr("rank div deg").as("__c"))
        .groupBy("doc_id")
        .agg(sum(col("__c")).as("__s"))
        .select(col("doc_id"),
          (lit(base) + expr(s"($dampNum * __s) div $dampDen"))
            .as("rank"))
    }
    r
  }

  /** Triangle census + global clustering coefficient — the
    * graph-cohesion diagnostic (how clumped is the near-dup /
    * co-purchase graph): triangles via the ordered two-path join
    * (u<v<w, each triangle counted exactly once), wedges from the
    * degree sequence, coefficient = 3T / W.
    *
    * Scale shape: DEGREE-ORIENTED two-path join (Chiba–Nishizeki
    * 1985 / Schank–Wagner 2005): every edge is oriented from its
    * lower-(degree, id) endpoint to the higher one — an acyclic
    * total order, so each triangle has exactly ONE vertex sourcing
    * two of its edges and is counted exactly once from there. The
    * wedge join's candidate volume drops from Σ deg² (fatal on hub
    * nodes — measured 18 s at sf0.1 on the id-ordered form) to
    * Σ outdeg², with outdeg ≤ O(√m) on any graph. One keyed
    * self-join + one closing-edge semi-join; counts are exact longs;
    * the coefficient is one double division.
    *
    * Output (one row): n_nodes, n_edges, n_wedges, n_triangles,
    * clustering_coeff (null for a wedge-free graph).
    */
  def triangleCensus(edges: DataFrame, aCol: String,
      bCol: String): DataFrame = {
    val e = edges
      .select(least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v"))
      .where(col("u") =!= col("v") &&
        col("u").isNotNull && col("v").isNotNull)
      .distinct()
    val eM = Lineage.materialize(e)
    val deg = eM.select(col("u").as("n")).unionByName(
        eM.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    // Σd and Σd(d−1) are summed as exact longs and halved once —
    // `/` on integers is double division in both engines, so the
    // halving must happen on the exact total (always even)
    val nodesEdges = deg.agg(
      count(lit(1)).as("n_nodes"),
      expr("sum(d) div 2").as("n_edges"),
      expr("sum(d * (d - 1)) div 2").as("n_wedges"))
    // orient each edge from its lower-(degree, id) endpoint; carry
    // the dst DEGREE so the out-neighbor pair below can be put in
    // the same canonical order without re-joining degrees. The
    // (degree, id) ordering key is carried FLAT (r20): its id half
    // IS the dst column, so the r19 struct(kd, kn) was a per-row
    // allocation in the materialized frame and a two-field struct
    // comparator on every one of the Σ outdeg² wedge candidates —
    // the flat form compares two primitive columns in codegen.
    val du = deg.select(col("n").as("u"), col("d").as("du"))
    val dv = deg.select(col("n").as("v"), col("d").as("dv"))
    val uFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val oriented = Lineage.materialize(
      eM.join(du, Seq("u")).join(dv, Seq("v"))
        .select(
          when(uFirst, col("u")).otherwise(col("v")).as("src"),
          when(uFirst, col("v")).otherwise(col("u")).as("dst"),
          when(uFirst, col("dv")).otherwise(col("du")).as("dk")))
    // out-neighbor pairs of one source, canonically ordered by the
    // SAME (degree, id) key — the closing edge, if present, is then
    // guaranteed to be oriented b→c
    val orientedP = spreadBySrc(oriented)
    val x = orientedP.select(col("src"),
      col("dst").as("b"), col("dk").as("kbd"))
    val y = orientedP.select(col("src"),
      col("dst").as("c"), col("dk").as("kcd"))
    val tri = x.join(y.hint("shuffle_hash"), Seq("src"))
      .where(col("kbd") < col("kcd") ||
        (col("kbd") === col("kcd") && col("b") < col("c")))
      .join(oriented.select(col("src").as("b"), col("dst").as("c")),
        Seq("b", "c"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    nodesEdges.crossJoin(broadcast(tri))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        when(col("n_wedges") > 0,
          lit(3.0) * col("n_triangles").cast("double") /
            col("n_wedges").cast("double"))
          .as("clustering_coeff"))
  }

  /** Per-node triangle counts and LOCAL clustering coefficients
    * (Watts–Strogatz): for each node, how many of its neighbor pairs
    * are themselves connected — the per-node cohesion feature (hub
    * whose neighborhood is a clique = template/boilerplate cluster
    * core; hub with sparse neighborhood = genuine connector) that the
    * single global coefficient of [[triangleCensus]] averages away.
    *
    * Scale shape: the SAME degree-oriented wedge join as
    * [[triangleCensus]] (Σ outdeg² candidates, outdeg ≤ O(√m)) —
    * the only change is that the closing-edge probe is an INNER join
    * (not semi) and each confirmed triangle is exploded to its three
    * corners for one node-keyed count. Per-node wedge counts come
    * from the degree sequence, not a join. Everything before the one
    * double division is an exact BIGINT.
    *
    * Output: (node, degree, n_triangles, lcc) ordered by node, where
    * lcc = 2·t / (d·(d−1)) and degree-1 nodes report lcc null.
    */
  def localClustering(edges: DataFrame, aCol: String,
      bCol: String): DataFrame = {
    val e = edges
      .select(least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v"))
      .where(col("u") =!= col("v") &&
        col("u").isNotNull && col("v").isNotNull)
      .distinct()
    val eM = Lineage.materialize(e)
    val deg = eM.select(col("u").as("n")).unionByName(
        eM.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    // flat (degree, id) ordering key, as in [[triangleCensus]] (r20)
    val du = deg.select(col("n").as("u"), col("d").as("du"))
    val dv = deg.select(col("n").as("v"), col("d").as("dv"))
    val uFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val oriented = Lineage.materialize(
      eM.join(du, Seq("u")).join(dv, Seq("v"))
        .select(
          when(uFirst, col("u")).otherwise(col("v")).as("src"),
          when(uFirst, col("v")).otherwise(col("u")).as("dst"),
          when(uFirst, col("dv")).otherwise(col("du")).as("dk")))
    val orientedP = spreadBySrc(oriented)
    val x = orientedP.select(col("src"),
      col("dst").as("b"), col("dk").as("kbd"))
    val y = orientedP.select(col("src"),
      col("dst").as("c"), col("dk").as("kcd"))
    val triCorners = x.join(y.hint("shuffle_hash"), Seq("src"))
      .where(col("kbd") < col("kcd") ||
        (col("kbd") === col("kcd") && col("b") < col("c")))
      .join(oriented.select(col("src").as("b"), col("dst").as("c")),
        Seq("b", "c"), "left_semi")
      .select(explode(array(col("src"), col("b"), col("c")))
        .as("n"))
      .groupBy("n").agg(count(lit(1)).as("t"))
    deg.join(triCorners, Seq("n"), "left")
      .na.fill(0L, Seq("t"))
      .select(col("n").as("node"), col("d").cast("long").as("degree"),
        col("t").cast("long").as("n_triangles"),
        when(col("d") > 1,
          lit(2.0) * col("t").cast("double") /
            (col("d") * (col("d") - 1)).cast("double"))
          .as("lcc"))
      .orderBy("node")
  }

  /** Personalized (seeded) PageRank — the TrustRank-shaped variant
    * (Haveliwala WWW'02; Gyöngyi et al. VLDB'04): teleport mass lands
    * ONLY on the seed set, so rank measures proximity to the seeds
    * rather than global centrality. The curation primitive for
    * "spread trust from a vetted whitelist over the link/similarity
    * graph" (or spam mass from a blacklist).
    *
    * Same execution shape and determinism contract as [[pageRank]]:
    * the degree-annotated adjacency is materialized once, each round
    * is one edge⋈rank join + one map-side-combined aggregation, and
    * all arithmetic is fixed-point BIGINT (multiply / floor-div /
    * sum), so results are bit-identical under any partitioning and
    * in any engine. Per round every node v gets
    *
    *   rank'(v) = d · Σ_{u~v} rank(u) div deg(u)
    *            + 1[v ∈ S] · (1−d)·scale div |S|
    *
    * with rank⁰ = scale div |S| on seeds, 0 elsewhere. Nodes with
    * neither inflow nor seed membership simply don't appear (rank 0).
    * Seeds absent from the graph keep their teleport mass — they are
    * legitimate rank sinks, not an error.
    */
  def personalizedPageRank(edges: DataFrame, aCol: String, bCol: String,
      seeds: DataFrame, seedCol: String, iters: Int = 10,
      scale: Long = 1000000000000L,
      dampNum: Long = 85L, dampDen: Long = 100L): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    require(dampNum > 0 && dampNum < dampDen, "need 0 < damp < 1")
    val adj = edges
      .select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionByName(edges.select(col(bCol).as("src"), col(aCol).as("dst")))
      .where(col("src") =!= col("dst"))
      .distinct()
    val deg = adj.groupBy("src").agg(count(lit(1)).as("deg"))
    val adjDeg = Lineage.materialize(adj.join(deg, Seq("src")))
    val seedSet = Lineage.materialize(
      seeds.select(col(seedCol).as("doc_id"))
        .where(col("doc_id").isNotNull).distinct())
    val nSeeds = seedSet.count()
    require(nSeeds > 0, "personalizedPageRank: empty seed set")
    val base = ((dampDen - dampNum) * scale) / (dampDen * nSeeds)
    var r = seedSet.withColumn("rank", lit(scale / nSeeds))
    // per round: ONE node-keyed aggregation over the edge contribution
    // stream UNIONED with the (tiny) seed-marker rows, instead of the
    // aggregation + full-outer seed join the r19 form paid — the
    // full outer ran as a sort-merge join (two sorts + one extra
    // exchange of the seed side) per round for arithmetic this
    // aggregation expresses exactly: sum() skips the seed rows' null
    // __c (inflow-less seeds keep their null→0 coalesce), max(__seed)
    // is null exactly when no seed row joined (non-seed nodes take the
    // 0 branch). Same exact BIGINT value per node per round.
    for (_ <- 0 until iters) {
      val contrib = adjDeg
        .join(r.withColumnRenamed("doc_id", "src"), Seq("src"))
        .select(col("dst").as("doc_id"),
          expr("rank div deg").as("__c"),
          lit(null).cast("long").as("__seed"))
      val seedRows = seedSet.select(col("doc_id"),
        lit(null).cast("long").as("__c"), lit(1L).as("__seed"))
      r = contrib.unionByName(seedRows)
        .groupBy("doc_id")
        .agg(sum(col("__c")).as("__s"), max(col("__seed")).as("__sd"))
        .select(col("doc_id"),
          (coalesce(expr(s"($dampNum * __s) div $dampDen"), lit(0L)) +
            when(col("__sd").isNotNull, lit(base)).otherwise(lit(0L)))
            .as("rank"))
    }
    r
  }

  /** DOULION approximate triangle count (Tsourakakis et al. KDD'09)
    * — the LINEAR-cost scale tier next to the exact
    * [[triangleCensus]]: sparsify the graph by keeping each
    * undirected edge with probability p = pNum/pDen, triangle-count
    * the sparsified graph exactly (same degree-oriented join), and
    * scale the count by (pDen/pNum)³. The estimator is unbiased
    * (each triangle survives iff its 3 edges survive, probability
    * p³), and concentration follows Tsourakakis et al.'s analysis —
    * the spec pins a measured envelope on a known-T graph.
    *
    * At 100 TB this is the shipped answer for graph cohesion: the
    * exact census's Σ outdeg² wedge volume is graph-shaped and can't
    * be capped, while DOULION's cost is the linear edge scan plus
    * the SAME wedge join on a p²-shrunk candidate volume (each wedge
    * survives with p²) — p = 0.1 cuts the dominant term 100×.
    *
    * The coin is a DETERMINISTIC portable hash, not an RNG: edge
    * (u,v) survives iff `h60(u:v:seed) mod pDen < pNum` — h60 is the
    * md5-derived 60-bit integer used across the dedup tier, so an
    * external engine replays the exact sampling decision and the
    * result is reproducible under any partitioning, retry or
    * speculative execution. `seed` varies the draw (average several
    * seeds to cut variance; each is independently unbiased).
    *
    * Output (one row): n_edges (full graph), n_sampled_edges,
    * t_sparse (exact triangles of the sampled graph), est_triangles
    * (= t_sparse·pDen³ div pNum³ when exact, via integer arithmetic)
    * and est_triangles_d (the double form, one division).
    */
  def approxTriangles(edges: DataFrame, aCol: String, bCol: String,
      pNum: Int, pDen: Int, seed: Int = 0): DataFrame = {
    require(pNum > 0 && pDen > 0 && pNum <= pDen,
      s"sampling probability must be a rational in (0,1]: $pNum/$pDen")
    val e = edges
      .select(least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v"))
      .where(col("u") =!= col("v") &&
        col("u").isNotNull && col("v").isNotNull)
      .distinct()
    val eM = Lineage.materialize(e)
    val keep = Dedup.h60(concat_ws(":",
      col("u"), col("v"), lit(seed))) % pDen < pNum
    val sampled = eM.where(keep)
    val full = eM.agg(count(lit(1)).as("n_edges"))
    val scale3 = pDen.toLong * pDen * pDen
    val inv3 = pNum.toLong * pNum * pNum
    val sparse = triangleCensus(sampled, "u", "v")
      .select(col("n_edges").as("n_sampled_edges"),
        col("n_triangles").as("t_sparse"))
    full.crossJoin(broadcast(sparse))
      .select(col("n_edges"), col("n_sampled_edges"), col("t_sparse"),
        expr(s"(t_sparse * ${scale3}L) div ${inv3}L")
          .as("est_triangles"),
        (col("t_sparse").cast("double") * scale3 / inv3)
          .as("est_triangles_d"))
  }

  /** Degree distribution + degree assortativity — the one-pass graph
    * health report (Newman PRL'02): is this a hub-and-spoke graph
    * (disassortative, r < 0 — hubs link to leaves; the shape where
    * skew guards and degree-oriented joins matter) or a clustered
    * core (assortative, r > 0)? Assortativity is the Pearson
    * correlation of endpoint degrees over the DIRECTED pairs of the
    * symmetrized edge set (the common empirical full-degree variant,
    * not the excess-degree form — documented so oracles mirror it).
    *
    * Scale shape: one degree aggregation, one edge⋈degree join per
    * endpoint, and a SINGLE power-sum aggregation job (n, Σx, Σy,
    * Σxy, Σx², Σy² as exact DECIMAL(38,0)); the correlation is one
    * fixed double sequence, so the result hash-matches any engine
    * under any partitioning.
    *
    * Output (one row): n_nodes, n_edges, min_deg, max_deg,
    * avg_deg, assortativity (null when a degree is constant).
    */
  def degreeStats(edges: DataFrame, aCol: String,
      bCol: String): DataFrame = {
    val D38 = org.apache.spark.sql.types.DecimalType(38, 0)
    def d(c: org.apache.spark.sql.Column) = c.cast(D38)
    val e = edges
      .select(least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v"))
      .where(col("u") =!= col("v") &&
        col("u").isNotNull && col("v").isNotNull)
      .distinct()
    val adj = e.select(col("u").as("src"), col("v").as("dst"))
      .unionByName(e.select(col("v").as("src"), col("u").as("dst")))
    val adjM = Lineage.materialize(adj)
    val deg = adjM.groupBy("src").agg(count(lit(1)).as("d"))
    val nodeStats = deg.agg(
      count(lit(1)).cast("long").as("n_nodes"),
      expr("sum(d) div 2").cast("long").as("n_edges"),
      min(col("d")).cast("long").as("min_deg"),
      max(col("d")).cast("long").as("max_deg"),
      (sum(col("d")).cast("double") /
        count(lit(1)).cast("double")).as("avg_deg"))
    val pairs = adjM
      .join(deg.select(col("src"), col("d").as("x")), Seq("src"))
      .join(deg.select(col("src").as("dst"), col("d").as("y")),
        Seq("dst"))
    val sums = pairs.agg(
      count(lit(1)).as("m"),
      sum(d(col("x"))).as("sx"), sum(d(col("y"))).as("sy"),
      sum(d(col("x") * col("y"))).as("sxy"),
      sum(d(col("x") * col("x"))).as("sxx"),
      sum(d(col("y") * col("y"))).as("syy"))
    val num = (d(col("m")) * col("sxy") - col("sx") * col("sy"))
      .cast("double")
    val denX = sqrt((d(col("m")) * col("sxx") -
      col("sx") * col("sx")).cast("double"))
    val denY = sqrt((d(col("m")) * col("syy") -
      col("sy") * col("sy")).cast("double"))
    val assort = sums.select(
      when(denX > 0 && denY > 0, num / (denX * denY))
        .as("assortativity"))
    nodeStats.crossJoin(broadcast(assort))
  }

  /** Semi-supervised label propagation (Zhu & Ghahramani 2002 /
    * Raghavan et al. 2007, clamped-seed majority variant): seeded
    * nodes keep their label forever; each round, every still-
    * unlabeled node adopts the MAJORITY label among its labeled
    * neighbors (ties → lexicographically smallest label), and newly
    * labeled nodes propagate in later rounds. The weak-labeling
    * primitive of a training-data pipeline: spread a trusted sliver
    * of labels (human-reviewed docs, curated domains) over a
    * similarity or co-occurrence graph.
    *
    * Determinism: majority + smallest-label tie-break has a unique
    * fixed point per round regardless of partitioning; counts are
    * exact. Synchronous rounds (all updates read the PREVIOUS
    * round's labels), so the result is iteration-exact — mirrorable
    * by an unrolled SQL oracle.
    *
    * Scale shape per round: one edge⋈label equi-join + one
    * (node,label) count + one per-node argmax window (rows per node
    * ≤ |labels|). The label frame is materialized
    * ([[graft.util.Lineage.materialize]]) each round so round k+1
    * never re-executes round k's lineage.
    *
    * `edges` is one row per undirected edge (aCol, bCol) —
    * symmetrized here; `seeds` carries (aCol, labelCol).
    */
  /** Exact k-core of an UNDIRECTED graph by iterative peeling
    * (Matula–Beck): repeatedly delete every node whose current degree
    * is < k until no node qualifies; the survivors are exactly the
    * maximal subgraph in which every node has ≥ k neighbors — the
    * standard cohesion filter (spam-farm / boilerplate-cluster
    * isolation in a dedup graph, engaged-core extraction in a
    * behavior graph).
    *
    * Scale shape: per round ONE node-keyed degree aggregation
    * (map-side combined) and ONE edge×survivor equi-join pair —
    * never node×node — with the shrinking edge frame materialized
    * per round so round r+1 never re-executes round r's lineage
    * (same contract as [[labelPropagate]]). Peeling only shrinks the
    * frame, so per-round cost is non-increasing.
    *
    * Determinism and the oracle contract: peeling is CONFLUENT (the
    * k-core is unique; removal order cannot change the fixpoint), so
    * the only cross-engine degree of freedom is the ROUND COUNT. The
    * loop runs at most `rounds` peels, early-exiting when an edge
    * count survives a round unchanged; an engine that instead unrolls
    * exactly `rounds` no-op-padded peels (the DuckDB oracle) computes
    * the identical result whenever the fixpoint is reached within
    * `rounds` — and if it is NOT reached, both engines stop after the
    * same `rounds` peels, so they still agree. Every quantity is an
    * exact BIGINT count.
    *
    * Returns (node, core_deg): surviving nodes with their degree
    * inside the k-core subgraph, ordered by node.
    */
  def kCore(edges: DataFrame, aCol: String, bCol: String, k: Int,
      rounds: Int = 8): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(rounds >= 1, "rounds must be >= 1")
    val adj0 = edges
      .select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionByName(edges.select(col(bCol).as("src"), col(aCol).as("dst")))
      .where(col("src") =!= col("dst"))
      .distinct()
    // per-round edge counts come FREE off each round's checkpoint job
    // (materializeWithStats — the CC loop's idiom, r20): the separate
    // count() action per round was a second full job wave over the
    // just-checkpointed frame
    val (adj00, nEdges0, _) = Lineage.materializeWithStats(adj0)
    var adj = adj00
    var nEdges = nEdges0
    var r = 0
    var converged = nEdges == 0L
    while (!converged && r < rounds) {
      val keep = adj.groupBy("src").agg(count(lit(1)).as("__d"))
        .where(col("__d") >= k).select("src")
      val (next, n, _) = Lineage.materializeWithStats(
        adj.join(keep, Seq("src"))
          .join(keep.withColumnRenamed("src", "dst"), Seq("dst"))
          .select("src", "dst"))
      converged = n == nEdges
      nEdges = n
      adj = next
      r += 1
    }
    adj.groupBy(col("src").as("node"))
      .agg(count(lit(1)).cast("long").as("core_deg"))
      .orderBy("node")
  }

  /** Newman modularity of a GIVEN node partition (labels), per
    * community: Q_c = e_c/m − (d_c/2m)² — "do these labels actually
    * form communities on this graph" (brand cohesion on a
    * co-purchase graph, language cohesion on a near-dup graph).
    * Σ Q_c is the partition's modularity; a label whose Q_c ≤ 0
    * contributes no community structure.
    *
    * Scale shape: two label joins on the edge list (node-keyed), one
    * label-keyed aggregation — never node×node. Only edges with BOTH
    * endpoints labeled enter the graph (m, degrees, e_c all computed
    * after that filter), so an unlabeled fringe cannot skew the
    * denominator. Exactness: every count is a BIGINT; each Q_c is
    * (4m·e_c − d_c²)/(4m²) evaluated from the same integers in
    * either engine (DECIMAL/HUGEINT numerator, ONE double division).
    *
    * Output: (label, n_nodes, in_edges, degree_sum, q_contrib)
    * ordered by label.
    */
  def modularity(edges: DataFrame, aCol: String, bCol: String,
      labels: DataFrame, nodeCol: String,
      labelCol: String): DataFrame = {
    val D38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val lab = labels
      .select(col(nodeCol).as("n"), col(labelCol).as("lab"))
      .where(col("n").isNotNull && col("lab").isNotNull).distinct()
    val e = edges
      .select(least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v"))
      .where(col("u") =!= col("v") &&
        col("u").isNotNull && col("v").isNotNull)
      .distinct()
      .join(lab.select(col("n").as("u"), col("lab").as("lu")), Seq("u"))
      .join(lab.select(col("n").as("v"), col("lab").as("lv")), Seq("v"))
    val eM = Lineage.materialize(e)
    val m = eM.agg(count(lit(1)).as("m"))
    val perLabel = eM
      .select(col("u").as("n"), col("lu").as("lab"),
        (col("lu") === col("lv")).cast("long").as("inE"))
      .unionByName(eM.select(col("v").as("n"), col("lv").as("lab"),
        lit(0L).as("inE")))
      .groupBy("lab")
      .agg(countDistinct(col("n")).as("n_nodes"),
        sum(col("inE")).as("e_c"),
        count(lit(1)).as("d_c"))
    perLabel.crossJoin(broadcast(m))
      .select(col("lab").as("label"),
        col("n_nodes").cast("long"),
        col("e_c").cast("long").as("in_edges"),
        col("d_c").cast("long").as("degree_sum"),
        ((lit(4).cast(D38) * col("m") * col("e_c") -
          col("d_c").cast(D38) * col("d_c")).cast("double") /
          (lit(4).cast(D38) * col("m") * col("m")).cast("double"))
          .as("q_contrib"))
      .orderBy("label")
  }

  /** Multi-source BFS hop histogram — the reachability audit ("how
    * much of the dedup/co-purchase graph sits within h hops of these
    * seeds, and how fast does the frontier decay"): per hop, the
    * count of nodes FIRST reached at that distance, undirected.
    *
    * Scale shape: per hop ONE frontier⋈adjacency equi-join plus one
    * anti-join against the visited set, both node-keyed; frontier
    * and visited are materialized per round so round h+1 never
    * re-executes round h (the [[kCore]]/[[labelPropagate]]
    * contract). Min-hop assignment is confluent, so round order
    * cannot change the histogram.
    *
    * Returns (hop, n_nodes) for 0..maxHops (reached hops only),
    * ordered; seeds absent from the graph still count at hop 0.
    */
  def bfsHops(edges: DataFrame, aCol: String, bCol: String,
      seeds: DataFrame, seedCol: String, maxHops: Int): DataFrame = {
    require(maxHops >= 0, "maxHops must be >= 0")
    val adj = Lineage.materialize(edges
      .select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionByName(edges.select(col(bCol).as("src"),
        col(aCol).as("dst")))
      .where(col("src") =!= col("dst") &&
        col("src").isNotNull && col("dst").isNotNull)
      .distinct())
    val s0 = seeds.select(col(seedCol).as("n"))
      .where(col("n").isNotNull).distinct()
    // per-round emptiness comes FREE off the checkpoint job
    // (materializeWithStats), and `visited` stays a LAZY union of the
    // already-checkpointed frontiers — re-checkpointing the union
    // each round paid a second job wave to copy rows that were all
    // already in checkpointed frames (r20)
    val (f0, nSeeds, _) = Lineage.materializeWithStats(
      s0.withColumn("hop", lit(0)))
    var frontier = f0
    var visited = frontier
    var h = 0
    var exhausted = nSeeds == 0L
    while (!exhausted && h < maxHops) {
      h += 1
      val (next, nNext, _) = Lineage.materializeWithStats(
        adj.join(frontier.select(col("n").as("src")), Seq("src"))
          .select(col("dst").as("n")).distinct()
          .join(visited.select("n"), Seq("n"), "left_anti")
          .withColumn("hop", lit(h)))
      exhausted = nNext == 0L
      if (!exhausted) {
        visited = visited.unionByName(next)
        frontier = next
      }
    }
    visited.groupBy("hop")
      .agg(count(lit(1)).cast("long").as("n_nodes"))
      .select(col("hop").cast("int"), col("n_nodes"))
      .orderBy("hop")
  }

  /** HITS hubs & authorities (Kleinberg JACM'99) on a DIRECTED graph
    * — the second classic link-analysis eigen-pair next to
    * [[pageRank]]: authorities are pointed to by good hubs, hubs
    * point to good authorities. On a bipartite interaction graph
    * (customer→supplier, query→document) the two sides get separately
    * meaningful scores, which PageRank's single stationary vector
    * cannot give.
    *
    * Same execution/determinism contract as [[pageRank]]: the edge
    * set is materialized once; each half-round is one edge⋈score join
    * + one map-side-combined aggregation; per-round normalization
    * divides by the round's MAX (as a broadcast 1-row frame — no
    * driver action), in exact DECIMAL(38,0)/floor-div arithmetic, so
    * scores are bit-identical on any partitioning and replayable by
    * an unrolled SQL oracle. The max-normalized fixpoint is the
    * standard power-iteration form (the top score is exactly
    * `scale`).
    *
    * Returns (kind ∈ hub|authority, node, score) ordered; nodes
    * unreachable from the iteration (no in-edges on the authority
    * side) simply don't appear.
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val D38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val e = Lineage.materialize(edges
      .select(col(srcCol).as("c"), col(dstCol).as("s"))
      .where(col("c").isNotNull && col("s").isNotNull)
      .distinct())
    var h = e.select(col("c")).distinct()
      .withColumn("h", lit(scale))
    var a: DataFrame = null
    for (_ <- 1 to iters) {
      val aRaw = e.join(h, Seq("c"))
        .groupBy("s").agg(sum(col("h").cast(D38)).as("x"))
      a = Lineage.materialize(
        aRaw.crossJoin(broadcast(aRaw.agg(max(col("x")).as("mx"))))
          .select(col("s"),
            expr(s"CAST(x * $scale AS DECIMAL(38,0)) div mx")
              .as("a")))
      val hRaw = e.join(a, Seq("s"))
        .groupBy("c").agg(sum(col("a").cast(D38)).as("x"))
      h = Lineage.materialize(
        hRaw.crossJoin(broadcast(hRaw.agg(max(col("x")).as("mx"))))
          .select(col("c"),
            expr(s"CAST(x * $scale AS DECIMAL(38,0)) div mx")
              .as("h")))
    }
    h.select(lit("hub").as("kind"), col("c").as("node"),
        col("h").cast("long").as("score"))
      .unionByName(a.select(lit("authority").as("kind"),
        col("s").as("node"), col("a").cast("long").as("score")))
      .orderBy("kind", "node")
  }

  def labelPropagate(edges: DataFrame, aCol: String, bCol: String,
      seeds: DataFrame, labelCol: String, iters: Int): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val adj = edges
      .select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionByName(edges.select(col(bCol).as("src"), col(aCol).as("dst")))
      .where(col("src") =!= col("dst"))
      .distinct()
    val adjM = Lineage.materialize(adj)
    val seed = seeds
      .select(col(aCol).as("node"), col(labelCol).as("label"))
      .where(col("node").isNotNull && col("label").isNotNull)
      .distinct()
    var labels = Lineage.materialize(seed)
    for (_ <- 0 until iters) {
      val votes = adjM
        .join(labels.withColumnRenamed("node", "dst"), Seq("dst"))
        .join(labels.select(col("node").as("src")), Seq("src"),
          "left_anti")
        .groupBy(col("src").as("node"), col("label"))
        .agg(count(lit(1)).as("__c"))
      // majority + smallest-label argmax as ONE hash aggregation:
      // min of struct(-count, label) is exactly the row_number()=1 row
      // of ORDER BY (count DESC, label ASC) — the struct ordering is
      // total per node (label is part of the key), so the pick is
      // deterministic. Replaces the per-round window (exchange + full
      // sort of the vote table) with a map-side-combined aggregation
      // on the same key.
      val newly = votes
        .groupBy("node")
        .agg(min_by(col("label"),
          struct((-col("__c")).as("nc"), col("label").as("lb")))
          .as("label"))
      labels = Lineage.materialize(labels.unionByName(newly))
    }
    labels
  }
}
