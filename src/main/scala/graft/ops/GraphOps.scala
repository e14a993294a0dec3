package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics over the KG edge list.
  *
  * The reference stops at handing the finished graph to downstream tools
  * (biocypher/output/in_memory/_networkx.py:15 builds a `networkx.DiGraph`
  * precisely so notebooks can run centrality on it); at 100 TB that
  * hand-off is impossible, so the engine provides the first downstream
  * analytics step — PageRank centrality — as a distributed op.
  *
  * Everything is INTEGER fixed-point: ranks live on a budget of `scale`
  * units spread over the node set, every step is integral division plus
  * BIGINT sums, so the result is bit-exact across engines, partitionings
  * and aggregation orders. A floating-point power iteration is not —
  * FP addition is non-associative, so the shuffle's reduce order would
  * change low bits run-to-run and break any exact comparison (the same
  * discipline as the quantized-cosine ANN family).
  */
object GraphOps {

  /** Integer fixed-point PageRank over an undirected edge list.
    *
    * Input: one row per unordered edge `(srcCol, tgtCol)` (e.g. the
    * co-occurrence pairs, where `src < tgt`). The walk runs on the
    * symmetrized graph — each edge contributes mass in both directions and
    * out-degree = node degree. Isolated nodes never appear (no edge row),
    * so the node set is exactly the incident-node set, matching the
    * co-occurrence graph semantics.
    *
    * Semantics (all integral, `div` = truncating division on non-negatives):
    * {{{
    *   unit     = scale div N
    *   base     = ((100 - dampingPct) * unit) div 100
    *   r0(v)    = unit
    *   r_k+1(v) = base + (dampingPct * SUM_{u~v} (r_k(u) div deg(u))) div 100
    * }}}
    *
    * 100-TB shape: the rank table is O(|V|) — two longs per node. On the
    * KG path |V| is dictionary-bounded, so each iteration BROADCASTS the
    * rank table against the barriered edge list: zero shuffled joins, one
    * small hash agg per step. For a graph whose node table cannot be
    * broadcast, pass `hugeGraph = true`: the edge list is hash-partitioned
    * by source ONCE and barriered (reliable checkpoint when a checkpoint
    * dir is configured, local blocks otherwise — the same policy as
    * `Pipeline.triplesFromSets`), and each iteration is one co-partitioned
    * shuffle join plus one aggregate by target — the classic Pregel
    * schedule, O(iterations) stages with no lineage blow-up because the
    * edge side is a checkpointed leaf.
    *
    * `seeds` non-empty makes it PERSONALIZED PageRank: initial mass and
    * the (1-d) teleport return confined to the seed set (|S| replaces N
    * in the unit), so ranks read "relevance to the seeds" — the KG
    * recommendation / query-expansion primitive. Uniform PageRank is the
    * all-nodes special case; the arithmetic stays integral either way.
    */
  def pageRank(edges: DataFrame, srcCol: String = "src", tgtCol: String = "tgt",
      iterations: Int = 3, dampingPct: Int = 85,
      scale: Long = 1000000000000L, hugeGraph: Boolean = false,
      seeds: Seq[String] = Nil): DataFrame = {
    require(iterations >= 0, s"iterations must be >= 0: $iterations")
    require(dampingPct >= 0 && dampingPct <= 100, s"bad dampingPct: $dampingPct")
    require(scale > 0, s"scale must be positive: $scale")
    val spark = edges.sparkSession
    val und0 = edges
      .select(col(srcCol).cast("string").as("u"), col(tgtCol).cast("string").as("v"))
      .union(edges
        .select(col(tgtCol).cast("string").as("u"), col(srcCol).cast("string").as("v")))
    // Every iteration re-reads the edge list; barrier it so the upstream
    // pipeline (e.g. the mention scan) runs once, not `iterations` times.
    val prePart = if (hugeGraph) und0.repartition(col("u")) else und0
    val und = graft.Barrier(prePart)
    val deg = und.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
    // PERSONALIZED variant (seeds non-empty): the walk starts at, and the
    // (1-d) teleport mass returns to, the seed set only — so `rank` reads
    // "relevance to the seeds", the KG recommendation/expansion query.
    // Same integral arithmetic with |S| (seeds present in the graph)
    // replacing N; uniform PageRank is the seeds = all-nodes special case.
    val isSeed =
      if (seeds.isEmpty) lit(true) else col("node").isin(seeds.map(x => x: Any): _*)
    // Node/seed count folded in as a lazy 1-row broadcast cross join — no
    // eager .count() action while building the plan (the lmScore lesson).
    val nRow = broadcast(deg.filter(isSeed).agg(count(lit(1)).as("n")))
    // n = 0 (no seed present in the graph) must not crash the div under
    // ANSI mode: an absent seed means zero teleport mass, so every rank
    // is 0 — the graceful-degradation twin of egoSubgraph's unknown seed
    var ranks = deg.crossJoin(nRow)
      .withColumn("unit", expr(s"case when n > 0 then ${scale}L div n else 0L end"))
      .select(col("node"), col("deg"),
        when(isSeed, expr(s"((100 - $dampingPct) * unit) div 100"))
          .otherwise(lit(0L)).as("base"),
        when(isSeed, col("unit")).otherwise(lit(0L)).as("rank"))
    for (_ <- 1 to iterations) {
      val r = if (hugeGraph) ranks else broadcast(ranks)
      val contrib = und
        .join(r.select(col("node"), col("deg"), col("rank")), col("u") === col("node"))
        .groupBy(col("v"))
        .agg(sum(expr("rank div deg")).as("contrib"))
      // contrib is one row per node — broadcast it on the bounded-|V| path
      // so the rank update never shuffles; hugeGraph keeps the shuffle join
      val contribSide = if (hugeGraph) contrib else broadcast(contrib)
      ranks = ranks.drop("rank")
        .join(contribSide, col("node") === col("v"), "left")
        .select(col("node"), col("deg"), col("base"),
          (col("base") +
            expr(s"($dampingPct * coalesce(contrib, 0L)) div 100")).as("rank"))
    }
    ranks.select(col("node"), col("deg").as("degree"), col("rank"))
  }

  /** Per-entity top-k strongest neighbors — the "related entities"
    * exploration query over the weighted co-occurrence graph. Ties break
    * on the neighbor id so the result is total-order deterministic (an
    * unordered tie under `row_number` would be engine-dependent).
    *
    * Shape: symmetrize, then ONE hash exchange on the node id feeding a
    * running `row_number` — the per-node partition is bounded by |dict|
    * (an entity has at most |dict|-1 neighbors), so a hub entity is a
    * bounded sort, never a skew risk; the corpus itself never moves
    * (the edge list is already the tiny pair aggregate). */
  def topNeighbors(edges: DataFrame, k: Int, srcCol: String = "src",
      tgtCol: String = "tgt", weightCol: String = "n_docs"): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val w = col(weightCol)
    val und = edges
      .select(col(srcCol).as("node"), col(tgtCol).as("neighbor"), w)
      .union(edges.select(col(tgtCol).as("node"), col(srcCol).as("neighbor"), w))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("node")).orderBy(w.desc, col("neighbor").asc)
    und.withColumn("rn", row_number().over(win))
      .filter(col("rn") <= k)
      .select(col("node"), col("neighbor"), w.cast("long").as("weight"),
        col("rn").cast("long").as("rn"))
  }

  /** Exact connected components over an edge list — entity COMMUNITY
    * labeling once the co-occurrence graph has been thresholded to its
    * meaningful edges (e.g. the positive-PMI subgraph from [[pmiEdges]]:
    * `lift_ppm > ppmScale`). Each incident node gets `component` = the
    * minimum node id reachable from it; isolated nodes (nothing survived
    * the threshold) carry no row, matching [[pageRank]]'s incident-set
    * semantics.
    *
    * This is a thin adapter over the spec-proven alternating large-star/
    * small-star rounds in [[DedupOps.dedupClustersStats]] (O(log n)
    * rounds, hub-safe: per-node min + equi-join, never a neighbor-list
    * materialization) — component finding is the same algorithm whether
    * the vertices are near-dup documents or KG entities, so the engine
    * has ONE implementation, including its size-gated physical choice: a
    * small long- or string-keyed edge set runs the driver union-find
    * instead of the O(log n) distributed rounds (spec-proven equal).
    *
    * 100-TB shape: identical to the dedup-cluster story — every round is
    * two join+agg jobs over the (already aggregated, per-doc-capped) edge
    * set with a one-round-deep checkpoint, never over the corpus. */
  def components(edges: DataFrame, srcCol: String = "src",
      tgtCol: String = "tgt", maxIter: Int = 50): DataFrame =
    DedupOps.dedupClusters(
        edges.select(col(srcCol).as("doc_a"), col(tgtCol).as("doc_b")),
        maxIter)
      .select(col("doc_id").as("node"), col("cluster").as("component"))

  /** Bounded k-hop ego subgraph: every node within `hops` of `seed`, with
    * its hop distance — the "show me this entity's neighborhood" query
    * (the reference's users run exactly this on the NetworkX hand-off;
    * here it is a distributed op so the graph never has to fit anywhere).
    *
    * Classic frontier BFS, `hops` rounds: each round joins the (tiny)
    * frontier against the symmetrized edge list and anti-joins the
    * already-reached set. Distances are exact minima (a node is claimed
    * by the FIRST round that reaches it, which is its shortest path — no
    * tie-break needed, so the result is engine-exact by construction).
    *
    * 100-TB shape: the frontier and reached sets are ball-sized, not
    * graph-sized — both broadcast; the edge list is barriered once (same
    * policy as [[pageRank]]) so the upstream pipeline runs once, and each
    * round is one broadcast join + one anti-join. O(hops) stages. */
  def egoSubgraph(edges: DataFrame, seed: String, hops: Int,
      srcCol: String = "src", tgtCol: String = "tgt"): DataFrame = {
    require(hops >= 0, s"hops must be >= 0: $hops")
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select(col(srcCol).cast("string").as("u"),
      col(tgtCol).cast("string").as("v"))
    val und0 = e.union(e.select(col("v").as("u"), col("u").as("v")))
    val und = graft.Barrier(und0)
    var reached = Seq((seed, 0L)).toDF("node", "dist")
    var frontier = reached.select(col("node"))
    for (k <- 1 to hops) {
      val next = graft.Barrier(
        und.join(broadcast(frontier), col("u") === col("node"))
          .select(col("v").as("node")).distinct()
          .join(broadcast(reached.select(col("node"))), Seq("node"), "left_anti"))
      reached = reached.unionByName(next.withColumn("dist", lit(k.toLong)))
      frontier = next
    }
    reached
  }

  /** PMI edge weighting over the co-occurrence graph — the association
    * score that separates "co-occurs because both are everywhere" (hub ×
    * hub) from "co-occurs because they are related" (the standard
    * KG-edge-confidence step downstream of mention co-occurrence).
    *
    * `PMI(a,b) = ln(P(a,b) / (P(a)·P(b))) = ln(n_ab·N / (df_a·df_b))`.
    * Keeping the house integer-exact discipline, the LIFT (the log's
    * argument) is emitted as truncating fixed-point parts-per-`ppmScale`:
    * `lift_ppm = (n_ab·N·ppmScale) div (df_a·df_b)` — ln is monotone, so
    * every ranking/thresholding use of PMI is preserved while the value
    * stays bit-exact across engines (no libm in the comparison surface).
    * `lift_ppm > ppmScale` ⇔ PMI > 0 (positive association). The raw
    * counts ride along so a consumer can take real logs at the edge.
    *
    * Inputs must come from the SAME mention pass: `edges` = the pair
    * aggregate (src < tgt, n_docs), `mentions` = (doc_id, curie) one row
    * per mentioned entity per doc. N = distinct mentioned docs (the event
    * space of the pair counts — a doc with no mention can't co-occur).
    *
    * 100-TB shape: df is a map-side-combined count whose output is
    * dictionary-bounded → both frequency joins BROADCAST; N folds in as a
    * lazy 1-row cross join (no eager action — the lmScore lesson); the
    * only corpus-sized work is the thin distinct over doc ids, and the
    * edge list itself never shuffles. Arithmetic runs in decimal(38,0):
    * at N = 10^12 the numerator peaks at 10^30 (fits), and the emitted
    * quotient is ≤ N·ppmScale = 10^18 (fits BIGINT). */
  def pmiEdges(edges: DataFrame, mentions: DataFrame, ppmScale: Long = 1000000L,
      srcCol: String = "src", tgtCol: String = "tgt",
      weightCol: String = "n_docs", docCol: String = "doc_id",
      entityCol: String = "curie", hugeGraph: Boolean = false): DataFrame = {
    require(ppmScale > 0, s"ppmScale must be positive: $ppmScale")
    // `hugeGraph = true` drops the forced df broadcasts (an open graph's
    // entity-frequency table is vocabulary-sized, not dictionary-bounded —
    // the triangleSupport escape) and barriers the df aggregate, which
    // both endpoint joins consume; the joins then shuffle on the entity.
    // The 1-row n_total broadcast is safe at any scale.
    def side(d: DataFrame): DataFrame =
      if (hugeGraph) graft.Barrier(d) else broadcast(d)
    val df = side(mentions.groupBy(col(entityCol).as("_e"))
      .agg(count(lit(1)).cast("long").as("_df")))
    val nRow = broadcast(
      mentions.agg(count_distinct(col(docCol)).cast("long").as("n_total")))
    edges
      .select(col(srcCol).as("src"), col(tgtCol).as("tgt"),
        col(weightCol).cast("long").as("n_docs"))
      .join(df, col("src") === col("_e")).drop("_e")
      .withColumnRenamed("_df", "df_src")
      .join(df, col("tgt") === col("_e")).drop("_e")
      .withColumnRenamed("_df", "df_tgt")
      .crossJoin(nRow)
      .withColumn("lift_ppm", expr(
        s"""(cast(n_docs as decimal(20,0)) * cast(n_total as decimal(20,0))
           | * ${ppmScale}L) div
           | (cast(df_src as decimal(20,0)) * cast(df_tgt as decimal(20,0)))
           |""".stripMargin.replace("\n", " ")))
      .select(col("src"), col("tgt"), col("n_docs"), col("df_src"),
        col("df_tgt"), col("n_total"), col("lift_ppm"))
  }

  /** Per-edge triangle support + neighborhood Jaccard — the structural
    * edge-confidence counterpart to [[pmiEdges]]' frequency confidence
    * (an edge whose endpoints share many neighbors is community-internal;
    * one with none is a bridge or noise — the standard edge feature for
    * KG link validation and graph clustering, e.g. Jaccard/SCAN-style
    * similarity). For each input edge (a,b):
    * `n_common = |N(a) ∩ N(b) \ {a,b}|` (= triangles through the edge),
    * `n_union = (deg(a)-1) + (deg(b)-1) - n_common`, and the integer
    * fixed-point `jaccard_ppm = (n_common·ppmScale) div n_union` (0 when
    * the union is empty) — engine-exact, no doubles.
    *
    * 100-TB shape: the wedge join runs on the PAIR AGGREGATE (O(edges),
    * corpus never re-enters), and on the KG path the symmetrized edge
    * list is dictionary-bounded, so the wedge side BROADCASTS and the
    * degree join broadcasts too — one map-side-combined count between
    * them. For an open graph pass `hugeGraph = true` (the [[pageRank]]
    * escape): every `broadcast()` hint is dropped — a hint OVERRIDES the
    * size threshold, so the unconditional hints would drive a 16M-edge
    * wedge aggregate through the driver rather than "degrade" to a
    * shuffle — and the edge list is barriered so its upstream runs once;
    * the joins then shuffle on the shared endpoint, with per-doc pair
    * caps upstream bounding the hub wedge count. */
  def triangleSupport(edges: DataFrame, ppmScale: Long = 1000000L,
      srcCol: String = "src", tgtCol: String = "tgt",
      hugeGraph: Boolean = false): DataFrame = {
    require(ppmScale > 0, s"ppmScale must be positive: $ppmScale")
    // on the open-graph path the symmetrized list feeds three consumers
    // (deg, both wedge sides) — barrier it so the upstream pipeline runs
    // once; on the broadcast path the same sharing comes from the single
    // broadcast exchange, so the barrier would only add a materialization
    def side(df: DataFrame): DataFrame = if (hugeGraph) df else broadcast(df)
    val e0 = edges.select(col(srcCol).cast("string").as("src"),
      col(tgtCol).cast("string").as("tgt"))
    val e = if (hugeGraph) graft.Barrier(e0) else e0
    val und = e.union(e.select(col("tgt").as("src"), col("src").as("tgt")))
      .select(col("src").as("u"), col("tgt").as("v"))
    val deg = und.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
    // wedges through the shared endpoint c: (a,c) x (b,c) with a < b,
    // then count per (a,b); keeping only rows that are real edges via the
    // join back onto the pair aggregate
    val wedges = und.select(col("u").as("a"), col("v").as("c"))
      .join(side(und.select(col("u").as("b"), col("v").as("c"))), Seq("c"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_common"))
    e.join(side(wedges),
        col("src") === col("a") && col("tgt") === col("b"), "left")
      .select(col("src"), col("tgt"),
        coalesce(col("n_common"), lit(0L)).as("n_common"))
      .join(side(deg), col("src") === col("node")).drop("node")
      .withColumnRenamed("deg", "deg_src")
      .join(side(deg), col("tgt") === col("node")).drop("node")
      .withColumnRenamed("deg", "deg_tgt")
      .withColumn("n_union",
        col("deg_src") + col("deg_tgt") - lit(2L) - col("n_common"))
      .withColumn("jaccard_ppm",
        when(col("n_union") <= 0L, lit(0L)).otherwise(
          expr(s"(n_common * ${ppmScale}L) div n_union")))
      .select(col("src"), col("tgt"), col("n_common").cast("long").as("n_common"),
        col("deg_src").cast("long").as("deg_src"),
        col("deg_tgt").cast("long").as("deg_tgt"),
        col("n_union").cast("long").as("n_union"), col("jaccard_ppm"))
  }
}
