package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed PageRank over an edge list, in EXACT integer fixed-point
  * arithmetic — the link-analysis primitive of web-corpus curation (page
  * quality weighting à la Common Crawl ranking) and, over a word
  * co-occurrence graph, TextRank keyword extraction (Mihalcea & Tarau,
  * EMNLP 2004 — public). The reference reaches graph analytics only as
  * SQL shipped to the warehouse (`execute_sql.py:64,77`); here it is a
  * first-class distributed operator.
  *
  * ==Exactness==
  * Ranks are BIGINT fixed-point at scale `S` (default 2⁴⁰); every update
  * is integer arithmetic only — `contrib(u→v) = (r·w) div outw`,
  * `r'(v) = (15·(S div n)) div 100 + (85·Σcontrib) div 100` — so the
  * whole run is addition-order-independent and hash-gates against an
  * independent DuckDB implementation (integer `div`/`//` agree for
  * non-negative operands). Damping is the rational 85/100, never a
  * double. Dangling mass (nodes with no out-edges) leaks — the standard
  * "leaked PageRank" variant, identical in both engines.
  *
  * ==Scale shape==
  * One iteration = one equi-join of the rank vector with the edge list on
  * `src` plus one `dst`-keyed partial-aggregated sum — the canonical
  * distributed PageRank round, node- and edge-partitioned, no broadcast
  * of anything data-sized, no driver round-trip for the data path
  * (iterations are a driver loop over PLANS; the rank vector is
  * node-sized, so unlike [[ClusterOps.kmeansFit]]'s k·dim centroids it
  * stays on the executors). Edge/out-weight/node aggregates are
  * persisted across rounds so the input is scanned once, not `iters`
  * times. The one driver scalar is the node COUNT (sizes the uniform
  * prior), the same metadata-cheap count [[ClusterOps.semanticPairsAuto]]
  * pays to size k.
  *
  * Overflow bounds (documented contract): `r·w` must fit in BIGINT —
  * ranks are bounded by S, so edge weights must stay below 2⁶³/S
  * (≈ 8·10⁶ at the default S=2⁴⁰; pass a smaller S for corpora with
  * heavier edges).
  */
object GraphOps {

  /** (node, rank_fp) after `iters` damped rounds over `edges`
    * (src: string, dst: string, w: bigint). rank_fp is fixed-point at
    * scale `s`; callers wanting a double divide by s (a power of two —
    * exact). */
  def pageRank(edges: DataFrame, iters: Int = 10,
               s: Long = 1L << 40,
               broadcastMaxNodes: Long = 1L << 20): DataFrame = {
    require(iters >= 0, s"need iters >= 0; got $iters")
    require(s > 0, s"need a positive fixed-point scale; got $s")
    val e = edges.selectExpr("src", "dst", "cast(w as bigint) as w").persist()
    val outw = e.groupBy("src").agg(sum("w").as("outw")).persist()
    val nodes = e.selectExpr("src as node")
      .union(e.selectExpr("dst as node")).distinct().persist()
    val n = nodes.count()
    require(n > 0, "pageRank needs a non-empty graph")

    // the edge ⋈ out-weight join is loop-INVARIANT — materialize it once
    // instead of re-joining outw inside every damped round (iters extra
    // joins over the full edge list for identical output)
    val eo = e.join(outw, "src")
      .selectExpr("src", "dst", "w", "outw").persist()
    // Join strategy per round, picked deliberately (r20 optimization
    // round, guide §3.1): the rank vector and the contribution aggregate
    // are both NODE-count-sized, and the node count is already on the
    // driver (it sizes the uniform prior), so when n fits a broadcast
    // (≤ broadcastMaxNodes rows — (string, long) rows, tens of MB at the
    // default 2²⁰) both per-round joins run as broadcast-hash joins: the
    // EDGE list (the big side, persisted) is never re-shuffled, and the
    // only exchange per round is the partial-aggregated contribution sum.
    // Past the gate the original shuffle join takes over — a web-scale
    // node set must not ship to every task. Results are identical either
    // way: the joins are exact and the contribution sum is integer
    // arithmetic (addition-order-free). MEASURED at sf0.1 (same-JVM A/B,
    // min of 3): broadcast 4.81 s vs shuffle 4.73 s — LOCAL PARITY, an
    // in-process shuffle of a ~1M-edge list costs nothing; the per-round
    // broadcast collect cancels the saved exchange. The gate is kept for
    // the network-bound regime (10 rounds × 2 shuffles of the edge list
    // vs 10 node-vector broadcasts), where edge bytes dominate node
    // bytes by construction; local parity means the bench is unaffected.
    val bcast = n <= broadcastMaxNodes
    def side(df: DataFrame): DataFrame = if (bcast) broadcast(df) else df
    var ranks = nodes.selectExpr("node", s"($s div $n) as r")
    var prev: DataFrame = null
    for (_ <- 0 until iters) {
      val contrib = eo.join(side(ranks), col("node") === col("src"))
        .selectExpr("dst as node", "(r * w) div outw as c")
        .groupBy("node").agg(sum("c").as("sc"))
      // cut the plan each round: without the checkpoint the rank vector
      // drags `iters` stacked join-agg rounds into ONE plan whose
      // analysis/codegen cost grows superlinearly with the round count
      // (the BPE round-lineage blowup, r10) — the data is one
      // node-vector either way
      ranks = nodes.join(side(contrib), Seq("node"), "left")
        .selectExpr("node",
          s"(15 * ($s div $n)) div 100 + (85 * coalesce(sc, 0)) div 100 as r")
        .localCheckpoint()
      if (prev != null) LineageUtil.freeLocalCheckpoint(prev)
      prev = ranks
    }
    val out = ranks.selectExpr("node", "r as rank_fp").localCheckpoint()
    if (prev != null) LineageUtil.freeLocalCheckpoint(prev)
    e.unpersist(); outw.unpersist(); nodes.unpersist(); eo.unpersist()
    out
  }

  /** TextRank keyword extraction: PageRank over the word-adjacency graph
    * of the corpus — nodes are tokens, edges connect ADJACENT tokens in
    * both directions (the undirected co-occurrence window of size 2 from
    * the paper), weighted by occurrence count. Returns the top `k` tokens
    * by rank (ties broken by token), i.e. the corpus's keyword list.
    *
    * Edge construction is one map-only generator per document (in-row
    * transform over the token array) followed by a (src, dst)-keyed
    * count — partial-aggregated, so frequent bigrams never hot-key a
    * reducer with raw pairs. The top-k is a TakeOrderedAndProject, never
    * a global sort.
    */
  def textRank(docs: DataFrame, iters: Int = 10, k: Int = 50,
               s: Long = 1L << 40): DataFrame = {
    val words = docs.selectExpr(s"${TextOps.wordsExpr("text")} as w")
    val adj = words
      .selectExpr(
        """explode(case when size(w) >= 2
          |  then transform(sequence(0, size(w) - 2),
          |                 i -> struct(w[i] as a, w[i + 1] as b))
          |  else array() end) as p""".stripMargin)
      .selectExpr("p.a as a", "p.b as b")
      .filter("a <> '' and b <> '' and a <> b")
    val edges = adj.selectExpr("a as src", "b as dst")
      .union(adj.selectExpr("b as src", "a as dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))
    pageRank(edges, iters, s)
      .orderBy(col("rank_fp").desc, col("node"))
      .limit(k)
      .selectExpr("node as token", "rank_fp")
  }

  /** Connected components over an undirected edge list — the generic
    * graph clustering primitive (the same machinery
    * [[DedupOps.dedupGroups]] applies to near-dup pair graphs, exposed
    * for arbitrary graphs): every node labeled with the MINIMUM node id
    * of its component.
    *
    * Hybrid execution, as in dedupGroups: an edge list that fits on the
    * driver (≤ `driverMaxEdges`, default 2²⁰ ≈ 16 MB) runs exact
    * union-find there in milliseconds; anything larger runs the
    * alternating large-star/small-star contraction (Kiveris et al.,
    * SoCC'14) — O(log n) rounds in component size, never O(diameter),
    * each round two keyed aggregations + joins, nothing data-sized on
    * the driver. Both paths provably converge to the same min-label
    * forest, so the output is path-independent and hash-gates against a
    * DuckDB recursive-CTE min-label fixpoint (a different algorithm —
    * transitive label closure — same labels).
    *
    * Input: (a, b) BIGINT-castable, one row per undirected edge.
    * Output: (node, component) for every endpoint, ordered by node. */
  def components(edges: DataFrame, maxIters: Int = 20,
                 driverMaxEdges: Long = 1L << 20): DataFrame = {
    val spark = edges.sparkSession
    val base = edges
      .selectExpr("cast(a as bigint) as u", "cast(b as bigint) as v")
      .filter(col("u") =!= col("v"))
      .persist()
    val nEdges = base.count()
    val labels: DataFrame =
      if (nEdges <= driverMaxEdges) DedupOps.driverUnionFind(spark, base)
      else DedupOps.propagateLabels(base, maxIters)
    val out = base.selectExpr("u as node")
      .union(base.selectExpr("v as node")).distinct()
      .join(labels.selectExpr("doc_id as node", "label as component"),
        Seq("node"), "left")
      .selectExpr("node", "coalesce(component, node) as component")
      .orderBy("node")
      .localCheckpoint()
    base.unpersist()
    out
  }

  /** k-core extraction by iterative peeling (Seidman, Social Networks
    * 1983; the distributed peel of Montresor et al. — public): delete
    * every node of degree < k, recompute degrees, repeat — the fixpoint
    * is the maximal subgraph where every node keeps ≥ k neighbors, the
    * standard graph-density screen (spam/boilerplate link farms peel
    * away; the dense core survives).
    *
    * Each round is one degree aggregation + two semi-joins — all keyed,
    * nothing driver-sized; the round count is data-bounded (≤ rounds of
    * actual change, capped at `maxRounds`), each round's survivor edge
    * set localCheckpoint-ed so lineage stays flat (the BPE/PageRank
    * round contract). Early exit when a round deletes nothing — a no-op
    * round leaves the fixpoint unchanged, so a `maxRounds` cap ≥ the
    * convergence round count yields the exact fixpoint; the run RAISES
    * if the cap is hit while still deleting (a silently-partial peel
    * would mislabel).
    *
    * Input: (a, b) BIGINT-castable undirected edges. Output: every
    * k-core member with its core degree, ordered — all-integer, so the
    * gate is exact (the oracle unrolls the same rounds in SQL).
    */
  def kcore(edges: DataFrame, k: Int, maxRounds: Int = 20): DataFrame = {
    require(k >= 1, s"kcore needs k >= 1, got $k")
    var e = edges
      .selectExpr("cast(a as bigint) as a", "cast(b as bigint) as b")
      .filter(col("a") =!= col("b"))
      .localCheckpoint()
    var prev: DataFrame = null
    var n = e.count()
    var round = 0
    var converged = n == 0L
    while (!converged && round < maxRounds) {
      val deg = e.selectExpr("a as v").union(e.selectExpr("b as v"))
        .groupBy("v").agg(count(lit(1)).as("d"))
      val keep = deg.filter(col("d") >= k).select("v")
      val next = e
        .join(keep.selectExpr("v as a"), Seq("a"), "left_semi")
        .join(keep.selectExpr("v as b"), Seq("b"), "left_semi")
        .select("a", "b")
        .localCheckpoint()
      val m = next.count()
      converged = m == n
      if (prev != null) LineageUtil.freeLocalCheckpoint(prev)
      prev = e
      e = next
      n = m
      round += 1
    }
    if (!converged)
      throw new IllegalArgumentException(
        s"kcore still peeling after $maxRounds rounds — raise maxRounds " +
          "(a partial peel is not a k-core)")
    val out = e.selectExpr("a as v").union(e.selectExpr("b as v"))
      .groupBy("v").agg(count(lit(1)).as("core_degree"))
      .selectExpr("v as node", "core_degree")
      .orderBy("node")
      .localCheckpoint()
    if (prev != null) LineageUtil.freeLocalCheckpoint(prev)
    LineageUtil.freeLocalCheckpoint(e)
    out
  }

  /** Exact triangle enumeration over an undirected edge list via
    * degree-ordered orientation (Suri & Vassilvitskii, WWW 2011 — public).
    *
    * Every edge is directed from its lower-(degree, id) endpoint to the
    * higher; a triangle {x, y, z} then materializes as exactly ONE wedge
    * (two out-edges of its smallest vertex) closed by exactly one oriented
    * edge — no triangle is found twice, none is missed. The payoff is the
    * scale bound: oriented out-degree is O(√m) for ANY degree
    * distribution, so the wedge self-join generates Σ C(outdeg⁺, 2) =
    * O(m^1.5) rows even when a hub vertex has degree n (an id-ordered
    * orientation would put C(hub, 2) wedges on one key).
    *
    * Input: `edges` with BIGINT columns (a, b), one row per undirected
    * edge, a < b, no self-loops. Output: (v1, v2, v3) numerically sorted
    * per triangle, ordered — the canonical form an independent naive
    * 3-way-join oracle produces directly.
    */
  def triangles(edges: DataFrame): DataFrame = {
    val e = edges.selectExpr("cast(a as bigint) as a", "cast(b as bigint) as b")
    val deg = e.selectExpr("a as v").union(e.selectExpr("b as v"))
      .groupBy("v").agg(count(lit(1)).as("d"))
    // orient: src = lower (degree, id) endpoint (spelled out, not a struct
    // comparison, so the same text mirrors into the DuckDB oracle)
    val oriented = e
      .join(deg.selectExpr("v as a", "d as da"), "a")
      .join(deg.selectExpr("v as b", "d as db"), "b")
      .selectExpr(
        "case when da < db or (da = db and a < b) then a else b end as src",
        "case when da < db or (da = db and a < b) then b else a end as dst",
        "case when da < db or (da = db and a < b) then da else db end as dsrc",
        "case when da < db or (da = db and a < b) then db else da end as ddst")
      .persist()
    // wedges at the smallest vertex: two out-edges, legs ordered by the
    // SAME (degree, id) order so the closing edge is oriented e1.dst→e2.dst
    val tri = oriented.as("e1")
      .join(oriented.as("e2"),
        expr("""e1.src = e2.src and
                |(e1.ddst < e2.ddst or (e1.ddst = e2.ddst and e1.dst < e2.dst))""".stripMargin))
      .selectExpr("e1.src as u", "e1.dst as x", "e2.dst as y")
      .join(oriented.as("e3"), expr("x = e3.src and y = e3.dst"), "leftsemi")
      .selectExpr("array_sort(array(u, x, y)) as t")
      .selectExpr("t[0] as v1", "t[1] as v2", "t[2] as v3")
      .orderBy("v1", "v2", "v3")
      // materialize the triangle set (tiny next to the wedge-join
      // intermediates it summarizes), then release the oriented edge
      // cache — it had no unpersist path before (ADVICE r10)
      .localCheckpoint()
    oriented.unpersist()
    tri
  }
}
