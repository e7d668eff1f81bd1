package graft.ops

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, TypedColumn}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Mergeable frequency sketches — the bounded-memory tier next to the
  * exact two-phase aggregations (the same role HLL plays next to exact
  * COUNT DISTINCT, SURVEY §2.2).
  *
  * [[heavyHitters]] is the standard two-pass heavy-hitters pipeline:
  *
  *   1. a Misra-Gries summary (capacity k) runs once over the token
  *      stream as a typed `Aggregator` — O(k) state per partition,
  *      partial summaries merged with the count-offset rule (the
  *      mergeable-summaries construction of Agarwal et al., PODS'12,
  *      public) — producing a CANDIDATE set that provably contains every
  *      token with true count > N/(k+1); the same pass accumulates the
  *      total token count, so the share threshold needs no separate
  *      counting scan;
  *   2. an exact rescoring pass semi-joins the corpus against the
  *      candidates and keeps those with exact count ≥ `⌈minShare·N⌉`.
  *
  * Because pass 1 can only over-admit (never miss, given k+1 > 1/share),
  * the final output equals the exact `HAVING count ≥ m` answer — the
  * sketch buys the bounded memory, the rescore buys back exactness, and
  * the whole op hash-gates against a direct DuckDB GROUP BY. At 100 TB
  * the candidate set (≤ k rows) broadcasts; both passes are map-side
  * partials over the token explode.
  *
  * The summary buffer is a mutable open-addressing hash (parallel
  * key/count arrays, linear probing, power-of-two capacity) under a
  * product encoder: typed aggregation keeps the buffer as a live JVM
  * object within a partition, so the hot reduce path allocates nothing —
  * the immutable-Map-under-Kryo predecessor paid one map copy per token.
  * Decrement-all and the merge offset rule rebuild the table in place,
  * O(k) per overflow event, amortized O(1) per stream element (each
  * decrement is funded by a prior insert).
  */
object SketchOps {

  /** Open-addressing Misra-Gries state: `n` = total elements seen,
    * `size` = occupied slots (≤ capacity k), parallel `keys`/`cnts` of
    * power-of-two length ≥ 4k (load ≤ 0.5 even mid-merge, when two
    * k-entry summaries briefly coexist). A case class so the buffer
    * ships between stages under the codegen product encoder, not Kryo. */
  final case class MGBuf(var n: Long, var size: Int,
                         keys: Array[String], cnts: Array[Long])

  /** Misra-Gries summary of a string stream: at most `k` counters. */
  private final class MisraGries(k: Int)
      extends Aggregator[String, MGBuf, MGBuf] {

    private val cap = Integer.highestOneBit(math.max(16, 4 * k) * 2 - 1)

    def zero: MGBuf = MGBuf(0L, 0, new Array[String](cap), new Array[Long](cap))

    /** Slot of `tok`: its own if present, else the free slot to claim. */
    private def slotOf(keys: Array[String], tok: String): Int = {
      val mask = keys.length - 1
      var i = tok.hashCode & mask
      while (keys(i) != null && keys(i) != tok) i = (i + 1) & mask
      i
    }

    private def put(b: MGBuf, tok: String, c: Long): Unit = {
      val i = slotOf(b.keys, tok)
      if (b.keys(i) != null) b.cnts(i) += c
      else { b.keys(i) = tok; b.cnts(i) = c; b.size += 1 }
    }

    /** Clear the table and re-insert `w` survivors from `sk`/`sc` —
      * deletion under linear probing must rebuild, or probe chains break. */
    private def rebuild(b: MGBuf, sk: Array[String], sc: Array[Long], w: Int): Unit = {
      java.util.Arrays.fill(b.keys.asInstanceOf[Array[AnyRef]], null)
      java.util.Arrays.fill(b.cnts, 0L)
      b.size = 0
      var j = 0
      while (j < w) { put(b, sk(j), sc(j)); j += 1 }
    }

    /** Subtract `d` from every counter, dropping the non-positive. */
    private def offsetAll(b: MGBuf, d: Long): Unit = {
      val sk = new Array[String](b.size)
      val sc = new Array[Long](b.size)
      var i = 0; var w = 0
      while (i < b.keys.length) {
        if (b.keys(i) != null && b.cnts(i) > d) {
          sk(w) = b.keys(i); sc(w) = b.cnts(i) - d; w += 1
        }
        i += 1
      }
      rebuild(b, sk, sc, w)
    }

    def reduce(b: MGBuf, tok: String): MGBuf = {
      b.n += 1L
      val i = slotOf(b.keys, tok)
      if (b.keys(i) != null) b.cnts(i) += 1L
      else if (b.size < k) { b.keys(i) = tok; b.cnts(i) = 1L; b.size += 1 }
      else offsetAll(b, 1L) // decrement-all instead of inserting
      b
    }

    def merge(b1: MGBuf, b2: MGBuf): MGBuf = {
      b1.n += b2.n
      var i = 0
      while (i < b2.keys.length) {
        if (b2.keys(i) != null) put(b1, b2.keys(i), b2.cnts(i))
        i += 1
      }
      if (b1.size > k) {
        // subtract the (k+1)-th largest count from all, drop non-positive —
        // the mergeable-MG offset rule; error stays ≤ N/(k+1)
        val occ = new Array[Long](b1.size)
        var j = 0; var w = 0
        while (j < b1.keys.length) {
          if (b1.keys(j) != null) { occ(w) = b1.cnts(j); w += 1 }
          j += 1
        }
        java.util.Arrays.sort(occ)
        offsetAll(b1, occ(occ.length - 1 - k))
      }
      b1
    }

    def finish(r: MGBuf): MGBuf = r
    def bufferEncoder: Encoder[MGBuf] = Encoders.product[MGBuf]
    def outputEncoder: Encoder[MGBuf] = Encoders.product[MGBuf]
  }

  /** The Misra-Gries summary as a reusable TypedColumn — the mergeable
    * state unit [[graft.streaming.StreamingOps.heavyHittersStream]]
    * accumulates across micro-batches (MG partials merge with the same
    * offset rule batch aggregation uses, so batch and stream share one
    * error contract). */
  def mgColumn(k: Int): TypedColumn[String, MGBuf] = new MisraGries(k).toColumn

  /** KMV bottom-k state: the `size` smallest DISTINCT hashes seen, sorted
    * ascending in `hs` (capacity k). A case class so the buffer ships
    * under the codegen product encoder, like [[MGBuf]]. */
  final case class KMVBuf(var size: Int, hs: Array[Long])

  /** Bottom-k of a hash stream — the mergeable half of [[kmvDistinct]]:
    * union of two bottom-k sets re-take-k'd IS the bottom-k of the union
    * (the KMV merge contract OpsSpec pins on the batch op), so partial
    * buffers from any partitioning — or any micro-batch cut — combine
    * into the same sketch a single pass would build. O(k) state, O(k)
    * per insert worst case (one arraycopy), duplicates dropped by the
    * binary-search membership check (KMV counts DISTINCT values). */
  private final class KmvBottomK(k: Int) extends Aggregator[Long, KMVBuf, KMVBuf] {
    def zero: KMVBuf = KMVBuf(0, new Array[Long](k))

    private def insert(b: KMVBuf, h: Long): Unit = {
      val idx = java.util.Arrays.binarySearch(b.hs, 0, b.size, h)
      if (idx >= 0) return // present — a duplicate value, not new evidence
      val ins = -idx - 1
      if (b.size < k) {
        System.arraycopy(b.hs, ins, b.hs, ins + 1, b.size - ins)
        b.hs(ins) = h
        b.size += 1
      } else if (ins < k) { // smaller than the current k-th minimum
        System.arraycopy(b.hs, ins, b.hs, ins + 1, k - ins - 1)
        b.hs(ins) = h
      }
    }

    def reduce(b: KMVBuf, h: Long): KMVBuf = { insert(b, h); b }

    def merge(a: KMVBuf, b: KMVBuf): KMVBuf = {
      var i = 0
      while (i < b.size) { insert(a, b.hs(i)); i += 1 }
      a
    }

    def finish(r: KMVBuf): KMVBuf = r
    def bufferEncoder: Encoder[KMVBuf] = Encoders.product[KMVBuf]
    def outputEncoder: Encoder[KMVBuf] = Encoders.product[KMVBuf]
  }

  /** The KMV bottom-k as a reusable TypedColumn — the per-group state
    * unit [[graft.streaming.StreamingOps.kmvDistinctStream]] accumulates
    * across micro-batches. */
  def kmvColumn(k: Int): TypedColumn[Long, KMVBuf] = new KmvBottomK(k).toColumn

  /** Exact tokens whose corpus frequency is ≥ `minShare` of all token
    * occurrences (⌈minShare·N⌉), found through a capacity-`k` Misra-Gries
    * candidate pass. A SHARE threshold makes the capacity requirement
    * scale-free: MG undercounts by at most N/(k+1), so k+1 > 1/minShare
    * guarantees no miss at ANY corpus size — the same `k` that works at
    * sf0.01 works at 100 TB (an absolute count threshold would need k to
    * grow with the data; the r8 bench caught exactly that). The default
    * capacity is the smallest that satisfies the guarantee. */
  def heavyHitters(docs: DataFrame, minShare: Double, k0: Int = 0): DataFrame = {
    require(minShare > 0 && minShare < 1, s"minShare in (0,1), got $minShare")
    val k = if (k0 > 0) k0 else math.ceil(1.0 / minShare).toInt
    require(k + 1 > 1.0 / minShare,
      s"MG capacity $k cannot guarantee share $minShare (need k+1 > 1/share)")
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = docs.selectExpr(s"explode(${TextOps.wordsExpr("text")}) as token")
      .filter("token <> ''")
    // ONE scan yields both the candidate set and the total count N the
    // share threshold needs (MGBuf.n) — no separate toks.count() pass
    val summary = toks.as[String].select(new MisraGries(k).toColumn).head()
    val minCount = math.ceil(minShare * summary.n).toLong
    val cands = summary.keys.filter(_ != null).toSeq.toDF("token")
    toks.join(broadcast(cands), Seq("token"), "left_semi")
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
      .orderBy("token")
  }

  /** KMV (k-minimum-values) distinct-count sketch per group (Bar-Yossef
    * et al. RANDOM'02; the unbiased (k−1)-estimator of Beyer et al.
    * SIGMOD'07, both public): keep the `k` smallest 60-bit hashes of the
    * values; with hash space U = 2⁶⁰, the k-th smallest hash h₍ₖ₎
    * estimates the distinct count as (k−1)·U / h₍ₖ₎. The hash is the
    * portable md5-based [[TextOps.h60]] and the estimator is ONE
    * multiply + divide over exactly-representable doubles (2⁶⁰ and k−1
    * are powers-of-two/small ints), so sketch AND estimate hash-gate
    * cross-engine bit-for-bit — the HLL entry (q21) can only rows-gate
    * because its engine sketches differ; KMV is the deterministic
    * mergeable alternative. Under-capacity groups (< k distinct hashes)
    * return the exact count, as the estimator degenerates to.
    *
    * Emits (grp, n_exact, n_kept, kth_hash, est_distinct); `n_exact` is
    * the true distinct count so the gate pins the estimator's input AND
    * the error is visible in the output.
    *
    * Scale shape: distinct (group, hash) pairs aggregate with map-side
    * partial dedup (one shuffle keyed by group∪hash — no hot group key),
    * then the per-group k-smallest is a rank window Spark rewrites to
    * WindowGroupLimit: each map task forwards at most k rows per group
    * before the final per-group shuffle, so state is O(k) end to end.
    * The k-min set is MERGEABLE (union, re-take-k) — partial sketches
    * from 1000 executors combine without rescanning, the property that
    * makes KMV a sketch rather than a sample.
    */
  def kmvDistinct(df: DataFrame, groupCol: String, valueExpr: String,
                  k: Int = 16): DataFrame = {
    require(k >= 2, s"KMV needs k >= 2, got $k")
    import org.apache.spark.sql.expressions.Window
    val hashes = df
      .selectExpr(s"$groupCol as grp", s"${TextOps.h60(valueExpr)} as h")
      .distinct()
    val sketch = hashes
      .withColumn("rn", row_number().over(Window.partitionBy("grp").orderBy("h")))
      .filter(col("rn") <= k)
      .groupBy("grp")
      .agg(max("h").as("kth_hash"), count(lit(1)).as("n_kept"))
    val exact = df
      .selectExpr(s"$groupCol as grp", s"$valueExpr as v")
      .groupBy("grp").agg(countDistinct(col("v")).as("n_exact"))
    sketch.join(exact, Seq("grp"))
      .selectExpr("grp", "n_exact", "n_kept", "kth_hash",
        s"""case when n_kept < $k then cast(n_kept as double)
           |  else cast(${k - 1} as double) * cast(1152921504606846976 as double)
           |       / cast(kth_hash as double) end as est_distinct""".stripMargin)
      .orderBy("grp")
  }

  /** Fixed-grid histogram quantiles per group — the single-pass,
    * mergeable quantile tier next to the exact sort path (q18/q25) and
    * engine-specific approx_percentile: values land in `nb` equal-width
    * buckets over the DECLARED range [lo, hi) (outliers clamp to the edge
    * buckets), and the q-quantile estimate is the upper edge of the first
    * bucket whose cumulative count reaches ⌈q·n⌉ — error ≤ one bucket
    * width by construction (OpsSpec pins it against the exact
    * per-group sort). The grid is declared, not data-derived, which is
    * what makes the sketch MERGEABLE: histograms over any partitioning
    * add bucket-wise (OpsSpec pins additivity), so per-partition/day
    * histograms combine without rescanning — O(nb) state, the
    * 100 TB quantile path.
    *
    * Exactness contract: with lo/hi/nb chosen so the step is a power of
    * two (e.g. [0, 512) / 128 → step 4), the bucket index division and
    * the edge reconstruction are EXACT IEEE — every output column
    * hash-gates cross-engine; ⌈q·n⌉ is one correctly-rounded multiply +
    * ceil in both engines. */
  def quantileHist(df: DataFrame, groupCol: String, valueExpr: String,
                   lo: Double, hi: Double, nb: Int,
                   qs: Seq[Double] = Seq(0.5, 0.9, 0.99)): DataFrame = {
    require(hi > lo && nb > 0 && qs.nonEmpty && qs.forall(q => q > 0 && q <= 1),
      s"quantileHist needs hi > lo, nb > 0, qs in (0, 1]; got [$lo,$hi)/$nb $qs")
    import org.apache.spark.sql.expressions.Window
    val (loD, step) = histGrid(lo, hi, nb)
    val cum = histBuckets(df, groupCol, valueExpr, lo, hi, nb)
      .withColumn("cum", sum("c").over(Window.partitionBy("grp").orderBy("bucket")))
      .withColumn("n", sum("c").over(Window.partitionBy("grp")))
    val aggs =
      max(col("n")).as("n_rows") +:
        qs.zipWithIndex.map { case (q, i) =>
          min(expr(s"case when cum >= ceil(cast($q as double) * n) then bucket end")).as(s"b$i") }
    val ests = qs.zipWithIndex.map { case (q, i) =>
      s"($loD) + (b$i + 1) * ($step) as p${(q * 100).round}_est" }
    cum.groupBy("grp").agg(aggs.head, aggs.tail: _*)
      .selectExpr(("grp" +: "n_rows" +: ests): _*)
      .orderBy("grp")
  }

  /** The grid of [[quantileHist]] as SQL: (lower edge, bucket width). Bare
    * decimal literals parse as DECIMAL in both engines — every constant is
    * cast to double explicitly so the whole estimate tree is IEEE double
    * arithmetic (and hash-gates as such). */
  private def histGrid(lo: Double, hi: Double, nb: Int): (String, String) = {
    val loD = s"cast($lo as double)"
    (loD, s"((cast($hi as double)) - ($loD)) / $nb")
  }

  /** The bucket-count table of [[quantileHist]]: one (grp, bucket, c) row
    * per occupied bucket, outliers clamped to the edge buckets — the
    * bucket-wise additive state the streaming twin accumulates. */
  private[graft] def histBuckets(df: DataFrame, groupCol: String, valueExpr: String,
                                 lo: Double, hi: Double, nb: Int): DataFrame = {
    val (loD, step) = histGrid(lo, hi, nb)
    df.selectExpr(s"$groupCol as grp", s"cast($valueExpr as double) as v")
      .selectExpr("grp",
        s"least(greatest(cast(floor((v - ($loD)) / ($step)) as bigint), 0), ${nb - 1}) as bucket")
      .groupBy("grp", "bucket").agg(count(lit(1)).as("c"))
  }

  /** The d×w Count-Min counter table itself: one (j, b, c) row per
    * occupied cell — the vector-addition-mergeable state [[countMin]]
    * queries (exposed so OpsSpec can pin linearity across a corpus
    * split and the streaming twin can accumulate the same cells).
    * Row hashes are the portable md5-h60 of `j || ':' || value`, so
    * both engines place every item in identical cells. */
  private[graft] def cmSketch(df: DataFrame, valueExpr: String,
                              depth: Int, width: Int): DataFrame =
    df.selectExpr(s"cast(($valueExpr) as string) as v")
      .selectExpr(s"""explode(transform(sequence(0, ${depth - 1}), j ->
        |  struct(j, pmod(${TextOps.h60(s"concat(cast(j as string), ':', v)")}, $width) as b))) as e""".stripMargin)
      .selectExpr("e.j as j", "e.b as b")
      .groupBy("j", "b").agg(count(lit(1)).as("c"))

  /** Count-Min frequency sketch (Cormode & Muthukrishnan, J.Alg'05 —
    * public): a `depth`×`width` table of BIGINT counters; item x
    * increments one cell per row at column h_j(x), and the point
    * estimate is the MINIMUM over its `depth` cells — an OVERESTIMATE,
    * never under (each cell holds x's true count plus whatever collided
    * into it), with error ≤ N/width per row w.h.p. OpsSpec pins the
    * one-sided bound; the companion exact count makes the realized
    * error visible in-row, and everything is integer arithmetic, so
    * estimates AND exact counts hash-gate cross-engine.
    *
    * The counter table is LINEAR — tables over any partitioning (or any
    * micro-batch cut) add cell-wise, the property that makes CM the
    * 100 TB frequency path: per-partition/day sketches combine by
    * vector addition in O(d·w) without rescanning, while the exact
    * companion pays a full value-keyed shuffle. Scale shape: the sketch
    * is one map-side explode of `depth` cell rows per input row into a
    * (j, b)-keyed partial aggregation over at most d·w keys; the probe
    * side computes each distinct value's `depth` cells, joins the
    * (tiny, broadcast) table, and takes min — map-only after the
    * value dedup.
    *
    * Emits (v, exact_cnt, cm_est) for every distinct value, ordered. */
  def countMin(df: DataFrame, valueExpr: String,
               depth: Int = 4, width: Int = 64): DataFrame = {
    require(depth >= 1 && width >= 2,
      s"countMin needs depth >= 1, width >= 2; got $depth x $width")
    val sketch = cmSketch(df, valueExpr, depth, width)
    val vals = df.selectExpr(s"cast(($valueExpr) as string) as v")
      .groupBy("v").agg(count(lit(1)).as("exact_cnt"))
    vals
      .selectExpr("v", "exact_cnt",
        s"""explode(transform(sequence(0, ${depth - 1}), j ->
           |  struct(j, pmod(${TextOps.h60(s"concat(cast(j as string), ':', v)")}, $width) as b))) as e""".stripMargin)
      .selectExpr("v", "exact_cnt", "e.j as j", "e.b as b")
      .join(broadcast(sketch), Seq("j", "b"))
      .groupBy("v").agg(max("exact_cnt").as("exact_cnt"), min("c").as("cm_est"))
      .orderBy("v")
  }

  /** Point queries against a MATERIALIZED Count-Min counter table — the
    * consumption path of a persisted sketch: the (j, b, c) rows of
    * [[cmSketch]] (or the streaming twin's accumulated state) answer
    * "how often did v occur?" without re-touching the corpus they
    * summarize. Each probe value derives its `depth` cells with the same
    * portable md5-h60 placement rule the builder used, joins the (tiny,
    * broadcast) table, and takes the min; a cell with no row holds count
    * 0 (left join + coalesce), so never-seen values estimate 0 — the
    * sketch's one-sided guarantee (estimate ≥ exact, equality when no
    * collision) holds for every probe. `depth`/`width` MUST match the
    * values the table was built with — a mismatch silently probes wrong
    * cells, so callers ship them alongside the persisted table. */
  def cmEstimate(sketch: DataFrame, probes: DataFrame, valueExpr: String,
                 depth: Int = 4, width: Int = 64): DataFrame = {
    require(depth >= 1 && width >= 2,
      s"cmEstimate needs depth >= 1, width >= 2; got $depth x $width")
    probes.selectExpr(s"cast(($valueExpr) as string) as v").distinct()
      .selectExpr("v",
        s"""explode(transform(sequence(0, ${depth - 1}), j ->
           |  struct(j, pmod(${TextOps.h60(s"concat(cast(j as string), ':', v)")}, $width) as b))) as e""".stripMargin)
      .selectExpr("v", "e.j as j", "e.b as b")
      .join(broadcast(sketch), Seq("j", "b"), "left")
      .groupBy("v").agg(min(coalesce(col("c"), lit(0L))).as("cm_est"))
      .orderBy("v")
  }

  /** KMV SET-OPERATION estimates (Beyer et al., SIGMOD'07 — public):
    * distinct-union and distinct-intersection cardinalities for every
    * group pair, from the groups' bottom-k sketches alone — the set
    * algebra that makes KMV more than a counter: the bottom-k of
    * S_A ∪ S_B IS the sketch of A∪B (the mergeability contract), and
    * the fraction ρ of that merged sketch present in both sides is an
    * unbiased Jaccard estimate, so |A∩B| ≈ ρ · est|A∪B| — no rescan of
    * either side. The exact intersection companion rides along so the
    * realized error is visible in-row.
    *
    * Exact cross-engine: hashes are md5-h60, the merged bottom-k is a
    * rank window, ρ and the estimators are the same
    * multiply/divide trees over exactly-representable operands
    * (U = 2⁶⁰, k−1; ρ's denominator is the kept count) — every column
    * hash-gates.
    *
    * Scale shape: per-group sketches are O(k) via the
    * [[kmvDistinct]] WindowGroupLimit path; the pair expansion is
    * sketch-rows × groups (k·G² rows, group-cardinality-bounded, the
    * tiny side broadcasts); the exact companion is one value-keyed
    * self-join. At 100 TB the sketches are metadata — the whole pair
    * matrix computes without touching the corpus again. */
  def kmvSetOps(df: DataFrame, groupCol: String, valueExpr: String,
                k: Int = 16): DataFrame = {
    val (out, sk) = kmvSetOpsPlan(df, groupCol, valueExpr, k)
    val mat = out.localCheckpoint()
    sk.unpersist()
    mat
  }

  /** The un-checkpointed [[kmvSetOps]] pipeline plus its persisted
    * sketch handle — split out so PlanSpec can pin the physical plan
    * (the public form localCheckpoints, which replaces the plan with a
    * materialized scan) and the caller can release the cache. */
  private[graft] def kmvSetOpsPlan(df: DataFrame, groupCol: String,
                                   valueExpr: String, k: Int): (DataFrame, DataFrame) = {
    require(k >= 2, s"KMV needs k >= 2, got $k")
    import org.apache.spark.sql.expressions.Window
    val hashes = df
      .selectExpr(s"$groupCol as grp", s"${TextOps.h60(valueExpr)} as h")
      .distinct()
    val sk = hashes
      .withColumn("rn", row_number().over(Window.partitionBy("grp").orderBy("h")))
      .filter(col("rn") <= k)
      .select("grp", "h")
      // LIFETIME: released by [[kmvSetOps]] (unpersist after the eager
      // localCheckpoint of the tiny set-ops output); persist() kept here
      // so PlanSpec can pin the un-checkpointed plan — not a
      // harness-clearCache dependence
      .persist()
    val groups = sk.select(col("grp")).distinct()
    val sideA = sk.selectExpr("grp as g1", "h")
      .join(broadcast(groups.selectExpr("grp as g2")), col("g1") < col("g2"))
      .selectExpr("g1", "g2", "h", "1 as in_a", "0 as in_b")
    val sideB = sk.selectExpr("grp as g2", "h")
      .join(broadcast(groups.selectExpr("grp as g1")), col("g1") < col("g2"))
      .selectExpr("g1", "g2", "h", "0 as in_a", "1 as in_b")
    val merged = sideA.union(sideB)
      .groupBy("g1", "g2", "h")
      .agg(max("in_a").as("in_a"), max("in_b").as("in_b"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("g1", "g2").orderBy("h")))
      .filter(col("rn") <= k)
      .groupBy("g1", "g2")
      .agg(count(lit(1)).as("n_kept"), max("h").as("kth_hash"),
        sum(expr("in_a * in_b")).as("n_both"))
    val exact = hashes.selectExpr("grp as g1", "h")
      .join(hashes.selectExpr("grp as g2", "h"), Seq("h"))
      .where(col("g1") < col("g2"))
      .groupBy("g1", "g2").agg(count(lit(1)).as("exact_inter"))
    val out = merged
      .join(exact, Seq("g1", "g2"), "left")
      .selectExpr("g1", "g2", "n_kept", "n_both",
        "coalesce(exact_inter, 0L) as exact_inter",
        s"""case when n_kept < $k then cast(n_kept as double)
           |  else cast(${k - 1} as double) * cast(1152921504606846976 as double)
           |       / cast(kth_hash as double) end as est_union""".stripMargin)
      .selectExpr("g1", "g2", "n_kept", "n_both", "exact_inter", "est_union",
        "(cast(n_both as double) / cast(n_kept as double)) * est_union as est_inter")
      .orderBy("g1", "g2")
    (out, sk)
  }

  /** The r-counter AMS sketch itself: one (grp, j, s) row per sketch
    * counter — the vector-addition-mergeable state [[amsF2]] squares and
    * averages (exposed so OpsSpec can pin linearity across a corpus
    * split). */
  private[graft] def amsSketch(df: DataFrame, groupCol: String,
                               valueExpr: String, r: Int): DataFrame =
    df.selectExpr(s"$groupCol as grp", s"${TextOps.h60(valueExpr)} as h")
      .selectExpr("grp",
        s"""explode(transform(sequence(0, ${r - 1}), j ->
           |  struct(j, cast((shiftright(h, j) % 2) * 2 - 1 as bigint) as sg))) as e""".stripMargin)
      .selectExpr("grp", "e.j as j", "e.sg as sg")
      .groupBy("grp", "j").agg(sum("sg").as("s"))

  /** AMS second-frequency-moment sketch (Alon, Matias & Szegedy, STOC'96
    * — public) per group: F₂ = Σ_x f(x)², the self-join size / repeat
    * rate of a key column — the statistic a pipeline consults before
    * committing to a join or a dedup pass. Each of `r` sketch rows keeps
    * one counter S_j = Σ_x sign_j(x)·f(x) with deterministic ±1 signs
    * from bit j of the portable md5-h60 hash (pairwise independence from
    * the hash bits — fixed, so both engines derive identical signs);
    * E[S_j²] = F₂, and the estimate is the mean of the r squares. All
    * counters are exact BIGINT sums and r is a power of two, so the one
    * closing division is exact IEEE — estimate AND exact F₂ hash-gate.
    *
    * The sketch is LINEAR (S_j of a union = sum of the parts' S_j —
    * OpsSpec pins it), which is the 100 TB property: per-partition/day
    * r-counter sketches combine by vector addition, never rescan. Scale
    * shape: one map-side explode of r sign rows per input row, a
    * (grp, j)-keyed partial agg, then an r-row-per-group rollup; the
    * exact companion is the standard two-level keyed agg. At BIGINT
    * range, |S_j| ≤ N — overflow-safe to 2⁶³ rows. */
  def amsF2(df: DataFrame, groupCol: String, valueExpr: String,
            r: Int = 16): DataFrame = {
    require(r >= 1 && r <= 60 && Integer.bitCount(r) == 1,
      s"AMS needs r a power of two in [1, 60] (exact mean division), got $r")
    // counter sums |s| ≤ N and per-key counts c ≤ N, so their squares
    // overflow BIGINT accumulation past ~1.3M-distinct scopes (the
    // spearman sf1 lesson); DECIMAL(18,0) factors → (37,0) products →
    // (38,0) sums stay exact to ~10¹⁸. f2_est is double anyway;
    // f2_exact casts back to the BIGINT output type, so overflow can
    // now only happen when the RESULT itself exceeds 2⁶³ (ANSI raises
    // loudly there), never from accumulation.
    val sketch = amsSketch(df, groupCol, valueExpr, r)
      .groupBy("grp").agg(
        expr("sum(cast(s as decimal(18,0)) * cast(s as decimal(18,0)))").as("ss"))
      .selectExpr("grp", s"cast(ss as double) / $r as f2_est")
    val exact = df
      .selectExpr(s"$groupCol as grp", s"$valueExpr as v")
      .groupBy("grp", "v").agg(count(lit(1)).as("c"))
      .groupBy("grp").agg(
        expr("cast(sum(cast(c as decimal(18,0)) * cast(c as decimal(18,0))) as bigint)")
          .as("f2_exact"))
    exact.join(sketch, Seq("grp"))
      .select("grp", "f2_exact", "f2_est")
      .orderBy("grp")
  }

  /** Merging t-digest state (Dunning & Ertl, "Computing extremely
    * accurate quantiles using t-digests", arXiv:1902.04023 — public):
    * `size` merged centroids (parallel mean/weight arrays, sorted by
    * mean), plus an unsorted singleton buffer flushed through one
    * sort-and-merge-compress pass when full. `lo`/`hi` track the exact
    * stream min/max for tail interpolation. A case class of flat arrays
    * so the buffer ships between stages under the codegen product
    * encoder, not Kryo (the MGBuf precedent). */
  final case class TDBuf(var n: Long, var lo: Double, var hi: Double,
                         var size: Int, means: Array[Double],
                         wts: Array[Double], var bufSize: Int,
                         bufV: Array[Double])

  /** Per-q t-digest estimates plus the digest's shape (for the spec's
    * bounded-state pin): `n` inputs summarized by `n_centroids`. */
  final case class TDRes(n: Long, n_centroids: Int, ests: Array[Double])

  /** Merging t-digest aggregator with compression `delta` and the k₁
    * (arcsine) scale function — centroid capacity tightens toward the
    * tails as q(1−q) shrinks, which is what buys relative tail accuracy.
    * State is O(delta) regardless of input size or order, and digests
    * MERGE (concatenate + one compress pass) — the property that makes
    * this the streaming/partition-parallel quantile tier next to the
    * fixed-grid [[quantileHist]] (which needs a declared range) and the
    * exact sort path (q18). Construction is ORDER-DEPENDENT, so unlike
    * CM/AMS this sketch is only approximately mergeable: estimates
    * differ across partitionings, but the k₁ rank-error guarantee
    * (≤ δ⁻¹-scale, far inside the 1% the gate asserts) holds under ANY
    * merge order — OpsSpec pins exactly that invariance. */
  private final class TDigestAgg(delta: Int, qs: Seq[Double])
      extends Aggregator[Double, TDBuf, TDRes] {
    private val centroidCap = 4 * delta // ≥ ceil(2δ) the k₁ bound needs, pre-compress slack
    private val bufCap = 8 * delta

    def zero: TDBuf = TDBuf(0L, Double.PositiveInfinity,
      Double.NegativeInfinity, 0, new Array[Double](centroidCap),
      new Array[Double](centroidCap), 0, new Array[Double](bufCap))

    private def k1(q: Double): Double =
      delta / (2.0 * math.Pi) * math.asin(2.0 * math.min(1.0, math.max(0.0, q)) - 1.0)

    /** Sort the pending centroids + buffered singletons by mean and
      * re-merge under the k₁ size bound, in place. */
    private def compress(b: TDBuf): Unit = {
      val m = b.size + b.bufSize
      if (m == 0) return
      val pairs = new Array[(Double, Double)](m)
      var i = 0
      while (i < b.size) { pairs(i) = (b.means(i), b.wts(i)); i += 1 }
      var j = 0
      while (j < b.bufSize) { pairs(b.size + j) = (b.bufV(j), 1.0); j += 1 }
      java.util.Arrays.sort(pairs, Ordering.by((p: (Double, Double)) => p._1))
      val total = b.n.toDouble
      var out = 0
      var curMean = pairs(0)._1
      var curW = pairs(0)._2
      var wBefore = 0.0
      i = 1
      while (i < m) {
        val (mn, w) = pairs(i)
        val qRight = (wBefore + curW + w) / total
        if (k1(qRight) - k1(wBefore / total) <= 1.0 && out < centroidCap - 1) {
          // weighted incremental mean — no sum-of-products overflow path
          curMean += (w / (curW + w)) * (mn - curMean)
          curW += w
        } else {
          b.means(out) = curMean; b.wts(out) = curW; out += 1
          wBefore += curW
          curMean = mn; curW = w
        }
        i += 1
      }
      b.means(out) = curMean; b.wts(out) = curW; out += 1
      b.size = out
      b.bufSize = 0
    }

    def reduce(b: TDBuf, v: Double): TDBuf = {
      if (!v.isNaN) {
        if (b.bufSize == bufCap) compress(b)
        b.bufV(b.bufSize) = v
        b.bufSize += 1
        b.n += 1
        if (v < b.lo) b.lo = v
        if (v > b.hi) b.hi = v
      }
      b
    }

    def merge(a: TDBuf, b: TDBuf): TDBuf = {
      if (b.n == 0) return a
      if (a.n == 0) return b
      compress(b) // fold b's singletons into centroids first
      var i = 0
      while (i < b.size) {
        if (a.bufSize == bufCap || a.size + 1 >= centroidCap) compress(a)
        // append b's centroid directly into a's centroid slots — compress
        // re-sorts, so order doesn't matter; weights carry over exactly
        a.means(a.size) = b.means(i)
        a.wts(a.size) = b.wts(i)
        a.size += 1
        i += 1
      }
      a.n += b.n
      if (b.lo < a.lo) a.lo = b.lo
      if (b.hi > a.hi) a.hi = b.hi
      compress(a)
      a
    }

    def finish(b: TDBuf): TDRes = {
      compress(b)
      if (b.n == 0) return TDRes(0L, 0, qs.map(_ => Double.NaN).toArray)
      val total = b.n.toDouble
      val ests = qs.map { q =>
        val t = q * total
        if (b.size == 1 || t <= b.wts(0) / 2) {
          // below the first centroid's midpoint: interpolate min → mean₀
          val m0 = b.wts(0) / 2
          if (m0 <= 0 || t <= 0) b.lo
          else b.lo + (b.means(0) - b.lo) * math.min(1.0, t / m0)
        } else {
          var cum = 0.0
          var i = 0
          var res = Double.NaN
          while (i < b.size && res.isNaN) {
            val mid = cum + b.wts(i) / 2 // centroid i's midpoint rank
            val nextMid =
              if (i + 1 < b.size) cum + b.wts(i) + b.wts(i + 1) / 2
              else total
            if (t <= nextMid) {
              val lo0 = b.means(i)
              val hi0 = if (i + 1 < b.size) b.means(i + 1) else b.hi
              val span = nextMid - mid
              res = if (span <= 0) lo0
                else lo0 + (hi0 - lo0) * math.min(1.0, math.max(0.0, (t - mid) / span))
            }
            cum += b.wts(i)
            i += 1
          }
          if (res.isNaN) b.hi else res
        }
      }.toArray
      TDRes(b.n, b.size, ests)
    }

    def bufferEncoder: Encoder[TDBuf] = Encoders.product[TDBuf]
    def outputEncoder: Encoder[TDRes] = Encoders.product[TDRes]
  }

  /** The t-digest aggregate as a DataFrame UDAF — exposed so the batch
    * op and the streaming twin accumulate the identical sketch. */
  private[graft] def tdigestUdaf(delta: Int, qs: Seq[Double]) =
    udaf(new TDigestAgg(delta, qs), Encoders.scalaDouble)

  /** Per-group t-digest quantiles with an in-row certification against
    * the exact rank — the SELF-CERTIFYING gate pattern (VERDICT r15 #5):
    * the digest's estimates are order-dependent (no SQL oracle can
    * reproduce them), so the emitted columns are the EXACT percentiles
    * (PercentileOps' bounded-memory rank path — oracle-checkable, the
    * q18 contract) plus one boolean per q asserting the digest estimate's
    * realized RANK error stays within `rankTol` of q·n. Rank error — not
    * value error — is the guarantee t-digests actually make (a flat
    * value bound is meaningless across distributions); k₁ at δ = 100
    * bounds it well under 1%, so a drifting implementation flips a
    * boolean and fails the full rows+schema+hash gate.
    *
    * Scale shape: the digest is one all-partial typed aggregation with
    * O(δ) state per group (the 100 TB quantile-monitoring path — per
    * partition/day digests merge without rescanning); the certification
    * rank probe re-collapses the corpus to tie-blocks once and
    * broadcast-joins the (|groups|·|qs|)-row estimate table onto it;
    * the exact companion is [[PercentileOps.sortedPercentiles]]. */
  def tdigestQuantiles(df: DataFrame, groupCol: String, valueCol: String,
                       qs: Seq[Double] = Seq(0.5, 0.9, 0.99),
                       delta: Int = 100,
                       rankTol: Double = 0.01): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0 && q < 1),
      s"tdigestQuantiles needs qs in (0, 1), got $qs")
    require(delta >= 10, s"tdigestQuantiles needs delta >= 10, got $delta")
    import PercentileOps.{PSpec, sortedPercentiles}
    val td = tdigestUdaf(delta, qs)
    val base = df.filter(col(valueCol).isNotNull)
      .selectExpr(s"$groupCol as grp", s"cast($valueCol as double) as v")
    val ests = base.groupBy("grp").agg(td(col("v")).as("td"))
      .selectExpr("grp", "td.n_centroids as n_centroids",
        s"""explode(transform(sequence(0, ${qs.size - 1}), i ->
           |  struct(i as qi, element_at(td.ests, i + 1) as est))) as e""".stripMargin)
      .selectExpr("grp", "n_centroids", "e.qi as qi", "e.est as est")
    // realized rank of each estimate: Σ count(v ≤ est) over the
    // tie-collapsed blocks — exact, one corpus collapse + broadcast join
    val blocks = base.groupBy("grp", "v").agg(count(lit(1)).as("cnt"))
    val qLits = qs.zipWithIndex.map { case (q, i) => s"when qi = $i then cast($q as double)" }
      .mkString("case ", " ", " end")
    val certs = blocks.join(broadcast(ests), Seq("grp"))
      .groupBy("grp", "qi", "n_centroids")
      .agg(sum(when(col("v") <= col("est"), col("cnt")).otherwise(0L)).as("rank_est"),
        sum("cnt").as("n"))
      .selectExpr("grp", "qi", "n_centroids",
        s"abs(cast(rank_est as double) - ($qLits) * cast(n as double))" +
          s" <= $rankTol * cast(n as double) + 1.0 as within")
      .groupBy("grp")
      .agg(max("n_centroids").as("n_centroids"),
        min(when(col("qi") === 0, col("within"))).as("__w0") +:
          qs.indices.drop(1).map(i =>
            min(when(col("qi") === i, col("within"))).as(s"__w$i")): _*)
    val exact = sortedPercentiles(df.withColumnRenamed(groupCol, "grp"), "grp",
      qs.zipWithIndex.map { case (q, i) =>
        PSpec(valueCol, q, s"p${(q * 1000).round}_exact") })
    val outCols = Seq("grp") ++
      qs.map(q => s"p${(q * 1000).round}_exact") ++ Seq("n_rows") ++
      qs.indices.map(i => s"__w$i as td_q${i}_within")
    exact.join(certs, Seq("grp"))
      .selectExpr(outCols: _*)
      .orderBy("grp")
  }
}
