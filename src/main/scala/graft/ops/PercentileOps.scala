package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Exact per-group percentiles via distributed sort + rank — the
  * bounded-memory scale path for MEDIAN / PERCENTILE_CONT / PERCENTILE_DISC
  * (SURVEY §2.3 q18/q25; the reference reaches them through the `--query`
  * pass-through, `execute_sql.py:64,77`).
  *
  * Spark's exact `percentile`/`percentile_cont` aggregate buffers every
  * value of a group in executor memory (an ObjectHashAggregate over an
  * OpenHashMap) — at 100 TB a single hot group OOMs the executor. And the
  * obvious window rewrite (`row_number() OVER (PARTITION BY key)`) has a
  * different 100 TB failure: window parallelism equals the GROUP count,
  * so a 3-group key (l_returnflag-class) sorts the whole corpus on 3
  * tasks — the r15 sf1 sweep measured exactly that (the `_sorted` twins
  * were the suite's worst growers at ~10× on 10× data). This operator
  * computes the IDENTICAL result (bit-equal doubles, same interpolation
  * arithmetic as Spark's `Percentile`, asserted in OpsSpec) with nothing
  * held per group AND no group-count-bounded stage:
  *
  *   1. collapse ties — `groupBy(key, value).count` (map-side partial, so
  *      the shuffle carries distinct (key, value) blocks, not rows);
  *   2. rank the blocks with [[rangePrefix]]: a range-partitioned two-pass
  *      prefix sum (the spearman ranking pattern, ProfileOps.scala) whose
  *      parallelism tracks the cluster, not the key cardinality — a tie
  *      block with cumulative count `cum` covers ranks (cum−cnt, cum];
  *   3. keep only the blocks covering a rank that can contribute to a
  *      requested percentile (floor/ceil of `p·(n−1)` for CONT,
  *      `ceil(p·n)` for DISC) — at most 3·|specs| blocks per group;
  *   4. one hash aggregation interpolates:
  *      `(ceil(pos)−pos)·v_lo + (pos−floor(pos))·v_hi` — the exact
  *      expression Spark's `Percentile.getPercentile` evaluates, so
  *      results are bit-identical to the buffering implementation.
  *
  * Memory per task is O(1) beyond the sort spill machinery (which spills
  * to disk under pressure); no state scales with group cardinality or
  * group size; no stage's task count is bounded by the number of groups.
  */
object PercentileOps {

  /** Per-key inclusive prefix sum over (key, value)-ordered rows, with
    * parallelism bounded by the cluster rather than the key cardinality.
    * Input: rows keyed by `key` and totally ordered within a key by
    * `vCols` (tie-collapsed blocks for the percentile paths; any
    * deterministic composite order otherwise), with a BIGINT `cntCol`.
    * Output: input columns plus `__cum` (per-key inclusive cumulative of
    * `cntCol` in ascending `vCols` order) and `__n` (per-key total).
    *
    * `repartitionByRange(key, v)` makes every partition a contiguous
    * (key, value) range; the within-range running sum is a
    * (pid, key)-partitioned window (never the #groups-task WindowExec a
    * `PARTITION BY key` degenerates to); the cross-range offsets come
    * from the per-(pid, key) totals table — ≤ #partitions rows PER KEY,
    * so its `PARTITION BY key` prefix window is over a bounded-size
    * group regardless of corpus size (and it keeps every aggregate a
    * plain HashAggregate — no collection agg, no ObjectHashAggregate,
    * which PlanSpec pins). Cumulative sums are exact integers, so the
    * result is independent of where the sampled range bounds fall. No
    * broadcast hint on the fold-in join — for a near-unique key the
    * totals table is corpus-sized and must not ship to every task, AQE
    * decides (the spearman reasoning, ProfileOps.scala). */
  private[graft] def rangePrefix(blocks: DataFrame, key: String, vCol: String,
                               cntCol: String): DataFrame =
    rangePrefix(blocks, key, Seq(vCol), cntCol)

  private[graft] def rangePrefix(blocks: DataFrame, key: String,
                               vCols: Seq[String], cntCol: String): DataFrame =
    rangePrefixN(blocks, key, vCols, Seq(cntCol))
      .withColumnRenamed(s"__cum_$cntCol", "__cum")
      .withColumnRenamed(s"__n_$cntCol", "__n")

  /** Multi-measure form of [[rangePrefix]]: one shared range exchange +
    * prefix pass emitting `__cum_<c>` / `__n_<c>` per measure column
    * (any summable type — BIGINT counts, DECIMAL amounts).
    *
    * THE PERSIST IS LOAD-BEARING (ADVICE r15, root-caused r16).
    * Correctness of the offsets fold-in hinges on both consumers of the
    * range exchange (the window branch and the per-(pid, key) totals
    * branch) observing the SAME partition boundaries and `__pid` values —
    * the `__pid` equi-join silently misaligns otherwise. The r15 code
    * relied on exchange reuse to make that hold, and the r16 plan audit
    * showed the reliance was ALREADY broken: under AQE the two branches
    * compile to two independent ShuffleQueryStages (separate range
    * exchanges, separately sampled bounds, upstream aggregation stages
    * duplicated too), and merely pinning the partition count
    * (REPARTITION_BY_NUM) perturbed the per-branch bound sampling enough
    * to produce silently wrong frames in op_range_frame_agg at sf0.01 —
    * the exact failure mode the advisor predicted. `persist(
    * MEMORY_AND_DISK)` makes the pid assignment single-sourced BY
    * CONSTRUCTION: the ranged block table materializes exactly once
    * (BlockManager get-or-compute is atomic per partition, and lost-block
    * recompute replays the same frozen shuffle dependency, so replayed
    * pids match), and both branches read the same frozen (__pid, row)
    * pairs no matter how each reader is re-partitioned or coalesced.
    * MEMORY_AND_DISK so a 100 TB-scale block table spills instead of
    * OOMing. Cache lifecycle: entries live until the session clears them
    * (Bench/Verify call `spark.catalog.clearCache()` between queries);
    * auto-unpersisting here would re-open the hazard for any
    * not-yet-executed plan built on the cache. OpsSpec pins the
    * algebraic invariant max(__cum) per key == __n == sum(cnt) on a
    * multi-partition stress frame. */
  private[graft] def rangePrefixN(blocks: DataFrame, key: String,
                                vCols: Seq[String],
                                cntCols: Seq[String]): DataFrame = {
    require(cntCols.nonEmpty, "rangePrefixN needs at least one measure")
    val ranged = blocks
      .repartitionByRange((key +: vCols).map(col): _*)
      .withColumn("__pid", spark_partition_id())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // ROWS, not the default RANGE running frame: every caller's (key,
    // vCols) order is TOTAL (tie-collapsed blocks / unique composite
    // keys — the documented input contract), so the frames agree and
    // ROWS skips the per-row peer-group scan RANGE pays
    val inW = Window.partitionBy(col("__pid"), col(key))
      .orderBy(vCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val inRange = cntCols.foldLeft(ranged)((acc, c) =>
      acc.withColumn(s"__cum_in_$c", sum(col(c)).over(inW)))
    val byKey = Window.partitionBy(col(key))
    val offW = byKey.orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val totAggs = cntCols.map(c => sum(col(c)).as(s"__ptot_$c"))
    val offsets0 = ranged.groupBy(col("__pid"), col(key))
      .agg(totAggs.head, totAggs.tail: _*)
    // the fold-in join must be NULL-SAFE on the key: a SQL window keeps
    // a null-key group (all nulls are peers) and so must this
    val offsets = cntCols.foldLeft(offsets0)((acc, c) =>
        acc.withColumn(s"__off_$c",
            coalesce(sum(col(s"__ptot_$c")).over(offW),
              lit(0L).cast(acc.schema(s"__ptot_$c").dataType)))
          .withColumn(s"__n_$c", sum(col(s"__ptot_$c")).over(byKey)))
      .select((Seq(col(key).as("__okey"), col("__pid").as("__opid")) ++
        cntCols.flatMap(c => Seq(col(s"__off_$c"), col(s"__n_$c")))): _*)
    val joined = inRange.join(offsets,
      col(key) <=> col("__okey") && col("__pid") === col("__opid"))
    cntCols.foldLeft(joined)((acc, c) =>
        acc.withColumn(s"__cum_$c", col(s"__cum_in_$c") + col(s"__off_$c")))
      .drop(Seq("__pid", "__okey", "__opid") ++ cntCols.flatMap(c =>
        Seq(s"__cum_in_$c", s"__off_$c")): _*)
  }

  /** One requested percentile: `disc = false` → PERCENTILE_CONT semantics
    * (linear interpolation), `disc = true` → PERCENTILE_DISC (first value
    * whose cumulative distribution reaches p). */
  final case class PSpec(valueCol: String, p: Double, out: String, disc: Boolean = false) {
    require(p >= 0.0 && p <= 1.0, s"percentile $p out of [0,1]")
  }

  /** Per-`key` exact percentiles for `specs`, plus a trailing `n_rows`
    * count of ALL group rows (null values included — matching
    * `COUNT(*)` next to a percentile aggregate). Output columns:
    * key, specs.map(_.out) in order, n_rows. */
  def sortedPercentiles(df: DataFrame, key: String, specs: Seq[PSpec]): DataFrame = {
    require(specs.nonEmpty, "sortedPercentiles needs at least one spec")
    require(specs.map(_.out).distinct.length == specs.length,
      "duplicate output column names")
    val nRows = df.groupBy(col(key)).agg(count(lit(1)).as("n_rows"))
    // one ranked pass per distinct value column (each needs its own
    // order); keep spec order for the final projection
    val perCol = specs.groupBy(_.valueCol).toSeq.map { case (vc, colSpecs) =>
      rankedPass(df.filter(col(vc).isNotNull)
        .select(col(key), col(vc).cast(DoubleType).as("__v")), key, colSpecs)
    }
    // per-column aggregates are one row per group — these joins broadcast.
    // Left joins from the full key set: a group whose values are all NULL
    // still appears, with NULL percentiles (the SQL aggregate's behavior).
    // NULL-SAFE on the key: the NULL key is a group of its own, as in SQL.
    perCol.foldLeft(nRows) { (acc, pc) =>
        acc.join(pc.withColumnRenamed(key, "__pkey"), col(key) <=> col("__pkey"), "left")
          .drop("__pkey")
      }.select(col(key) +: specs.map(s => col(s.out)) :+ col("n_rows"): _*)
  }

  /** The rank stage: per-`key` percentiles `specs` of the non-null DOUBLE
    * column `__v` of `vals` (the specs' `valueCol` is not read). Output:
    * key, specs.map(_.out); a key with no row in `vals` has no row here. */
  private def rankedPass(vals: DataFrame, key: String, specs: Seq[PSpec]): DataFrame = {
    val blocks = vals.groupBy(col(key), col("__v")).agg(count(lit(1)).as("__cnt"))
    val cum = rangePrefix(blocks, key, "__v", "__cnt")

    // a tie block covers ranks (__cum − __cnt, __cum]; a wanted rank
    // selects the block's value iff it falls in that interval (the
    // value at any covered rank is the block's value, so the result
    // is independent of intra-tie order — same contract row_number
    // gave, without materializing per-row ranks)
    def hit(r: Column): Column =
      r > col("__cum") - col("__cnt") && r <= col("__cum")
    def loRank(p: Double): Column =
      floor(lit(p) * (col("__n") - 1)).cast(LongType) + 1
    def hiRank(p: Double): Column =
      ceil(lit(p) * (col("__n") - 1)).cast(LongType) + 1
    def discRank(p: Double): Column =
      greatest(lit(1L), ceil(lit(p) * col("__n")).cast(LongType))
    val wanted = specs.map { s =>
      if (s.disc) hit(discRank(s.p))
      else hit(loRank(s.p)) || hit(hiRank(s.p))
    }.reduce(_ || _)

    val aggs = specs.flatMap { s =>
      if (s.disc)
        Seq(max(when(hit(discRank(s.p)), col("__v"))).as(s.out))
      else Seq(
        max(when(hit(loRank(s.p)), col("__v"))).as(s"__lo_${s.out}"),
        max(when(hit(hiRank(s.p)), col("__v"))).as(s"__hi_${s.out}"))
    }
    val agged = cum.filter(wanted)
      .groupBy(col(key))
      .agg(max(col("__n")).as("__nv"), aggs: _*)

    // CONT interpolation — the same double arithmetic as Spark's
    // Percentile.getPercentile: (higher−pos)·lower + (pos−lower)·higher
    val outCols: Seq[Column] = specs.map { s =>
      if (s.disc) col(s.out)
      else {
        val pos = lit(s.p) * (col("__nv") - 1).cast(DoubleType)
        val lo = col(s"__lo_${s.out}")
        val hi = col(s"__hi_${s.out}")
        when(floor(pos) === ceil(pos), lo)
          .otherwise((ceil(pos) - pos) * lo + (pos - floor(pos)) * hi)
          .as(s.out)
      }
    }
    agged.select(col(key) +: outCols: _*)
  }

  /** One weighted discrete percentile: the smallest value whose
    * cumulative weight reaches qNum/qDen of the group's total weight.
    * The quantile is a RATIONAL, not a double — the selection predicate
    * is `cumw·qDen ≥ qNum·W`, pure BIGINT, so there is no floating
    * arithmetic anywhere in the operator. */
  final case class WSpec(qNum: Long, qDen: Long, out: String) {
    require(qNum > 0 && qDen > 0 && qNum <= qDen, s"need 0 < $qNum/$qDen <= 1")
  }

  /** Per-`key` WEIGHTED discrete percentiles — the quantile form a
    * curation pipeline needs once rows carry sampling/mixture weights
    * (epoch temperatures, language upsampling): the q-quantile of the
    * weight-expanded distribution, computed without expanding anything.
    * PERCENTILE_DISC semantics over integer weights: the result is an
    * actual data value, selected by an all-BIGINT cumulative-weight
    * predicate — every column hash-gates with zero IEEE involvement
    * (the unweighted disc path degenerates to this with weight 1).
    *
    * Scale shape: one (key, value)-keyed weight aggregation (partial
    * map-side), one [[rangePrefix]] cumulative over DISTINCT values
    * (range-partitioned — parallelism tracks the cluster, not the key
    * cardinality), one filtering aggregation — the [[sortedPercentiles]]
    * memory contract: nothing buffered per group beyond sort machinery. */
  def weightedDiscPercentiles(df: DataFrame, key: String, valueCol: String,
                              weightCol: String, specs: Seq[WSpec]): DataFrame = {
    require(specs.nonEmpty, "weightedDiscPercentiles needs at least one spec")
    require(specs.map(_.out).distinct.length == specs.length,
      "duplicate output column names")
    // integer weights are the CONTRACT, not an assumption: a fractional
    // weight would silently truncate (2.9 → 2) and a 0 < w < 1 row would
    // vanish entirely after the cast — and the pre-cast-filtering oracle
    // would disagree. Raise on the first non-integral weight instead
    // (ADVICE r11); callers with fractional weights rescale first.
    val g = df
      .filter(col(valueCol).isNotNull)
      .selectExpr(key, s"$valueCol as __v",
        s"""case when $weightCol is not null
           |       and cast($weightCol as double) != floor(cast($weightCol as double))
           |  then cast(raise_error(concat(
           |    'weightedDiscPercentiles: non-integral weight ',
           |    cast($weightCol as string),
           |    ' — integer weights are the contract; rescale first')) as bigint)
           |  else cast($weightCol as bigint) end as __w""".stripMargin)
      .filter(col("__w") > 0)
      .groupBy(col(key), col("__v")).agg(sum("__w").as("__wv"))
    val cum = rangePrefix(g, key, "__v", "__wv")
    val aggs = specs.map { s =>
      min(when(col("__cum") * lit(s.qDen) >= lit(s.qNum) * col("__n"),
        col("__v"))).as(s.out)
    } :+ max(col("__n")).as("total_weight")
    cum.groupBy(col(key)).agg(aggs.head, aggs.tail: _*)
  }
}
