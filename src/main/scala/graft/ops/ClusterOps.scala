package graft.ops

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.{Duration, DurationInt}
import scala.jdk.CollectionConverters._
import scala.util.Try
import scala.util.control.NonFatal

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StructField, StructType}

/** Exact, deterministic Lloyd k-means over the `embeddings` table — the
  * corpus-clustering primitive of a training-data pipeline (semantic
  * curation / SemDeDup-style pruning / IVF coarse quantizers all start
  * from "assign every vector to a centroid"). The reference reaches
  * clustering only as SQL shipped to the warehouse (`execute_sql.py:64,77`);
  * here it is a first-class distributed operator.
  *
  * Unlike [[VectorOps.cosineTopKIvf]]'s cosine refinement (whose per-row
  * `avg` is addition-order-dependent and therefore engine-specific), this
  * op is EXACT cross-engine — every step is either integer arithmetic or
  * a fixed-order IEEE double computation, so the full assignment
  * hash-matches an independent DuckDB implementation:
  *
  *   - vectors quantize to integers: `⌊double(x) · 2²⁰⌋` (float→double is
  *     exact widening, the product and floor are identical IEEE ops);
  *   - centroid means are exact BIGINT sums divided once in double —
  *     addition over rows is integer, hence order-independent;
  *   - distances are squared L2 decomposed as `x·x − 2·x·m + m·m`, each
  *     dot a fixed-order left fold (the native `array_dot` kernel; DuckDB
  *     `list_reduce` folds the same way), ties broken by centroid id.
  *
  * Scale shape: the centroids (k·dim state) live on the driver, the same
  * sync structure as Spark MLlib's KMeans. Each round broadcasts them as
  * one local-relation row to every task, assigns map-only (no shuffle)
  * and tree-aggregates exact per-cluster BIGINT sums and counts back to
  * the driver — one job per round, k·dim longs per task, never data.
  * The driver divides once in double; empty clusters keep their previous
  * centroid.
  */
object ClusterOps {

  private val SCALE = "1048576.0" // 2^20: quantization step ≈ 1e-6 per unit

  /** One shared daemon thread for overlapping independent eager actions
    * (localCheckpoint materializations) with driver-thread work. Spark's
    * scheduler runs concurrent jobs FIFO; the side job back-fills task
    * slots the main chain leaves idle (these segments are
    * scheduling-latency-bound, not compute-bound). Daemon so it never
    * blocks JVM exit; one thread is enough — the point is overlap, not
    * fan-out. */
  private lazy val overlapPool =
    java.util.concurrent.Executors.newFixedThreadPool(1, r => {
      val t = new Thread(r, "graft-ckpt-overlap")
      t.setDaemon(true)
      t
    })

  /** Spark's local properties that make a job part of its caller's query. */
  private val jobIdentity = Seq("spark.jobGroup.id", "spark.job.description",
    "spark.job.interruptOnCancel", "spark.job.tags")

  /** The side work of one operator call, run on [[overlapPool]]. Each task
    * runs under the job identity of the thread that made this — job group,
    * description, interrupt flag and tags — plus a tag of its own, so side
    * jobs are reported with, and cancelled with, the query that started
    * them, and [[guard]] can cancel exactly them. A pool thread inherits
    * the local properties of whichever thread created it, so the identity
    * is captured here and set around each task. The SQL execution id
    * belongs to one thread's running query and is never copied. */
  private final class Overlap(sc: SparkContext) {
    private val tag = s"graft-overlap-${java.util.UUID.randomUUID()}"
    private val identity = jobIdentity.map(k => k -> sc.getLocalProperty(k))
    private val tasks = new java.util.concurrent.ConcurrentLinkedQueue[Future[_]]
    private val ec = new ExecutionContext {
      def execute(task: Runnable): Unit = overlapPool.execute { () =>
        val before = jobIdentity.map(k => k -> sc.getLocalProperty(k))
        identity.foreach { case (k, v) => sc.setLocalProperty(k, v) }
        sc.addJobTag(tag)
        try task.run()
        finally before.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      }
      def reportFailure(t: Throwable): Unit = ExecutionContext.defaultReporter(t)
    }

    /** `body` as a side task. */
    def apply[T](body: => T): Future[T] = {
      val f = Future(body)(ec)
      tasks.add(f)
      f
    }

    /** `main` on the calling thread. If it throws, the side jobs are
      * cancelled and every side task is awaited before the error
      * propagates, so no side job outlives the call; the cancel repeats
      * until each task ends, which also catches a job a task submits
      * after an earlier cancel. */
    def guard[T](main: => T): T =
      try main
      catch { case NonFatal(e) =>
        tasks.asScala.foreach { f =>
          while (!f.isCompleted) {
            sc.cancelJobsWithTag(tag)
            Try(Await.ready(f, 100.millis))
          }
        }
        throw e
      }
  }

  /** (vec_id, cluster) after `iters` Lloyd update rounds from a
    * deterministic seed (the `k` lowest-vec_id vectors), distances against
    * the final centroids.
    *
    * `pruned` switches the per-row argmin from the dense form (an O(k·dim)
    * transform + array_min) to a norm-bound fold: centroids whose
    * lower bound `(‖x‖ − ‖m‖)² > best-so-far` are skipped WITHOUT
    * computing the O(dim) dot product — the Cauchy-Schwarz bound
    * `(‖x‖−‖m‖)² ≤ ‖x−m‖²`, checked in O(1) against the pre-broadcast
    * centroid norms. The prune is STRICT (>), so a skipped centroid is
    * strictly worse than the incumbent, ties included — the pruned argmin
    * equals the dense one exactly (OpsSpec pins equality), it just visits
    * fewer dot products. This is the swap the SemDeDup k contract calls
    * for once k reaches ~10⁴ and dim is embedding-sized: the bound check
    * is dim-free, so sorted-by-norm packing gives most rows a handful of
    * full distance evaluations instead of k. */
  def kmeansAssign(emb: DataFrame, k: Int = 8, iters: Int = 2,
                   pruned: Boolean = false): DataFrame =
    kmeansFit(emb, k, iters, pruned)._2
      .selectExpr("vec_id", "cluster")
      .orderBy("vec_id")

  /** The quantize step shared by every exact embedding op: integer vector
    * `xq = ⌊double(x)·2²⁰⌋`, its exact double image `xd`, and the
    * fixed-order self-dot `xx`, next to the row's `keys`. */
  private[ops] def quantized(emb: DataFrame,
                             keys: Seq[String] = Seq("vec_id")): DataFrame =
    emb.selectExpr(keys :+
        s"transform(embedding, x -> cast(floor(cast(x as double) * $SCALE) as bigint)) as xq": _*)
      .selectExpr(keys ++ Seq("xq", "transform(xq, v -> cast(v as double)) as xd"): _*)
      .selectExpr(keys ++ Seq("xq", "xd", "array_dot(xd, xd) as xx"): _*)

  /** The full Lloyd run behind [[kmeansAssign]], exposing the fitted model:
    * returns (centroids `(cid, m)` after `iters` rounds, a local frame;
    * assignment `(vec_id, xq, cluster)` against them). PQ needs the
    * centroids themselves (its ADC lookup tables are query-to-centroid
    * distances), not just the assignment. The seed is the `k` lowest
    * vec_ids, cid = 0..k-1 in vec_id order. */
  private[graft] def kmeansFit(emb: DataFrame, k: Int, iters: Int,
                               pruned: Boolean = false): (DataFrame, DataFrame) = {
    require(k > 0 && iters >= 0, s"need k > 0, iters >= 0; got k=$k iters=$iters")
    // LIFETIME: the returned assignment reads this cache LAZILY, so the op
    // cannot release it before returning — entries live until the session
    // clears them (the Bench/Verify clearCache contract); a library caller
    // should clearCache() after consuming the result
    val q = quantized(emb)
      .selectExpr("vec_id", "xq", "xd", "xx", "sqrt(xx) as sx")
      .persist()
    val seed = q.select("vec_id", "xq").orderBy("vec_id").limit(k).collect()
      .map(r => seedVector(r, 1)).toSeq
    // struct min = (min dist, then min cid) — the tie-break DuckDB's
    // ROW_NUMBER(ORDER BY dist, cid) applies
    val argmin =
      if (pruned)
        """aggregate(cs,
          |  struct(cast('Infinity' as double) as dist, cast(-1 as bigint) as cid),
          |  (acc, cl) -> case
          |    when (sx - cl.sm) * (sx - cl.sm) > acc.dist then acc
          |    else least(acc,
          |      struct(xx - 2 * array_dot(xd, cl.m) + cl.mm as dist,
          |             cl.cid as cid)) end)""".stripMargin
      else denseArgmin
    lloyd(q, Nil, Seq(Row() -> seed), iters, argmin)
  }

  /** All of a product quantizer's per-subspace Lloyd runs as ONE keyed
    * fit — the batched twin of [[kmeansFit]] for inputs of shape
    * `(vec_id, ss, embedding)` where `ss` tags the subspace. Each
    * subspace's arithmetic is exactly the per-fit recipe (same quantize,
    * same seed-by-lowest-vec_id, same integer mean sums, same fixed-order
    * distance folds, same (dist, cid) tie-break), computed independently
    * per `ss` — so results are bit-identical to m separate [[kmeansFit]]
    * calls and the same DuckDB oracles gate them. What changes is the JOB
    * STRUCTURE: one seed collect and one job per round cover all m
    * subspaces, instead of m sequential fits — at real PQ geometry
    * (m = 8..64) the sequential form is m× the job count and codegen
    * compilations for the same data volume.
    *
    * Returns (cells `(ss, cid, m)`, a local frame; assignment
    * `(vec_id, ss, xq, cluster)`). The centroid table is m rows (one
    * array per subspace) and assignment is a broadcast hash join on `ss`
    * — map-side only.
    */
  private[ops] def kmeansFitKeyed(sub: DataFrame, k: Int,
                                  iters: Int): (DataFrame, DataFrame) = {
    require(k > 0 && iters >= 0, s"need k > 0, iters >= 0; got k=$k iters=$iters")
    // LIFETIME: as kmeansFit's q — read lazily by the returned assignment
    val q = quantized(sub, Seq("vec_id", "ss")).persist()
    // per-subspace seed: the k lowest vec_ids of that subspace. The
    // filter sits DIRECTLY on the row_number attribute so the optimizer
    // plans a WindowGroupLimit: each map task emits at most k rows per
    // subspace BEFORE the exchange
    val seeds = q
      .withColumn("__rn", row_number()
        .over(Window.partitionBy("ss").orderBy("vec_id")))
      .filter(col("__rn") <= k)
      .select("ss", "__rn", "xq").collect()
      .groupBy(_.getLong(0)).toSeq.sortBy(_._1)
      .map { case (ss, rs) => Row(ss) -> rs.sortBy(_.getInt(1)).map(seedVector(_, 2)).toSeq }
    lloyd(q, Seq("ss"), seeds, iters, denseArgmin)
  }

  /** The dense per-row argmin over a centroid array `cs`: an O(k·dim)
    * transform, then struct min = (min dist, then min cid). */
  private val denseArgmin =
    """array_min(transform(cs, cl ->
      |  struct(xx - 2 * array_dot(xd, cl.m) + cl.mm as dist,
      |         cl.cid as cid)))""".stripMargin

  /** A seed centroid: the exact double image of the row's `xq`. */
  private def seedVector(r: Row, i: Int): Array[Double] =
    r.getSeq[Long](i).map(_.toDouble).toArray

  /** Lloyd rounds with the centroids on the driver — Spark MLlib KMeans's
    * sync structure — one independent fit per group. `q` is the persisted
    * quantized frame (`vec_id`, `keys…`, `xq`, `xd`, `xx` and whatever
    * `argmin` reads); `seeds` holds each group's key values and its seed
    * vectors in cid order. A round is ONE job: the map-only assignment
    * against the centroid table (a local relation, broadcast; `mm`/`sm`
    * come from the `array_dot` kernel in a projection) folded by
    * `treeAggregate` into exact per-cluster BIGINT sums and counts
    * ([[Sums]]). The driver then divides once in double, `s / n` (the IEEE
    * op of `cast(s as double) / n`); an empty cluster keeps its centroid.
    * No plan grows across rounds and nothing but `q` is cached.
    *
    * Returns (centroids `(keys…, cid, m)`, a local frame; the assignment
    * `(vec_id, keys…, xq, cluster)` against them, a plan over `q`). */
  private def lloyd(q: DataFrame, keys: Seq[String],
                    seeds: Seq[(Row, Seq[Array[Double]])], iters: Int,
                    argmin: String): (DataFrame, DataFrame) = {
    val spark = q.sparkSession
    val keyFields = keys.map(q.schema(_))
    val centroid = Seq(StructField("cid", LongType), StructField("m", ArrayType(DoubleType)))
    // a cluster's slot in the round's sums: its group's base + cid
    val bases = seeds.scanLeft(0)(_ + _._2.size)
    val tableSchema = StructType(keyFields ++ Seq(StructField("base", LongType),
      StructField("cs", ArrayType(StructType(centroid)))))
    def assign(cells: Seq[(Row, Seq[Array[Double]])]): DataFrame = {
      val rows = cells.zip(bases).map { case ((key, ms), b) =>
        Row.fromSeq(key.toSeq ++ Seq(b.toLong,
          ms.zipWithIndex.map { case (m, c) => Row(c.toLong, m) })) }
      val table = spark.createDataFrame(rows.asJava, tableSchema)
        .selectExpr(keys ++ Seq("base", """transform(cs, c -> struct(c.cid as cid,
          |  c.m as m, array_dot(c.m, c.m) as mm,
          |  sqrt(array_dot(c.m, c.m)) as sm)) as cs""".stripMargin): _*)
      (if (keys.isEmpty) q.crossJoin(broadcast(table)) else q.join(broadcast(table), keys))
        .withColumn("best", expr(argmin))
        .selectExpr(("vec_id" +: keys) ++ Seq("xq", "best.cid as cluster", "base"): _*)
    }
    var cells = seeds
    for (_ <- 0 until iters) {
      val sums = assign(cells).selectExpr("base + cluster", "xq").queryExecution.toRdd
        .treeAggregate(new Sums(bases.last))(_.add(_), _.merge(_))
      cells = cells.zip(bases).map { case ((key, ms), b) =>
        key -> ms.indices.map(c => sums.mean(b + c).getOrElse(ms(c))) }
    }
    val centroids = cells.flatMap { case (key, ms) =>
      ms.zipWithIndex.map { case (m, c) => Row.fromSeq(key.toSeq ++ Seq(c.toLong, m)) } }
    (spark.createDataFrame(centroids.asJava, StructType(keyFields ++ centroid)),
      assign(cells).drop("base"))
  }

  /** One Lloyd round's exact per-cluster BIGINT coordinate sums and row
    * counts, by slot. Addition is integer, hence independent of row and
    * partition order; `Math.addExact` raises on overflow as ANSI `sum`
    * does. */
  private final class Sums(slots: Int) extends Serializable {
    private val s = new Array[Array[Long]](slots)
    private val n = new Array[Long](slots)

    /** The slot's sum vector, allocated at the first row's length. */
    private def sums(slot: Int, len: Int): Array[Long] = {
      if (s(slot) == null) s(slot) = new Array[Long](len)
      require(s(slot).length == len,
        s"k-means vectors of one cluster differ in length: $len vs ${s(slot).length}")
      s(slot)
    }

    /** Folds in one `(slot, xq)` row; a null vector contributes nothing. */
    def add(row: InternalRow): Sums = {
      if (!row.isNullAt(1)) {
        val slot = row.getLong(0).toInt
        val xq = row.getArray(1)
        val a = sums(slot, xq.numElements())
        var i = 0
        while (i < a.length) {
          require(!xq.isNullAt(i), "k-means vectors must not hold null elements")
          a(i) = Math.addExact(a(i), xq.getLong(i))
          i += 1
        }
        n(slot) += 1
      }
      this
    }

    def merge(o: Sums): Sums = {
      for (slot <- n.indices if o.n(slot) > 0) {
        val (a, b) = (sums(slot, o.s(slot).length), o.s(slot))
        for (i <- a.indices) a(i) = Math.addExact(a(i), b(i))
        n(slot) = Math.addExact(n(slot), o.n(slot))
      }
      this
    }

    /** The cluster's new centroid; None when no row was assigned to it. */
    def mean(slot: Int): Option[Array[Double]] =
      if (n(slot) == 0) None else Some(s(slot).map(_.toDouble / n(slot).toDouble))
  }

  /** `(keys…, ss, embedding)` rows: each vector exploded into its m
    * contiguous subspace slices. Slicing commutes with the elementwise
    * quantization, so clustering these equals clustering per-subspace
    * slices of the raw vectors. */
  private def explodeSubs(emb: DataFrame, m: Int, d: Int,
                          keys: Seq[String] = Seq("vec_id")): DataFrame =
    emb.selectExpr(keys :+
        s"""explode(transform(sequence(0, ${m - 1}),
           |  s -> struct(cast(s as bigint) as ss,
           |              slice(embedding, cast(s * $d + 1 as int), $d) as e))) as p""".stripMargin: _*)
      .selectExpr(keys ++ Seq("p.ss as ss", "p.e as embedding"): _*)

  /** [[kmeansAssign]] plus a deterministic secondary split of oversized
    * clusters: a cluster of n rows is divided into `⌈n/maxClusterSize⌉`
    * sub-buckets by `vec_id % nsplits` (exact integer arithmetic in both
    * engines, so the split itself hash-gates cross-engine). This is what
    * makes the within-cluster pair join scale-safe: per join key the pair
    * work is bounded by maxClusterSize², so total pair work is
    * ≤ N·maxClusterSize regardless of how skewed the clustering comes out
    * — without it one runaway cluster re-creates the O(N²) shuffle the
    * clustering was supposed to kill. Cluster sizes are a tiny (≤ k rows)
    * aggregate broadcast back onto the assignment, so the split adds no
    * data-sized shuffle. Pairs that straddle two sub-buckets of the same
    * cluster are not compared — the same recall-for-boundedness trade
    * SemDeDup already makes at the cluster boundary, now with a hard
    * per-key ceiling.
    */
  def cappedAssign(emb: DataFrame, k: Int, iters: Int,
                   maxClusterSize: Long): DataFrame = {
    val assigned = kmeansAssign(emb, k, iters)
    if (maxClusterSize <= 0L || maxClusterSize == Long.MaxValue)
      assigned.withColumn("sub", lit(0L))
    else {
      val sizes = assigned.groupBy("cluster").agg(count(lit(1)).as("cn"))
      assigned.join(broadcast(sizes), Seq("cluster"))
        .withColumn("sub",
          expr(s"vec_id % ((cn + ${maxClusterSize - 1}) div $maxClusterSize)"))
        .select("vec_id", "cluster", "sub")
    }
  }

  /** Semantic near-duplicate pairs (the SemDeDup recipe, Abbas et al.
    * 2023, public): cluster the corpus with [[kmeansAssign]], then compare
    * cosine similarity ONLY within each cluster — the pair space shrinks
    * from O(N²) to Σ|cluster|², which is the entire point at 100 TB (the
    * exact all-pairs tier is op_dedup_embedding; this is its sub-quadratic
    * semantic sibling). Cosine runs over the same quantized-exact vectors
    * the clustering used, with the fixed-order array_dot fold, so every
    * pair AND its cosine hash-gate cross-engine.
    *
    * ==The k contract==
    * SemDeDup's economics REQUIRE k to grow with the corpus: Σ|cluster|²
    * ≈ N²/k only beats N² when k ≈ N/targetClusterSize (the paper runs
    * tens of thousands of clusters over billions of docs). A constant k
    * is a scale-killer twice over — the pair space stays quadratic AND
    * the pair join shuffles the whole corpus onto k distinct keys. Use
    * [[semanticPairsAuto]] (k derived from a corpus count) unless you
    * have a principled k, and leave `maxClusterSize` finite so one
    * runaway cluster can't blow past the budget: the [[cappedAssign]]
    * split bounds per-key pair work at maxClusterSize² no matter what
    * the clustering does. Assignment itself is O(k·dim) per row against
    * the broadcast centroid array in the dense form; past k ≈ 10⁴ pass
    * `pruned = true` to [[kmeansAssign]] — the strict norm-bound fold
    * skips the O(dim) dot product for centroids the O(1) Cauchy-Schwarz
    * bound already rules out, with provably identical output
    * (op_embed_kmeans_pruned gates it against the dense oracle).
    */
  def semanticPairs(emb: DataFrame, k: Int = 8, iters: Int = 2,
                    threshold: Double = 0.95,
                    maxClusterSize: Long = Long.MaxValue): DataFrame = {
    val assigned = cappedAssign(emb, k, iters, maxClusterSize)
    val q = emb.selectExpr("vec_id",
        s"transform(embedding, x -> cast(floor(cast(x as double) * $SCALE) as bigint)) as xq")
      .selectExpr("vec_id", "transform(xq, v -> cast(v as double)) as xd")
      .selectExpr("vec_id", "xd", "array_dot(xd, xd) as nn")
      .join(assigned, Seq("vec_id"))
    val a = q.selectExpr("cluster", "sub", "vec_id as va", "xd as xa", "nn as na")
    val b = q.selectExpr("cluster", "sub", "vec_id as vb", "xd as xb", "nn as nb")
    a.join(b, Seq("cluster", "sub"))
      .filter(col("va") < col("vb"))
      .selectExpr("cluster", "va", "vb",
        "array_dot(xa, xb) / (sqrt(na) * sqrt(nb)) as cosine")
      .filter(col("cosine") >= threshold)
      .orderBy("va", "vb")
  }

  /** [[semanticPairs]] with k derived from the corpus size —
    * `k = min(⌈N / targetClusterSize⌉, kCap)` — so the expected cluster
    * size (and with it the pair-join key cardinality) stays constant as
    * the corpus grows, until the CLUSTER-COUNT BUDGET `kCap` binds.
    * Costs one `count()` over the input (a metadata-cheap scan), which
    * is the honest price of sizing k to the data. The default cap of 4×
    * the target keeps moderately oversized clusters intact while still
    * hard-bounding per-key pair work.
    *
    * Cost shape, measured at the r16 sf3 decade: the PAIR stage is
    * linear (cappedAssign bounds per-key pair work at maxClusterSize²),
    * but the ASSIGN stage is O(N·k·dim·iters) — with k tracking
    * N/targetClusterSize that term is quadratic in N (sf3's 60k vectors
    * at target 32 → k = 1875 → 74.5 s, 7.1× sf1 on 3× data; the
    * centroid argmin is the whole cost). `kCap` is what makes the op
    * scale-safe past the fixture decades: once k saturates (default
    * 2¹⁶ — the SemDeDup production shape, a fixed cluster-count budget
    * with cluster SIZE growing alongside the corpus), assign cost is
    * linear in N and maxClusterSize still bounds the pair join. At
    * every gate/bench scale the cap is far from binding, so derived k
    * (and the unrolled Lloyd oracle) are unchanged.
    */
  def semanticPairsAuto(emb: DataFrame, targetClusterSize: Int = 1024,
                        iters: Int = 2, threshold: Double = 0.95,
                        maxClusterSize: Long = 0L,
                        kCap: Int = 1 << 16): DataFrame = {
    require(targetClusterSize > 0, s"need targetClusterSize > 0; got $targetClusterSize")
    require(kCap > 0, s"need kCap > 0; got $kCap")
    val n = emb.count()
    val k = math.min(kCap.toLong,
      math.max(1L, (n + targetClusterSize - 1) / targetClusterSize))
    val cap = if (maxClusterSize > 0L) maxClusterSize else 4L * targetClusterSize
    semanticPairs(emb, k.toInt, iters, threshold, cap)
  }

  /** Product-quantization codebook assignment (Jégou et al., "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011 — public): the
    * `dim`-dimensional embedding splits into `m` contiguous subspaces of
    * dim/m dimensions, each clustered INDEPENDENTLY with the exact
    * deterministic Lloyd recipe of [[kmeansAssign]] (`ksub` centroids per
    * subspace). A vector's code is its per-subspace centroid ids — m small
    * integers replacing dim floats, the compression that makes
    * billion-vector ANN feasible: at dim=1024/m=64/ksub=256 the index is
    * 64 bytes/vector instead of 4 KiB.
    *
    * Output: (vec_id, subspace, code), one row per vector per subspace.
    * Every step inherits kmeansAssign's cross-engine exactness (integer
    * quantization, exact BIGINT centroid sums, fixed-order double
    * distances), so the FULL code table hash-gates against DuckDB running
    * the same m chains independently.
    *
    * Scale shape: all m fits run as ONE subspace-keyed Lloyd chain
    * ([[kmeansFitKeyed]]) — the subspace explode is in-row, assignment is
    * a broadcast join against the m·ksub-row centroid table, and each
    * round's only exchange is the ≤ m·ksub·(dim/m) pre-combined
    * centroid-update rows. Stage count is independent of m, which is what
    * real PQ geometry (m = 8..64) demands.
    */
  def pqCodes(emb: DataFrame, dim: Int = 64, m: Int = 4, ksub: Int = 8,
              iters: Int = 2): DataFrame = {
    require(m > 0 && dim % m == 0, s"need m dividing dim; got dim=$dim m=$m")
    kmeansFitKeyed(explodeSubs(emb, m, dim / m), ksub, iters)._2
      .selectExpr("vec_id", "ss as subspace", "cluster as code")
      .orderBy("vec_id", "subspace")
  }

  // ---- search stages: the top-k entry points below compose these ----

  /** Lloyd-path probe set: each query row of `qq` (a [[quantized]] frame)
    * keeps its `nprobe` nearest cells of `cCells` under the assignment's
    * exact distance tree and `(dist, cid)` tie-break. The centroid side is
    * a kc-row broadcast; the output is `(qid, carry…, cell)`,
    * nQueries·nprobe rows, where `carry` names columns of `qq` that ride
    * along. */
  private def probeSet(qq: DataFrame, cCells: DataFrame, nprobe: Int,
                       carry: Seq[String] = Nil): DataFrame =
    qq.crossJoin(broadcast(cCells.selectExpr("cid", "m", "array_dot(m, m) as mm")))
      .selectExpr(("vec_id as qid" +: carry) ++
        Seq("cid", "xx - 2 * array_dot(xd, m) + mm as dist"): _*)
      .withColumn("pr", row_number().over(
        Window.partitionBy("qid").orderBy(col("dist").asc, col("cid"))))
      .filter(col("pr") <= nprobe)
      .selectExpr(("qid" +: carry) :+ "cid as cell": _*)

  /** The corpus code tuple: one row per vector holding its m codes in
    * subspace order — one groupBy(vec_id), the only data-sized exchange
    * before the final top-k. With a coarse assignment `cAsg` the cell id
    * rides the same groupBy as subspace -1, sorted first, so `codes[0]`
    * is the cell and `codes[s + 1]` the subspace-s code. */
  private def codeTuples(asg: DataFrame, cAsg: Option[DataFrame]): DataFrame = {
    val pq = asg.selectExpr("vec_id", "ss as subspace", "cluster as code")
    cAsg.fold(pq)(c => pq.unionAll(c.selectExpr("vec_id",
        "cast(-1 as bigint) as subspace", "cluster as code")))
      .groupBy("vec_id")
      .agg(expr("transform(array_sort(collect_list(struct(subspace, code)))," +
        " t -> cast(t.code as int))").as("codes"))
  }

  /** ADC lookup tables: `qsub` holds quantized query sub-vectors
    * `(keys…, ss, xd, xx)`; per key, an array by subspace of arrays by
    * centroid id of the terms `x·x − 2·x·m + m·m` against the subspace
    * centroids `cells` — the clustering's own distance tree. ONE shuffle
    * builds each table: the subspace nesting is an in-row regroup of the
    * collected terms (the struct sort is (subspace, cid, …) order, so each
    * subspace's terms come out cid-sorted). */
  private def adcTables(qsub: DataFrame, keys: Seq[String], cells: DataFrame,
                        m: Int): DataFrame =
    qsub.join(broadcast(
        cells.selectExpr("ss", "cid", "m", "array_dot(m, m) as mm")), Seq("ss"))
      .selectExpr(keys ++ Seq("ss as subspace",
        "cid", "xx - 2 * array_dot(xd, m) + mm as term"): _*)
      .groupBy(keys.map(col): _*)
      .agg(expr("array_sort(collect_list(struct(subspace, cid, term)))").as("ps"))
      .selectExpr(keys :+
        s"""transform(sequence(0, ${m - 1}), s ->
           |  transform(filter(ps, p -> p.subspace = s), t -> t.term)) as luts""".stripMargin: _*)

  /** The product quantizer over raw vectors: all m subspace fits as one
    * keyed Lloyd chain ([[kmeansFitKeyed]]) and the ADC tables of the
    * queries (vec_id < nQueries) against them. Returns (assignment,
    * `(qid, luts)`). */
  private def pqFit(emb: DataFrame, m: Int, d: Int, ksub: Int, iters: Int,
                    nQueries: Int): (DataFrame, DataFrame) = {
    val sub = explodeSubs(emb, m, d)
    val (cells, asg) = kmeansFitKeyed(sub, ksub, iters)
    val qsub = quantized(sub, Seq("vec_id", "ss")).filter(col("vec_id") < nQueries)
      .withColumnRenamed("vec_id", "qid")
    (asg, adcTables(qsub, Seq("qid"), cells, m))
  }

  /** Map-only ADC scoring: every corpus code tuple meets every query of
    * the one-row broadcast `qs` (exploded in-row, no join, no shuffle);
    * `keep` narrows the pairs before any distance work, and the distance
    * folds `term` — the table entry of subspace `s` for the row's own
    * code — in subspace order (an exact fixed-order IEEE sum). */
  private def adcScore(codes: DataFrame, qs: DataFrame, m: Int, term: String,
                       keep: DataFrame => DataFrame = identity): DataFrame =
    keep(codes.crossJoin(broadcast(qs))
        .select(col("vec_id").as("nid"), col("codes"), explode(col("qs")).as("q"))
        .filter(expr("q.qid <> nid")))
      .selectExpr("q.qid as qid", "nid",
        s"aggregate(sequence(0, ${m - 1}), cast(0 as double), (a, s) -> a + $term) as dist")

  /** PQ asymmetric-distance top-k (ADC): each query keeps its EXACT
    * sub-vectors and scores a corpus vector by summing, over subspaces,
    * the squared-L2 distance from the query sub-vector to the corpus
    * vector's ASSIGNED CENTROID — the classic PQ search where only
    * queries stay full-precision and the corpus is m codes per vector.
    *
    * Determinism: every per-subspace term is the same `x·x − 2·x·m + m·m`
    * fixed-order tree the clustering uses, and the m terms sum in subspace
    * order via one in-row left fold — so distances AND ranking hash-gate
    * against an independent DuckDB implementation.
    *
    * Scale shape (the part that matters at 10⁹ vectors):
    *  - the lookup tables (query × subspace × ksub term matrix) collapse
    *    to ONE broadcast row — nQueries·m·ksub doubles, KBs;
    *  - the corpus side reduces to its code tuple ([[codeTuples]], the
    *    only data-sized exchange), then scoring is MAP-ONLY
    *    ([[adcScore]]) — no join, no shuffle of scored pairs before the
    *    final per-query top-k;
    *  - the top-k window sees nQueries·N rows; swapping it for
    *    [[VectorOps.TopKAgg]] bounds that too (same contract as
    *    op_sim_topk vs op_sim_topk_agg).
    */
  def pqTopK(emb: DataFrame, dim: Int = 64, m: Int = 4, ksub: Int = 8,
             iters: Int = 2, k: Int = 5, nQueries: Int = 20): DataFrame = {
    require(m > 0 && dim % m == 0, s"need m dividing dim; got dim=$dim m=$m")
    val (asg, luts) = pqFit(emb, m, dim / m, ksub, iters, nQueries)
    val qs = luts.agg(collect_list(struct(col("qid"), col("luts"))).as("qs"))
    VectorOps.topKPerQuery(
      adcScore(codeTuples(asg, None), qs, m, "q.luts[s][codes[s]]"), k, "dist")
  }

  /** Plain-IVF top-k on the exact deterministic Lloyd path — the gated
    * twin of [[VectorOps.cosineTopKIvf]]: the coarse quantizer is
    * [[kmeansFit]] (integer-quantized vectors, exact BIGINT centroid sums,
    * fixed-order double distances), each query probes its `nprobe`
    * nearest cells ([[probeSet]]), and vectors in probed cells are ranked
    * by the EXACT squared-L2 distance in the quantized-double space —
    * every number a fixed-order IEEE computation, so probe sets, the
    * scored pair set, distances and ranks all hash-gate against an
    * independent DuckDB implementation (the same unrolled-CTE recipe as
    * op_sim_topk_ivfpq, minus the PQ codes).
    *
    * Scale shape: the centroid table is a kc-row broadcast; probe sets
    * ride a broadcast of nQueries·nprobe query rows onto the
    * cell-partitioned corpus, so each query scans ~nprobe/kc of the
    * corpus and the only data-sized exchange is the final per-query
    * top-k window.
    */
  def topKIvf(emb: DataFrame, kc: Int = 8, nprobe: Int = 2, iters: Int = 2,
              k: Int = 5, nQueries: Int = 20): DataFrame = {
    require(nprobe > 0 && nprobe <= kc, s"need 0 < nprobe <= kc; got $nprobe/$kc")
    val (cCells, cAsg) = kmeansFit(emb, kc, iters)
    // probe rows carry the query's quantized-double image (the broadcast
    // unit: nQueries·nprobe rows)
    val probe = probeSet(quantized(emb).filter(col("vec_id") < nQueries),
      cCells, nprobe, carry = Seq("xd", "xx"))
    // corpus side: the assignment already carries xq — rebuild the exact
    // double image once, keyed by its cell
    val corpus = cAsg.selectExpr("vec_id as nid",
        "transform(xq, v -> cast(v as double)) as nd", "cluster as cell")
      .selectExpr("nid", "nd", "array_dot(nd, nd) as nx", "cell")
    VectorOps.topKPerQuery(corpus.join(broadcast(probe), Seq("cell"))
      .filter(expr("qid <> nid"))
      // term order matches the oracle exactly: (xx − 2·dot) + nx
      .selectExpr("qid", "nid", "xx - 2 * array_dot(xd, nd) + nx as dist"), k, "dist")
  }

  /** IVF-PQ search (the composite every billion-vector ANN system runs,
    * Jégou et al. TPAMI 2011 §IV): a coarse quantizer (`kc` full-dim
    * k-means cells) restricts each query to its `nprobe` nearest cells,
    * and only vectors IN probed cells are ADC-scored against the PQ
    * codes — the scan shrinks to ~nprobe/kc of the corpus ON TOP of PQ's
    * per-vector compression. This variant codes the original vectors
    * (IVFADC-without-residuals); [[pqTopKIvfRes]] codes residuals.
    *
    * Everything stays exact-deterministic (coarse assignment, probe
    * sets, lookup tables, the subspace-order fold), so the whole result
    * — including which (query, vector) pairs are scored at all —
    * hash-gates against an independent DuckDB implementation.
    *
    * Scale shape, one step past [[pqTopK]]: the corpus row's cell id
    * rides the SAME groupBy(vec_id) as its PQ codes, probe sets ride the
    * one-row query broadcast, and cell filtering is an in-row
    * array_contains BEFORE any distance work — still zero shuffles
    * between the code aggregation and the final per-query top-k.
    */
  def pqTopKIvf(emb: DataFrame, dim: Int = 64, m: Int = 4, ksub: Int = 8,
                kc: Int = 8, nprobe: Int = 2, iters: Int = 2, k: Int = 5,
                nQueries: Int = 20): DataFrame = {
    require(m > 0 && dim % m == 0, s"need m dividing dim; got dim=$dim m=$m")
    require(nprobe > 0 && nprobe <= kc, s"need 0 < nprobe <= kc; got $nprobe/$kc")
    val (cCells, cAsg) = kmeansFit(emb, kc, iters)
    val probe = probeSet(quantized(emb).filter(col("vec_id") < nQueries), cCells, nprobe)
      .groupBy("qid").agg(expr("array_sort(collect_list(cell))").as("probe"))
    val (asg, luts) = pqFit(emb, m, dim / m, ksub, iters, nQueries)
    val qs = luts.join(probe, Seq("qid"))
      .agg(collect_list(struct(col("qid"), col("luts"), col("probe"))).as("qs"))
    VectorOps.topKPerQuery(
      adcScore(codeTuples(asg, Some(cAsg)), qs, m, "q.luts[s][codes[s + 1]]",
        _.filter(expr("array_contains(q.probe, cast(codes[0] as bigint))"))),
      k, "dist")
  }

  /** Residual IVF-PQ — the full IVFADC of Jégou et al. TPAMI 2011 §IV:
    * PQ codebooks are trained on RESIDUALS `x − c(cell)` rather than raw
    * vectors, which is what makes the coarse+fine composite actually
    * precise (residuals concentrate near 0, so ksub centroids cover them
    * far more densely than they cover the raw space). The price is that
    * ADC lookup tables become per-(query, probed cell): the query's
    * residual differs per cell, so each probed cell gets its own m×ksub
    * term table — still nQueries·nprobe·m·ksub doubles, KBs, one
    * broadcast row.
    *
    * Exactness: residuals are computed in the quantized-double space
    * (`(xd − m)/2²⁰` — subtraction and the power-of-two division are
    * exact IEEE) and then re-enter the standard quantize→cluster→ADC
    * pipeline, so corpus codes, probe sets, per-cell tables and the
    * subspace-order fold all hash-gate against an independent DuckDB
    * implementation, same as [[pqTopKIvf]].
    *
    * Scale shape is unchanged from [[pqTopKIvf]]: residual computation is
    * a map-only zip_with against the broadcast (≤ kc-row) centroid table;
    * the cell id rides the same groupBy(vec_id) as the codes; scoring is
    * map-only against the one-row broadcast and a corpus row folds ONLY
    * the table of its own cell (in-row filter, no join).
    */
  def pqTopKIvfRes(emb: DataFrame, dim: Int = 64, m: Int = 4, ksub: Int = 8,
                   kc: Int = 8, nprobe: Int = 2, iters: Int = 2, k: Int = 5,
                   nQueries: Int = 20): DataFrame = {
    require(m > 0 && dim % m == 0, s"need m dividing dim; got dim=$dim m=$m")
    require(nprobe > 0 && nprobe <= kc, s"need 0 < nprobe <= kc; got $nprobe/$kc")
    val d = dim / m

    // The coarse fit runs eagerly (its centroids come back as a local
    // table); its assignment and the residual corpus are localCheckpointed
    // (not persisted), so the m subspace fits, the probe/LUT joins and the
    // code union read materialized rows instead of re-running the argmin.
    // The checkpointed state is tiny-or-one-pass: the (vec_id, cluster)
    // assignment, the residual corpus, the nQueries query rows and the
    // nQueries·nprobe query-residual rows.
    //
    // The query-row cut touches only `emb`, and the per-(query, cell)
    // residuals only the coarse centroids and query rows, so those two
    // run on the side thread ([[Overlap]]) while the driver thread runs the
    // coarse fit and the corpus cuts. Only job submission order depends on
    // the overlap; every checkpoint's content is the same deterministic
    // plan.
    val side = new Overlap(emb.sparkSession.sparkContext)
    side.guard {
      // the quantized QUERY rows — computed once (nQueries rows), reused by
      // the probe set and the per-cell query residuals
      val qqF = side(quantized(emb).filter(col("vec_id") < nQueries).localCheckpoint())
      val (cCells, cAsg0) = kmeansFit(emb, kc, iters)

      // probe set over the ORIGINAL vectors (the coarse index is unchanged),
      // then per-(query, probed cell) residuals — one tiny row each
      val qq = Await.result(qqF, Duration.Inf)
      val qresF = side {
        probeSet(qq, cCells, nprobe)
          .join(qq.selectExpr("vec_id as qid", "xd"), Seq("qid"))
          .join(broadcast(cCells.withColumnRenamed("cid", "cell")), Seq("cell"))
          .selectExpr("qid", "cell",
            s"zip_with(xd, m, (a, b) -> (a - b) / $SCALE) as embedding")
          .localCheckpoint() // nQueries·nprobe rows, read by every subspace LUT chain
      }

      val cAsg = cAsg0.localCheckpoint() // feeds the residuals AND the -1 code union

      // corpus residuals, back in original units: (xd − m)/2²⁰ — both ops
      // exact in IEEE doubles, so both engines derive identical residuals
      val res = cAsg
        .join(broadcast(cCells.withColumnRenamed("cid", "cluster")), Seq("cluster"))
        .selectExpr("vec_id", "cluster as cell",
          s"zip_with(transform(xq, v -> cast(v as double)), m," +
            s" (a, b) -> (a - b) / $SCALE) as embedding")
        .localCheckpoint() // each of the m subspace fits re-reads the residual corpus

      val qres = Await.result(qresF, Duration.Inf)

      // subspace chains over the residual corpus, one keyed fit; ADC tables
      // per (qid, probed cell) — the query residual differs per cell
      val (cells, asg) = kmeansFitKeyed(explodeSubs(res, m, d), ksub, iters)
      val cellKeys = Seq("qid", "cell")
      // broadcast unit: per query, an array of (cell, per-subspace tables)
      val qs = adcTables(quantized(explodeSubs(qres, m, d, cellKeys), cellKeys :+ "ss"),
          cellKeys, cells, m)
        .groupBy("qid")
        .agg(expr("array_sort(collect_list(struct(cell, luts)))").as("cells"))
        .agg(collect_list(struct(col("qid"), col("cells"))).as("qs"))

      // a corpus row folds the table of its OWN cell, if probed
      VectorOps.topKPerQuery(
        adcScore(codeTuples(asg, Some(cAsg)), qs, m, "e[0].luts[s][codes[s + 1]]",
          _.withColumn("e", expr("filter(q.cells, e -> e.cell = cast(codes[0] as bigint))"))
            .filter(size(col("e")) > 0)),
        k, "dist")
    }
  }
}
