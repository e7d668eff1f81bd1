package graft.ops

import org.apache.spark.sql.functions.{col, count, expr, lit, sum, unix_date}

import graft.{QueryDef, Tables}

/** LLM-data-pipeline operators exposed through the driver's correctness
  * gate. Each entry pairs a Spark-first op (TextOps / DedupOps / VectorOps
  * / MultimodalOps) with a DuckDB oracle that mirrors the SAME arithmetic
  * — portable md5-based hashing, sequential array folds for float sums —
  * so results hash-match exactly (comparator does exact float equality).
  *
  * Ops without an SQL-expressible oracle (the approximate IVF scale path)
  * are included without one → the driver records a rows-only check; their
  * quality bound vs the exact baseline is asserted in OpsSpec instead.
  */
object OpQueries {

  // ---- shared DuckDB fragments (mirror TextOps/VectorOps expressions) ----
  private val dkWords = """regexp_split_to_array(lower(trim(text)), '\s+')"""
  private def dkH60(e: String) = s"CAST('0x' || substr(md5($e), 1, 15) AS BIGINT)"
  private def dkShingles(w: String) =
    s"""list_distinct(list_filter(list_transform(range(1, len($w) + 1), i ->
       |  CASE WHEN i + 2 <= len($w) THEN $w[i] || ' ' || $w[i+1] || ' ' || $w[i+2] END),
       |  x -> x IS NOT NULL))""".stripMargin
  /** Ground-truth all-pairs 3-gram Jaccard ≥ thr (shared by the exact op
    * and as the recall oracle of the MinHash+LSH op). Shingles are hashed
    * to 60-bit longs with the same portable md5 formula as the Spark side
    * (DedupOps.shingled) so both engines join/intersect identical key
    * multisets. */
  private def dkJaccard(thr: Double) =
    s"""WITH d AS (SELECT doc_id, $dkWords AS w FROM documents),
       |s0 AS (SELECT doc_id, ${dkShingles("w")} AS sh_txt FROM d),
       |sh AS (SELECT doc_id, unnest(list_transform(sh_txt, x -> ${dkH60("x")})) AS s FROM s0),
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       |i AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
       |      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
       |SELECT doc_a, doc_b, CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard
       |FROM i JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
       |WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= $thr
       |ORDER BY doc_a, doc_b""".stripMargin
  /** vec_id → double vector + squared norm, folded sequentially (same
    * order as Spark's aggregate-over-array). */
  private val dkNormed =
    """e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      |n AS (SELECT vec_id, v,
      |        list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |          list_transform(range(1, len(v) + 1), i -> v[i] * v[i])), (a, b) -> a + b) AS norm
      |      FROM e)""".stripMargin
  private def dkDot(a: String, b: String) =
    s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |  list_transform(range(1, len($a.v) + 1), i -> $a.v[i] * $b.v[i])), (x, y) -> x + y)
       |  / (sqrt($a.norm) * sqrt($b.norm))""".stripMargin

  /** Sign-LSH near-dup oracle: DuckDB re-derives the SAME deterministic
    * MD5 hyperplanes as `VectorOps.hyperplanes` (hex-prefix of
    * md5("p:c") mod 2001, centered, /1000 — every step exact integer
    * arithmetic until one shared double division), re-computes every
    * sign signature with the proven fixed-order dot fold, re-builds the
    * band keys, and brute-forces the candidate join + cosine verify —
    * so WHICH pairs the LSH emits is part of the gate, not just their
    * cosines.
    *
    * The banding is N-ADAPTIVE inside the SQL itself (ADVICE r16): the
    * oracle re-derives (b, r) from COUNT(*) with the SAME rule as
    * `VectorOps.adaptiveBanding` — r integer-exact (smallest r ≥ 8 with
    * n ≤ 32·2^r: a bounded range scan, no floating-point step), b from
    * the shared transcendental formula whose ceil argument sits ≥ 0.01
    * from any integer for r ∈ [8, 62] (OpsSpec boundary-margin sweep)
    * while libm-vs-JVM drift is ≲ 1e-12, so ceil can never flip. Op and
    * oracle
    * therefore stay in lockstep at EVERY fixture size — the sf0.01 gate
    * runs (16, 8), and the same SQL re-derives (23, 10) at sf1 / (27, 11)
    * at sf3, where the adaptive path actually diverges from the legacy
    * fixed scheme. `maxPlanes` statically bounds the plane CTE (the
    * filter `p < b·r` prunes it to the derived count); 4096 covers
    * n beyond 10¹⁹ — far past any fixture. */
  /** The adaptive-banding + deterministic-hyperplane + signature + band-key
    * CTE chain (par, pl, sg, bk) shared by [[dkLshOracle]] and
    * [[dkMarginAnnOracle]] — expects the `$dkNormed` CTEs (e, n) in scope. */
  private def dkRhpBands(dim: Int, maxPlanes: Int = 4096): String =
    s"""par AS (SELECT r,
       |          CAST(CEIL(LN(0.005) /
       |            LN(1.0 - POW(1.0 - ACOS(0.9) / PI(), r))) AS INT) AS b
       |        FROM (SELECT MIN(rr) AS r FROM range(8, 58) t(rr)
       |              WHERE (SELECT COUNT(*) FROM e)
       |                      <= 32 * (CAST(1 AS BIGINT) << rr))),
       |pl AS (SELECT p, list_transform(range(0, $dim), c ->
       |         (CAST(CAST('0x' || substr(md5(p || ':' || c), 1, 15) AS UBIGINT)
       |            % 2001 AS BIGINT) - 1000) / 1000.0) AS pv
       |       FROM range(0, $maxPlanes) t(p), par WHERE p < par.b * par.r),
       |sg AS (SELECT vec_id, p,
       |         list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |           list_transform(range(1, $dim + 1), i -> v[i] * pv[i])),
       |           (x, y) -> x + y) >= 0 AS s
       |       FROM n, pl),
       |bk AS (SELECT vec_id, p // par.r AS b,
       |         string_agg(CASE WHEN s THEN '1' ELSE '0' END, '' ORDER BY p) AS bits
       |       FROM sg, par GROUP BY 1, 2)""".stripMargin

  private def dkLshOracle(thr: Double, dim: Int,
                          maxPlanes: Int = 4096): String = {
    s"""WITH $dkNormed,
       |${dkRhpBands(dim, maxPlanes)},
       |cand AS (SELECT DISTINCT a.vec_id AS ida, b.vec_id AS idb
       |         FROM bk a JOIN bk b ON a.b = b.b AND a.bits = b.bits
       |                            AND a.vec_id < b.vec_id)
       |SELECT c.ida, c.idb, ${dkDot("a", "b")} AS cosine
       |FROM cand c JOIN n a ON a.vec_id = c.ida JOIN n b ON b.vec_id = c.idb
       |WHERE ${dkDot("a", "b")} >= $thr
       |ORDER BY ida, idb""".stripMargin
  }
  /** DuckDB mirror of [[VectorOps.marginAlign]]: the same parity split,
    * the same sequential-fold cosine, directional top-k averages folded
    * in the SAME (cos DESC, id ASC) order (`list(... ORDER BY ...)` +
    * `list_reduce` = [[VectorOps.TopKAgg]]'s finish order), one shared
    * margin division tree, and ROW_NUMBER argmax with the identical
    * (margin DESC, id ASC) tie-break. */
  /** Scoring tail shared by [[dkMarginOracle]] and [[dkMarginAnnOracle]]:
    * expects a CTE `p(a_id, b_id, cosine)` — the pair stream, exact or
    * candidate-mined — already in scope. */
  private def dkMarginTail(k: Int, threshold: Double): String =
    s"""fr AS (SELECT a_id, b_id, cosine,
       |         ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY cosine DESC, b_id) AS rn FROM p),
       |fa AS (SELECT a_id, list(cosine ORDER BY cosine DESC, b_id) AS l
       |       FROM fr WHERE rn <= $k GROUP BY a_id),
       |fav AS (SELECT a_id, list_reduce(list_prepend(CAST(0 AS DOUBLE), l),
       |          (x, y) -> x + y) / len(l) AS avg_a FROM fa),
       |br AS (SELECT a_id, b_id, cosine,
       |         ROW_NUMBER() OVER (PARTITION BY b_id ORDER BY cosine DESC, a_id) AS rn FROM p),
       |ba AS (SELECT b_id, list(cosine ORDER BY cosine DESC, a_id) AS l
       |       FROM br WHERE rn <= $k GROUP BY b_id),
       |bav AS (SELECT b_id, list_reduce(list_prepend(CAST(0 AS DOUBLE), l),
       |          (x, y) -> x + y) / len(l) AS avg_b FROM ba),
       |s AS (SELECT p.a_id, p.b_id, p.cosine,
       |        p.cosine / ((avg_a + avg_b) / CAST(2 AS DOUBLE)) AS margin
       |      FROM p JOIN fav USING (a_id) JOIN bav USING (b_id)),
       |ra AS (SELECT a_id, b_id, cosine, margin,
       |         ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY margin DESC, b_id) AS rn FROM s),
       |rb AS (SELECT a_id, b_id,
       |         ROW_NUMBER() OVER (PARTITION BY b_id ORDER BY margin DESC, a_id) AS rn FROM s)
       |SELECT ra.a_id, ra.b_id, ra.cosine, ra.margin,
       |       CAST(CASE WHEN rb.a_id IS NOT NULL THEN 1 ELSE 0 END AS INT) AS mutual
       |FROM ra LEFT JOIN rb ON ra.a_id = rb.a_id AND ra.b_id = rb.b_id AND rb.rn = 1
       |WHERE ra.rn = 1 AND ra.margin >= $threshold
       |ORDER BY ra.a_id""".stripMargin

  private def dkMarginOracle(k: Int, threshold: Double): String =
    s"""WITH $dkNormed,
       |p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id, ${dkDot("a", "b")} AS cosine
       |      FROM n a JOIN n b ON a.vec_id % 2 = 0 AND b.vec_id % 2 = 1),
       |${dkMarginTail(k, threshold)}""".stripMargin

  /** DuckDB mirror of [[VectorOps.marginAlignAnn]]: re-derives the
    * N-adaptive banding from COUNT(*) and the deterministic md5
    * hyperplanes ([[dkRhpBands]], the dkLshOracle precedent), re-builds
    * every band key, mines the SAME even×odd candidate set, computes
    * exact cosines on candidates only, and runs the identical margin
    * scoring tail — so WHICH pairs were mined is part of the gate, not
    * just their scores. */
  private def dkMarginAnnOracle(k: Int, threshold: Double, dim: Int): String =
    s"""WITH $dkNormed,
       |${dkRhpBands(dim)},
       |cand AS (SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
       |         FROM bk a JOIN bk b ON a.b = b.b AND a.bits = b.bits
       |         WHERE a.vec_id % 2 = 0 AND b.vec_id % 2 = 1),
       |p AS (SELECT c.a_id, c.b_id, ${dkDot("a", "b")} AS cosine
       |      FROM cand c JOIN n a ON a.vec_id = c.a_id JOIN n b ON b.vec_id = c.b_id),
       |${dkMarginTail(k, threshold)}""".stripMargin
  private val dkTopkOracle =
    s"""WITH $dkNormed,
       |p AS (SELECT q.vec_id AS qid, c.vec_id AS nid, ${dkDot("q", "c")} AS cosine
       |      FROM n q JOIN n c ON q.vec_id < 20 AND q.vec_id <> c.vec_id),
       |r AS (SELECT qid, nid, cosine,
       |        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rnk
       |      FROM p)
       |SELECT qid, CAST(rnk AS BIGINT) AS rnk, nid, cosine FROM r
       |WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin
  private val dkSimhash =
    s"""SELECT doc_id,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT), range(0, 60)), (acc, j) ->
       |    acc + CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT), hs),
       |                      (a, h) -> a + ((h >> j) & 1) * 2 - 1) > 0
       |               THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END) AS simhash
       |FROM (SELECT doc_id, list_transform($dkWords, x -> ${dkH60("x")}) AS hs FROM documents)""".stripMargin

  private def docs(s: org.apache.spark.sql.SparkSession, d: String) = Tables.load(s, d, "documents")
  // docsSplit — Tables.splitNormalized applied (r21): ONLY for ops whose
  // head is heavy PER-ROW compute (PII regex, md5 feature-hashing /
  // shingling, Gear chunk hashing) feeding a doc-keyed pipeline. Ops whose
  // head is a cheap tokenize straight into a VOCAB-keyed aggregation were
  // measured WORSE split (up to 2.3x — pmi 0.83→1.90 s, lexical_diversity
  // 0.54→1.05 s): the single-task scan gives MAXIMAL map-side partial
  // aggregation (one vocab-bounded partial instead of 32), so splitting
  // multiplies the shuffle rows. Per-family same-JVM A/B evidence in
  // OPTIMIZATION_r21.md; output order is scan-order-independent for every
  // consumer here (unique doc_id / pair-key sorts).
  private def docsSplit(s: org.apache.spark.sql.SparkSession, d: String) = Tables.loadSplit(s, d, "documents")

  /** DuckDB mirror of [[PipelineOps.importanceWeights]] (B = 256, target
    * = lang 'en'): unigram+bigram md5 buckets in position order, Laplace
    * bucket ratios, the overflow-free (m, e) product fold with exact
    * 2±⁶⁴ shifts, canonical band, (e, m) max, 2³⁰ grid, boost and copy
    * arithmetic — each double op mirrors the Spark expression tree
    * step for step. Ends with CTE `nc(doc_id, n_feats, m, e, w_rel,
    * boost, n_copies)`; consumers append their final SELECT.
    * `rel` is the corpus relation (op_pipeline_mix runs the SAME chain
    * over a `capped` CTE prepended via `extraCtes`). */
  private val dkImportanceCte: String = dkImportanceCteOver("documents")

  /** `w0Sql` override (op_importance_target): rows carry (doc_id, tgt,
    * raw, w) where `tgt`/`raw` say which marginal the row's features
    * feed; only `raw` rows are scored. The default (in-corpus target
    * slice) marks every row raw and tgt by the shared predicate —
    * SUM(raw) then equals the old COUNT(*) exactly. */
  private def dkImportanceCteOver(rel: String, extraCtes: String = "",
                                  w0Sql: Option[String] = None): String = {
    // ADVICE r19: both sides of the gate read PipelineOps' constants —
    // the oracle cannot drift from the Spark defaults.
    val b = PipelineOps.DefaultBuckets
    val w0 = w0Sql.getOrElse(
      s"SELECT doc_id, (${PipelineOps.DefaultTargetPred}) AS tgt, TRUE AS raw, $dkWords AS w FROM $rel")
    s"""WITH ${extraCtes}w0 AS ($w0),
       |f AS (SELECT doc_id, tgt, raw,
       |        list_concat(
       |          list_transform(w, x -> ${dkH60("x")} % $b),
       |          list_filter(list_transform(range(1, len(w) + 1), i ->
       |            CASE WHEN i + 1 <= len(w)
       |                 THEN ${dkH60("w[i] || ' ' || w[i+1]")} % $b END),
       |            x -> x IS NOT NULL)) AS fb
       |      FROM w0),
       |mg AS (SELECT bu, SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS c_tgt,
       |         SUM(CASE WHEN raw THEN 1 ELSE 0 END) AS c_raw
       |       FROM (SELECT tgt, raw, unnest(fb) AS bu FROM f) GROUP BY bu),
       |tt AS (SELECT SUM(c_tgt) AS t_tot, SUM(c_raw) AS r_tot FROM mg),
       |rb AS (SELECT r.bu,
       |         (CAST(COALESCE(mg.c_tgt, 0) + 1 AS DOUBLE) / CAST(t_tot + $b AS DOUBLE))
       |         / (CAST(COALESCE(mg.c_raw, 0) + 1 AS DOUBLE) / CAST(r_tot + $b AS DOUBLE)) AS ratio
       |       FROM range(0, $b) r(bu) LEFT JOIN mg ON mg.bu = r.bu, tt),
       |ra AS (SELECT list(ratio ORDER BY bu) AS arr FROM rb),
       |wt0 AS (SELECT doc_id, CAST(len(fb) AS BIGINT) AS n_feats,
       |          -- only raw (corpus) rows are scored; target-seed rows
       |          -- exist solely for the marginals
       |          list_reduce(list_prepend({'m': CAST(1.0 AS DOUBLE), 'e': CAST(0 AS BIGINT)},
       |            list_transform(fb, x -> {'m': arr[CAST(x AS INT) + 1], 'e': CAST(0 AS BIGINT)})),
       |            (a, x) -> CASE
       |              WHEN a.m * x.m >= 1.8446744073709552E19
       |                THEN {'m': (a.m * x.m) * 5.421010862427522E-20, 'e': a.e + CAST(1 AS BIGINT)}
       |              WHEN a.m * x.m < 5.421010862427522E-20
       |                THEN {'m': (a.m * x.m) * 1.8446744073709552E19, 'e': a.e - CAST(1 AS BIGINT)}
       |              ELSE {'m': a.m * x.m, 'e': a.e} END) AS me
       |        FROM f, ra WHERE raw),
       |wt AS (SELECT doc_id, n_feats,
       |         CASE WHEN me.m < 1.0
       |              THEN {'m': me.m * 1.8446744073709552E19, 'e': me.e - CAST(1 AS BIGINT)}
       |              ELSE me END AS c
       |       FROM wt0),
       |mx AS (SELECT MAX({'e': c.e, 'm': c.m}) AS mm FROM wt),
       |wr AS (SELECT doc_id, n_feats, c.m AS m, c.e AS e,
       |         CASE WHEN c.e - mm.e = 0 THEN c.m / mm.m
       |              WHEN c.e - mm.e = -1 THEN (c.m / mm.m) * 5.421010862427522E-20
       |              ELSE 0.0 END AS w_rel
       |       FROM wt, mx),
       |wi AS (SELECT doc_id, n_feats, m, e, w_rel,
       |         CAST(floor(w_rel * 1073741824.0) AS BIGINT) AS w_int FROM wr),
       |sw AS (SELECT SUM(w_int) AS s_w, COUNT(*) AS n_docs FROM wi),
       |bo AS (SELECT doc_id, n_feats, m, e, w_rel,
       |         CAST(w_int AS DOUBLE) * CAST(n_docs AS DOUBLE) / CAST(s_w AS DOUBLE) AS boost
       |       FROM wi, sw),
       |nc AS (SELECT doc_id, n_feats, m, e, w_rel, boost,
       |         CAST(floor(boost) AS BIGINT)
       |           + CAST((${dkH60("CAST(doc_id AS VARCHAR)")} % 1048576)
       |                    / 1048576.0 < boost - floor(boost) AS BIGINT) AS n_copies
       |       FROM bo)""".stripMargin
  }

  private val dkImportanceWeightsTail: String =
    "SELECT doc_id, n_feats, m, e, w_rel, boost, n_copies FROM nc ORDER BY doc_id"

  /** Deterministic planted PII (the fixture text has none) — the SAME
    * per-doc_id construction in Spark and DuckDB syntax. */
  private val plantPiiSpark: String =
    """concat(text,
      |  case when doc_id % 3 <> 0
      |       then concat(' contact user', cast(doc_id as string), '@mail.example.com')
      |       else '' end,
      |  case when doc_id % 2 = 0
      |       then concat(' from 10.', cast(doc_id % 256 as string), '.0.', cast(doc_id % 100 as string))
      |       else '' end,
      |  case when doc_id % 5 = 0
      |       then concat(' call +1415555', lpad(cast(doc_id % 10000 as string), 4, '0'))
      |       else '' end) as text""".stripMargin
  // NOTE: this fragment interpolates into stripMargin'd oracle templates —
  // no line may begin with (whitespace +) '|', so `||` never starts a line.
  private val plantPiiDuck: String =
    "text || " +
      "CASE WHEN doc_id % 3 <> 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com' ELSE '' END || " +
      "CASE WHEN doc_id % 2 = 0 THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.' || CAST(doc_id % 100 AS VARCHAR) ELSE '' END || " +
      "CASE WHEN doc_id % 5 = 0 THEN ' call +1415555' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END"
  /** DuckDB mirror of [[PipelineOps.curate]] as COMPOSABLE CTEs (names
    * cu_-prefixed so they never clash with the importance chain's), ending
    * in `curated(doc_id, clean_text, n_cut, n_kept)` — op_pipeline_curate
    * appends a bare SELECT, op_pipeline_full feeds `curated` into the cap
    * + DSIR chain. `srcT` is the pre-scrub text expression over a
    * documents row (plain `text`, or the PII plant). */
  private def dkCurateCtes(srcT: String): String = {
    val stop = "('the','a','of','and','to','in','is','it')"
    def sh(src: String) =
      s"""SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
         |       ${dkH60("array_to_string(w[i:i+7], ' ')")} AS fp
         |FROM $src, unnest(range(1, len(w) - 8 + 2)) AS t(i)
         |WHERE len(w) >= 8""".stripMargin
    s"""cu_p AS (SELECT doc_id, $srcT AS t FROM documents),
       |cu_scr AS (SELECT doc_id, ${dkScrub("t")} AS text FROM cu_p),
       |cu_w0 AS (SELECT doc_id, text, $dkWords AS w FROM cu_scr),
       |cu_keepq AS (SELECT doc_id FROM cu_w0 WHERE
       |  (1.0 - CAST(len(list_filter(w, x -> x IN $stop)) AS DOUBLE) / len(w))
       |  * (1.0 - CAST(length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g')) AS DOUBLE) / length(text))
       |  * least(CAST(len(w) AS DOUBLE) / 100.0, 1.0) >= 0.25),
       |cu_cand0 AS (SELECT cu_w0.doc_id, cu_w0.w FROM cu_w0 JOIN cu_keepq USING (doc_id)
       |          WHERE doc_id % 7 <> 0),
       |cu_bench0 AS (SELECT doc_id, w FROM cu_w0 WHERE doc_id % 7 = 0),
       |cu_shc AS (${sh("cu_cand0")}),
       |cu_ref AS (SELECT DISTINCT fp FROM (${sh("cu_bench0")})),
       |cu_cut AS (SELECT DISTINCT cu_shc.doc_id, u.t
       |        FROM cu_shc, unnest(range(cu_shc.pos, cu_shc.pos + 8)) AS u(t)
       |        WHERE cu_shc.fp IN (SELECT fp FROM cu_ref)),
       |cu_tok AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS t, w[i] AS tokn
       |        FROM cu_cand0, unnest(range(1, len(w) + 1)) AS v(i)),
       |cu_reb AS (SELECT cu_tok.doc_id,
       |          string_agg(cu_tok.tokn, ' ' ORDER BY cu_tok.t) AS clean_text,
       |          COUNT(*) AS n_kept
       |        FROM cu_tok ANTI JOIN cu_cut ON cu_cut.doc_id = cu_tok.doc_id AND cu_cut.t = cu_tok.t
       |        GROUP BY cu_tok.doc_id),
       |cu_fin AS (SELECT c.doc_id, COALESCE(cu_reb.clean_text, '') AS clean_text,
       |          CAST(len(c.w) - COALESCE(cu_reb.n_kept, 0) AS BIGINT) AS n_cut,
       |          CAST(COALESCE(cu_reb.n_kept, 0) AS BIGINT) AS n_kept
       |        FROM cu_cand0 c LEFT JOIN cu_reb ON cu_reb.doc_id = c.doc_id),
       |cu_ded AS (SELECT cu_fin.*, MIN(doc_id) OVER (PARTITION BY clean_text) AS keeper FROM cu_fin),
       |curated AS (SELECT doc_id, clean_text, n_cut, n_kept
       |            FROM cu_ded WHERE doc_id = keeper)""".stripMargin
  }

  /** Deterministic line structure planted identically in both engines for
    * op_gopher_repetition (the single-line fixture would leave the line
    * metrics degenerate): every ' part ' becomes a newline, and every
    * third document gains the same trailer line twice — real duplicate
    * lines for the dup-line signals. */
  private val plantLinesSpark: String =
    """concat(replace(text, ' part ', '\n'),
      |  case when doc_id % 3 = 0
      |       then '\nend of section\nend of section' else '' end)""".stripMargin
  // (same stripMargin caveat as plantPiiDuck: no line starts with '|')
  private val plantLinesDuck: String =
    "replace(text, ' part ', chr(10)) || " +
      "CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'end of section' || chr(10) || 'end of section' ELSE '' END"

  /** Deterministic sentence/line structure planted identically in both
    * engines for op_c4_filter (the raw fixture has no punctuation, so
    * every C4 signal would be degenerate): the doc gains a final period,
    * every ' part value ' becomes a sentence boundary + newline, every
    * remaining ' part ' a bare newline (lines WITHOUT terminal
    * punctuation — the ones C4's line filter drops), and two planted
    * page-level blacklist trailers (boilerplate marker / code brace). */
  private val plantC4Spark: String =
    """concat(
      |  replace(replace(replace(concat(text, '.'), ' table ', '. '), ' part ', '.\n'), ' row ', '\n'),
      |  case when doc_id % 4 = 0
      |       then '\nlorem ipsum dolor sit amet boilerplate trailer line.' else '' end,
      |  case when doc_id % 7 = 0
      |       then '\nconst data = { a: 1 }; this code line still has many words.' else '' end)""".stripMargin
  // (same stripMargin caveat as plantPiiDuck: no line starts with '|')
  private val plantC4Duck: String =
    "replace(replace(replace(text || '.', ' table ', '. '), ' part ', '.' || chr(10)), ' row ', chr(10)) || " +
      "CASE WHEN doc_id % 4 = 0 THEN chr(10) || 'lorem ipsum dolor sit amet boilerplate trailer line.' ELSE '' END || " +
      "CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'const data = { a: 1 }; this code line still has many words.' ELSE '' END"

  /** DuckDB mirror of [[TextOps.c4Filter]] over the sentence-planted text:
    * identical line filter (trim → word count + terminal punctuation),
    * sentence counting via translate-stripping, blacklist check on the
    * ORIGINAL text, and the same re-joined clean text. */
  private def dkC4Oracle: String = {
    val (minWords, minSentences) = TextOps.c4Thresholds
    s"""WITH d AS (SELECT doc_id, $plantC4Duck AS text FROM documents),
       |k AS (SELECT doc_id, text,
       |        len(string_split(text, chr(10))) AS n_lines,
       |        COALESCE(array_to_string(list_filter(string_split(text, chr(10)), l ->
       |          len(regexp_split_to_array(trim(l), '\\s+')) >= $minWords
       |          AND right(trim(l), 1) IN ('.', '!', '?')), chr(10)), '') AS clean_text
       |      FROM d),
       |f AS (SELECT doc_id, n_lines, clean_text,
       |        CAST(length(clean_text) - length(translate(clean_text, '.!?', '')) AS BIGINT) AS n_sentences,
       |        CAST(lower(text) LIKE '%lorem ipsum%' OR contains(text, '{') AS INT) AS has_blacklist
       |      FROM k)
       |SELECT doc_id, CAST(n_lines AS BIGINT) AS n_lines,
       |  CAST(CASE WHEN clean_text = '' THEN 0
       |            ELSE len(string_split(clean_text, chr(10))) END AS BIGINT) AS kept_lines,
       |  n_sentences, has_blacklist,
       |  CAST(n_sentences >= $minSentences AND has_blacklist = 0 AS INT) AS keep,
       |  clean_text
       |FROM f ORDER BY doc_id""".stripMargin
  }

  /** DuckDB mirror of [[TextOps.cdcChunks]]: the same boundary rule — the
    * Gear hash of the trailing `w`-gram ≡ 0 mod `m`, with the 256-entry
    * table re-DERIVED here from md5 of each byte value and the gram hash
    * computed as a `list_reduce` fold of `(2·h + G[cp % 256]) % 2^60` over
    * the gram's code points (exactly the fold the Spark `cdc_bounds`
    * kernel computes with an O(1) rolling update) — then the same bounds
    * assembly and span slicing; the chunk ordinal re-derives via
    * ROW_NUMBER over the span start — the order Spark's posexplode
    * preserves. */
  private def dkCdcCtes(w: Int, m: Int, textDuck: String = "text"): String = {
    val gearFold =
      s"""list_reduce(
         |            list_prepend(CAST(0 AS BIGINT),
         |              list_transform(range(i - ${w - 1}, i + 1), j ->
         |                g[(unicode(substr(text, CAST(j AS INT), 1)) % 256) + 1])),
         |            (a, x) -> (2 * a + x) % 1152921504606846976)""".stripMargin
    s"""WITH gt AS (SELECT list_transform(range(0, 256), b ->
       |              CAST('0x' || substr(md5(CAST(b AS VARCHAR)), 1, 15) AS BIGINT)) AS g),
       |b AS (SELECT doc_id, text, length(text) AS n FROM
       |        (SELECT doc_id, $textDuck AS text FROM documents)),
       |p AS (SELECT doc_id, text, n,
       |        list_filter(list_transform(range($w, n + 1), i ->
       |          CASE WHEN $gearFold % $m = 0
       |               THEN i END),
       |          x -> x IS NOT NULL) AS pos
       |      FROM b, gt),
       |bd AS (SELECT doc_id, text,
       |         list_concat(list_concat([CAST(0 AS BIGINT)], pos), [CAST(n AS BIGINT)]) AS bounds
       |       FROM p),
       |sp AS (SELECT doc_id, text, bounds[k] AS prev, bounds[k + 1] AS nxt
       |       FROM bd, unnest(range(1, len(bounds))) AS t(k)
       |       WHERE bounds[k + 1] > bounds[k]),
       |c AS (SELECT doc_id, prev, nxt,
       |        ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY prev) AS chunk_idx,
       |        substr(text, CAST(prev + 1 AS INT), CAST(nxt - prev AS INT)) AS chunk_text
       |      FROM sp)""".stripMargin
  }

  private def dkCdcOracle(w: Int, m: Int): String =
    s"""${dkCdcCtes(w, m)}
       |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       |  CAST(prev + 1 AS BIGINT) AS chunk_start,
       |  CAST(nxt - prev AS BIGINT) AS chunk_len,
       |  ${dkH60("chunk_text")} AS chunk_hash, chunk_text
       |FROM c ORDER BY doc_id, chunk_idx""".stripMargin

  /** The shared-paragraph plant for op_cdc_dedup: every third document
    * carries the same ~120-char trailer, so cross-document duplicate
    * chunks provably exist and the dedup attribution path is exercised
    * (the plantC4 pattern — identical expression in both engines). */
  private val plantCdcSpark: String =
    "concat(text, case when doc_id % 3 = 0 then" +
      " ' the quick brown fox jumps over the lazy dog while the shared boilerplate" +
      " trailer paragraph repeats verbatim across documents. ' else '' end)"
  private val plantCdcDuck: String =
    "text || CASE WHEN doc_id % 3 = 0 THEN" +
      " ' the quick brown fox jumps over the lazy dog while the shared boilerplate" +
      " trailer paragraph repeats verbatim across documents. ' ELSE '' END"

  /** DuckDB mirror of [[TextOps.cdcDedup]]: same chunk chain over the
    * trailer-planted text, canonical owner via ROW_NUMBER over
    * (doc_id, chunk_idx) within a chunk hash — the order Spark's
    * struct-min picks — then the per-doc integer rollup. */
  private def dkCdcDedupOracle(w: Int, m: Int): String =
    s"""${dkCdcCtes(w, m, plantCdcDuck)},
       |ck AS (SELECT doc_id, chunk_idx,
       |         CAST(nxt - prev AS BIGINT) AS chunk_len,
       |         ${dkH60("chunk_text")} AS chunk_hash
       |       FROM c),
       |rn AS (SELECT doc_id, chunk_len,
       |         ROW_NUMBER() OVER (PARTITION BY chunk_hash
       |                            ORDER BY doc_id, chunk_idx) AS rn
       |       FROM ck)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
       |  CAST(SUM(chunk_len) AS BIGINT) AS total_len,
       |  CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_chunks,
       |  CAST(SUM(CASE WHEN rn > 1 THEN chunk_len ELSE 0 END) AS BIGINT) AS dup_len
       |FROM rn GROUP BY 1 ORDER BY doc_id""".stripMargin

  /** DuckDB mirror of [[SketchOps.kmvDistinct]]: identical hash, rank
    * filter, k-th-min extraction and the ONE-multiply-one-divide
    * estimator tree. `valueDuck` must mirror the Spark-side valueExpr. */
  private def dkKmvOracle(k: Int, valueDuck: String): String =
    s"""WITH d AS (SELECT event_type AS grp,
       |             ${dkH60(valueDuck)} AS h
       |           FROM events GROUP BY 1, 2),
       |r AS (SELECT grp, h, ROW_NUMBER() OVER (PARTITION BY grp ORDER BY h) AS rn FROM d),
       |sk AS (SELECT grp, MAX(h) AS kth_hash, CAST(COUNT(*) AS BIGINT) AS n_kept
       |       FROM r WHERE rn <= $k GROUP BY 1),
       |x AS (SELECT event_type AS grp, CAST(COUNT(DISTINCT $valueDuck) AS BIGINT) AS n_exact
       |      FROM events GROUP BY 1)
       |SELECT grp, n_exact, n_kept, kth_hash,
       |  CASE WHEN n_kept < $k THEN CAST(n_kept AS DOUBLE)
       |       ELSE CAST(${k - 1} AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)
       |            / CAST(kth_hash AS DOUBLE) END AS est_distinct
       |FROM sk JOIN x USING (grp) ORDER BY grp""".stripMargin

  /** DuckDB mirror of [[SketchOps.amsF2]]: identical h60 signs, exact
    * integer counters, the same mean-of-squares tree. */
  private def dkAmsOracle(r: Int, valueDuck: String): String =
    s"""WITH h AS (SELECT event_type AS grp, ${dkH60(valueDuck)} AS h FROM events),
       |sg AS (SELECT grp, j, CAST(SUM(((h >> j) & 1) * 2 - 1) AS BIGINT) AS s
       |       FROM h, unnest(range(0, $r)) AS t(j) GROUP BY 1, 2),
       |e AS (SELECT grp, CAST(SUM(s * s) AS BIGINT) AS ss FROM sg GROUP BY 1),
       |x AS (SELECT grp, CAST(SUM(c * c) AS BIGINT) AS f2_exact FROM
       |        (SELECT event_type AS grp, $valueDuck AS v, COUNT(*) AS c
       |         FROM events GROUP BY 1, 2) GROUP BY 1)
       |SELECT grp, f2_exact, CAST(ss AS DOUBLE) / $r AS f2_est
       |FROM x JOIN e USING (grp) ORDER BY grp""".stripMargin

  /** DuckDB mirror of [[SketchOps.quantileHist]]: identical clamp/floor
    * bucket rule, per-group cumulative window, first-bucket-at-⌈q·n⌉
    * selection and edge reconstruction. */
  private def dkQuantileHistOracle(lo: Double, hi: Double, nb: Int,
                                   qs: Seq[Double]): String = {
    val loD = s"CAST($lo AS DOUBLE)"
    val step = s"((CAST($hi AS DOUBLE)) - ($loD)) / $nb"
    val bAggs = qs.zipWithIndex.map { case (q, i) =>
      s"MIN(CASE WHEN cum >= ceil(CAST($q AS DOUBLE) * n) THEN bucket END) AS b$i" }.mkString(",\n       |        ")
    val ests = qs.zipWithIndex.map { case (q, i) =>
      s"($loD) + (b$i + 1) * ($step) AS p${(q * 100).round}_est" }.mkString(",\n       |  ")
    s"""WITH h AS (SELECT event_type AS grp,
       |             least(greatest(CAST(floor((value - ($loD)) / ($step)) AS BIGINT), 0), ${nb - 1}) AS bucket,
       |             COUNT(*) AS c
       |           FROM events GROUP BY 1, 2),
       |cm AS (SELECT grp, bucket, c,
       |         SUM(c) OVER (PARTITION BY grp ORDER BY bucket) AS cum,
       |         SUM(c) OVER (PARTITION BY grp) AS n
       |       FROM h),
       |a AS (SELECT grp, CAST(MAX(n) AS BIGINT) AS n_rows,
       |        $bAggs
       |      FROM cm GROUP BY 1)
       |SELECT grp, n_rows,
       |  $ests
       |FROM a ORDER BY grp""".stripMargin
  }

  /** DuckDB mirror of [[TextOps.gopherRepetition]] over the line-planted
    * text: identical splits, integer aggregates and division trees, with
    * the top-2-gram tie broken by (count DESC, gram ASC) — the same row
    * the Spark side's struct-min picks. */
  private def dkGopherOracle: String = {
    val (maxDupLine, maxDupLineChar, maxTop2, maxDup5) = TextOps.gopherThresholds
    s"""WITH d AS (SELECT doc_id, $plantLinesDuck AS text FROM documents),
       |b AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n_chars FROM d),
       |l AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM b),
       |lc AS (SELECT doc_id, line, COUNT(*) AS c FROM l GROUP BY 1, 2),
       |ls AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_lines,
       |         CAST(SUM(c - 1) AS BIGINT) AS dup_lines,
       |         CAST(SUM((c - 1) * length(line)) AS BIGINT) AS dup_line_chars
       |       FROM lc GROUP BY 1),
       |w AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS w FROM b),
       |g2 AS (SELECT doc_id, w[i] || ' ' || w[i+1] AS g
       |       FROM w, unnest(range(1, len(w))) AS t(i)),
       |c2 AS (SELECT doc_id, g, COUNT(*) AS c FROM g2 GROUP BY 1, 2),
       |t2 AS (SELECT doc_id, c * length(g) AS top2_chars FROM (
       |         SELECT doc_id, g, c,
       |                ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c DESC, g) AS rn
       |         FROM c2) WHERE rn = 1),
       |g5 AS (SELECT doc_id,
       |         w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] AS g
       |       FROM w, unnest(range(1, len(w) - 3)) AS t(i)),
       |c5 AS (SELECT doc_id, g, COUNT(*) AS c FROM g5 GROUP BY 1, 2),
       |d5 AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n5,
       |         CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup5
       |       FROM c5 GROUP BY 1),
       |f AS (SELECT b.doc_id, ls.n_lines,
       |        CAST(ls.dup_lines AS DOUBLE) / ls.n_lines AS dup_line_frac,
       |        CAST(ls.dup_line_chars AS DOUBLE) / b.n_chars AS dup_line_char_frac,
       |        COALESCE(CAST(t2.top2_chars AS DOUBLE) / b.n_chars, 0.0) AS top_2gram_char_frac,
       |        COALESCE(CAST(d5.dup5 AS DOUBLE) / d5.n5, 0.0) AS dup_5gram_frac
       |      FROM b JOIN ls USING (doc_id)
       |      LEFT JOIN t2 USING (doc_id) LEFT JOIN d5 USING (doc_id))
       |SELECT doc_id, n_lines, dup_line_frac, dup_line_char_frac,
       |       top_2gram_char_frac, dup_5gram_frac,
       |       CAST(dup_line_frac <= $maxDupLine
       |            AND dup_line_char_frac <= $maxDupLineChar
       |            AND top_2gram_char_frac <= $maxTop2
       |            AND dup_5gram_frac <= $maxDup5 AS INT) AS keep
       |FROM f ORDER BY doc_id""".stripMargin
  }

  /** DuckDB mirror of [[TextOps.piiScrub]]'s sequential replacement. */
  private def dkScrub(c: String): String = {
    val Seq((_, ePat, eRep), (_, iPat, iRep), (_, pPat, pRep)) = TextOps.piiPatterns
    s"""regexp_replace(regexp_replace(regexp_replace($c,
       |    '$ePat', '$eRep', 'g'), '$iPat', '$iRep', 'g'), '$pPat', '$pRep', 'g')""".stripMargin
  }
  // emb stays on the raw load: the embedding ops are Lloyd-round-loop
  // shaped (cheap per-row quantize, serial broadcast rounds) and the
  // split measured 1.3-1.5x WORSE through the real entry points — more
  // scan partitions mean more near-empty tasks per round, the exact
  // inverse of the cached-plan-coalescing win (r21 splitab A/B)
  private def emb(s: org.apache.spark.sql.SparkSession, d: String) = Tables.load(s, d, "embeddings")

  val defs: Seq[QueryDef] = Seq(
    QueryDef("op_text_stats",
      (s, d) => TextOps.textStats(docs(s, d)).orderBy("doc_id"),
      Some(s"""WITH w0 AS (SELECT doc_id, text, $dkWords AS w FROM documents),
              |s AS (SELECT doc_id,
              |  CAST(len(w) AS BIGINT) AS n_words,
              |  CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct_words,
              |  CAST(length(text) AS BIGINT) AS n_chars,
              |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS n_tokens_bpe,
              |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(w, x -> length(x))), (a, b) -> a + b) AS DOUBLE) / len(w) AS avg_word_len,
              |  CAST(len(list_filter(w, x -> x IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE) / len(w) AS stopword_ratio,
              |  CAST(length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g')) AS DOUBLE) / length(text) AS punct_ratio
              |FROM w0)
              |SELECT doc_id, n_words, n_distinct_words, n_chars, n_tokens_bpe,
              |       avg_word_len, stopword_ratio, punct_ratio,
              |       (1.0 - stopword_ratio) * (1.0 - punct_ratio) * least(CAST(n_words AS DOUBLE) / 100.0, 1.0) AS quality_score
              |FROM s ORDER BY doc_id""".stripMargin)),

    QueryDef("op_lang_id",
      (s, d) => TextOps.langId(docs(s, d)).orderBy("doc_id"),
      Some(s"""WITH w0 AS (SELECT doc_id, $dkWords AS w FROM documents),
              |s AS (SELECT doc_id,
              |  CAST(len(list_filter(w, x -> x IN ('the','a','of','and','to','is'))) AS BIGINT) AS score_en,
              |  CAST(len(list_filter(w, x -> x IN ('le','la','les','et','une','est'))) AS BIGINT) AS score_fr,
              |  CAST(len(list_filter(w, x -> x IN ('el','los','las','y','que','es'))) AS BIGINT) AS score_es,
              |  CAST(len(list_filter(w, x -> x IN ('der','die','das','und','ist','ein'))) AS BIGINT) AS score_de,
              |  CAST(len(list_filter(w, x -> x IN ('的','是','了','在','我','有'))) AS BIGINT) AS score_zh
              |FROM w0)
              |SELECT doc_id, score_en, score_fr, score_es, score_de, score_zh,
              |  CASE
              |    WHEN score_en >= score_fr AND score_en >= score_es AND score_en >= score_de AND score_en >= score_zh THEN 'en'
              |    WHEN score_fr >= score_es AND score_fr >= score_de AND score_fr >= score_zh THEN 'fr'
              |    WHEN score_es >= score_de AND score_es >= score_zh THEN 'es'
              |    WHEN score_de >= score_zh THEN 'de'
              |    ELSE 'zh'
              |  END AS lang_pred
              |FROM s ORDER BY doc_id""".stripMargin)),

    // Language-ID confusion matrix vs the labeled lang column: the
    // classifier audit (per-cell counts, row totals, recall share) —
    // all-integer + one division, hash-gated against the same scorer
    // re-derived in SQL.
    QueryDef("op_lang_confusion",
      (s, d) => TextOps.langConfusion(docs(s, d)),
      Some(s"""WITH w0 AS (SELECT doc_id, lang, $dkWords AS w FROM documents),
              |s AS (SELECT doc_id, lang,
              |  CAST(len(list_filter(w, x -> x IN ('the','a','of','and','to','is'))) AS BIGINT) AS score_en,
              |  CAST(len(list_filter(w, x -> x IN ('le','la','les','et','une','est'))) AS BIGINT) AS score_fr,
              |  CAST(len(list_filter(w, x -> x IN ('el','los','las','y','que','es'))) AS BIGINT) AS score_es,
              |  CAST(len(list_filter(w, x -> x IN ('der','die','das','und','ist','ein'))) AS BIGINT) AS score_de,
              |  CAST(len(list_filter(w, x -> x IN ('的','是','了','在','我','有'))) AS BIGINT) AS score_zh
              |FROM w0),
              |p AS (SELECT doc_id, lang AS lang_true,
              |  CASE
              |    WHEN score_en >= score_fr AND score_en >= score_es AND score_en >= score_de AND score_en >= score_zh THEN 'en'
              |    WHEN score_fr >= score_es AND score_fr >= score_de AND score_fr >= score_zh THEN 'fr'
              |    WHEN score_es >= score_de AND score_es >= score_zh THEN 'es'
              |    WHEN score_de >= score_zh THEN 'de'
              |    ELSE 'zh'
              |  END AS lang_pred
              |FROM s),
              |c AS (SELECT lang_true, lang_pred, CAST(COUNT(*) AS BIGINT) AS cnt
              |      FROM p GROUP BY 1, 2),
              |t AS (SELECT lang_true, CAST(SUM(cnt) AS BIGINT) AS n_true FROM c GROUP BY 1)
              |SELECT c.lang_true, c.lang_pred, c.cnt, t.n_true,
              |  CAST(c.cnt AS DOUBLE) / CAST(t.n_true AS DOUBLE) AS share
              |FROM c JOIN t USING (lang_true)
              |ORDER BY c.lang_true, c.lang_pred""".stripMargin)),

    QueryDef("op_fingerprint",
      (s, d) => TextOps.fingerprint(docs(s, d)).orderBy("doc_id"),
      Some(s"""SELECT doc_id,
              |  list_reduce(list_prepend(CAST(0 AS BIGINT),
              |    list_transform($dkWords, x -> ${dkH60("x")} % 2147483647)),
              |    (a, b) -> (a * 31 + b) % 2147483647) AS fingerprint
              |FROM documents ORDER BY doc_id""".stripMargin)),

    QueryDef("op_simhash",
      (s, d) => TextOps.simhash(docs(s, d)).orderBy("doc_id"),
      Some(s"$dkSimhash ORDER BY doc_id")),

    // Feature-hashing embedding (hashing trick): integer bucket counts —
    // exact cross-engine equality, no float tolerance needed.
    QueryDef("op_feature_hash",
      (s, d) => TextOps.featureHashEmbed(docs(s, d), 64),
      Some(s"""WITH tok AS (SELECT doc_id, unnest(list_transform($dkWords, x -> ${dkH60("x")})) AS h
              |            FROM documents),
              |agg AS (SELECT doc_id, h % 64 AS dim,
              |          SUM(CASE WHEN (h >> 59) & 1 = 1 THEN 1 ELSE -1 END) AS v
              |        FROM tok GROUP BY 1, 2),
              |dims AS (SELECT doc_id, unnest(range(0, 64)) AS dim FROM documents)
              |SELECT dims.doc_id, CAST(dims.dim AS BIGINT) AS dim,
              |       CAST(COALESCE(agg.v, 0) AS BIGINT) AS v
              |FROM dims LEFT JOIN agg ON dims.doc_id = agg.doc_id AND dims.dim = agg.dim
              |ORDER BY dims.doc_id, dims.dim""".stripMargin)),

    // Corpus-frequent n-gram mining (boilerplate/template detection):
    // every word-5-gram in ≥3 distinct docs, with exact tf + df. The
    // oracle recomputes the full slide→count→min-support pipeline, so
    // the windowing arithmetic and both counts are hash-gated.
    QueryDef("op_frequent_ngrams",
      (s, d) => TextOps.frequentNgrams(docs(s, d), 5, 3),
      Some(s"""WITH w0 AS (SELECT doc_id, $dkWords AS w FROM documents),
              |g AS (SELECT doc_id, array_to_string(w[i:i+4], ' ') AS ngram
              |      FROM w0, unnest(range(1, len(w) - 5 + 2)) AS t(i)
              |      WHERE len(w) >= 5)
              |SELECT ngram, CAST(COUNT(*) AS BIGINT) AS tf,
              |       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
              |FROM g GROUP BY ngram HAVING COUNT(DISTINCT doc_id) >= 3
              |ORDER BY ngram""".stripMargin)),

    // Rare-token (hapax-class) scoring: fraction of each doc's token
    // occurrences with corpus frequency ≤ 2 — the lexical-noise quality
    // signal. Exact integer counts + one division → full hash oracle.
    QueryDef("op_rare_tokens",
      (s, d) => TextOps.rareTokenScore(docs(s, d), 2),
      Some(s"""WITH tok AS (SELECT doc_id, unnest($dkWords) AS tk FROM documents),
              |cf AS (SELECT tk, COUNT(*) AS cf FROM tok GROUP BY tk)
              |SELECT tok.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
              |       CAST(SUM(CASE WHEN cf.cf <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
              |       CAST(SUM(CASE WHEN cf.cf <= 2 THEN 1 ELSE 0 END) AS DOUBLE)
              |         / COUNT(*) AS rare_ratio
              |FROM tok JOIN cf USING (tk)
              |GROUP BY tok.doc_id
              |ORDER BY tok.doc_id""".stripMargin)),

    // Composed selection step (quality filter → dedup keep → deterministic
    // md5 sample): the composition is gated, not just the stages. The
    // oracle rebuilds the identical pipeline from the shared fragments.
    QueryDef("op_pipeline_sample",
      (s, d) => PipelineOps.sample(docs(s, d), 0.3, 100),
      Some(s"""WITH w0 AS (SELECT doc_id, text, $dkWords AS w FROM documents),
              |s AS (SELECT doc_id,
              |  CAST(len(w) AS BIGINT) AS n_words,
              |  CAST(len(list_filter(w, x -> x IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE) / len(w) AS stopword_ratio,
              |  CAST(length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g')) AS DOUBLE) / length(text) AS punct_ratio
              |FROM w0),
              |q AS (SELECT doc_id,
              |        (1.0 - stopword_ratio) * (1.0 - punct_ratio) *
              |        least(CAST(n_words AS DOUBLE) / 100.0, 1.0) AS quality_score
              |      FROM s),
              |k AS (SELECT doc_id FROM (
              |        SELECT doc_id,
              |               min(doc_id) OVER (PARTITION BY md5(lower(trim(text)))) AS keep_id
              |        FROM documents) WHERE doc_id = keep_id),
              |f AS (SELECT q.doc_id, q.quality_score,
              |             md5(CAST(q.doc_id AS VARCHAR)) AS h
              |      FROM q JOIN k ON q.doc_id = k.doc_id
              |      WHERE q.quality_score >= 0.3)
              |SELECT doc_id, quality_score
              |FROM (SELECT * FROM f ORDER BY h LIMIT 100)
              |ORDER BY doc_id""".stripMargin)),

    QueryDef("op_dedup_exact",
      (s, d) => DedupOps.exact(docs(s, d)).orderBy("doc_id"),
      Some("""WITH k AS (SELECT doc_id,
             |  min(doc_id) OVER (PARTITION BY md5(lower(trim(text)))) AS keep_id
             |FROM documents)
             |SELECT doc_id, keep_id, CAST(doc_id <> keep_id AS INT) AS is_dup
             |FROM k ORDER BY doc_id""".stripMargin)),

    QueryDef("op_dedup_jaccard",
      (s, d) => DedupOps.jaccardPairs(docsSplit(s, d), 0.5),
      Some(dkJaccard(0.5))),

    // Cluster assignment over the near-dup pair graph — the step a
    // training pipeline actually consumes ("keep one doc per component"):
    // Spark runs the hybrid CC (driver union-find under the pair
    // threshold, distributed min-label propagation above it); the oracle
    // computes the same components with a recursive CTE over the identical
    // ground-truth pair set, so transitive merges (A~B, B~C => one
    // cluster) are gated, not just pairwise output.
    QueryDef("op_dedup_groups",
      (s, d) => DedupOps.dedupGroups(docsSplit(s, d), DedupOps.jaccardPairs(docsSplit(s, d), 0.5)),
      Some(s"""WITH RECURSIVE pr AS (${dkJaccard(0.5)}),
              |edges AS (SELECT doc_a AS u, doc_b AS v FROM pr
              |          UNION ALL SELECT doc_b AS u, doc_a AS v FROM pr),
              |reach(u, v) AS (
              |  SELECT u, v FROM edges
              |  UNION
              |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
              |lab AS (SELECT d.doc_id,
              |          LEAST(d.doc_id, COALESCE(MIN(r.v), d.doc_id)) AS keep_id
              |        FROM documents d LEFT JOIN reach r ON r.u = d.doc_id
              |        GROUP BY d.doc_id)
              |SELECT doc_id, keep_id, CAST(doc_id <> keep_id AS INT) AS is_dup
              |FROM lab ORDER BY doc_id""".stripMargin)),

    // Near-dup RESOLUTION: cluster label + quality-chosen canonical
    // (longest member, ties to smallest doc_id) + the keep/drop bit —
    // the decision table a pipeline consumes. The oracle extends the
    // recursive-CTE components with a ROW_NUMBER(n_chars DESC, doc_id)
    // canonical pick; the Spark side's lexicographic struct max is the
    // same all-integer argmax, so the full table hash-gates.
    QueryDef("op_dedup_resolve",
      (s, d) => DedupOps.dedupResolve(docsSplit(s, d), DedupOps.jaccardPairs(docsSplit(s, d), 0.5)),
      Some(s"""WITH RECURSIVE pr AS (${dkJaccard(0.5)}),
              |edges AS (SELECT doc_a AS u, doc_b AS v FROM pr
              |          UNION ALL SELECT doc_b AS u, doc_a AS v FROM pr),
              |reach(u, v) AS (
              |  SELECT u, v FROM edges
              |  UNION
              |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
              |lab AS (SELECT d.doc_id,
              |          LEAST(d.doc_id, COALESCE(MIN(r.v), d.doc_id)) AS keep_id
              |        FROM documents d LEFT JOIN reach r ON r.u = d.doc_id
              |        GROUP BY d.doc_id),
              |dupg AS (SELECT DISTINCT keep_id FROM lab WHERE doc_id <> keep_id),
              |canon AS (SELECT keep_id, doc_id AS canonical_id FROM (
              |    SELECT l.keep_id, l.doc_id,
              |           ROW_NUMBER() OVER (PARTITION BY l.keep_id
              |             ORDER BY CAST(d.n_chars AS BIGINT) DESC, l.doc_id ASC) AS rn
              |    FROM lab l
              |    JOIN dupg g ON g.keep_id = l.keep_id
              |    JOIN documents d ON d.doc_id = l.doc_id) t WHERE rn = 1)
              |SELECT l.doc_id, l.keep_id AS group_id,
              |       COALESCE(c.canonical_id, l.doc_id) AS canonical_id,
              |       CAST(l.doc_id = COALESCE(c.canonical_id, l.doc_id) AS INT) AS is_kept
              |FROM lab l LEFT JOIN canon c ON c.keep_id = l.keep_id
              |ORDER BY l.doc_id""".stripMargin)),

    // Substring-level dedup: maximal word-8-gram spans repeated across ≥2
    // distinct docs. The oracle recomputes the same spans from scratch —
    // positional shingles, cross-doc support, gaps-and-islands merge — so
    // fingerprinting, support counting AND the span-merge arithmetic are
    // all gated, not just row counts.
    QueryDef("op_dedup_spans",
      (s, d) => DedupOps.spanDedup(docs(s, d), 8),
      Some(s"""WITH w0 AS (SELECT doc_id, $dkWords AS w FROM documents),
              |sh AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
              |         ${dkH60("array_to_string(w[i:i+7], ' ')")} AS fp
              |       FROM w0, unnest(range(1, len(w) - 8 + 2)) AS t(i)
              |       WHERE len(w) >= 8),
              |shared AS (SELECT fp FROM sh GROUP BY fp
              |           HAVING COUNT(DISTINCT doc_id) >= 2),
              |m AS (SELECT sh.doc_id, sh.pos FROM sh JOIN shared USING (fp)),
              |isl AS (SELECT doc_id, pos,
              |          pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
              |        FROM m)
              |SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
              |       CAST(MAX(pos) + 7 AS BIGINT) AS span_end,
              |       CAST(MAX(pos) - MIN(pos) + 8 AS BIGINT) AS span_len
              |FROM isl GROUP BY doc_id, grp
              |ORDER BY doc_id, span_start""".stripMargin)),

    // Decontamination scoring: candidates (doc_id % 7 <> 0) scored by the
    // fraction of their distinct 8-gram shingles appearing anywhere in the
    // held-out benchmark slice (doc_id % 7 = 0) — the eval-leak check run
    // before training. NULL (not 0) for docs too short to measure.
    QueryDef("op_decontaminate",
      (s, d) => {
        val all = docs(s, d)
        DedupOps.contamination(
          all.filter(col("doc_id") % 7 =!= 0),
          all.filter(col("doc_id") % 7 === 0), 8)
      },
      Some(dkDecontaminateOracle)),

    // The Bloom-prefiltered scale path: output is IDENTICAL to
    // op_decontaminate (the exact semi-join kills the sketch's false
    // positives), so the SAME oracle gates it — what the gate proves is
    // that the pre-filter is output-invisible. The sketch bounds the
    // semi-join's input when the reference is too big to broadcast.
    QueryDef("op_decontaminate_bloom",
      (s, d) => {
        val all = docs(s, d)
        DedupOps.contaminationBloom(
          all.filter(col("doc_id") % 7 =!= 0),
          all.filter(col("doc_id") % 7 === 0), 8, fpp = 0.01)
      },
      Some(dkDecontaminateOracle)),

    // Span-level decontamination: WHERE candidates (doc_id % 7 <> 0)
    // overlap the benchmark slice (doc_id % 7 = 0), as maximal token
    // ranges — op_decontaminate tells HOW MUCH, this tells WHERE (the cut
    // mask). The oracle recomputes fingerprints, benchmark membership AND
    // the island merge from scratch.
    QueryDef("op_decontaminate_spans",
      (s, d) => {
        val all = docs(s, d)
        DedupOps.contaminationSpans(
          all.filter(col("doc_id") % 7 =!= 0),
          all.filter(col("doc_id") % 7 === 0), 8)
      },
      Some(s"""WITH w0 AS (SELECT doc_id, $dkWords AS w FROM documents),
              |sh AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
              |         ${dkH60("array_to_string(w[i:i+7], ' ')")} AS fp
              |       FROM w0, unnest(range(1, len(w) - 8 + 2)) AS t(i)
              |       WHERE len(w) >= 8),
              |ref AS (SELECT DISTINCT fp FROM sh WHERE doc_id % 7 = 0),
              |m AS (SELECT sh.doc_id, sh.pos FROM sh
              |      SEMI JOIN ref USING (fp) WHERE sh.doc_id % 7 <> 0),
              |isl AS (SELECT doc_id, pos,
              |          pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
              |        FROM m)
              |SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
              |       CAST(MAX(pos) + 7 AS BIGINT) AS span_end,
              |       CAST(MAX(pos) - MIN(pos) + 8 AS BIGINT) AS span_len
              |FROM isl GROUP BY doc_id, grp
              |ORDER BY doc_id, span_start""".stripMargin)),

    // The decontamination CUT: candidates with every benchmark-matching
    // span removed — the oracle rebuilds the cleaned text token-by-token
    // (anti join on cut positions + ordered string_agg), so membership,
    // coverage AND the reconstructed text are all hash-gated.
    QueryDef("op_decontaminate_cut",
      (s, d) => {
        val all = docs(s, d)
        DedupOps.contaminationCut(
          all.filter(col("doc_id") % 7 =!= 0),
          all.filter(col("doc_id") % 7 === 0), 8)
      },
      Some(s"""WITH w0 AS (SELECT doc_id, $dkWords AS w FROM documents),
              |sh AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
              |         ${dkH60("array_to_string(w[i:i+7], ' ')")} AS fp
              |       FROM w0, unnest(range(1, len(w) - 8 + 2)) AS t(i)
              |       WHERE len(w) >= 8),
              |ref AS (SELECT DISTINCT fp FROM sh WHERE doc_id % 7 = 0),
              |cut AS (SELECT DISTINCT sh.doc_id, u.t
              |        FROM sh, unnest(range(sh.pos, sh.pos + 8)) AS u(t)
              |        WHERE sh.doc_id % 7 <> 0 AND sh.fp IN (SELECT fp FROM ref)),
              |tok AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS t, w[i] AS tok
              |        FROM w0, unnest(range(1, len(w) + 1)) AS v(i)
              |        WHERE doc_id % 7 <> 0),
              |kept AS (SELECT tok.doc_id,
              |           string_agg(tok.tok, ' ' ORDER BY tok.t) AS clean_text,
              |           COUNT(*) AS n_kept
              |         FROM tok ANTI JOIN cut
              |           ON cut.doc_id = tok.doc_id AND cut.t = tok.t
              |         GROUP BY tok.doc_id)
              |SELECT w0.doc_id, COALESCE(kept.clean_text, '') AS clean_text,
              |       CAST(len(w0.w) - COALESCE(kept.n_kept, 0) AS BIGINT) AS n_cut,
              |       CAST(COALESCE(kept.n_kept, 0) AS BIGINT) AS n_kept
              |FROM w0 LEFT JOIN kept ON kept.doc_id = w0.doc_id
              |WHERE w0.doc_id % 7 <> 0
              |ORDER BY w0.doc_id""".stripMargin)),

    // The CUT step consuming op_dedup_spans: rewrite the corpus with every
    // repeated span removed except its first occurrence (min-doc_id owner
    // per shingle). The oracle rebuilds the cleaned text token-by-token
    // (anti join on cut positions + ordered string_agg), so ownership,
    // coverage AND the reconstructed text are all hash-gated.
    QueryDef("op_span_cut",
      (s, d) => DedupOps.spanCut(docs(s, d), 8),
      Some(s"""WITH w0 AS (SELECT doc_id, $dkWords AS w FROM documents),
              |sh AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
              |         ${dkH60("array_to_string(w[i:i+7], ' ')")} AS fp
              |       FROM w0, unnest(range(1, len(w) - 8 + 2)) AS t(i)
              |       WHERE len(w) >= 8),
              |own AS (SELECT fp, MIN(doc_id) AS owner FROM sh
              |        GROUP BY fp HAVING COUNT(DISTINCT doc_id) >= 2),
              |cut AS (SELECT DISTINCT sh.doc_id, u.t
              |        FROM sh JOIN own USING (fp), unnest(range(sh.pos, sh.pos + 8)) AS u(t)
              |        WHERE sh.doc_id <> own.owner),
              |tok AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS t, w[i] AS tok
              |        FROM w0, unnest(range(1, len(w) + 1)) AS v(i)),
              |kept AS (SELECT tok.doc_id,
              |           string_agg(tok.tok, ' ' ORDER BY tok.t) AS clean_text,
              |           COUNT(*) AS n_kept
              |         FROM tok ANTI JOIN cut
              |           ON cut.doc_id = tok.doc_id AND cut.t = tok.t
              |         GROUP BY tok.doc_id)
              |SELECT w0.doc_id, COALESCE(kept.clean_text, '') AS clean_text,
              |       CAST(len(w0.w) - COALESCE(kept.n_kept, 0) AS BIGINT) AS n_cut,
              |       CAST(COALESCE(kept.n_kept, 0) AS BIGINT) AS n_kept
              |FROM w0 LEFT JOIN kept ON kept.doc_id = w0.doc_id
              |ORDER BY w0.doc_id""".stripMargin)),

    // Oracle = ground-truth exact pairs: this gates the LSH candidate
    // generation's RECALL (banding math in DedupOps puts the per-pair miss
    // probability at ~3e-4 at s=0.8; fixture pairs sit at s≥0.9 → ~2e-6).
    QueryDef("op_dedup_minhash",
      (s, d) => DedupOps.minhashPairs(docsSplit(s, d), 0.8),
      Some(dkJaccard(0.8))),

    // Incremental-ingest dedup against a PERSISTED signature index
    // (VERDICT r19): the 80%-by-id "old" corpus is indexed to parquet
    // (build is part of the op — the closure writes, the probe plan
    // reads it back), then the doc_id % 5 = 0 batch is adjudicated
    // probe-only. The oracle re-derives the whole decision surface in
    // SQL — signatures (shared dkMinhashSig formula), band keys, the
    // ingest-order shadow rule, the K-position agreement estimate — over
    // the un-split table; OpsSpec separately proves the multi-batch
    // chain equals one full run and that probing never mutates the index.
    QueryDef("op_dedup_incremental",
      (s, d) => {
        val idx = java.nio.file.Paths.get(
          System.getProperty("java.io.tmpdir"),
          s"graft_sigindex_${Integer.toHexString(d.hashCode)}").toString
        val all = docs(s, d)
        DedupOps.writeSignatureIndex(all.filter("doc_id % 5 != 0"), idx)
        DedupOps.dedupIncremental(all.filter("doc_id % 5 = 0"), idx, 0.8)
      },
      Some(s"""WITH d AS (SELECT doc_id, (doc_id % 5 = 0) AS is_new, $dkWords AS w FROM documents),
              |s0 AS (SELECT doc_id, is_new, ${dkShingles("w")} AS sh_txt FROM d),
              |sl AS (SELECT doc_id, is_new, list_transform(sh_txt, x -> ${dkH60("x")}) AS sh FROM s0),
              |sg AS MATERIALIZED (SELECT doc_id, is_new,
              |        ${dkMinhashSig("sh")} AS sig
              |      FROM sl WHERE len(sh) >= 1),
              |bk AS (SELECT doc_id, is_new, unnest(${dkBandKeys("sig")}) AS band_key FROM sg),
              |c AS (SELECT DISTINCT p.doc_id AS pid, e.doc_id AS eid
              |      FROM bk p JOIN bk e ON p.band_key = e.band_key
              |      WHERE p.is_new AND p.doc_id <> e.doc_id
              |        AND (NOT e.is_new OR e.doc_id < p.doc_id)),
              |j AS (SELECT pid, eid,
              |        list_reduce(list_prepend(0, list_transform(range(1, ${DedupOps.K + 1}), i ->
              |          CASE WHEN sp.sig[i] = se.sig[i] THEN 1 ELSE 0 END)), (s, m) -> s + m) AS matches
              |      FROM c JOIN sg sp ON sp.doc_id = pid JOIN sg se ON se.doc_id = eid),
              |dup AS (SELECT pid, CAST(COUNT(*) AS BIGINT) AS n_dups, MIN(eid) AS shadowed_by
              |        FROM j WHERE CAST(matches AS DOUBLE) / ${DedupOps.K} >= 0.8 GROUP BY pid)
              |SELECT n.doc_id,
              |  CASE WHEN dup.pid IS NULL THEN 'kept' ELSE 'dropped' END AS status,
              |  COALESCE(dup.n_dups, CAST(0 AS BIGINT)) AS n_dups,
              |  dup.shadowed_by
              |FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) n
              |LEFT JOIN dup ON dup.pid = n.doc_id
              |ORDER BY n.doc_id""".stripMargin)),

    // Oracle = the SEMANTIC ground truth (all-pairs Hamming ≤ 12), not an
    // echo of the Spark bucketing: the multi-block pigeonhole join must
    // reproduce the exact pair set or the hash fails.
    QueryDef("op_simhash_pairs",
      (s, d) => DedupOps.simhashPairs(docs(s, d), 12),
      Some(s"""WITH sh AS ($dkSimhash)
              |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              |       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
              |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
              |WHERE bit_count(xor(a.simhash, b.simhash)) <= 12
              |ORDER BY doc_a, doc_b""".stripMargin)),

    // Production-radius SimHash twin (full-range 64-bit signatures,
    // radius 3 → 16-bit pigeonhole blocks, ~2^16 bucket pruning). HASH-
    // GATED since r18 (VERDICT r17 #2 — the last no_oracle entry): token
    // hashes switched from engine-native xxhash64 to the portable
    // md5-h64 bit pattern, so the oracle re-derives every signature as
    // UBIGINT (same bits as Spark's wrapped Long), brute-forces all
    // pairs, and the exhaustive pair set must match the pigeonhole
    // block-join's exactly. The in-test brute-force exhaustiveness proof
    // and pruning bound remain in OpsSpec.
    QueryDef("op_simhash_pairs64",
      (s, d) => DedupOps.simhashPairs64(docs(s, d), 3),
      Some(s"""WITH hs0 AS (SELECT doc_id,
              |        list_transform($dkWords,
              |          x -> CAST('0x' || substr(md5(x), 1, 16) AS UBIGINT)) AS hs
              |      FROM documents),
              |sh AS (SELECT doc_id,
              |  list_reduce(list_prepend(CAST(0 AS UBIGINT), range(0, 64)), (acc, j) ->
              |    acc + CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT), hs),
              |                      (a, h) -> a + CAST((h >> j) & 1 AS BIGINT) * 2 - 1) > 0
              |               THEN (CASE WHEN j = 63 THEN (CAST(1 AS UBIGINT) << 62) * 2
              |                          ELSE CAST(1 AS UBIGINT) << j END)
              |               ELSE CAST(0 AS UBIGINT) END) AS simhash
              |  FROM hs0)
              |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              |       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
              |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
              |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
              |ORDER BY doc_a, doc_b""".stripMargin)),

    QueryDef("op_dedup_embedding",
      (s, d) => VectorOps.cosineNearDup(emb(s, d), 0.45),
      Some(s"""WITH $dkNormed
              |SELECT a.vec_id AS ida, b.vec_id AS idb, ${dkDot("a", "b")} AS cosine
              |FROM n a JOIN n b ON a.vec_id < b.vec_id
              |WHERE ${dkDot("a", "b")} >= 0.45
              |ORDER BY ida, idb""".stripMargin)),

    // Scale path for embedding near-dup: sign-LSH candidates + exact-cosine
    // verify. HASH-GATED since r15: the hyperplanes are deterministic
    // (MD5-derived), so DuckDB re-derives them and re-computes the full
    // signature → band → candidate → verify chain independently — the
    // candidate SET is part of the gate (dkLshOracle). Since r17 the
    // oracle ALSO re-derives the N-adaptive (b, r) from COUNT(*), so the
    // gate holds at every fixture size — including sf1/sf3, where the
    // adaptive banding diverges from the legacy (16, 8) (ADVICE r16).
    // Recall/precision against planted near-dups remain OpsSpec-asserted
    // (the fixture's ≥0.45 pairs are the uniform-random background tail,
    // where no LSH has recall ≈ 1 — see VectorOps.cosineNearDupLsh).
    QueryDef("op_dedup_embedding_lsh",
      (s, d) => VectorOps.cosineNearDupLsh(emb(s, d), 0.45),
      Some(dkLshOracle(0.45, dim = 64))),

    // Int8 embedding quantization (storage op): integer codes are exact
    // cross-engine — both engines compute the identical affine map in
    // IEEE doubles and round the same values.
    QueryDef("op_embed_quantize",
      (s, d) => VectorOps.quantizeEmbeddings(emb(s, d))
        .selectExpr("vec_id", "posexplode(qv) as (pos, q)")
        .selectExpr("vec_id", "cast(pos as bigint) as pos", "cast(q as bigint) as q")
        .orderBy("vec_id", "pos"),
      Some("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             |           FROM embeddings),
             |m AS (SELECT vec_id, v, list_aggregate(v, 'min') AS qmin,
             |        (list_aggregate(v, 'max') - list_aggregate(v, 'min')) / 255.0 AS qstep
             |      FROM e)
             |SELECT vec_id, CAST(i - 1 AS BIGINT) AS pos,
             |       CAST(round(CASE WHEN qstep = 0 THEN 0
             |                       ELSE (v[i] - qmin) / qstep END) AS BIGINT) AS q
             |FROM m, unnest(range(1, len(v) + 1)) AS t(i)
             |ORDER BY vec_id, pos""".stripMargin)),

    QueryDef("op_sim_topk",
      (s, d) => VectorOps.cosineTopK(emb(s, d), 5, 20)
        .withColumnRenamed("rank", "rnk"),
      Some(dkTopkOracle)),

    // Margin-based corpus alignment (bitext mining): parity-split sides,
    // cosine over the shared sequential fold, directional top-4 averages
    // folded in (cos DESC, id ASC) order, one margin division tree,
    // argmax + mutual-best flag — every column hash-gates.
    QueryDef("op_margin_align",
      (s, d) => VectorOps.marginAlign(emb(s, d), k = 4, threshold = 1.0),
      Some(dkMarginOracle(k = 4, threshold = 1.0))),

    // ANN-candidate margin alignment (VERDICT r17 #1 — the production
    // tier the exact guard points at): sign-LSH band collisions replace
    // the cross join, margins score candidate neighborhoods. The oracle
    // re-derives the adaptive banding from COUNT(*), the md5 hyperplanes,
    // every band key and the even×odd candidate SET independently, then
    // runs the identical scoring tail — candidates, cosines, margins,
    // argmax and mutual flags all hash-gate.
    QueryDef("op_margin_align_ann",
      (s, d) => VectorOps.marginAlignAnn(emb(s, d), k = 4, threshold = 1.0),
      Some(dkMarginAnnOracle(k = 4, threshold = 1.0, dim = 64))),

    // Same oracle as op_sim_topk: the bounded-state Aggregator must return
    // the identical exact result while shuffling only k rows per query.
    QueryDef("op_sim_topk_agg",
      (s, d) => VectorOps.cosineTopKAgg(emb(s, d), 5, 20)
        .withColumnRenamed("rank", "rnk"),
      Some(dkTopkOracle)),

    // Approximate scale path, HASH-GATED since r15 (VERDICT r14 #3): the
    // coarse quantizer runs on the exact deterministic Lloyd path, so
    // probe sets, scored pairs, distances and ranks all match an
    // independent DuckDB implementation (the ivfpq recipe minus PQ). The
    // persisted ClusterOps.buildIvfIndex/probeIvf split ranks through the
    // same stage, so OpsSpec's row-for-row equality gates it too.
    QueryDef("op_sim_topk_ivf",
      (s, d) => ClusterOps.topKIvf(emb(s, d), kc = 8, nprobe = 2, iters = 2,
        k = 5, nQueries = 20),
      Some(dkTopKIvfOracle(kc = 8, nprobe = 2, iters = 2, k = 5,
        nQueries = 20))),

    QueryDef("op_multimodal_meta",
      (s, d) => MultimodalOps.decodeMeta(docs(s, d)).orderBy("doc_id"),
      Some(s"""SELECT doc_id,
              |  CAST(strlen(text) AS BIGINT) AS byte_len,
              |  64 + ${dkH60("text")} % 1024 AS width,
              |  64 + (${dkH60("text")} >> 10) % 1024 AS height,
              |  1 + ${dkH60("text")} % 30 AS n_frames,
              |  CASE ${dkH60("text")} % 3 WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png' ELSE 'webp' END AS codec
              |FROM documents ORDER BY doc_id""".stripMargin)),

    // As-of join over events (last view before each click, per user):
    // union + per-key window — one shuffle, no range-join pair blow-up.
    // Oracle = DuckDB's native ASOF LEFT JOIN.
    QueryDef("op_asof_join",
      (s, d) => {
        val e = Tables.load(s, d, "events")
        val clicks = e.filter("event_type = 'click'")
          .select("event_id", "user_id", "ts")
        val views = e.filter("event_type = 'view'").select("user_id", "ts")
        AsOfOps.asof(clicks, views, "user_id", "ts", "ts")
          .selectExpr("event_id", "user_id", "unix_micros(ts) as ts_us",
            "unix_micros(asof_ts) as view_ts_us")
          .orderBy("event_id")
      },
      Some("""WITH c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
             |v AS (SELECT user_id, ts FROM events WHERE event_type = 'view')
             |SELECT c.event_id, c.user_id, epoch_us(c.ts) AS ts_us, epoch_us(v.ts) AS view_ts_us
             |FROM c ASOF LEFT JOIN v ON c.user_id = v.user_id AND v.ts <= c.ts
             |ORDER BY c.event_id""".stripMargin)),

    // Windowed audio features (audio leg): same batched mapPartitions
    // plumbing, duration → windows → per-window md5-stub DSP features.
    QueryDef("op_multimodal_audio",
      (s, d) => MultimodalOps.audioWindows(docs(s, d)),
      Some(s"""WITH a AS (SELECT doc_id, text, 200 + ${dkH60("text")} % 2000 AS dur
              |           FROM documents),
              |w AS (SELECT doc_id, text,
              |        unnest(range(0, (dur + 249) // 250)) AS window_idx
              |      FROM a),
              |d AS (SELECT doc_id, window_idx,
              |        ${dkH60("concat(text, ':w', CAST(window_idx AS VARCHAR))")} AS hw
              |      FROM w)
              |SELECT doc_id, CAST(window_idx AS BIGINT) AS window_idx,
              |       CAST(hw % 1000 AS DOUBLE) / 1000.0 AS rms,
              |       CAST((hw >> 10) % 1000 AS DOUBLE) / 1000.0 AS zcr
              |FROM d ORDER BY doc_id, window_idx""".stripMargin)),

    // Frame sampling + per-frame features (video leg): mapPartitions
    // plumbing on the Spark side, mirrored md5 arithmetic in the oracle.
    QueryDef("op_multimodal_frames",
      (s, d) => MultimodalOps.frameFeatures(docs(s, d)),
      Some(s"""WITH f AS (SELECT doc_id, text,
              |             1 + (${dkH60("text")} % 30) AS n_frames FROM documents),
              |u AS (SELECT doc_id, text, unnest(range(0, n_frames, 4)) AS frame_idx FROM f),
              |d AS (SELECT doc_id, frame_idx, unnest(range(0, 4)) AS dim_j,
              |        ${dkH60("concat(text, ':', CAST(frame_idx AS VARCHAR))")} AS h
              |      FROM u)
              |SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
              |       CAST(dim_j AS BIGINT) AS dim_j,
              |       CAST((h >> (8 * dim_j)) % 1000 AS DOUBLE) / 1000.0 AS feat
              |FROM d ORDER BY doc_id, frame_idx, dim_j""".stripMargin)),

    // Video near-dup (multimodal dedup leg): per-frame dHash nibbles →
    // per-doc signature over the OCCUPIED slots → Hamming pairs via the
    // per-length-class pigeonhole block join. REDESIGNED in r15 after
    // the sf1 sweep caught the r14 tier at 158 s: videos have variable
    // length, so blocks over a globally-fixed bit range collapse every
    // short doc into one all-zero bucket (~90% of 100k docs on block
    // 3's zero key → ~4×10⁹ candidate pairs — quadratic in N, and no
    // signature widening fixes it). Pairs now join per sampled-frame
    // count with blocks over the occupied width, and docs with < 4
    // sampled frames are excluded in BOTH engines (too few signature
    // bits to pair at radius 3 — the jaccard "<3 words" precedent).
    // This gated tier keeps the 4-bit stub nibbles (real pair set at
    // verify scale); the production twin widens per-frame signal to
    // slotBits=8/dim=8 — same machinery, StreamingSpec proves the twin
    // geometry end-to-end, the simhash/simhash64 pairing precedent.
    // The oracle re-derives the identical dHash/signature/class from
    // the mirrored md5 frame features and brute-forces the same-class
    // pair matrix.
    QueryDef("op_multimodal_neardup",
      (s, d) => MultimodalOps.multimodalNearDup(
        MultimodalOps.frameFeatures(docs(s, d))),
      Some(s"""WITH f AS (SELECT doc_id, text,
              |             1 + (${dkH60("text")} % 30) AS n_frames FROM documents),
              |u AS (SELECT doc_id, text, unnest(range(0, n_frames, 4)) AS frame_idx FROM f),
              |hh AS (SELECT doc_id, frame_idx,
              |         ${dkH60("concat(text, ':', CAST(frame_idx AS VARCHAR))")} AS h
              |       FROM u),
              |p AS (SELECT doc_id, frame_idx,
              |        CAST((h >> 0) % 1000 AS DOUBLE) / 1000.0 AS f0,
              |        CAST((h >> 8) % 1000 AS DOUBLE) / 1000.0 AS f1,
              |        CAST((h >> 16) % 1000 AS DOUBLE) / 1000.0 AS f2,
              |        CAST((h >> 24) % 1000 AS DOUBLE) / 1000.0 AS f3
              |      FROM hh),
              |fr AS (SELECT doc_id, frame_idx,
              |         (CASE WHEN f0 > f1 THEN 1 ELSE 0 END)
              |       + (CASE WHEN f1 > f2 THEN 2 ELSE 0 END)
              |       + (CASE WHEN f2 > f3 THEN 4 ELSE 0 END)
              |       + (CASE WHEN f3 > f0 THEN 8 ELSE 0 END) AS dhash
              |       FROM p),
              |s AS (SELECT doc_id, n, sig FROM (
              |        SELECT doc_id, COUNT(*) AS n,
              |               SUM(dhash << (4 * (frame_idx // 4))) AS sig
              |        FROM fr GROUP BY doc_id)
              |      WHERE n >= 4)
              |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              |       CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
              |FROM s a JOIN s b ON a.n = b.n AND a.doc_id < b.doc_id
              |WHERE bit_count(xor(a.sig, b.sig)) <= 3
              |ORDER BY doc_a, doc_b""".stripMargin)),

    // Deterministic stratified sample: 5 docs per (lang, source) stratum,
    // md5-keyed — the balanced-subset selection step of a training mix.
    // The rank filter compiles to WindowGroupLimit (map-side top-k per
    // stratum before the exchange); PlanSpec pins it.
    QueryDef("op_stratified_sample",
      (s, d) => PipelineOps.stratifiedSample(docs(s, d), Seq("lang", "source"), 5)
        .orderBy(col("lang").asc_nulls_first, col("source").asc_nulls_first,
          col("rn")),
      Some("""WITH h AS (SELECT lang, source, doc_id,
             |             md5(CAST(doc_id AS VARCHAR)) AS hh FROM documents),
             |r AS (SELECT lang, source, doc_id,
             |        ROW_NUMBER() OVER (PARTITION BY lang, source
             |                           ORDER BY hh, doc_id) AS rn
             |      FROM h)
             |SELECT lang, source, doc_id, CAST(rn AS BIGINT) AS rn
             |FROM r WHERE rn <= 5
             |ORDER BY lang ASC NULLS FIRST, source ASC NULLS FIRST, rn""".stripMargin)),

    // Bucketed interval join: lineitem shipments landing inside each big
    // order's 7-day window — `v BETWEEN lo AND hi` planned as an EQUI join
    // on day-buckets (RangeJoinOps) instead of the O(n·m) nested loop a
    // raw non-equi condition gets. PlanSpec pins no-BNLJ/no-cartesian.
    // The oracle states the same join declaratively with plain BETWEEN.
    //
    // Both aggregates are functionally determined by the range key
    // (l_shipdate), so partial aggregation pushes BELOW the join:
    // lineitem collapses to per-ship-day (cnt, Σqty) partials first —
    // exact, DECIMAL addition is associative — and the interval join
    // meets |days| rows instead of the corpus. Without the pushdown the
    // join materializes every (order, in-window lineitem) pair: measured
    // 5.77M pairs at sf0.1 / ~577M at sf1 (38.97 s — the r15 suite's most
    // expensive entry); with it, |days|·(len/W+1) ≈ thousands.
    QueryDef("op_range_join",
      (s, d) => {
        val byDay = Tables.load(s, d, "lineitem")
          .groupBy(col("l_shipdate"))
          .agg(count(lit(1)).as("__day_n"),
            sum(col("l_quantity").cast("decimal(18,6)")).as("__day_qty"))
        val o = Tables.load(s, d, "orders")
          .filter(col("o_totalprice") > 490000)
          .select(col("o_orderkey"), col("o_orderdate").as("win_lo"),
            (col("o_orderdate") + expr("INTERVAL 7 DAYS")).as("win_hi"))
        RangeJoinOps.intervalJoin(byDay, o, "l_shipdate", "win_lo", "win_hi",
            bucketWidth = 7, units = c => unix_date(c.cast("date")))
          .groupBy("o_orderkey")
          .agg(sum(col("__day_n")).cast("long").as("n_ship"),
            sum(col("__day_qty")).cast("double").as("sum_qty"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, COUNT(*) AS n_ship,
             |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
             |FROM orders o JOIN lineitem l
             |  ON l.l_shipdate BETWEEN o.o_orderdate AND o.o_orderdate + INTERVAL 7 DAY
             |WHERE o.o_totalprice > 490000
             |GROUP BY o_orderkey
             |ORDER BY o_orderkey""".stripMargin)),

    // Exact deterministic Lloyd k-means (ClusterOps): integer-quantized
    // vectors, exact BIGINT centroid sums, fixed-order double distances —
    // the FULL cluster assignment hash-matches DuckDB running the same
    // algorithm independently (unrolled CTE chain, generated below).
    QueryDef("op_embed_kmeans",
      (s, d) => ClusterOps.kmeansAssign(emb(s, d), k = 8, iters = 2),
      Some(dkKmeansOracle(kExpr = "8", iters = 2))),

    // The norm-bound pruned argmin at a k where pruning matters (k=32):
    // the strict Cauchy-Schwarz prune makes it mathematically identical to
    // the dense argmin, so it gates against the SAME unrolled-CTE oracle —
    // DuckDB runs the dense form, Spark the pruned one, and the hashes
    // must still agree (OpsSpec additionally pins dense ≡ pruned in-engine).
    QueryDef("op_embed_kmeans_pruned",
      (s, d) => ClusterOps.kmeansAssign(emb(s, d), k = 32, iters = 2,
        pruned = true),
      Some(dkKmeansOracle(kExpr = "32", iters = 2))),

    // Product quantization: m independent exact k-means fits over
    // contiguous embedding slices — the whole (vec_id, subspace, code)
    // table hash-gates against DuckDB running the same m unrolled chains
    // (one CTE block per subspace, spliced into a single WITH).
    QueryDef("op_embed_pq",
      (s, d) => ClusterOps.pqCodes(emb(s, d), dim = 64, m = 4, ksub = 8,
        iters = 2),
      Some(dkPqCodesOracle(dim = 64, m = 4, ksub = 8, iters = 2))),

    // PQ asymmetric-distance top-k: full-precision queries against the
    // coded corpus. Distances are fixed-order IEEE sums of per-subspace
    // query-to-centroid terms, so ranks AND raw distances hash-gate.
    QueryDef("op_sim_topk_pq",
      (s, d) => ClusterOps.pqTopK(emb(s, d), dim = 64, m = 4, ksub = 8,
        iters = 2, k = 5, nQueries = 20),
      Some(dkPqTopKOracle(dim = 64, m = 4, ksub = 8, iters = 2, k = 5,
        nQueries = 20))),

    // IVF-PQ: the composite — a full-dim coarse quantizer restricts each
    // query to its nprobe nearest cells, ADC runs only on vectors in
    // probed cells. Which pairs are scored AT ALL is part of the gate
    // (probe sets + cell assignment + distances all hash-match).
    QueryDef("op_sim_topk_ivfpq",
      (s, d) => ClusterOps.pqTopKIvf(emb(s, d), dim = 64, m = 4, ksub = 8,
        kc = 8, nprobe = 2, iters = 2, k = 5, nQueries = 20),
      Some(dkPqTopKIvfOracle(dim = 64, m = 4, ksub = 8, kc = 8, nprobe = 2,
        iters = 2, k = 5, nQueries = 20))),

    // Residual IVF-PQ (full IVFADC): PQ codebooks trained on x − c(cell),
    // ADC tables per (query, probed cell). Probe sets, residuals, codes
    // and distances all hash-gate against the independent DuckDB mirror.
    QueryDef("op_sim_topk_ivfpq_res",
      (s, d) => ClusterOps.pqTopKIvfRes(emb(s, d), dim = 64, m = 4, ksub = 8,
        kc = 8, nprobe = 2, iters = 2, k = 5, nQueries = 20),
      Some(dkPqTopKIvfResOracle(dim = 64, m = 4, ksub = 8, kc = 8, nprobe = 2,
        iters = 2, k = 5, nQueries = 20))),

    // Semantic dedup (SemDeDup): cosine near-dup pairs WITHIN k-means
    // clusters — the sub-quadratic sibling of op_dedup_embedding's exact
    // all-pairs tier. Pairs AND their cosines hash-gate (clustering and
    // cosine are both exact cross-engine). The cap of 40 deliberately
    // bites at verify scale (500 rows / k=8 → ~62-row clusters), so the
    // oversized-cluster split is itself oracle-verified: both engines
    // subdivide by vec_id % ⌈n/40⌉ with exact integer arithmetic.
    QueryDef("op_dedup_semantic",
      (s, d) => ClusterOps.semanticPairs(emb(s, d), k = 8, iters = 2,
        threshold = 0.45, maxClusterSize = 40L),
      Some(dkSemanticPairsOracle(kExpr = "8", iters = 2, thr = 0.45,
        cap = Some(40L)))),

    // Scale-safe entry point: k DERIVED from the corpus size
    // (k = ⌈N/target⌉, here ⌈500/32⌉ = 16 at verify scale) so the
    // pair-join key cardinality grows with N instead of staying constant
    // — the second gated k value demanded by the SemDeDup k contract.
    // DuckDB derives the same k with a scalar subquery over the same
    // table, so the gate would catch a drifting k formula.
    QueryDef("op_dedup_semantic_auto",
      (s, d) => ClusterOps.semanticPairsAuto(emb(s, d), targetClusterSize = 32,
        iters = 2, threshold = 0.45, maxClusterSize = 40L),
      Some(dkSemanticPairsOracle(
        kExpr = "(SELECT (COUNT(*) + 31) // 32 FROM embeddings)",
        iters = 2, thr = 0.45, cap = Some(40L)))),

    // PII redaction: the fixture text carries no PII, so both engines
    // plant the same deterministic emails / dotted quads / phone numbers
    // (varying per doc_id so counts differ row to row), then scrub. The
    // counts AND the fully reconstructed clean text are hash-gated.
    QueryDef("op_pii_scrub",
      (s, d) => TextOps.piiScrub(docsSplit(s, d).selectExpr("doc_id", plantPiiSpark))
        .orderBy("doc_id"),
      Some {
        val Seq((_, ePat, _), (_, iPat, _), (_, pPat, _)) = TextOps.piiPatterns
        s"""WITH p AS (SELECT doc_id, $plantPiiDuck AS t FROM documents)
           |SELECT doc_id,
           |  CAST(len(regexp_extract_all(t, '$ePat')) AS BIGINT) AS n_email,
           |  CAST(len(regexp_extract_all(t, '$iPat')) AS BIGINT) AS n_ip,
           |  CAST(len(regexp_extract_all(t, '$pPat')) AS BIGINT) AS n_phone,
           |  ${dkScrub("t")} AS clean_text
           |FROM p ORDER BY doc_id""".stripMargin
      }),

    // Positional inverted index: postings (token, doc, tf, ordered
    // positions) — tf AND the exact position payload hash-gated.
    QueryDef("op_inverted_index",
      (s, d) => TextOps.invertedIndex(docs(s, d)),
      Some(s"""WITH w0 AS (SELECT doc_id, $dkWords AS w FROM documents),
              |tok AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, w[i] AS token
              |        FROM w0, unnest(range(1, len(w) + 1)) AS t(i)
              |        WHERE w[i] <> '')
              |SELECT token, doc_id, CAST(COUNT(*) AS BIGINT) AS tf,
              |       string_agg(CAST(pos AS VARCHAR), ',' ORDER BY pos) AS positions
              |FROM tok GROUP BY token, doc_id
              |ORDER BY token, doc_id""".stripMargin)),

    // BM25-style retrieval over the corpus: deterministic data-derived
    // queries, log-free rational idf (TextOps.bm25WFormula — the SAME
    // template string runs in both engines), token-ordered score fold —
    // rank AND the double score itself hash-gate.
    QueryDef("op_bm25_topk",
      (s, d) => TextOps.bm25TopK(docs(s, d), nQueries = 5, qLen = 8, k = 5),
      Some(s"""WITH w0 AS (SELECT doc_id, $dkWords AS w FROM documents),
              |tok AS (SELECT doc_id, len(w) AS dl, unnest(w) AS token FROM w0),
              |post AS (SELECT doc_id, dl, token, COUNT(*) AS tf
              |         FROM tok WHERE token <> '' GROUP BY doc_id, dl, token),
              |dfq AS (SELECT token, COUNT(*) AS df FROM post GROUP BY token),
              |st AS (SELECT COUNT(*) AS n_docs, CAST(SUM(len(w)) AS BIGINT) AS tot FROM w0),
              |q AS (SELECT doc_id AS qid, unnest(list_distinct(w[1:8])) AS token
              |      FROM w0 WHERE doc_id < 5),
              |sc AS (SELECT q.qid, p.doc_id, p.token,
              |         ${TextOps.bm25WFormula} AS tw
              |       FROM q JOIN post p USING (token) JOIN dfq USING (token) CROSS JOIN st
              |       WHERE p.token <> ''),
              |g AS (SELECT qid, doc_id,
              |        list_reduce(list_prepend(CAST(0 AS DOUBLE), list(tw ORDER BY token)),
              |                    (acc, x) -> acc + x) AS score
              |      FROM sc GROUP BY qid, doc_id),
              |r AS (SELECT qid, doc_id, score,
              |        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rnk
              |      FROM g)
              |SELECT qid, CAST(rnk AS BIGINT) AS rnk, doc_id, score
              |FROM r WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin)),

    // Reciprocal-rank fusion over the SAME query set: BM25 ranking ⊕
    // distinct-token-overlap ranking via rrf = Σ 1/(60 + rank) — the
    // hybrid-retrieval combiner (Cormack SIGIR'09). Ranks are integers,
    // the fusion is two exact divisions in fixed order: full hash gate.
    QueryDef("op_rrf_fusion",
      (s, d) => TextOps.rrfFusion(docs(s, d),
        nQueries = 5, qLen = 8, kInner = 10, k = 5, kRrf = 60),
      Some(s"""WITH w0 AS (SELECT doc_id, $dkWords AS w FROM documents),
              |tok AS (SELECT doc_id, len(w) AS dl, unnest(w) AS token FROM w0),
              |post AS (SELECT doc_id, dl, token, COUNT(*) AS tf
              |         FROM tok WHERE token <> '' GROUP BY doc_id, dl, token),
              |dfq AS (SELECT token, COUNT(*) AS df FROM post GROUP BY token),
              |st AS (SELECT COUNT(*) AS n_docs, CAST(SUM(len(w)) AS BIGINT) AS tot FROM w0),
              |q AS (SELECT doc_id AS qid, unnest(list_distinct(w[1:8])) AS token
              |      FROM w0 WHERE doc_id < 5),
              |sc AS (SELECT q.qid, p.doc_id, p.token,
              |         ${TextOps.bm25WFormula} AS tw
              |       FROM q JOIN post p USING (token) JOIN dfq USING (token) CROSS JOIN st
              |       WHERE p.token <> '' AND q.token <> ''),
              |g AS (SELECT qid, doc_id,
              |        list_reduce(list_prepend(CAST(0 AS DOUBLE), list(tw ORDER BY token)),
              |                    (acc, x) -> acc + x) AS score
              |      FROM sc GROUP BY qid, doc_id),
              |rb AS (SELECT qid, doc_id, CAST(rnk AS BIGINT) AS rank_bm25 FROM (
              |         SELECT qid, doc_id,
              |           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rnk
              |         FROM g) WHERE rnk <= 10),
              |ov AS (SELECT q.qid, p.doc_id, COUNT(*) AS overlap
              |       FROM q JOIN (SELECT DISTINCT doc_id, token FROM post) p USING (token)
              |       WHERE q.token <> '' GROUP BY 1, 2),
              |ro AS (SELECT qid, doc_id, CAST(rnk AS BIGINT) AS rank_overlap FROM (
              |         SELECT qid, doc_id,
              |           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY overlap DESC, doc_id) AS rnk
              |         FROM ov) WHERE rnk <= 10),
              |f AS (SELECT COALESCE(rb.qid, ro.qid) AS qid,
              |        COALESCE(rb.doc_id, ro.doc_id) AS doc_id,
              |        rank_bm25, rank_overlap,
              |        COALESCE(CAST(1 AS DOUBLE) / (60 + rank_bm25), CAST(0 AS DOUBLE))
              |          + COALESCE(CAST(1 AS DOUBLE) / (60 + rank_overlap), CAST(0 AS DOUBLE))
              |          AS rrf_score
              |      FROM rb FULL OUTER JOIN ro
              |        ON rb.qid = ro.qid AND rb.doc_id = ro.doc_id),
              |fr AS (SELECT qid, doc_id, rrf_score, rank_bm25, rank_overlap,
              |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rrf_score DESC, doc_id)
              |           AS rrf_rank
              |       FROM f)
              |SELECT qid, CAST(rrf_rank AS BIGINT) AS rrf_rank, doc_id, rrf_score,
              |       rank_bm25, rank_overlap
              |FROM fr WHERE rrf_rank <= 5 ORDER BY qid, rrf_rank""".stripMargin)),

    // Column profiling: summary + equal-width histogram with an explicit
    // shared bucket formula (width_bucket's boundary arithmetic is
    // implementation-defined; this expression is the same IEEE tree in
    // both engines), so every bucket count hash-gates.
    QueryDef("op_profile",
      (s, d) => ProfileOps.profile(Tables.load(s, d, "lineitem"),
        Seq("l_quantity", "l_extendedprice"), nBuckets = 10),
      Some {
        def one(c: String) =
          s"""SELECT '$c' AS col_name, bucket, COUNT(*) AS n,
             |  ANY_VALUE(n_rows) AS n_rows, ANY_VALUE(n_null) AS n_null,
             |  ANY_VALUE(ndv) AS ndv, ANY_VALUE(col_min) AS col_min, ANY_VALUE(col_max) AS col_max
             |FROM (
             |  SELECT CASE WHEN s.col_max = s.col_min THEN 0
             |              ELSE least(CAST(floor(((CAST(l.$c AS DOUBLE) - s.col_min) / (s.col_max - s.col_min))
             |                * 10) AS BIGINT), 9) END AS bucket,
             |         s.n_rows, s.n_null, s.ndv, s.col_min, s.col_max
             |  FROM lineitem l CROSS JOIN (
             |    SELECT COUNT(*) AS n_rows,
             |           CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
             |           CAST(COUNT(DISTINCT $c) AS BIGINT) AS ndv,
             |           CAST(MIN($c) AS DOUBLE) AS col_min, CAST(MAX($c) AS DOUBLE) AS col_max
             |    FROM lineitem) s
             |  WHERE l.$c IS NOT NULL)
             |GROUP BY bucket""".stripMargin
        s"""${one("l_quantity")}
           |UNION ALL
           |${one("l_extendedprice")}
           |ORDER BY col_name, bucket""".stripMargin
      }),

    // The CAPSTONE composition: scrub → quality-filter → benchmark span
    // decontamination → exact keep-first dedup, gated END-TO-END (each
    // stage is gated alone elsewhere; this catches stage-boundary bugs).
    // PII is planted so the scrub stage is live inside the chain.
    QueryDef("op_pipeline_curate",
      (s, d) => PipelineOps.curate(
        docsSplit(s, d).selectExpr("doc_id", plantPiiSpark),
        minQuality = 0.25, benchMod = 7, n = 8),
      Some(s"""WITH ${dkCurateCtes(plantPiiDuck)}
              |SELECT doc_id, clean_text, n_cut, n_kept
              |FROM curated ORDER BY doc_id""".stripMargin)),

    // The END-TO-END pipeline (VERDICT r19): curate → per-source cap →
    // DSIR resampling, emitted as the applied (doc_id, copy) epoch. ONE
    // oracle re-derives all three stages AND their boundaries — the cap
    // ranks and DSIR marginals run over the CURATED text (scrub + cut
    // + dedup survivors), and the epoch only over cap survivors. No PII
    // plant here (op_pipeline_curate already gates the scrub surface);
    // the fixture text flows as-is.
    QueryDef("op_pipeline_full",
      (s, d) => PipelineOps.pipelineFull(docsSplit(s, d)),
      Some(dkImportanceCteOver("capped", extraCtes =
        s"""${dkCurateCtes("text")},
           |cu_src AS (SELECT c.doc_id, c.clean_text AS text, d.lang, d.source
           |           FROM curated c JOIN documents d ON d.doc_id = c.doc_id),
           |cu_rk AS (SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY source
           |            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
           |          FROM cu_src),
           |capped AS (SELECT s.doc_id, s.text, s.lang FROM cu_src s
           |           JOIN cu_rk r ON r.doc_id = s.doc_id
           |           WHERE r.rk <= ${PipelineOps.DefaultSourceCap}),
           |""".stripMargin) +
        """
          |SELECT doc_id, copy FROM (
          |  SELECT doc_id,
          |         unnest(generate_series(1, CAST(n_copies AS BIGINT))) AS copy
          |  FROM nc WHERE n_copies > 0)
          |ORDER BY doc_id, copy""".stripMargin)),

    // Sliding-window chunking (size 32, stride 24): every chunk's exact
    // text, index and token count hash-gated; redundant fully-covered
    // tail windows are dropped by the same rule in both engines.
    QueryDef("op_chunk",
      (s, d) => TextOps.chunk(docs(s, d), size = 32, stride = 24),
      Some(s"""WITH w0 AS (SELECT doc_id, $dkWords AS w FROM documents),
              |st AS (SELECT doc_id, w, unnest(range(0, greatest(len(w), 1), 24)) AS start
              |       FROM w0)
              |SELECT doc_id, CAST(start // 24 AS BIGINT) AS chunk_idx,
              |       array_to_string(w[start + 1 : start + 32], ' ') AS chunk_text,
              |       CAST(least(len(w) - start, 32) AS BIGINT) AS n_tokens
              |FROM st WHERE start = 0 OR start + 32 - 24 < len(w)
              |ORDER BY doc_id, chunk_idx""".stripMargin)),

    // Token packing: chunks laid end-to-end per language, 256-token bins
    // assigned by exclusive prefix sum — all-integer, fully hash-gated.
    QueryDef("op_pack_bins",
      (s, d) => TextOps.packBins(docs(s, d), size = 32, stride = 24, budget = 256),
      Some(s"""WITH w0 AS (SELECT doc_id, lang, $dkWords AS w FROM documents),
              |st AS (SELECT doc_id, lang, w,
              |         unnest(range(0, greatest(len(w), 1), 24)) AS start FROM w0),
              |ch AS (SELECT doc_id, lang, CAST(start // 24 AS BIGINT) AS chunk_idx,
              |         CAST(least(len(w) - start, 32) AS BIGINT) AS n_tokens
              |       FROM st WHERE start = 0 OR start + 32 - 24 < len(w)),
              |o AS (SELECT lang, doc_id, chunk_idx, n_tokens,
              |        COALESCE(CAST(SUM(n_tokens) OVER (PARTITION BY lang
              |          ORDER BY doc_id, chunk_idx
              |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS off
              |      FROM ch)
              |SELECT lang, doc_id, chunk_idx, n_tokens, off,
              |       CAST(off // 256 AS BIGINT) AS bin
              |FROM o ORDER BY lang, doc_id, chunk_idx""".stripMargin)),

    // Heavy hitters: Misra-Gries candidates (bounded memory) + exact
    // rescore — the sketch can only over-admit, so the final answer is
    // EXACT and hash-gates against a direct GROUP BY … HAVING oracle.
    // The threshold is a SHARE of total occurrences (scale-free capacity
    // guarantee); both engines derive ⌈share·N⌉ with identical arithmetic.
    // Gopher repetition filters (Rae et al. 2021, public): within-document
    // duplicate-line fraction/char mass, top-2-gram char fraction,
    // duplicated-5-gram occurrence mass, and the composite keep flag. The
    // fixture is single-line, so BOTH engines plant the same line
    // structure first (' part ' → newline; every third doc gains a twice-
    // repeated trailer line), making every signal — including the line
    // metrics — hash-gate non-trivially.
    QueryDef("op_gopher_repetition",
      (s, d) => TextOps.gopherRepetition(
        docs(s, d).selectExpr("doc_id", s"$plantLinesSpark as text")),
      Some(dkGopherOracle)),

    // Language temperature-sampling weights (XLM-R/mT5 recipe, α = 1/2):
    // p_l ∝ √(n_l/N), Σ over languages as a lang-ordered fold — sqrt is
    // IEEE-correctly-rounded, so shares, probabilities AND boosts
    // hash-gate exactly.
    QueryDef("op_lang_sample_weights",
      (s, d) => PipelineOps.langSampleWeights(docs(s, d)),
      Some(s"""WITH per AS (SELECT lang, COUNT(*) AS n_docs,
              |         CAST(SUM(len($dkWords)) AS BIGINT) AS n_tokens
              |       FROM documents GROUP BY lang),
              |tot0 AS (SELECT SUM(n_tokens) AS n_total FROM per),
              |tot AS (SELECT n_total,
              |         list_reduce(list_prepend(CAST(0 AS DOUBLE),
              |           list(sqrt(CAST(n_tokens AS DOUBLE) / n_total) ORDER BY lang)),
              |           (a, x) -> a + x) AS sum_w
              |       FROM per, tot0 GROUP BY n_total)
              |SELECT lang, n_docs, n_tokens,
              |       CAST(n_tokens AS DOUBLE) / n_total AS share,
              |       sqrt(CAST(n_tokens AS DOUBLE) / n_total) / sum_w AS p_sample,
              |       (sqrt(CAST(n_tokens AS DOUBLE) / n_total) / sum_w)
              |         / (CAST(n_tokens AS DOUBLE) / n_total) AS boost
              |FROM per, tot ORDER BY lang""".stripMargin)),

    // Epoch materialization: the lang-weights boosts APPLIED — ⌊boost⌋
    // copies per doc plus a hash-fraction extra, exploded. The oracle
    // recomputes the full weight pipeline AND the copy arithmetic, so the
    // materialized epoch (every (doc, copy) row) hash-gates end to end.
    QueryDef("op_epoch_sample",
      (s, d) => PipelineOps.epochMaterialize(docs(s, d)),
      Some(s"""WITH per AS (SELECT lang, COUNT(*) AS n_docs,
              |         CAST(SUM(len($dkWords)) AS BIGINT) AS n_tokens
              |       FROM documents GROUP BY lang),
              |tot0 AS (SELECT SUM(n_tokens) AS n_total FROM per),
              |tot AS (SELECT n_total,
              |         list_reduce(list_prepend(CAST(0 AS DOUBLE),
              |           list(sqrt(CAST(n_tokens AS DOUBLE) / n_total) ORDER BY lang)),
              |           (a, x) -> a + x) AS sum_w
              |       FROM per, tot0 GROUP BY n_total),
              |w AS (SELECT lang,
              |       (sqrt(CAST(n_tokens AS DOUBLE) / n_total) / sum_w)
              |         / (CAST(n_tokens AS DOUBLE) / n_total) AS boost
              |      FROM per, tot),
              |nc AS (SELECT d.doc_id, d.lang,
              |         CAST(floor(w.boost) AS BIGINT)
              |           + CAST((${dkH60("CAST(d.doc_id AS VARCHAR)")} % 1048576)
              |                    / 1048576.0 < w.boost - floor(w.boost) AS BIGINT)
              |           AS n_copies
              |       FROM documents d JOIN w USING (lang))
              |SELECT doc_id, lang, copy FROM (
              |  SELECT doc_id, lang,
              |         unnest(generate_series(1, CAST(n_copies AS BIGINT))) AS copy
              |  FROM nc WHERE n_copies > 0)
              |ORDER BY doc_id, copy""".stripMargin)),

    // Deterministic train/val/test split: md5-keyed range assignment,
    // thresholds rendered as fixed-width hex so both engines compare
    // strings (lexicographic == numeric for fixed-width hex). The full
    // assignment hash-gates; the thresholds come from ONE Scala builder
    // so Spark and the oracle cannot drift.
    QueryDef("op_split_assign",
      (s, d) => PipelineOps.splitAssign(docs(s, d)),
      Some(s"""WITH h AS (SELECT doc_id,
              |    substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS h8
              |  FROM documents)
              |SELECT doc_id,
              |  CASE ${PipelineOps.splitAssignOracleCase(
                   Seq("train" -> 0.90, "val" -> 0.05, "test" -> 0.05))} END AS split
              |FROM h ORDER BY doc_id""".stripMargin)),

    // DSIR importance-resampling weights (Xie et al. 2023): hashed
    // n-gram bucket ratios target-vs-raw, per-doc product carried as an
    // overflow-free (mantissa, exponent) pair via exact power-of-two
    // shifts, normalized on a 2³⁰ integer grid (order-independent exact
    // sum) and materialized into deterministic copy counts. The oracle
    // re-derives features, marginals, ratios, the normalized-product
    // fold, the (e, m) max, the grid AND the copy arithmetic — the whole
    // mixing decision hash-gates end to end.
    QueryDef("op_importance_weights",
      (s, d) => PipelineOps.importanceWeights(docsSplit(s, d)),
      Some(s"$dkImportanceCte\n$dkImportanceWeightsTail")),

    // DSIR against a SEPARATE target relation (VERDICT r19): the corpus
    // (doc_id % 3 <> 0) is scored against a held-out en seed
    // (doc_id % 3 = 0 AND en) that is NOT part of the scored pool — the
    // original DSIR shape (raw pool vs quality seed). The oracle re-uses
    // the full importance chain with a two-branch w0: seed rows feed only
    // the target marginals, corpus rows only the raw marginals and the
    // scoring tail.
    QueryDef("op_importance_target",
      (s, d) => PipelineOps.importanceWeightsAgainst(
        docsSplit(s, d).filter("doc_id % 3 != 0"),
        docsSplit(s, d).filter(s"doc_id % 3 = 0 AND ${PipelineOps.DefaultTargetPred}")),
      Some(dkImportanceCteOver("unused", w0Sql = Some(
        s"""SELECT doc_id, FALSE AS tgt, TRUE AS raw, $dkWords AS w
           |  FROM documents WHERE doc_id % 3 <> 0
           |  UNION ALL
           |  SELECT doc_id, TRUE AS tgt, FALSE AS raw, $dkWords AS w
           |  FROM documents WHERE doc_id % 3 = 0 AND (${PipelineOps.DefaultTargetPred})""".stripMargin)) +
        s"\n$dkImportanceWeightsTail")),

    // The weights APPLIED: the importance-resampled epoch as exploded
    // (doc_id, copy) rows — the stream a data loader consumes. Same CTE
    // chain, explode gated on top.
    QueryDef("op_importance_resample",
      (s, d) => PipelineOps.importanceResample(docsSplit(s, d)),
      Some(s"""$dkImportanceCte
              |SELECT doc_id, copy FROM (
              |  SELECT doc_id,
              |         unnest(generate_series(1, CAST(n_copies AS BIGINT))) AS copy
              |  FROM nc WHERE n_copies > 0)
              |ORDER BY doc_id, copy""".stripMargin)),

    // The composed MIXING path: per-source cap, then DSIR importance
    // resampling whose marginals are computed over the CAPPED corpus
    // (the CCNet-then-DSIR order — an over-represented source must not
    // dominate the raw distribution it is resampled against). One
    // oracle re-derives the cap ranks, the survivor set AND the whole
    // importance chain over it — the stage boundary is inside the gate.
    QueryDef("op_pipeline_mix",
      (s, d) => PipelineOps.pipelineMix(docsSplit(s, d)),
      Some(dkImportanceCteOver("capped",
        s"""capped AS (
          |  SELECT d.doc_id, d.text, d.lang FROM documents d
          |  JOIN (SELECT doc_id,
          |          ROW_NUMBER() OVER (PARTITION BY source
          |            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
          |        FROM documents) r ON r.doc_id = d.doc_id
          |  WHERE r.rk <= ${PipelineOps.DefaultSourceCap}),
          |""".stripMargin) +
        "\nSELECT doc_id, w_rel, boost, n_copies FROM nc ORDER BY doc_id")),

    // Per-source document cap (the CCNet/RefinedWeb domain control):
    // md5-rank survivors within each source, ranks via the range-
    // partitioned prefix pass (no PARTITION BY hot reducer). The oracle
    // states the same rank declaratively; survivor SET and ranks
    // hash-gate.
    QueryDef("op_source_cap",
      (s, d) => PipelineOps.sourceCap(docs(s, d), cap = PipelineOps.DefaultSourceCap),
      Some(s"""WITH r AS (SELECT source, doc_id,
             |    ROW_NUMBER() OVER (PARTITION BY source
             |                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
             |  FROM documents)
             |SELECT source, doc_id, CAST(rk AS BIGINT) AS rk
             |FROM r WHERE rk <= ${PipelineOps.DefaultSourceCap} ORDER BY source, rk""".stripMargin)),

    // The cap's dropped-mass report: per source, kept vs dropped counts
    // and the drop fraction — ONE source-keyed count, no re-rank.
    QueryDef("op_source_cap_report",
      (s, d) => PipelineOps.sourceCapReport(docs(s, d), cap = PipelineOps.DefaultSourceCap),
      Some(s"""SELECT source, COUNT(*) AS n_docs,
             |  LEAST(COUNT(*), CAST(${PipelineOps.DefaultSourceCap} AS BIGINT)) AS n_kept,
             |  COUNT(*) - LEAST(COUNT(*), CAST(${PipelineOps.DefaultSourceCap} AS BIGINT)) AS n_dropped,
             |  CAST(COUNT(*) - LEAST(COUNT(*), CAST(${PipelineOps.DefaultSourceCap} AS BIGINT)) AS DOUBLE)
             |    / CAST(COUNT(*) AS DOUBLE) AS drop_frac
             |FROM documents GROUP BY source ORDER BY source""".stripMargin)),

    // Split-leakage audit: identical content (order-sensitive rolling
    // fingerprint) crossing the train/val/test boundary — decontamination
    // turned inward, the release gate every dataset build needs. The
    // fixture's natural duplicates happen to land same-split at small SF,
    // so a leak is PLANTED deterministically (the op_fuzzy_words pattern):
    // every doc_id % 50 == 0 doc carries one shared body, which md5-splits
    // its carriers across train/val/test. Counts are integers over
    // md5-derived values; full hash gate.
    QueryDef("op_split_leakage",
      (s, d) => PipelineOps.splitLeakage(docs(s, d).selectExpr("doc_id",
        "case when doc_id % 50 = 0 then 'graft shared leak body' else text end as text")),
      Some(s"""WITH d AS (SELECT doc_id,
              |    CASE WHEN doc_id % 50 = 0 THEN 'graft shared leak body'
              |         ELSE text END AS text
              |  FROM documents),
              |fp AS (SELECT doc_id,
              |    list_reduce(list_prepend(CAST(0 AS BIGINT),
              |      list_transform($dkWords, x -> ${dkH60("x")} % 2147483647)),
              |      (a, b) -> (a * 31 + b) % 2147483647) AS fingerprint
              |  FROM d),
              |sp AS (SELECT doc_id,
              |    CASE ${PipelineOps.splitAssignOracleCase(
                     Seq("train" -> 0.90, "val" -> 0.05, "test" -> 0.05))} END AS split
              |  FROM (SELECT doc_id,
              |          substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS h8
              |        FROM documents)),
              |j AS (SELECT f.fingerprint, s.split, f.doc_id
              |      FROM fp f JOIN sp s USING (doc_id))
              |SELECT fingerprint, CAST(COUNT(*) AS BIGINT) AS n_docs,
              |  CAST(COUNT(DISTINCT split) AS BIGINT) AS n_splits,
              |  CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
              |  CAST(SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT) AS n_val,
              |  CAST(SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS n_test,
              |  MIN(doc_id) AS first_doc
              |FROM j GROUP BY 1 HAVING COUNT(DISTINCT split) >= 2
              |ORDER BY fingerprint""".stripMargin)),

    // Corpus snapshot diff: v2 is derived deterministically (drop
    // doc_id % 97 = 0, edit % 31 = 0, add shifted % 51 = 0 docs) and the
    // diff labels every id added/removed/changed/unchanged via null-safe
    // fingerprint comparison — the dataset-release changelog. Full hash
    // gate (md5 fingerprints + status strings).
    QueryDef("op_corpus_diff",
      (s, d) => {
        val old = docs(s, d)
        val v2 = old.filter("doc_id % 97 != 0")
          .selectExpr("doc_id",
            "case when doc_id % 31 = 0 then concat(text, ' v2 edit') else text end as text")
          .union(old.filter("doc_id % 51 = 0")
            .selectExpr("doc_id + 1000000 as doc_id",
              "concat('brand new ', cast(doc_id as string)) as text"))
        PipelineOps.corpusDiff(old, v2)
      },
      Some(s"""WITH v2 AS (
              |  SELECT doc_id,
              |    CASE WHEN doc_id % 31 = 0 THEN text || ' v2 edit' ELSE text END AS text
              |  FROM documents WHERE doc_id % 97 != 0
              |  UNION ALL
              |  SELECT doc_id + 1000000, 'brand new ' || CAST(doc_id AS VARCHAR)
              |  FROM documents WHERE doc_id % 51 = 0),
              |fo AS (SELECT doc_id,
              |    list_reduce(list_prepend(CAST(0 AS BIGINT),
              |      list_transform($dkWords, x -> ${dkH60("x")} % 2147483647)),
              |      (a, b) -> (a * 31 + b) % 2147483647) AS fp_old,
              |    true AS in_old
              |  FROM documents),
              |fn AS (SELECT doc_id,
              |    list_reduce(list_prepend(CAST(0 AS BIGINT),
              |      list_transform($dkWords, x -> ${dkH60("x")} % 2147483647)),
              |      (a, b) -> (a * 31 + b) % 2147483647) AS fp_new,
              |    true AS in_new
              |  FROM v2)
              |SELECT COALESCE(fo.doc_id, fn.doc_id) AS doc_id, fp_old, fp_new,
              |  CASE WHEN in_old IS NULL THEN 'added'
              |       WHEN in_new IS NULL THEN 'removed'
              |       WHEN fp_old IS NOT DISTINCT FROM fp_new THEN 'unchanged'
              |       ELSE 'changed' END AS status
              |FROM fo FULL OUTER JOIN fn ON fo.doc_id = fn.doc_id
              |ORDER BY doc_id""".stripMargin)),

    QueryDef("op_heavy_hitters",
      (s, d) => SketchOps.heavyHitters(docs(s, d), minShare = 0.0015),
      Some(s"""WITH w0 AS (SELECT $dkWords AS w FROM documents),
              |tk AS (SELECT tok AS token FROM (SELECT unnest(w) AS tok FROM w0)
              |       WHERE tok <> ''),
              |tot AS (SELECT CEIL(0.0015 * COUNT(*)) AS mc FROM tk)
              |SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
              |FROM tk, tot
              |GROUP BY token, tot.mc HAVING COUNT(*) >= tot.mc
              |ORDER BY token""".stripMargin)),

    // Z-order layout: the Morton z-value of (l_partkey, l_suppkey) — pure
    // integer bit interleaving, so the whole curve hash-gates. The layout
    // itself (range-partition + sort on zval) is exercised in OpsSpec's
    // data-skipping case; the gate pins the curve both layouts share.
    QueryDef("op_zorder",
      (s, d) => {
        val l = Tables.load(s, d, "lineitem")
        l.selectExpr("l_orderkey", "l_linenumber",
          LayoutOps.zValueExpr("l_partkey", "l_suppkey", 21) + " as zval")
          .orderBy("zval", "l_orderkey", "l_linenumber")
      },
      Some("""SELECT l_orderkey, l_linenumber,
             |  list_reduce(list_prepend(CAST(0 AS BIGINT), range(0, 21)), (acc, i) ->
             |    acc + (((l_partkey >> i) & 1) << (2 * i))
             |        + (((l_suppkey >> i) & 1) << (2 * i + 1))) AS zval
             |FROM lineitem
             |ORDER BY zval, l_orderkey, l_linenumber""".stripMargin)),

    // 3-D z-order: the multi-column OPTIMIZE ZORDER case (tenant /
    // date-bucket / entity is the production shape) — pure integer bit
    // interleaving over three keys, the whole curve hash-gates.
    QueryDef("op_zorder3",
      (s, d) => {
        val l = Tables.load(s, d, "lineitem")
        l.selectExpr("l_orderkey", "l_linenumber",
          LayoutOps.zValue3Expr("l_partkey", "l_suppkey", "l_linenumber", 20) + " as zval")
          .orderBy("zval", "l_orderkey", "l_linenumber")
      },
      Some("""SELECT l_orderkey, l_linenumber,
             |  list_reduce(list_prepend(CAST(0 AS BIGINT), range(0, 20)), (acc, i) ->
             |    acc + (((l_partkey >> i) & 1) << (3 * i))
             |        + (((l_suppkey >> i) & 1) << (3 * i + 1))
             |        + (((l_linenumber >> i) & 1) << (3 * i + 2))) AS zval
             |FROM lineitem
             |ORDER BY zval, l_orderkey, l_linenumber""".stripMargin)),

    // TextRank keyword extraction: integer fixed-point PageRank over the
    // word-adjacency graph. Every update is integer arithmetic (rational
    // 85/100 damping, div truncation), so ranks — not just rankings —
    // hash-gate against ten unrolled iterations in DuckDB.
    QueryDef("op_textrank",
      (s, d) => GraphOps.textRank(docs(s, d), iters = 10, k = 50),
      Some(dkTextRankOracle(iters = 10, k = 50))),

    // Bigram-LM fluency: mean add-one-smoothed conditional bigram
    // probability under the corpus's own model — the log-free,
    // exactly-gated stand-in for the KenLM-perplexity quality filter.
    // Counts, smoothing, divisions and the position-ordered fold all
    // hash-gate.
    QueryDef("op_lm_score",
      (s, d) => TextOps.lmScore(docs(s, d)),
      Some(s"""WITH t AS (SELECT doc_id, $dkWords AS w FROM documents),
              |bg AS (SELECT doc_id, i AS pos, w[i] AS a, w[i + 1] AS b
              |       FROM t, unnest(range(1, len(w))) AS u(i)),
              |big AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS bc FROM bg GROUP BY 1, 2),
              |uni AS (SELECT a, CAST(SUM(bc) AS BIGINT) AS ac FROM big GROUP BY 1),
              |voc AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS vc
              |        FROM (SELECT unnest(w) AS tok FROM t)),
              |sc AS (SELECT bg.doc_id,
              |         CAST(COUNT(*) AS BIGINT) AS n_bigrams,
              |         list_reduce(list_prepend(CAST(0 AS DOUBLE),
              |           list(CAST(big.bc AS DOUBLE) / CAST(uni.ac + voc.vc AS DOUBLE) ORDER BY bg.pos)),
              |           (s, x) -> s + x) AS sp
              |       FROM bg JOIN big ON big.a = bg.a AND big.b = bg.b
              |            JOIN uni ON uni.a = bg.a
              |            CROSS JOIN voc
              |       GROUP BY bg.doc_id)
              |SELECT d.doc_id, sc.n_bigrams,
              |       sc.sp / CAST(sc.n_bigrams AS DOUBLE) AS lm_score
              |FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id
              |ORDER BY d.doc_id""".stripMargin)),

    // Pairwise Spearman rank correlation: doubled average ranks (exact
    // integers under ties), BIGINT moment sums, one shared IEEE rho
    // formula — the profiling pass for monotone column associations.
    QueryDef("op_corr_spearman",
      (s, d) => ProfileOps.spearmanCorr(Tables.load(s, d, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")),
      Some(dkSpearmanOracle(
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")))),

    // C4 page cleaning (Raffel et al. 2020 §2.2) over sentence-planted
    // text: line retention (≥5 words + terminal punctuation), the
    // ≥3-sentence page gate, the blacklist check on the ORIGINAL text, and
    // the reconstructed clean_text — all hash-gated verbatim.
    QueryDef("op_c4_filter",
      (s, d) => TextOps.c4Filter(
        docsSplit(s, d).selectExpr("doc_id", s"$plantC4Spark as text")),
      Some(dkC4Oracle)),

    // Content-defined chunking: Gear rolling-hash boundary rule on the
    // trailing 8-gram (mod 32) — the codegen'd cdc_bounds kernel, with the
    // md5-derived 256-entry table re-derived by the oracle in SQL — chunk
    // spans sliced from the bounds array. Spans,
    // lengths, hashes AND chunk text hash-gate; the edit-locality property
    // (a head edit leaves interior chunk hashes intact) is OpsSpec-pinned.
    QueryDef("op_cdc_chunks",
      (s, d) => TextOps.cdcChunks(docsSplit(s, d), window = 8, modulus = 32),
      Some(dkCdcOracle(8, 32))),

    // Chunk-level dedup over the CDC chunks (r11) — the purpose CDC
    // exists for: identical spans anywhere in the corpus collapse onto
    // equal chunk hashes; first occurrence in (doc_id, chunk_idx) order
    // owns the chunk, later ones are duplicate bytes. A shared trailer
    // planted on every third document guarantees cross-doc duplicates.
    // Per-doc chunk/byte/dup counts are exact integers — full hash gate.
    QueryDef("op_cdc_dedup",
      (s, d) => TextOps.cdcDedup(
        docsSplit(s, d).selectExpr("doc_id", s"$plantCdcSpark as text"),
        window = 8, modulus = 32),
      Some(dkCdcDedupOracle(8, 32))),

    // KMV distinct-count sketch per event type: k smallest md5-h60 hashes
    // of the user key, (k−1)·U/h₍ₖ₎ estimator. Sketch contents AND the
    // float estimate hash-gate (one multiply + divide over exactly-
    // representable operands); n_exact pins the true error in-row.
    QueryDef("op_kmv_distinct",
      (s, d) => SketchOps.kmvDistinct(Tables.load(s, d, "events"),
        "event_type", "cast(user_id as string)", k = 16),
      Some(dkKmvOracle(16, "CAST(user_id AS VARCHAR)"))),

    // AMS F2 sketch per event type (r11): 16 ±1-sign counters with signs
    // from md5-h60 bits, estimate = mean of squares — the self-join-size
    // statistic, as a LINEAR (vector-addition-mergeable) sketch. Exact
    // BIGINT counters + a power-of-two mean division, so the estimate
    // AND the exact F2 companion hash-gate; sketch linearity is
    // OpsSpec-pinned.
    QueryDef("op_ams_f2",
      (s, d) => SketchOps.amsF2(Tables.load(s, d, "events"),
        "event_type", "cast(user_id as string)", r = 16),
      Some(dkAmsOracle(16, "CAST(user_id AS VARCHAR)"))),

    // Fixed-grid histogram quantiles per event type (r11): 128 buckets
    // over the declared [0, 512) range (step 4 — a power of two, so the
    // bucket division and edge reconstruction are exact IEEE), estimate
    // = upper edge of the first bucket reaching ceil(q·n). The mergeable
    // single-pass quantile tier (histograms add bucket-wise — OpsSpec
    // pins additivity and the ≤ one-step error vs the exact sort);
    // every column hash-gates.
    QueryDef("op_quantile_hist",
      (s, d) => SketchOps.quantileHist(Tables.load(s, d, "events"),
        "event_type", "value", lo = 0.0, hi = 512.0, nb = 128),
      Some(dkQuantileHistOracle(0.0, 512.0, 128, Seq(0.5, 0.9, 0.99)))),

    // t-digest quantiles per event type (r17): the range-free mergeable
    // quantile tier — O(δ) state, relative TAIL accuracy (the k₁ scale
    // tightens centroids toward q→0/1), digests merge across partitions/
    // micro-batches without rescanning. Construction is order-dependent
    // (no SQL oracle can replay it), so the gate is SELF-CERTIFYING
    // (the q18_approx/q21 pattern): emitted columns are the EXACT
    // percentiles through the bounded-memory rank path plus one boolean
    // per q asserting the digest's realized RANK error ≤ 1%·n + 1 — the
    // guarantee t-digests actually make. A drifting digest flips a
    // boolean and fails the full rows+schema+hash gate.
    QueryDef("op_tdigest_quantiles",
      (s, d) => SketchOps.tdigestQuantiles(Tables.load(s, d, "events"),
        "event_type", "value", qs = Seq(0.5, 0.9, 0.99), delta = 100),
      Some("""SELECT event_type AS grp,
             |       QUANTILE_CONT(value, 0.5) AS p500_exact,
             |       QUANTILE_CONT(value, 0.9) AS p900_exact,
             |       QUANTILE_CONT(value, 0.99) AS p990_exact,
             |       COUNT(*) AS n_rows,
             |       TRUE AS td_q0_within,
             |       TRUE AS td_q1_within,
             |       TRUE AS td_q2_within
             |FROM events
             |GROUP BY event_type
             |ORDER BY grp""".stripMargin)),

    // BPE merge learning (Sennrich ACL'16): 10 rounds of weighted pair
    // counting over the vocab-collapsed corpus, count-desc/pair-asc winner,
    // literal-replace fusion. The merge table — pair identities, fusion
    // order AND weighted counts — hash-gates against DuckDB running the
    // identical unrolled rounds.
    QueryDef("op_bpe_train",
      (s, d) => TextOps.bpeTrain(docs(s, d), rounds = 10),
      Some(dkBpeTrainOracle(10))),

    // The tokenizer artifact those merges produce: every distinct word
    // segmented under the learned merges, with corpus frequency and piece
    // count — the word -> pieces broadcast table a pipeline ships.
    QueryDef("op_bpe_encode",
      (s, d) => TextOps.bpeEncode(docs(s, d), rounds = 10),
      Some(dkBpeEncodeOracle(10))),

    // Fuzzy vocabulary join over typo-planted text: FastSS deletion-
    // neighborhood blocking + exact levenshtein verify. The planted
    // families ('graftwordK' everywhere, its deletion 'grftwordK' on every
    // third doc) guarantee dist-1 structure; any natural fixture pairs
    // ride along identically in both engines.
    QueryDef("op_fuzzy_words",
      (s, d) => TextOps.fuzzyWords(
        docs(s, d).selectExpr("doc_id", s"$plantFuzzySpark as text")),
      Some(dkFuzzyOracle)),

    // Exact triangle enumeration on the basket co-occurrence graph
    // (support >= 2): Spark runs degree-ordered orientation (one wedge per
    // triangle, O(m^1.5) bound); DuckDB runs the naive id-ordered 3-way
    // join — two different algorithms, one hash.
    QueryDef("op_graph_triangles",
      (s, d) => GraphOps.triangles(basketEdges(s, d)),
      Some(dkTrianglesOracle)),

    // Skyline / Pareto frontier over part (minimize price, maximize
    // size): Spark runs the distributive two-phase form (per-partition
    // running-max prune + exact broadcast verify over the surviving
    // candidates); DuckDB runs the direct quadratic NOT EXISTS — two
    // algorithms, one hash. All comparisons integer/decimal exact.
    QueryDef("op_skyline",
      (s, d) => SkylineOps.skyline(Tables.load(s, d, "part"),
          "p_partkey", "p_retailprice", "p_size")
        .selectExpr("id as p_partkey", "mn as p_retailprice", "mx as p_size")
        .orderBy("p_partkey"),
      Some(dkSkylineOracle)),

    // PMI collocations: top-50 adjacent word pairs by the association
    // ratio lift = p(a,b)/(p(a,·)·p(·,b)) over the bigram event space
    // (log2 omitted — monotone, keeps the gate IEEE-exact). BIGINT
    // counts, the identical two-division ratio tree in both engines.
    QueryDef("op_pmi_collocations",
      (s, d) => TextOps.pmiCollocations(docs(s, d), k = 50, minCount = 5),
      Some(dkPmiOracle(50, 5))),

    // Robust outlier profiling per event type: exact median, exact MAD,
    // and the count beyond 3·MAD — medians through the bounded-memory
    // rank-window path (bit-equal to MEDIAN, the q18 contract), one
    // shared IEEE tree for deviation and cut.
    QueryDef("op_mad_outliers",
      (s, d) => ProfileOps.madOutliers(Tables.load(s, d, "events"),
        "event_type", "value", cut = 3.0),
      Some(dkMadOracle(3.0))),

    // Connected components on the basket co-occurrence graph: Spark runs
    // hybrid union-find / log-round star contraction; DuckDB runs a
    // recursive-CTE min-label transitive closure — two algorithms, one
    // min-label-per-node hash.
    QueryDef("op_graph_components",
      (s, d) => GraphOps.components(basketEdges(s, d)),
      Some(dkComponentsOracle)),

    // Count-Min point-frequency estimates for every distinct user key:
    // 4×64 BIGINT counter table from md5-h60 row hashes, estimate =
    // min over the 4 cells — one-sided (never under), OpsSpec pins the
    // bound and cell-wise linearity; estimates AND exact counts
    // hash-gate.
    QueryDef("op_countmin",
      (s, d) => SketchOps.countMin(Tables.load(s, d, "events"),
        "cast(user_id as string)", depth = 4, width = 64),
      Some(dkCountMinOracle(4, 64, "CAST(user_id AS VARCHAR)"))),

    // The sketch CONSUMPTION path: point queries against the persisted
    // Count-Min table (no corpus rescan) — distinct user ids plus two
    // never-seen probes; absent cells read 0 (left join), so never-seen
    // values estimate low/zero. Same md5-h60 placement rule both engines,
    // full hash gate.
    QueryDef("op_cm_lookup",
      (s, d) => {
        val ev = Tables.load(s, d, "events")
        val sketch = SketchOps.cmSketch(ev, "cast(user_id as string)", 4, 64)
        val probes = ev.selectExpr("cast(user_id as string) as v").distinct()
          .union(s.sql("SELECT 'graft-absent-1' AS v UNION ALL SELECT 'graft-absent-2' AS v"))
        SketchOps.cmEstimate(sketch, probes, "v", depth = 4, width = 64)
      },
      Some(s"""WITH v AS (SELECT CAST(user_id AS VARCHAR) AS v FROM events),
              |cells AS (SELECT v, j,
              |            ${dkH60(s"CAST(j AS VARCHAR) || ':' || v")} % 64 AS b
              |          FROM v, unnest(range(0, 4)) AS t(j)),
              |sk AS (SELECT j, b, CAST(COUNT(*) AS BIGINT) AS c FROM cells GROUP BY 1, 2),
              |probes AS (SELECT DISTINCT v FROM v
              |           UNION SELECT 'graft-absent-1' UNION SELECT 'graft-absent-2'),
              |pv AS (SELECT v, j,
              |         ${dkH60(s"CAST(j AS VARCHAR) || ':' || v")} % 64 AS b
              |       FROM probes, unnest(range(0, 4)) AS t(j))
              |SELECT pv.v, CAST(MIN(COALESCE(sk.c, 0)) AS BIGINT) AS cm_est
              |FROM pv LEFT JOIN sk USING (j, b)
              |GROUP BY 1 ORDER BY pv.v""".stripMargin)),

    // k-core of the basket co-occurrence graph (k = 3): iterative
    // peeling to the exact fixpoint (early-exit + loud cap); the oracle
    // unrolls the identical rounds in SQL — all-integer degrees, full
    // hash gate.
    QueryDef("op_kcore",
      (s, d) => GraphOps.kcore(basketEdges(s, d), k = 3, maxRounds = 16),
      Some(dkKcoreOracle(3, 16))),

    // Sparse TF-cosine similarity join in the df≤20 term space: the
    // inverted-index candidate path with BIGINT dots/norms and one
    // shared sqrt/divide tree — pairs, dot AND cosine hash-gate.
    QueryDef("op_tf_cosine_pairs",
      (s, d) => TextOps.tfCosinePairs(docs(s, d), minSim = 0.3, maxDf = 50),
      Some(dkTfCosineOracle(0.3, 50))),

    // Lexical diversity per document: type-token ratio + Gini–Simpson
    // 1 − Σ(cᵢ/n)² — the log-free diversity index, rational in the
    // counts, one shared (n²−Σc²)/n² tree — every value hash-gates.
    QueryDef("op_lexical_diversity",
      (s, d) => TextOps.lexicalDiversity(docs(s, d)),
      Some(dkLexDiversityOracle)),

    // Distribution drift between document sources: exact total-variation
    // distance Σ|c₁n₂ − c₂n₁|/(2n₁n₂) per source pair — BIGINT
    // abs-difference sum, one closing division; KL/JS need the logs the
    // determinism contract bans.
    QueryDef("op_dist_drift",
      (s, d) => TextOps.distDrift(docs(s, d), "source"),
      Some(dkDistDriftOracle)),

    // Directional shingle containment (quote/excerpt detection —
    // |A∩B|/|A|, the relation Jaccard misses): Spark runs the
    // containment prefix filter + exact array_intersect verify; the
    // oracle runs the direct quadratic shingle join — two algorithms,
    // one hash (integer intersections, one division).
    QueryDef("op_containment_pairs",
      (s, d) => DedupOps.containmentPairs(docs(s, d), threshold = 0.7),
      Some(dkContainmentOracle(0.7))),

    // Weighted discrete percentiles (quantity-weighted price quantiles
    // per return flag): the quantile is a RATIONAL qNum/qDen and the
    // selection predicate is all-BIGINT (cumw·qDen ≥ qNum·W) — zero
    // IEEE arithmetic anywhere; result values are actual data points.
    // Session load profile by UTC start hour over the q17
    // sessionization: session counts, event totals, busiest session and
    // the exact DISC median duration (microsecond integers) — fully
    // hash-gated.
    // Per-(type, day) event-volume anomalies: each day's count z-scored
    // against its own type's daily distribution (explicit Σc/Σc² moment
    // tree, correctly-rounded sqrt — no engine-defined AVG/STDDEV
    // accumulation), flagged at |z| > 3 — the ingest-health screen. Full
    // hash gate.
    QueryDef("op_rate_anomaly",
      (s, d) => ProfileOps.rateAnomalies(Tables.load(s, d, "events")),
      Some("""WITH daily AS (
             |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             |         CAST(COUNT(*) AS BIGINT) AS c
             |  FROM events GROUP BY 1, 2),
             |st AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
             |         CAST(SUM(c) AS BIGINT) AS s1, CAST(SUM(c * c) AS BIGINT) AS s2
             |       FROM daily GROUP BY 1),
             |j AS (SELECT d.event_type, d.day, d.c,
             |        CAST(s1 AS DOUBLE) / CAST(n_days AS DOUBLE) AS mean_c,
             |        sqrt(greatest(CAST(s2 AS DOUBLE) / CAST(n_days AS DOUBLE)
             |          - (CAST(s1 AS DOUBLE) / CAST(n_days AS DOUBLE))
             |            * (CAST(s1 AS DOUBLE) / CAST(n_days AS DOUBLE)),
             |          CAST(0 AS DOUBLE))) AS std_c
             |      FROM daily d JOIN st USING (event_type)),
             |z AS (SELECT event_type, day, c, mean_c, std_c,
             |        CASE WHEN std_c > 0
             |             THEN (CAST(c AS DOUBLE) - mean_c) / std_c END AS z
             |      FROM j)
             |SELECT event_type, day, c, mean_c, std_c, z,
             |       COALESCE(abs(z) > CAST(3.0 AS DOUBLE), false) AS is_anomaly
             |FROM z ORDER BY event_type, day""".stripMargin)),

    QueryDef("op_session_stats",
      (s, d) => ProfileOps.sessionStats(Tables.load(s, d, "events")),
      Some("""WITH g AS (
             |  SELECT user_id, ts, event_id,
             |         epoch_us(ts) - LAG(epoch_us(ts), 1)
             |             OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
             |  FROM events),
             |f AS (
             |  SELECT user_id, ts,
             |         CAST(SUM(CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1 ELSE 0 END)
             |             OVER (PARTITION BY user_id ORDER BY ts, event_id
             |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
             |  FROM g),
             |sess AS (
             |  SELECT user_id, session_id, CAST(COUNT(*) AS BIGINT) AS n_events,
             |         MIN(epoch_us(ts)) AS start_us, MAX(epoch_us(ts)) AS end_us
             |  FROM f GROUP BY 1, 2),
             |h AS (
             |  SELECT (start_us // 3600000000) % 24 AS hr, n_events,
             |         end_us - start_us AS dur_us
             |  FROM sess)
             |SELECT hr, CAST(COUNT(*) AS BIGINT) AS n_sessions,
             |       CAST(SUM(n_events) AS BIGINT) AS total_events,
             |       CAST(MAX(n_events) AS BIGINT) AS max_events,
             |       quantile_disc(CAST(dur_us AS DOUBLE), 0.5) AS med_dur_us
             |FROM h GROUP BY 1 ORDER BY hr""".stripMargin)),

    // Per-group Gini concentration of order prices (the Lorenz
    // inequality KPI): rank-form numerator over cent-fixed-point
    // values, scale-0 DECIMAL moments, one shared closing tree —
    // hash-gated.
    QueryDef("op_gini",
      (s, d) => ProfileOps.giniConcentration(
        Tables.load(s, d, "lineitem"), "l_returnflag", "l_extendedprice"),
      Some("""WITH v AS (SELECT l_returnflag AS k,
             |            CAST(floor(CAST(l_extendedprice AS DOUBLE) * 100) AS BIGINT) AS x
             |          FROM lineitem WHERE l_extendedprice IS NOT NULL),
             |r AS (SELECT k, x,
             |        ROW_NUMBER() OVER (PARTITION BY k ORDER BY x) AS rn,
             |        COUNT(*) OVER (PARTITION BY k) AS n
             |      FROM v),
             |m AS (SELECT k, CAST(MAX(n) AS BIGINT) AS n_rows,
             |        SUM(CAST(2 * rn - n - 1 AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))) AS num,
             |        SUM(CAST(x AS DECIMAL(28,0))) AS sx
             |      FROM r GROUP BY 1)
             |SELECT k AS l_returnflag, n_rows,
             |  CAST(num AS DOUBLE) / (CAST(n_rows AS DOUBLE) * CAST(sx AS DOUBLE)) AS gini
             |FROM m ORDER BY 1""".stripMargin)),

    // Salted fact-dim join (the fixed-layout hot-key path AQE can't
    // reach): per-row salt on the big side, salt-replicated small side,
    // (key, salt) equi-join — provably row-identical to the plain join
    // for big-side-preserving types, so the rolled-up result hash-gates
    // against the oracle's UNSALTED join.
    QueryDef("op_salted_join",
      (s, d) => {
        val l = Tables.load(s, d, "lineitem")
          .select("l_orderkey", "l_extendedprice")
        val o = Tables.load(s, d, "orders")
          .selectExpr("o_orderkey as l_orderkey", "o_orderstatus")
        SkewOps.saltedJoin(l, o, "l_orderkey", salt = 8)
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n_rows"),
            expr("cast(sum(cast(l_extendedprice as decimal(18,6))) as double)")
              .as("revenue"))
          .orderBy("o_orderstatus")
      },
      Some("""SELECT o.o_orderstatus,
             |  CAST(COUNT(*) AS BIGINT) AS n_rows,
             |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
             |FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Sliding RANGE-frame COUNT/SUM at cluster parallelism
    // (SlidingOps.rangeFrameAgg): the scale-out twin of q29's
    // `RANGE BETWEEN 1000.0 PRECEDING AND 500.0 FOLLOWING` window —
    // Spark's WindowExec sorts the corpus on #PARTITION-BY-groups tasks
    // (o_orderpriority = 5); the twin computes the identical frames from
    // boundary probes into range-partitioned prefix sums. Exact DECIMAL
    // probe-pair differences — the oracle is the DECLARATIVE window SQL,
    // so the whole frame semantics hash-gates cross-engine.
    QueryDef("op_range_frame_agg",
      (s, d) => SlidingOps.rangeFrameAgg(
          Tables.load(s, d, "orders")
            .select("o_orderkey", "o_orderpriority", "o_totalprice"),
          "o_orderpriority", "o_totalprice",
          // o_totalprice is DOUBLE in the fixture: double literals make
          // the boundary arithmetic the same IEEE subtraction/addition
          // DuckDB's RANGE offsets perform — bit-equal boundaries, so
          // inclusion decisions agree exactly
          precede = lit(1000.0), follow = lit(500.0),
          sumExpr = expr("cast(o_totalprice as decimal(18,6))"))
        .selectExpr("o_orderkey", "n_frame as n_near",
          "cast(sum_frame as double) as sum_near")
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey,
             |  CAST(COUNT(*) OVER w AS BIGINT) AS n_near,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sum_near
             |FROM orders
             |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice
             |             RANGE BETWEEN 1000.0 PRECEDING AND 500.0 FOLLOWING)
             |ORDER BY o_orderkey""".stripMargin)),

    // Per-source ROC-AUC of document length as a classifier for
    // lang = 'en' (ProfileOps.scoreAuc): the Mann-Whitney rank form with
    // exact tie handling — integer/DECIMAL rank sums through the
    // range-partitioned prefix, one closing division written identically
    // in both engines. The filter-evaluation primitive, fully hash-gated.
    QueryDef("op_score_auc",
      (s, d) => ProfileOps.scoreAuc(Tables.load(s, d, "documents"),
        "source", "n_chars", "lang = 'en'"),
      Some("""WITH b AS (SELECT source, n_chars AS v, COUNT(*) AS cnt,
             |    SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS pos
             |  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2),
             |c AS (SELECT source, pos, cnt,
             |    SUM(cnt) OVER (PARTITION BY source ORDER BY v) AS cum FROM b),
             |a AS (SELECT source, SUM(pos) AS n_pos, SUM(cnt) AS n_all,
             |    SUM(pos * (2 * cum - cnt + 1)) AS num2 FROM c GROUP BY 1)
             |SELECT source, CAST(n_pos AS BIGINT) AS n_pos,
             |  CAST(n_all - n_pos AS BIGINT) AS n_neg,
             |  CASE WHEN n_pos > 0 AND n_all - n_pos > 0
             |    THEN CAST(num2 - n_pos * (n_pos + 1) AS DOUBLE)
             |         / (2.0 * n_pos * (n_all - n_pos))
             |    ELSE NULL END AS auc
             |FROM a ORDER BY source""".stripMargin)),

    // Per-source two-sample KS statistic on the same slice as the AUC —
    // the worst-point CDF gap a drift monitor alarms on. Exact
    // cross-multiplied integer max (no per-block division), one shared
    // closing division — fully hash-gated.
    QueryDef("op_score_ks",
      (s, d) => ProfileOps.scoreKs(Tables.load(s, d, "documents"),
        "source", "n_chars", "lang = 'en'"),
      Some("""WITH b AS (SELECT source, n_chars AS v,
             |    SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS cp,
             |    SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS cq
             |  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2),
             |c AS (SELECT source,
             |    SUM(cp) OVER (PARTITION BY source ORDER BY v) AS cum_p,
             |    SUM(cq) OVER (PARTITION BY source ORDER BY v) AS cum_q,
             |    SUM(cp) OVER (PARTITION BY source) AS n_pos,
             |    SUM(cq) OVER (PARTITION BY source) AS n_neg
             |  FROM b),
             |a AS (SELECT source, MAX(n_pos) AS n_pos, MAX(n_neg) AS n_neg,
             |    MAX(abs(cum_p * n_neg - cum_q * n_pos)) AS gap
             |  FROM c GROUP BY 1)
             |SELECT source, CAST(n_pos AS BIGINT) AS n_pos,
             |  CAST(n_neg AS BIGINT) AS n_neg,
             |  CASE WHEN n_pos > 0 AND n_neg > 0
             |    THEN CAST(gap AS DOUBLE)
             |         / (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))
             |    ELSE NULL END AS ks
             |FROM a ORDER BY source""".stripMargin)),

    // Per-source F1-optimal threshold of the same score — the operating
    // point selected from exact per-block confusion counts; the argmax
    // tie-breaks to the lowest threshold identically in both engines,
    // so threshold, counts AND all three metrics hash-gate.
    QueryDef("op_score_best_f1",
      (s, d) => ProfileOps.scoreBestF1(Tables.load(s, d, "documents"),
        "source", "n_chars", "lang = 'en'"),
      Some("""WITH b AS (SELECT source, n_chars AS v,
             |    SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS cp,
             |    SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS cq
             |  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2),
             |c AS (SELECT source, v, cp, cq,
             |    SUM(cp) OVER (PARTITION BY source ORDER BY v) AS cum_p,
             |    SUM(cq) OVER (PARTITION BY source ORDER BY v) AS cum_q,
             |    SUM(cp) OVER (PARTITION BY source) AS n1,
             |    SUM(cq) OVER (PARTITION BY source) AS n0
             |  FROM b),
             |f AS (SELECT source, v, n1, n0,
             |    n1 - (cum_p - cp) AS tp, n0 - (cum_q - cq) AS fp,
             |    CAST(2 * (n1 - (cum_p - cp)) AS DOUBLE)
             |      / CAST((n1 - (cum_p - cp)) + (n0 - (cum_q - cq)) + n1 AS DOUBLE) AS f1
             |  FROM c),
             |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
             |        ORDER BY f1 DESC, v ASC) AS rn FROM f)
             |SELECT source, CAST(n1 AS BIGINT) AS n_pos,
             |  CAST(n0 AS BIGINT) AS n_neg,
             |  CASE WHEN n1 > 0 THEN CAST(v AS BIGINT) END AS threshold,
             |  CASE WHEN n1 > 0 THEN CAST(tp AS BIGINT) END AS tp,
             |  CASE WHEN n1 > 0 THEN CAST(fp AS BIGINT) END AS fp,
             |  CASE WHEN n1 > 0
             |    THEN CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END AS prec,
             |  CASE WHEN n1 > 0
             |    THEN CAST(tp AS DOUBLE) / CAST(n1 AS DOUBLE) END AS recall,
             |  CASE WHEN n1 > 0 THEN f1 END AS f1
             |FROM r WHERE rn = 1 ORDER BY source""".stripMargin)),

    // Two-proportion z-test on purchase conversion between the
    // user_id-parity variants: exact user/conversion counts, one shared
    // divisions+sqrt tree — the A/B readout next to q49's Welch test.
    QueryDef("op_ab_ztest",
      (s, d) => ProfileOps.abConversionZ(Tables.load(s, d, "events"),
        "user_id", "event_type", "value", "purchase", minValue = 150.0),
      Some(dkAbZOracle("purchase", 150.0))),

    // k-NN label classification over the embedding table: majority label
    // of the 5 nearest neighbors by cosine, all-integer vote with
    // smallest-label ties, true label + correctness in-row — the
    // weak-supervision primitive, fully hash-gated.
    QueryDef("op_knn_classify",
      (s, d) => VectorOps.knnClassify(emb(s, d), k = 5, nQueries = 20),
      Some(dkKnnOracle(5))),

    // First-order Markov transition matrix over per-user event
    // sequences: exact counts + one division per cell under the total
    // (ts, event_id) order — the funnel-diagnosis model, hash-gated.
    QueryDef("op_event_transitions",
      (s, d) => ProfileOps.eventTransitions(Tables.load(s, d, "events"),
        "user_id", "ts", "event_type", "event_id"),
      Some(dkTransitionsOracle)),

    // Per-group OLS trend over daily value totals: integer day index
    // from the global min date, micro-unit integer daily sums (scale-0
    // moments — a fractional DECIMAL double-rounds its double cast),
    // one shared IEEE slope/intercept/R² formula text — every column
    // hash-gates (the q49/Spearman moment pattern).
    QueryDef("op_group_trend",
      (s, d) => ProfileOps.groupTrend(Tables.load(s, d, "events"),
        "event_type", "ts", "value"),
      Some(dkGroupTrendOracle)),

    // Hilbert-curve layout key (the no-diagonal-jumps companion to
    // op_zorder): the codegen hvalue kernel vs a DuckDB recursive-CTE
    // descent through the same quadrant arithmetic (spelled XOR-free so
    // both engines share it) — the whole curve hash-gates; KernelSpec
    // pins kernel == Spark fold AND the Manhattan-adjacency property.
    QueryDef("op_hilbert",
      (s, d) => {
        val l = Tables.load(s, d, "lineitem")
        l.selectExpr("l_orderkey", "l_linenumber",
          LayoutOps.hValueExpr("l_partkey", "l_suppkey", 21) + " as hval")
          .orderBy("hval", "l_orderkey", "l_linenumber")
      },
      Some(dkHilbertOracle(21))),

    // Per-doc token budget under the learned BPE merges (the count
    // packing/epoch sizing bills by): word stream × the broadcast
    // tokenizer artifact, all-integer — counts hash-gate against the
    // same unrolled rounds in SQL.
    QueryDef("op_bpe_token_count",
      (s, d) => TextOps.bpeTokenCount(docs(s, d), rounds = 10),
      Some(dkBpeTokenCountOracle(10))),

    // Tokenizer fertility per language (BPE pieces per word, by the
    // labeled lang) — the multilingual tokenizer-evaluation number that
    // exposes over-fragmentation of under-represented languages.
    // All-integer sums + one division; hash-gates against the same
    // unrolled rounds in SQL.
    QueryDef("op_tokenizer_fertility",
      (s, d) => TextOps.tokenizerFertility(docs(s, d), rounds = 10),
      Some(dkFertilityOracle(10))),

    // MinHash estimator audit: for every LSH band candidate, the
    // signature-agreement Jaccard estimate (matches/16 — exact IEEE)
    // next to the exact shingle Jaccard — the sketch's accuracy as a
    // gated output; the oracle re-derives signatures, bands AND both
    // trees in SQL.
    QueryDef("op_minhash_est",
      (s, d) => DedupOps.minhashEstPairs(docsSplit(s, d)),
      Some(dkMinhashEstOracle)),

    // Radius similarity search: all corpus vectors within cosine ≥ 0.25
    // of each query — map-only after the query broadcast (no rank
    // stage at all); same codegen dot kernel and cosine tree as the
    // top-k family, full hash gate.
    QueryDef("op_sim_radius",
      (s, d) => VectorOps.cosineRadius(emb(s, d), minCos = 0.25, nQueries = 20),
      Some(dkRadiusOracle(0.25))),

    // KMV set algebra per event-type pair: union/intersection distinct
    // estimates from the bottom-k sketches alone (merged bottom-k +
    // Jaccard fraction — Beyer SIGMOD'07), exact intersection companion
    // in-row; sketch contents AND both float estimates hash-gate.
    QueryDef("op_kmv_setops",
      (s, d) => SketchOps.kmvSetOps(Tables.load(s, d, "events"),
        "event_type", "cast(user_id as string)", k = 16),
      Some(dkKmvSetOpsOracle(16, "CAST(user_id AS VARCHAR)"))),

    QueryDef("op_weighted_median",
      (s, d) => {
        import graft.ops.PercentileOps.{weightedDiscPercentiles, WSpec}
        weightedDiscPercentiles(Tables.load(s, d, "lineitem"),
          "l_returnflag", "l_extendedprice", "l_quantity",
          Seq(WSpec(1, 2, "wmed_price"), WSpec(9, 10, "wp90_price")))
          .orderBy("l_returnflag")
      },
      Some(dkWeightedMedianOracle))
  )

  /** DuckDB mirror of [[ProfileOps.abConversionZ]] over events: same
    * parity split, per-user conversion flag, and z tree. */
  private def dkAbZOracle(convType: String, minValue: Double): String =
    s"""WITH u AS (SELECT user_id, CAST(user_id % 2 AS INT) AS variant,
       |             MAX(CAST(event_type = '$convType'
       |                      AND CAST(value AS DOUBLE) > $minValue AS INT)) AS converted
       |           FROM events GROUP BY 1, 2),
       |v AS (SELECT variant, CAST(COUNT(*) AS BIGINT) AS n,
       |        CAST(SUM(converted) AS BIGINT) AS conv
       |      FROM u GROUP BY 1),
       |j AS (SELECT a.n AS n_a, a.conv AS conv_a, b.n AS n_b, b.conv AS conv_b,
       |        CAST(a.conv AS DOUBLE) / CAST(a.n AS DOUBLE) AS p_a,
       |        CAST(b.conv AS DOUBLE) / CAST(b.n AS DOUBLE) AS p_b,
       |        CAST(a.conv + b.conv AS DOUBLE) / CAST(a.n + b.n AS DOUBLE) AS p_pool
       |      FROM (SELECT * FROM v WHERE variant = 0) a
       |      CROSS JOIN (SELECT * FROM v WHERE variant = 1) b)
       |SELECT n_a, conv_a, n_b, conv_b, p_a, p_b,
       |  (p_a - p_b) / sqrt(p_pool * (1.0 - p_pool)
       |    * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))) AS z
       |FROM j""".stripMargin

  /** DuckDB mirror of [[VectorOps.knnClassify]]: the top-k oracle's
    * rank window, a label join, and the same (cnt DESC, label ASC)
    * majority vote. */
  private def dkKnnOracle(k: Int): String =
    s"""WITH $dkNormed,
       |p AS (SELECT q.vec_id AS qid, c.vec_id AS nid, ${dkDot("q", "c")} AS cosine
       |      FROM n q JOIN n c ON q.vec_id < 20 AND q.vec_id <> c.vec_id),
       |r AS (SELECT qid, nid,
       |        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rnk
       |      FROM p),
       |t AS (SELECT qid, nid FROM r WHERE rnk <= $k),
       |v AS (SELECT t.qid, CAST(e2.label AS BIGINT) AS nlabel,
       |        CAST(COUNT(*) AS BIGINT) AS cnt
       |      FROM t JOIN embeddings e2 ON e2.vec_id = t.nid GROUP BY 1, 2),
       |w AS (SELECT qid, nlabel, cnt,
       |        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cnt DESC, nlabel) AS rk,
       |        CAST(SUM(cnt) OVER (PARTITION BY qid) AS BIGINT) AS kk
       |      FROM v)
       |SELECT w.qid, w.nlabel AS predicted, w.cnt AS votes, w.kk AS k_used,
       |  CAST(e.label AS BIGINT) AS true_label,
       |  CAST(w.nlabel = CAST(e.label AS BIGINT) AS INT) AS is_correct
       |FROM w JOIN embeddings e ON e.vec_id = w.qid
       |WHERE w.rk = 1 ORDER BY w.qid""".stripMargin

  /** DuckDB mirror of [[ProfileOps.eventTransitions]]: the same
    * (ts, event_id)-ordered LEAD, counts, marginals and division. */
  private def dkTransitionsOracle: String =
    """WITH s AS (SELECT user_id, event_type,
      |             LEAD(event_type) OVER (PARTITION BY user_id
      |               ORDER BY ts, event_id) AS next_type
      |           FROM events),
      |c AS (SELECT event_type AS from_type, next_type AS to_type,
      |        CAST(COUNT(*) AS BIGINT) AS cnt
      |      FROM s WHERE next_type IS NOT NULL GROUP BY 1, 2),
      |t AS (SELECT from_type, CAST(SUM(cnt) AS BIGINT) AS from_total
      |      FROM c GROUP BY 1)
      |SELECT c.from_type, c.to_type, c.cnt, t.from_total,
      |  CAST(c.cnt AS DOUBLE) / CAST(t.from_total AS DOUBLE) AS p
      |FROM c JOIN t USING (from_type)
      |ORDER BY c.from_type, c.to_type""".stripMargin

  /** DuckDB mirror of [[ProfileOps.groupTrend]] over events: identical
    * day index, DECIMAL daily sums, moment sums and the shared
    * [[ProfileOps.olsExprs]] formula text. */
  private def dkGroupTrendOracle: String = {
    val (slope, intercept, r2) =
      ProfileOps.olsExprs("n_days", "sx", "sxx", "sy", "sxy", "syy")
    s"""WITH g0 AS (SELECT MIN(CAST(ts AS DATE)) AS g0 FROM events),
       |daily AS (SELECT event_type AS grp,
       |            CAST(date_diff('day', g0.g0, CAST(ts AS DATE)) AS BIGINT) AS x,
       |            CAST(SUM(CAST(floor(CAST(value AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT) AS ysum
       |          FROM events CROSS JOIN g0 GROUP BY 1, 2),
       |m AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_days,
       |        CAST(SUM(x) AS BIGINT) AS sx,
       |        CAST(SUM(x * x) AS BIGINT) AS sxx,
       |        SUM(CAST(ysum AS DECIMAL(28,0))) AS sy,
       |        SUM(CAST(x AS DECIMAL(10,0)) * CAST(ysum AS DECIMAL(20,0))) AS sxy,
       |        SUM(CAST(ysum AS DECIMAL(19,0)) * CAST(ysum AS DECIMAL(19,0))) AS syy
       |      FROM daily GROUP BY 1)
       |SELECT grp, n_days,
       |  $slope AS slope, $intercept AS intercept, $r2 AS r2
       |FROM m ORDER BY grp""".stripMargin
  }

  /** DuckDB mirror of [[graft.ops.LayoutOps.hValueExpr]]: the Hilbert
    * descent as a recursive CTE, one bit level per step (DuckDB's
    * list_reduce cannot carry a struct accumulator over an int list),
    * identical CASE quadrant/rotate arithmetic. */
  private def dkHilbertOracle(bits: Int): String =
    s"""WITH RECURSIVE h AS (
       |  SELECT l_orderkey, l_linenumber, ${bits - 1} AS i,
       |         CAST(l_partkey AS BIGINT) & ${(1L << bits) - 1} AS x,
       |         CAST(l_suppkey AS BIGINT) & ${(1L << bits) - 1} AS y,
       |         CAST(0 AS BIGINT) AS d
       |  FROM lineitem
       |  UNION ALL
       |  SELECT l_orderkey, l_linenumber, i - 1,
       |    CASE WHEN ((y >> i) & 1) = 0
       |         THEN CASE WHEN ((x >> i) & 1) = 1
       |                   THEN (CAST(1 AS BIGINT) << i) - 1 - y ELSE y END
       |         ELSE x END,
       |    CASE WHEN ((y >> i) & 1) = 0
       |         THEN CASE WHEN ((x >> i) & 1) = 1
       |                   THEN (CAST(1 AS BIGINT) << i) - 1 - x ELSE x END
       |         ELSE y END,
       |    d + (CAST(1 AS BIGINT) << i) * (CAST(1 AS BIGINT) << i) *
       |      (CASE WHEN ((x >> i) & 1) = 0 THEN ((y >> i) & 1)
       |            ELSE 3 - ((y >> i) & 1) END)
       |  FROM h WHERE i >= 0
       |)
       |SELECT l_orderkey, l_linenumber, d AS hval FROM h WHERE i = -1
       |ORDER BY hval, l_orderkey, l_linenumber""".stripMargin

  /** DuckDB mirror of [[TextOps.tokenizerFertility]]: the
    * dkBpeTokenCountOracle per-doc bill rolled up by the labeled lang. */
  private def dkFertilityOracle(rounds: Int): String =
    dkBpeCtes(rounds) +
      s""",
         |enc AS MATERIALIZED (SELECT word,
         |         CAST(len(string_split(trim(st), '  ')) AS BIGINT) AS np
         |       FROM s$rounds),
         |dw AS (SELECT doc_id, word FROM (
         |         SELECT doc_id, unnest($dkWords) AS word FROM documents)
         |       WHERE word <> ''),
         |m AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
         |        CAST(SUM(np) AS BIGINT) AS n_bpe_tokens
         |      FROM dw JOIN enc USING (word) GROUP BY 1),
         |per AS (SELECT d.doc_id, d.lang, m.n_words, m.n_bpe_tokens
         |        FROM documents d LEFT JOIN m USING (doc_id))
         |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_words) AS BIGINT) AS n_words,
         |  CAST(SUM(n_bpe_tokens) AS BIGINT) AS n_bpe_tokens,
         |  CAST(SUM(n_bpe_tokens) AS DOUBLE) / CAST(SUM(n_words) AS DOUBLE) AS fertility
         |FROM per GROUP BY 1 ORDER BY lang""".stripMargin

  /** DuckDB mirror of [[TextOps.bpeTokenCount]]: the shared unrolled
    * BPE rounds, then each doc's word stream joined to the vocab's
    * piece counts. */
  private def dkBpeTokenCountOracle(rounds: Int): String =
    dkBpeCtes(rounds) +
      s""",
         |enc AS MATERIALIZED (SELECT word,
         |         CAST(len(string_split(trim(st), '  ')) AS BIGINT) AS np
         |       FROM s$rounds),
         |dw AS (SELECT doc_id, word FROM (
         |         SELECT doc_id, unnest($dkWords) AS word FROM documents)
         |       WHERE word <> ''),
         |m AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
         |        CAST(SUM(np) AS BIGINT) AS n_bpe_tokens
         |      FROM dw JOIN enc USING (word) GROUP BY 1)
         |SELECT d.doc_id, m.n_words, m.n_bpe_tokens
         |FROM documents d LEFT JOIN m USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin

  /** DuckDB mirror of [[DedupOps.minhashEstPairs]]: re-derives the K=16
    * affine minhash signatures ((1000003·(2i+1)·h + 7919·i + 12345) mod
    * 2³¹−1 — the MinHashSig kernel's exact arithmetic), the B=8 band
    * keys, the candidate join, and both estimate/exact trees. */
  /** The MinHashSig kernel's exact affine arithmetic as DuckDB SQL —
    * ONE definition shared by every minhash-consuming oracle
    * (op_minhash_est, op_dedup_incremental) so the formula cannot
    * drift between mirrors: sig_i = min over shingle hashes h of
    * ((1000003·(2i+1)·(h mod P) + 7919·i + 12345) mod P), P = 2³¹−1. */
  private def dkMinhashSig(sh: String): String =
    s"""list_transform(range(0, ${DedupOps.K}), i -> list_min(list_transform($sh, h ->
       |          (1000003 * (2 * i + 1) * (h % 2147483647) + 7919 * i + 12345) % 2147483647)))""".stripMargin

  /** The B-band LSH key list over a K-position signature — the same
    * `b:sig[2b]:sig[2b+1]` keys [[DedupOps.minhashPairs]] banding emits. */
  private def dkBandKeys(sig: String): String =
    s"""list_transform(range(0, ${DedupOps.B}), b ->
       |         b || ':' || $sig[b * 2 + 1] || ':' || $sig[b * 2 + 2])""".stripMargin

  private def dkMinhashEstOracle: String =
    s"""WITH d AS (SELECT doc_id, $dkWords AS w FROM documents),
       |s0 AS (SELECT doc_id, ${dkShingles("w")} AS sh_txt FROM d),
       |sl AS (SELECT doc_id, list_transform(sh_txt, x -> ${dkH60("x")}) AS sh FROM s0),
       |sg AS MATERIALIZED (SELECT doc_id, sh, CAST(len(sh) AS BIGINT) AS n_sh,
       |        ${dkMinhashSig("sh")} AS sig
       |      FROM sl WHERE len(sh) >= 1),
       |bk AS (SELECT doc_id, unnest(${dkBandKeys("sig")}) AS band_key FROM sg),
       |c AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |      FROM bk a JOIN bk b ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
       |j AS (SELECT doc_a, doc_b,
       |        CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS inter,
       |        sa.n_sh AS na, sb.n_sh AS nb,
       |        CAST(list_reduce(list_prepend(0, list_transform(range(1, 17), i ->
       |          CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)), (s, m) -> s + m) AS BIGINT) AS sig_matches
       |      FROM c JOIN sg sa ON sa.doc_id = doc_a JOIN sg sb ON sb.doc_id = doc_b)
       |SELECT doc_a, doc_b, inter, na, nb, sig_matches,
       |  CAST(inter AS DOUBLE) / (na + nb - inter) AS jaccard_exact,
       |  CAST(sig_matches AS DOUBLE) / 16 AS jaccard_est
       |FROM j ORDER BY doc_a, doc_b""".stripMargin

  /** DuckDB mirror of [[VectorOps.cosineRadius]]: the same query set,
    * dot/norm fold and cosine tree, threshold instead of rank. */
  private def dkRadiusOracle(minCos: Double): String =
    s"""WITH $dkNormed,
       |p AS (SELECT q.vec_id AS qid, c.vec_id AS nid, ${dkDot("q", "c")} AS cosine
       |      FROM n q JOIN n c ON q.vec_id < 20 AND q.vec_id <> c.vec_id)
       |SELECT qid, nid, cosine FROM p
       |WHERE cosine >= $minCos ORDER BY qid, nid""".stripMargin

  /** DuckDB mirror of [[SketchOps.kmvSetOps]] over events: identical
    * per-group bottom-k, pair-merged bottom-k, membership counts and
    * estimator trees. */
  private def dkKmvSetOpsOracle(k: Int, valueDuck: String): String =
    s"""WITH d AS (SELECT event_type AS grp, ${dkH60(valueDuck)} AS h
       |           FROM events GROUP BY 1, 2),
       |r AS (SELECT grp, h, ROW_NUMBER() OVER (PARTITION BY grp ORDER BY h) AS rn FROM d),
       |sk AS (SELECT grp, h FROM r WHERE rn <= $k),
       |g AS (SELECT DISTINCT grp FROM sk),
       |u AS (SELECT s.grp AS g1, t.grp AS g2, s.h, 1 AS ia, 0 AS ib
       |      FROM sk s JOIN g t ON s.grp < t.grp
       |      UNION ALL
       |      SELECT t.grp, s.grp, s.h, 0, 1
       |      FROM sk s JOIN g t ON t.grp < s.grp),
       |m0 AS (SELECT g1, g2, h, MAX(ia) AS ia, MAX(ib) AS ib
       |       FROM u GROUP BY 1, 2, 3),
       |mr AS (SELECT g1, g2, h, ia, ib,
       |         ROW_NUMBER() OVER (PARTITION BY g1, g2 ORDER BY h) AS rn
       |       FROM m0),
       |mg AS (SELECT g1, g2, CAST(COUNT(*) AS BIGINT) AS n_kept,
       |         MAX(h) AS kth, CAST(SUM(ia * ib) AS BIGINT) AS n_both
       |       FROM mr WHERE rn <= $k GROUP BY 1, 2),
       |x AS (SELECT a.grp AS g1, b.grp AS g2, CAST(COUNT(*) AS BIGINT) AS exact_inter
       |      FROM d a JOIN d b ON a.h = b.h AND a.grp < b.grp GROUP BY 1, 2),
       |e AS (SELECT mg.g1, mg.g2, n_kept, n_both,
       |        CAST(COALESCE(exact_inter, 0) AS BIGINT) AS exact_inter,
       |        CASE WHEN n_kept < $k THEN CAST(n_kept AS DOUBLE)
       |             ELSE CAST(${k - 1} AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)
       |                  / CAST(kth AS DOUBLE) END AS est_union
       |      FROM mg LEFT JOIN x ON x.g1 = mg.g1 AND x.g2 = mg.g2)
       |SELECT g1, g2, n_kept, n_both, exact_inter, est_union,
       |  (CAST(n_both AS DOUBLE) / CAST(n_kept AS DOUBLE)) * est_union AS est_inter
       |FROM e ORDER BY g1, g2""".stripMargin

  /** DuckDB mirror of [[graft.ops.PercentileOps.weightedDiscPercentiles]]
    * on lineitem: the same (key, value) weight rollup, cumulative
    * window and integer threshold predicates. */
  private def dkWeightedMedianOracle: String =
    """WITH g AS (SELECT l_returnflag AS k, l_extendedprice AS v,
      |             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS wv
      |           FROM lineitem
      |           WHERE l_extendedprice IS NOT NULL AND l_quantity > 0
      |           GROUP BY 1, 2),
      |c AS (SELECT k, v, wv,
      |        SUM(wv) OVER (PARTITION BY k ORDER BY v) AS cumw,
      |        SUM(wv) OVER (PARTITION BY k) AS tw
      |      FROM g)
      |SELECT k AS l_returnflag,
      |  MIN(CASE WHEN cumw * 2 >= 1 * tw THEN v END) AS wmed_price,
      |  MIN(CASE WHEN cumw * 10 >= 9 * tw THEN v END) AS wp90_price,
      |  CAST(MAX(tw) AS BIGINT) AS total_weight
      |FROM c GROUP BY 1 ORDER BY 1""".stripMargin

  /** DuckDB mirror of [[DedupOps.containmentPairs]]: the direct
    * quadratic form — shared-shingle counts both directions over the
    * same md5-h60 shingle sets, the same |A∩B|/|A| division. */
  private def dkContainmentOracle(thr: Double): String =
    s"""WITH d AS (SELECT doc_id, $dkWords AS w FROM documents),
       |s0 AS (SELECT doc_id, ${dkShingles("w")} AS sh_txt FROM d),
       |sh AS (SELECT doc_id, unnest(list_transform(sh_txt, x -> ${dkH60("x")})) AS s FROM s0),
       |sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY 1),
       |i AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS c
       |      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id GROUP BY 1, 2)
       |SELECT doc_a, doc_b, c AS inter, sa.n AS na,
       |  CAST(c AS DOUBLE) / CAST(sa.n AS DOUBLE) AS containment
       |FROM i JOIN sz sa ON sa.doc_id = doc_a
       |WHERE CAST(c AS DOUBLE) / CAST(sa.n AS DOUBLE) >= $thr
       |ORDER BY doc_a, doc_b""".stripMargin

  /** DuckDB mirror of [[TextOps.lexicalDiversity]]: identical token
    * counts, moment sums and the (n²−Σc²)/n² tree. */
  private def dkLexDiversityOracle: String =
    s"""WITH t AS (SELECT doc_id, tk, CAST(COUNT(*) AS BIGINT) AS c FROM (
       |       SELECT doc_id, unnest($dkWords) AS tk FROM documents)
       |     WHERE tk <> '' GROUP BY 1, 2),
       |m AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
       |        CAST(COUNT(*) AS BIGINT) AS n_types,
       |        CAST(SUM(c * c) AS BIGINT) AS sumsq
       |      FROM t GROUP BY 1)
       |SELECT d.doc_id, m.n_tokens, m.n_types,
       |  CAST(m.n_types AS DOUBLE) / CAST(m.n_tokens AS DOUBLE) AS ttr,
       |  CAST(m.n_tokens * m.n_tokens - m.sumsq AS DOUBLE)
       |    / CAST(m.n_tokens * m.n_tokens AS DOUBLE) AS gini_simpson
       |FROM documents d LEFT JOIN m USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  /** DuckDB mirror of [[TextOps.distDrift]] over source: identical
    * slice counts, vocab-union expansion and the
    * Σ|c₁n₂−c₂n₁|/(2n₁n₂) tree. */
  private def dkDistDriftOracle: String =
    s"""WITH c AS (SELECT source AS s, tk, CAST(COUNT(*) AS BIGINT) AS c FROM (
       |       SELECT source, unnest($dkWords) AS tk FROM documents)
       |     WHERE tk <> '' GROUP BY 1, 2),
       |n AS (SELECT s, CAST(SUM(c) AS BIGINT) AS n FROM c GROUP BY 1),
       |p AS (SELECT a.s AS s1, b.s AS s2, a.n AS n1, b.n AS n2
       |      FROM n a JOIN n b ON a.s < b.s),
       |v AS (SELECT DISTINCT tk FROM c),
       |j AS (SELECT p.s1, p.s2, p.n1, p.n2,
       |        COALESCE(c1.c, 0) AS c1, COALESCE(c2.c, 0) AS c2
       |      FROM p CROSS JOIN v
       |        LEFT JOIN c c1 ON c1.s = p.s1 AND c1.tk = v.tk
       |        LEFT JOIN c c2 ON c2.s = p.s2 AND c2.tk = v.tk)
       |SELECT s1, s2, n1, n2,
       |  CAST(SUM(ABS(c1 * n2 - c2 * n1)) AS BIGINT) AS num,
       |  CAST(SUM(ABS(c1 * n2 - c2 * n1)) AS DOUBLE)
       |    / CAST(2 * n1 * n2 AS DOUBLE) AS tv_dist
       |FROM j GROUP BY 1, 2, 3, 4
       |ORDER BY s1, s2""".stripMargin

  /** DuckDB mirror of [[GraphOps.kcore]] on the basket graph: the same
    * peel unrolled `rounds` times (no-op rounds past the fixpoint leave
    * it unchanged — the same contract the Spark side's early exit
    * relies on). */
  private def dkKcoreOracle(k: Int, rounds: Int): String = {
    // every CTE MATERIALIZED: DuckDB inlines plain CTEs per reference, and
    // each round reads the previous one 3× — unmaterialized, 16 rounds
    // become 3¹⁶ scans of the base ("Too many open files", found at gate
    // time). Materialized, the oracle is `rounds` linear passes.
    val base =
      """i AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e0 AS MATERIALIZED (SELECT a.p AS a, b.p AS b FROM i a JOIN i b ON a.o = b.o AND a.p < b.p
        |       GROUP BY 1, 2 HAVING COUNT(*) >= 2)""".stripMargin
    val steps = (1 to rounds).map { t =>
      s"""d$t AS MATERIALIZED (SELECT v, COUNT(*) AS d FROM (
         |  SELECT a AS v FROM e${t - 1} UNION ALL SELECT b FROM e${t - 1}) GROUP BY 1),
         |k$t AS MATERIALIZED (SELECT v FROM d$t WHERE d >= $k),
         |e$t AS MATERIALIZED (SELECT e.a, e.b FROM e${t - 1} e
         |  JOIN k$t ka ON ka.v = e.a JOIN k$t kb ON kb.v = e.b)""".stripMargin
    }.mkString(",\n")
    s"""WITH $base,
       |$steps
       |SELECT v AS node, CAST(COUNT(*) AS BIGINT) AS core_degree FROM (
       |  SELECT a AS v FROM e$rounds UNION ALL SELECT b FROM e$rounds)
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** DuckDB mirror of [[TextOps.tfCosinePairs]]: identical tf/df
    * tables, df cut, posting-list self-join and the same
    * sqrt·sqrt-divide cosine tree. */
  private def dkTfCosineOracle(minSim: Double, maxDf: Long): String =
    s"""WITH tf AS (SELECT doc_id, tk, CAST(COUNT(*) AS BIGINT) AS tf FROM (
       |       SELECT doc_id, unnest($dkWords) AS tk FROM documents)
       |     WHERE tk <> '' GROUP BY 1, 2),
       |dfx AS (SELECT tk FROM tf GROUP BY tk HAVING COUNT(*) <= $maxDf),
       |kept AS (SELECT tf.tk, doc_id, tf FROM tf JOIN dfx USING (tk)),
       |nrm AS (SELECT doc_id, CAST(SUM(tf * tf) AS BIGINT) AS nrm2 FROM kept GROUP BY 1),
       |dots AS (SELECT l.doc_id AS doc_a, r.doc_id AS doc_b,
       |           CAST(SUM(l.tf * r.tf) AS BIGINT) AS dot
       |         FROM kept l JOIN kept r ON l.tk = r.tk AND l.doc_id < r.doc_id
       |         GROUP BY 1, 2)
       |SELECT doc_a, doc_b, dot,
       |  CAST(dot AS DOUBLE)
       |    / (sqrt(CAST(na.nrm2 AS DOUBLE)) * sqrt(CAST(nb.nrm2 AS DOUBLE))) AS cos_sim
       |FROM dots JOIN nrm na ON na.doc_id = dots.doc_a
       |          JOIN nrm nb ON nb.doc_id = dots.doc_b
       |WHERE CAST(dot AS DOUBLE)
       |    / (sqrt(CAST(na.nrm2 AS DOUBLE)) * sqrt(CAST(nb.nrm2 AS DOUBLE))) >= $minSim
       |ORDER BY doc_a, doc_b""".stripMargin

  /** DuckDB mirror of [[SkylineOps.skyline]] on part — the direct
    * quadratic dominance NOT EXISTS (a deliberately different algorithm
    * from Spark's two-phase prune; same frontier). */
  private def dkSkylineOracle: String =
    """SELECT p_partkey, p_retailprice, p_size FROM part p
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM part q
      |  WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
      |    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
      |ORDER BY p_partkey""".stripMargin

  /** DuckDB mirror of [[TextOps.pmiCollocations]]: identical bigram
    * table, marginals, the same (c_ab/c_a)·(N/c_b) division tree, same
    * (lift DESC, a, b) top-k. */
  private def dkPmiOracle(k: Int, minCount: Long): String =
    s"""WITH w AS (SELECT $dkWords AS w FROM documents),
       |bg AS (SELECT w[i] AS a, w[i + 1] AS b, CAST(COUNT(*) AS BIGINT) AS c_ab
       |       FROM w, unnest(range(1, len(w))) AS t(i)
       |       WHERE len(w) >= 2 GROUP BY 1, 2),
       |la AS (SELECT a, CAST(SUM(c_ab) AS BIGINT) AS c_a FROM bg GROUP BY 1),
       |rb AS (SELECT b, CAST(SUM(c_ab) AS BIGINT) AS c_b FROM bg GROUP BY 1),
       |n AS (SELECT CAST(SUM(c_ab) AS BIGINT) AS n_bigrams FROM bg)
       |SELECT a, b, c_ab, c_a, c_b, n_bigrams,
       |  (CAST(c_ab AS DOUBLE) / CAST(c_a AS DOUBLE))
       |    * (CAST(n_bigrams AS DOUBLE) / CAST(c_b AS DOUBLE)) AS lift
       |FROM bg JOIN la USING (a) JOIN rb USING (b) CROSS JOIN n
       |WHERE c_ab >= $minCount
       |ORDER BY lift DESC, a, b LIMIT $k""".stripMargin

  /** DuckDB mirror of [[ProfileOps.madOutliers]] over events: MEDIAN
    * twice (bit-equal to the rank-window path — the q18 contract) and
    * the identical deviation/cut tree. */
  private def dkMadOracle(cut: Double): String =
    s"""WITH m AS (SELECT event_type, quantile_disc(CAST(value AS DOUBLE), 0.5) AS med
       |           FROM events WHERE value IS NOT NULL GROUP BY 1),
       |d AS (SELECT e.event_type, m.med,
       |        abs(CAST(e.value AS DOUBLE) - m.med) AS adev
       |      FROM events e JOIN m USING (event_type)
       |      WHERE e.value IS NOT NULL),
       |md AS (SELECT event_type, quantile_disc(adev, 0.5) AS mad FROM d GROUP BY 1)
       |SELECT d.event_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
       |       MAX(d.med) AS med, MAX(md.mad) AS mad,
       |       CAST(SUM(CASE WHEN d.adev > CAST($cut AS DOUBLE) * md.mad
       |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
       |FROM d JOIN md USING (event_type)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** DuckDB mirror of [[GraphOps.components]] on the basket graph: a
    * recursive-CTE min-label transitive closure (every node accumulates
    * the labels of everything reachable; MIN per node = the component
    * minimum — a different algorithm from Spark's union-find/star
    * contraction, same labels). */
  private def dkComponentsOracle: String =
    """WITH RECURSIVE
      |i AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |e0 AS (SELECT a.p AS a, b.p AS b FROM i a JOIN i b ON a.o = b.o AND a.p < b.p
      |       GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |e AS (SELECT a AS u, b AS v FROM e0 UNION ALL SELECT b, a FROM e0),
      |r(node, lbl) AS (
      |  SELECT u, u FROM (SELECT DISTINCT u FROM e)
      |  UNION
      |  SELECT e.v, r.lbl FROM r JOIN e ON e.u = r.node WHERE r.lbl < e.v
      |)
      |SELECT node, CAST(MIN(lbl) AS BIGINT) AS component
      |FROM r GROUP BY 1 ORDER BY node""".stripMargin

  /** DuckDB mirror of [[SketchOps.countMin]]: identical md5-h60 row
    * hashes and bucket arithmetic, the same min-over-cells estimate. */
  private def dkCountMinOracle(depth: Int, width: Int, valueDuck: String): String =
    s"""WITH v AS (SELECT CAST(($valueDuck) AS VARCHAR) AS v FROM events),
       |cells AS (SELECT v, j,
       |            ${dkH60(s"CAST(j AS VARCHAR) || ':' || v")} % $width AS b
       |          FROM v, unnest(range(0, $depth)) AS t(j)),
       |sk AS (SELECT j, b, CAST(COUNT(*) AS BIGINT) AS c FROM cells GROUP BY 1, 2),
       |x AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS exact_cnt FROM v GROUP BY 1),
       |pv AS (SELECT DISTINCT x.v, exact_cnt, j,
       |         ${dkH60(s"CAST(j AS VARCHAR) || ':' || x.v")} % $width AS b
       |       FROM x, unnest(range(0, $depth)) AS t(j))
       |SELECT pv.v, MAX(exact_cnt) AS exact_cnt, CAST(MIN(sk.c) AS BIGINT) AS cm_est
       |FROM pv JOIN sk USING (j, b)
       |GROUP BY 1 ORDER BY pv.v""".stripMargin

  /** Deterministic planted typo families for op_fuzzy_words. */
  private def plantFuzzySpark: String =
    """concat(text, ' graftword', cast(doc_id % 7 as string),
      |  case when doc_id % 3 = 0
      |       then concat(' grftword', cast(doc_id % 7 as string)) else '' end)""".stripMargin
  // (same stripMargin caveat as plantPiiDuck: no line starts with '|')
  private def plantFuzzyDuck: String =
    "text || ' graftword' || CAST(doc_id % 7 AS VARCHAR) || " +
      "CASE WHEN doc_id % 3 = 0 THEN ' grftword' || CAST(doc_id % 7 AS VARCHAR) ELSE '' END"

  /** DuckDB mirror of [[TextOps.fuzzyWords]] (minLen 4): same vocab
    * collapse, deletion-variant keys, candidate self-join and exact
    * levenshtein verify. */
  private def dkFuzzyOracle: String =
    s"""WITH d AS (SELECT doc_id, $plantFuzzyDuck AS text FROM documents),
       |v AS (SELECT word, COUNT(*) AS c FROM (
       |        SELECT unnest($dkWords) AS word FROM d)
       |      WHERE len(word) >= 4 GROUP BY 1),
       |k AS (SELECT word, c, unnest(list_distinct(list_transform(range(0, len(word) + 1), i ->
       |        CASE WHEN i = 0 THEN word
       |             ELSE substr(word, 1, i - 1) || substr(word, i + 1, len(word)) END))) AS kk
       |      FROM v),
       |cand AS (SELECT DISTINCT a.word AS word_a, b.word AS word_b, a.c AS c_a, b.c AS c_b
       |         FROM k a JOIN k b ON a.kk = b.kk AND a.word < b.word)
       |SELECT word_a, word_b, CAST(levenshtein(word_a, word_b) AS BIGINT) AS dist, c_a, c_b
       |FROM cand WHERE levenshtein(word_a, word_b) <= 1
       |ORDER BY word_a, word_b""".stripMargin

  /** Basket co-occurrence edges (distinct same-order part pairs seen in
    * >= 2 orders) — the q41 graph at a support that keeps it triangle-rich. */
  private def basketEdges(s: org.apache.spark.sql.SparkSession, d: String) = {
    val l = Tables.load(s, d, "lineitem").select("l_orderkey", "l_partkey").distinct()
    l.toDF("o", "pa").join(l.toDF("o", "pb"), Seq("o"))
      .filter(col("pa") < col("pb"))
      .groupBy("pa", "pb").agg(count(lit(1)).as("sup"))
      .filter(col("sup") >= 2)
      .selectExpr("pa as a", "pb as b")
  }

  /** Naive id-ordered 3-way-join triangle oracle over the same edges — an
    * algorithm independent of the Spark side's degree orientation. */
  private def dkTrianglesOracle: String =
    """WITH i AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |e AS (SELECT a.p AS a, b.p AS b FROM i a JOIN i b ON a.o = b.o AND a.p < b.p
      |      GROUP BY 1, 2 HAVING COUNT(*) >= 2)
      |SELECT e1.a AS v1, e1.b AS v2, e2.b AS v3
      |FROM e e1 JOIN e e2 ON e2.a = e1.b JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
      |ORDER BY v1, v2, v3""".stripMargin

  /** DuckDB mirror of [[TextOps.bpeRun]]: the same corpus -> (word, count)
    * collapse, double-space symbol states, weighted pair counts with the
    * count-desc/pair-asc winner, and literal-replace merge application,
    * unrolled `rounds` times (the kmeans-oracle pattern). SUM(BIGINT) is
    * HUGEINT in DuckDB, so pair_count casts back to BIGINT. Every CTE is
    * MATERIALIZED: DuckDB inlines CTEs by default, and each round
    * references its predecessor several times (once directly, thrice via
    * the winner's scalar subqueries) — inlining would re-expand the whole
    * prefix exponentially (~4^rounds scans of `documents`; the sf0.01 run
    * actually died on "Too many open files" before the fix).
    *
    * If merges dry up before `rounds` (m$t empty — not hit by the fixture
    * corpus, but latent), the winner's scalar subqueries return NULL and a
    * bare replace(st, NULL, …) would null every word state; the coalesce
    * guards fall back to a pattern that can never match (st ‖ chr(1) is
    * strictly longer than st), so dry rounds pass states through unchanged
    * — exactly how the Spark side's bpeRun stops (ADVICE r10). */
  private def dkBpeCtes(rounds: Int): String = {
    val init =
      s"""w AS MATERIALIZED (SELECT word, COUNT(*) AS c FROM (
         |       SELECT unnest($dkWords) AS word FROM documents)
         |     WHERE word <> '' GROUP BY 1),
         |s0 AS MATERIALIZED (SELECT word, c,
         |         ' ' || array_to_string(list_transform(range(1, len(word) + 1),
         |                  i -> substr(word, i, 1)), '  ') || ' ' AS st
         |       FROM w)""".stripMargin
    val steps = (1 to rounds).map { t =>
      s""",
         |p$t AS MATERIALIZED (SELECT pair, CAST(SUM(c) AS BIGINT) AS cnt FROM (
         |         SELECT c, unnest(list_transform(range(1, len(sy)),
         |                  i -> sy[i] || ' ' || sy[i + 1])) AS pair
         |         FROM (SELECT c, string_split(trim(st), '  ') AS sy FROM s${t - 1})
         |         WHERE len(sy) >= 2) GROUP BY 1),
         |m$t AS MATERIALIZED (SELECT CAST($t AS BIGINT) AS round,
         |          string_split(pair, ' ')[1] AS lhs,
         |          string_split(pair, ' ')[2] AS rhs,
         |          string_split(pair, ' ')[1] || string_split(pair, ' ')[2] AS merged,
         |          cnt AS pair_count
         |        FROM p$t ORDER BY cnt DESC, pair LIMIT 1),
         |s$t AS MATERIALIZED (SELECT word, c,
         |          replace(st,
         |                  coalesce(' ' || (SELECT lhs FROM m$t) || '  ' || (SELECT rhs FROM m$t) || ' ',
         |                           st || chr(1)),
         |                  coalesce(' ' || (SELECT merged FROM m$t) || ' ', '')) AS st
         |        FROM s${t - 1})""".stripMargin
    }.mkString
    "WITH " + init + steps
  }

  private def dkBpeTrainOracle(rounds: Int): String =
    dkBpeCtes(rounds) + "\n" +
      (1 to rounds)
        .map(t => s"SELECT round, lhs, rhs, merged, pair_count FROM m$t")
        .mkString("\nUNION ALL\n") +
      "\nORDER BY round"

  private def dkBpeEncodeOracle(rounds: Int): String =
    dkBpeCtes(rounds) +
      s"""
         |SELECT word, c AS word_count,
         |  CAST(len(string_split(trim(st), '  ')) AS BIGINT) AS n_pieces,
         |  array_to_string(string_split(trim(st), '  '), ' ') AS pieces
         |FROM s$rounds ORDER BY word""".stripMargin

  /** DuckDB mirror of [[GraphOps.textRank]]: identical edge construction,
    * `iters` unrolled integer fixed-point rounds (the kmeans-oracle
    * pattern), `//` matching Spark's `div` on non-negative operands. */
  private def dkTextRankOracle(iters: Int, k: Int): String = {
    val S = s"CAST(${1L << 40} AS BIGINT)"
    val rounds = (1 to iters).map { t =>
      s""",
         |c$t AS (SELECT e.dst AS node, CAST(SUM((r.r * e.w) // o.outw) AS BIGINT) AS sc
         |       FROM r${t - 1} r JOIN edges e ON e.src = r.node
         |       JOIN outw o ON o.src = e.src GROUP BY 1),
         |r$t AS (SELECT nodes.node,
         |         (15 * ($S // nn.n)) // 100 + (85 * COALESCE(c$t.sc, 0)) // 100 AS r
         |       FROM nodes CROSS JOIN nn LEFT JOIN c$t ON c$t.node = nodes.node)""".stripMargin
    }.mkString
    s"""WITH w0 AS (SELECT $dkWords AS w FROM documents),
       |ad AS (SELECT w[i] AS a, w[i + 1] AS b
       |       FROM w0, unnest(range(1, len(w))) AS t(i)
       |       WHERE w[i] <> '' AND w[i + 1] <> '' AND w[i] <> w[i + 1]),
       |edges AS (SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS w FROM (
       |            SELECT a AS src, b AS dst FROM ad
       |            UNION ALL SELECT b AS src, a AS dst FROM ad) GROUP BY 1, 2),
       |outw AS (SELECT src, CAST(SUM(w) AS BIGINT) AS outw FROM edges GROUP BY 1),
       |nodes AS (SELECT DISTINCT node FROM (
       |            SELECT src AS node FROM edges UNION ALL SELECT dst AS node FROM edges)),
       |nn AS (SELECT COUNT(*) AS n FROM nodes),
       |r0 AS (SELECT node, ($S // nn.n) AS r FROM nodes CROSS JOIN nn)$rounds
       |SELECT token, rank_fp FROM (
       |  SELECT node AS token, r AS rank_fp,
       |         ROW_NUMBER() OVER (ORDER BY r DESC, node) AS rn FROM r$iters)
       |WHERE rn <= $k
       |ORDER BY rank_fp DESC, token""".stripMargin
  }

  /** DuckDB mirror of [[ProfileOps.spearmanCorr]] over lineitem: per
    * column the same doubled-average-rank construction (2·cum − cnt + 1
    * over distinct values), exact BIGINT moment sums, and the SAME
    * [[ProfileOps.spearmanRho]] formula text. */
  private def dkSpearmanOracle(cols: Seq[String]): String = {
    val idx = cols.indices
    val pairs = for (i <- idx; j <- idx if i < j) yield (i, j)
    val rks = idx.map { i =>
      s"""cnt$i AS (SELECT ${cols(i)} AS v, COUNT(*) AS cnt FROM lineitem GROUP BY 1),
         |rk$i AS (SELECT v, 2 * SUM(cnt) OVER (ORDER BY v) - cnt + 1 AS d$i FROM cnt$i)""".stripMargin
    }.mkString(",\n")
    val joins = idx.map(i => s"JOIN rk$i ON rk$i.v = lineitem.${cols(i)}").mkString(" ")
    val moments = (Seq("CAST(COUNT(*) AS BIGINT) AS n") ++
      idx.flatMap(i => Seq(
        s"CAST(SUM(d$i) AS BIGINT) AS s$i",
        s"CAST(SUM(d$i * d$i) AS BIGINT) AS q$i")) ++
      pairs.map { case (i, j) =>
        s"CAST(SUM(d$i * d$j) AS BIGINT) AS p${i}_$j" }).mkString(", ")
    val rows = pairs.map { case (i, j) =>
      s"""SELECT '${cols(i)}' AS col_a, '${cols(j)}' AS col_b,
         |  ${ProfileOps.spearmanRho("n", s"s$i", s"s$j", s"p${i}_$j", s"q$i", s"q$j")} AS rho FROM s""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $rks,
       |j AS (SELECT ${idx.map(i => s"rk$i.d$i").mkString(", ")} FROM lineitem $joins),
       |s AS (SELECT $moments FROM j)
       |SELECT col_a, col_b, rho FROM ($rows) ORDER BY col_a, col_b""".stripMargin
  }

  /** DuckDB mirror of [[ClusterOps.kmeansAssign]]: the same quantize →
    * seed → (assign → exact-sum update)ⁿ → final-assign pipeline as an
    * unrolled CTE chain. Every arithmetic step matches the Spark side
    * bit-for-bit (see ClusterOps scaladoc), so the assignment hash-gates.
    * `finalSelect` runs against the CTEs (`qd` = quantized vectors, `asg`
    * = the final (vec_id, cluster) assignment).
    */
  private def dkKmeansOracle(kExpr: String, iters: Int): String =
    dkKmeansSql(kExpr, iters,
      "SELECT vec_id, cluster FROM asg ORDER BY vec_id")

  private def dkKmeansSql(kExpr: String, iters: Int, finalSelect: String): String =
    "WITH " + dkKmeansCtes(kExpr, iters) + "\n" + finalSelect

  /** The CTE chain of the k-means oracle WITHOUT the leading WITH or a
    * final select, so callers can splice several independent chains into
    * one statement (the PQ oracle runs one chain per subspace). `sfx`
    * suffixes every CTE name; `srcExpr` is the DuckDB expression yielding
    * the (sub)vector to cluster — `embedding` for the full-vector oracles,
    * a `embedding[a:b]` slice per PQ subspace. `srcTable` lets a chain run
    * over a derived relation (the residual-IVFPQ oracle clusters a CTE of
    * residuals, not the base table). Exposed CTEs per suffix:
    * `qd$sfx` (quantized vectors), `c$iters$sfx` (final centroids),
    * `asg$sfx` (vec_id → cluster).
    */
  private def dkKmeansCtes(kExpr: String, iters: Int, sfx: String = "",
                           srcExpr: String = "embedding",
                           srcTable: String = "embeddings"): String = {
    def dot(a: String, b: String) =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |  list_transform(range(1, len($a) + 1), i -> $a[i] * $b[i])), (x, y) -> x + y)""".stripMargin
    def round(t: Int, prev: String): String =
      s""",
         |d$t$sfx AS (SELECT p.vec_id, p.xq, c.cid,
         |          p.xx - 2 * ${dot("p.xd", "c.m")} + ${dot("c.m", "c.m")} AS dist
         |        FROM qx$sfx p CROSS JOIN $prev c),
         |a$t$sfx AS (SELECT vec_id, xq, cid FROM (
         |          SELECT vec_id, xq, cid,
         |                 ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
         |          FROM d$t$sfx) WHERE rn = 1),
         |s$t$sfx AS (SELECT cid, t.i AS pos, SUM(xq[t.i]) AS s, COUNT(*) AS n
         |        FROM a$t$sfx, unnest(range(1, len(xq) + 1)) AS t(i) GROUP BY cid, t.i),
         |m$t$sfx AS (SELECT cid, list(CAST(s AS DOUBLE) / n ORDER BY pos) AS m
         |        FROM s$t$sfx GROUP BY cid),
         |c$t$sfx AS (SELECT p.cid, COALESCE(m$t$sfx.m, p.m) AS m
         |        FROM $prev p LEFT JOIN m$t$sfx ON m$t$sfx.cid = p.cid)""".stripMargin
    val head =
      s"""q$sfx AS (SELECT vec_id,
         |  list_transform($srcExpr, x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS xq
         |  FROM $srcTable),
         |qd$sfx AS (SELECT vec_id, xq, list_transform(xq, v -> CAST(v AS DOUBLE)) AS xd FROM q$sfx),
         |qx$sfx AS (SELECT vec_id, xq, xd, ${dot("xd", "xd")} AS xx FROM qd$sfx),
         |c0$sfx AS (SELECT cid, m FROM (
         |         SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid,
         |                xd AS m FROM qd$sfx)
         |       WHERE cid < ($kExpr))""".stripMargin
    val rounds = (1 to iters).map(t => round(t, s"c${t - 1}$sfx")).mkString
    val fin =
      s""",
         |df$sfx AS (SELECT p.vec_id, c.cid,
         |         p.xx - 2 * ${dot("p.xd", "c.m")} + ${dot("c.m", "c.m")} AS dist
         |       FROM qx$sfx p CROSS JOIN c$iters$sfx c),
         |asg$sfx AS (SELECT vec_id, cid AS cluster FROM (
         |  SELECT vec_id, cid,
         |         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
         |  FROM df$sfx) WHERE rn = 1)""".stripMargin
    head + rounds + fin
  }

  /** The op_decontaminate oracle, shared verbatim by op_decontaminate_bloom:
    * the bloom pre-filter must be output-invisible, so both gate against
    * the one exact-membership implementation. */
  private lazy val dkDecontaminateOracle: String =
    s"""WITH w0 AS (SELECT doc_id, $dkWords AS w FROM documents),
       |f AS (SELECT doc_id,
       |        CASE WHEN len(w) >= 8
       |          THEN list_distinct(list_transform(range(1, len(w) - 6), i ->
       |            ${dkH60("array_to_string(w[i:i+7], ' ')")}))
       |          ELSE [] END AS fps
       |      FROM w0),
       |cand AS (SELECT * FROM f WHERE doc_id % 7 <> 0),
       |refset AS (SELECT DISTINCT unnest(fps) AS fp FROM f WHERE doc_id % 7 = 0),
       |m AS (SELECT u.doc_id, COUNT(*) AS c
       |      FROM (SELECT doc_id, unnest(fps) AS fp FROM cand) u
       |      SEMI JOIN refset USING (fp)
       |      GROUP BY u.doc_id)
       |SELECT cand.doc_id, CAST(len(cand.fps) AS BIGINT) AS n_sh,
       |       CAST(COALESCE(m.c, 0) AS BIGINT) AS n_matched,
       |       CASE WHEN len(cand.fps) > 0
       |            THEN CAST(COALESCE(m.c, 0) AS DOUBLE) / len(cand.fps) END
       |         AS contamination
       |FROM cand LEFT JOIN m ON m.doc_id = cand.doc_id
       |ORDER BY cand.doc_id""".stripMargin

  /** DuckDB mirror of [[ClusterOps.pqCodes]]: one [[dkKmeansCtes]] chain
    * per subspace over the matching `embedding[a:b]` slice, finals
    * unioned. Slice bounds are 1-based inclusive in DuckDB — the same
    * elements as Spark's `slice(embedding, a, len)`. */
  private def dkPqCodesOracle(dim: Int, m: Int, ksub: Int, iters: Int): String = {
    val d = dim / m
    val chains = (0 until m).map { s =>
      dkKmeansCtes(ksub.toString, iters, sfx = s"_p$s",
        srcExpr = s"embedding[${s * d + 1}:${(s + 1) * d}]")
    }.mkString(",\n")
    val finals = (0 until m).map { s =>
      s"SELECT vec_id, CAST($s AS BIGINT) AS subspace, cluster AS code FROM asg_p$s"
    }.mkString("\nUNION ALL\n")
    s"WITH $chains\n$finals\nORDER BY vec_id, subspace"
  }

  /** DuckDB mirror of [[ClusterOps.pqTopK]]: the same m chains, then ADC —
    * per-subspace query-to-centroid terms joined onto the corpus codes and
    * summed in subspace order with a left fold (the identical IEEE tree as
    * the Spark side's in-row `aggregate`). */
  private def dkPqTopKOracle(dim: Int, m: Int, ksub: Int, iters: Int,
                             k: Int, nQueries: Int): String = {
    def dot(a: String, b: String) =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |  list_transform(range(1, len($a) + 1), i -> $a[i] * $b[i])), (x, y) -> x + y)""".stripMargin
    val d = dim / m
    val chains = (0 until m).map { s =>
      dkKmeansCtes(ksub.toString, iters, sfx = s"_p$s",
        srcExpr = s"embedding[${s * d + 1}:${(s + 1) * d}]")
    }.mkString(",\n")
    val terms = (0 until m).map { s =>
      s"""SELECT q.vec_id AS qid, CAST($s AS BIGINT) AS sub, c.cid,
         |       q.xx - 2 * ${dot("q.xd", "c.m")} + ${dot("c.m", "c.m")} AS term
         |FROM qx_p$s q CROSS JOIN c${iters}_p$s c WHERE q.vec_id < $nQueries""".stripMargin
    }.mkString("\nUNION ALL\n")
    val codes = (0 until m).map { s =>
      s"SELECT vec_id, CAST($s AS BIGINT) AS sub, cluster FROM asg_p$s"
    }.mkString("\nUNION ALL\n")
    s"""WITH $chains,
       |terms AS ($terms),
       |codes AS ($codes),
       |pair AS (SELECT t.qid, c.vec_id AS nid, t.sub, t.term
       |         FROM terms t JOIN codes c ON c.sub = t.sub AND c.cluster = t.cid
       |         WHERE c.vec_id <> t.qid),
       |dist AS (SELECT qid, nid,
       |           list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |             list(term ORDER BY sub)), (a, b) -> a + b) AS dist
       |         FROM pair GROUP BY qid, nid)
       |SELECT qid, rank, nid, dist FROM (
       |  SELECT qid, nid, dist,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist, nid) AS BIGINT) AS rank
       |  FROM dist) WHERE rank <= $k
       |ORDER BY qid, rank""".stripMargin
  }

  /** DuckDB mirror of [[ClusterOps.topKIvf]]: one full-dim coarse chain
    * (sfx `_c`), per-query `nprobe` nearest cells under the `(dist, cid)`
    * tie-break, then EXACT squared-L2 ranking over vectors in probed
    * cells — the same quantized-double arithmetic as the chain itself, so
    * probe sets, pair sets, distances and ranks all hash-match. */
  private def dkTopKIvfOracle(kc: Int, nprobe: Int, iters: Int, k: Int,
                              nQueries: Int): String = {
    def dot(a: String, b: String) =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |  list_transform(range(1, len($a) + 1), i -> $a[i] * $b[i])), (x, y) -> x + y)""".stripMargin
    s"""WITH ${dkKmeansCtes(kc.toString, iters, sfx = "_c")},
       |probe AS (SELECT qid, cell FROM (
       |  SELECT q.vec_id AS qid, c.cid AS cell,
       |         ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |           q.xx - 2 * ${dot("q.xd", "c.m")} + ${dot("c.m", "c.m")}, c.cid) AS pr
       |  FROM qx_c q CROSS JOIN c${iters}_c c WHERE q.vec_id < $nQueries)
       |  WHERE pr <= $nprobe),
       |pair AS (SELECT q.vec_id AS qid, p.vec_id AS nid,
       |           q.xx - 2 * ${dot("q.xd", "p.xd")} + p.xx AS dist
       |         FROM qx_c q
       |         JOIN probe ON probe.qid = q.vec_id
       |         JOIN asg_c ON asg_c.cluster = probe.cell
       |         JOIN qx_c p ON p.vec_id = asg_c.vec_id
       |         WHERE p.vec_id <> q.vec_id)
       |SELECT qid, rank, nid, dist FROM (
       |  SELECT qid, nid, dist,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist, nid) AS BIGINT) AS rank
       |  FROM pair) WHERE rank <= $k
       |ORDER BY qid, rank""".stripMargin
  }

  /** DuckDB mirror of [[ClusterOps.pqTopKIvf]]: the PQ chains plus a
    * full-dim coarse chain (sfx `_c`); per query the `nprobe` nearest
    * cells under the same (dist, cid) tie-break, and the ADC pair join
    * additionally requires the corpus vector's coarse cell to be probed. */
  private def dkPqTopKIvfOracle(dim: Int, m: Int, ksub: Int, kc: Int,
                                nprobe: Int, iters: Int, k: Int,
                                nQueries: Int): String = {
    def dot(a: String, b: String) =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |  list_transform(range(1, len($a) + 1), i -> $a[i] * $b[i])), (x, y) -> x + y)""".stripMargin
    val d = dim / m
    val chains = (dkKmeansCtes(kc.toString, iters, sfx = "_c") +:
      (0 until m).map { s =>
        dkKmeansCtes(ksub.toString, iters, sfx = s"_p$s",
          srcExpr = s"embedding[${s * d + 1}:${(s + 1) * d}]")
      }).mkString(",\n")
    val terms = (0 until m).map { s =>
      s"""SELECT q.vec_id AS qid, CAST($s AS BIGINT) AS sub, c.cid,
         |       q.xx - 2 * ${dot("q.xd", "c.m")} + ${dot("c.m", "c.m")} AS term
         |FROM qx_p$s q CROSS JOIN c${iters}_p$s c WHERE q.vec_id < $nQueries""".stripMargin
    }.mkString("\nUNION ALL\n")
    val codes = (0 until m).map { s =>
      s"SELECT vec_id, CAST($s AS BIGINT) AS sub, cluster FROM asg_p$s"
    }.mkString("\nUNION ALL\n")
    s"""WITH $chains,
       |probe AS (SELECT qid, cid AS cell FROM (
       |  SELECT q.vec_id AS qid, c.cid,
       |         ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |           q.xx - 2 * ${dot("q.xd", "c.m")} + ${dot("c.m", "c.m")}, c.cid) AS pr
       |  FROM qx_c q CROSS JOIN c${iters}_c c WHERE q.vec_id < $nQueries)
       |  WHERE pr <= $nprobe),
       |terms AS ($terms),
       |codes AS ($codes),
       |pair AS (SELECT t.qid, c.vec_id AS nid, t.sub, t.term
       |         FROM terms t
       |         JOIN codes c ON c.sub = t.sub AND c.cluster = t.cid
       |         JOIN asg_c ON asg_c.vec_id = c.vec_id
       |         JOIN probe ON probe.qid = t.qid AND probe.cell = asg_c.cluster
       |         WHERE c.vec_id <> t.qid),
       |dist AS (SELECT qid, nid,
       |           list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |             list(term ORDER BY sub)), (a, b) -> a + b) AS dist
       |         FROM pair GROUP BY qid, nid)
       |SELECT qid, rank, nid, dist FROM (
       |  SELECT qid, nid, dist,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist, nid) AS BIGINT) AS rank
       |  FROM dist) WHERE rank <= $k
       |ORDER BY qid, rank""".stripMargin
  }

  /** DuckDB mirror of [[ClusterOps.pqTopKIvfRes]]: the coarse chain, a
    * `resid` CTE of per-vector residuals `(xd − m)/2²⁰`, subspace chains
    * OVER the residual relation, per-(query, probed cell) residual tables,
    * and an ADC pair join that additionally requires the corpus vector's
    * coarse cell to equal the table's cell (which is the probe
    * restriction, since tables exist only for probed cells). */
  private def dkPqTopKIvfResOracle(dim: Int, m: Int, ksub: Int, kc: Int,
                                   nprobe: Int, iters: Int, k: Int,
                                   nQueries: Int): String = {
    def dot(a: String, b: String) =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |  list_transform(range(1, len($a) + 1), i -> $a[i] * $b[i])), (x, y) -> x + y)""".stripMargin
    val d = dim / m
    val resid =
      s"""resid AS (SELECT a.vec_id,
         |  list_transform(range(1, len(q.xd) + 1), i -> (q.xd[i] - c.m[i]) / 1048576.0) AS embedding
         |  FROM asg_c a JOIN qx_c q ON q.vec_id = a.vec_id
         |  JOIN c${iters}_c c ON c.cid = a.cluster)""".stripMargin
    val chains = (dkKmeansCtes(kc.toString, iters, sfx = "_c") +: resid +:
      (0 until m).map { s =>
        dkKmeansCtes(ksub.toString, iters, sfx = s"_p$s",
          srcExpr = s"embedding[${s * d + 1}:${(s + 1) * d}]",
          srcTable = "resid")
      }).mkString(",\n")
    val qsubs = (0 until m).map { s =>
      s"""qq$s AS (SELECT qid, cell,
         |  list_transform(r[${s * d + 1}:${(s + 1) * d}],
         |    x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS xq
         |  FROM qres),
         |qqd$s AS (SELECT qid, cell, list_transform(xq, v -> CAST(v AS DOUBLE)) AS xd FROM qq$s),
         |qqx$s AS (SELECT qid, cell, xd, ${dot("xd", "xd")} AS xx FROM qqd$s)""".stripMargin
    }.mkString(",\n")
    val terms = (0 until m).map { s =>
      s"""SELECT q.qid, q.cell, CAST($s AS BIGINT) AS sub, c.cid,
         |       q.xx - 2 * ${dot("q.xd", "c.m")} + ${dot("c.m", "c.m")} AS term
         |FROM qqx$s q CROSS JOIN c${iters}_p$s c""".stripMargin
    }.mkString("\nUNION ALL\n")
    val codes = (0 until m).map { s =>
      s"SELECT vec_id, CAST($s AS BIGINT) AS sub, cluster FROM asg_p$s"
    }.mkString("\nUNION ALL\n")
    s"""WITH $chains,
       |probe AS (SELECT qid, cid AS cell FROM (
       |  SELECT q.vec_id AS qid, c.cid,
       |         ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |           q.xx - 2 * ${dot("q.xd", "c.m")} + ${dot("c.m", "c.m")}, c.cid) AS pr
       |  FROM qx_c q CROSS JOIN c${iters}_c c WHERE q.vec_id < $nQueries)
       |  WHERE pr <= $nprobe),
       |qres AS (SELECT p.qid, p.cell,
       |  list_transform(range(1, len(q.xd) + 1), i -> (q.xd[i] - c.m[i]) / 1048576.0) AS r
       |  FROM probe p JOIN qx_c q ON q.vec_id = p.qid
       |  JOIN c${iters}_c c ON c.cid = p.cell),
       |$qsubs,
       |terms AS ($terms),
       |codes AS ($codes),
       |pair AS (SELECT t.qid, c.vec_id AS nid, t.sub, t.term
       |         FROM terms t
       |         JOIN codes c ON c.sub = t.sub AND c.cluster = t.cid
       |         JOIN asg_c ON asg_c.vec_id = c.vec_id AND asg_c.cluster = t.cell
       |         WHERE c.vec_id <> t.qid),
       |dist AS (SELECT qid, nid,
       |           list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |             list(term ORDER BY sub)), (a, b) -> a + b) AS dist
       |         FROM pair GROUP BY qid, nid)
       |SELECT qid, rank, nid, dist FROM (
       |  SELECT qid, nid, dist,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist, nid) AS BIGINT) AS rank
       |  FROM dist) WHERE rank <= $k
       |ORDER BY qid, rank""".stripMargin
  }

  /** The within-cluster cosine fold for [[dkSemanticPairsOracle]] — the
    * same x·y / (√(x·x)·√(y·y)) tree as the Spark side's array_dot form.
    * With `cap` set, oversized clusters are subdivided by
    * `vec_id % ((n + cap-1) // cap)` — the identical exact-integer split
    * [[graft.ops.ClusterOps.cappedAssign]] applies — and pairs join on
    * (cluster, sub), so the scale-safety mechanism is itself hash-gated. */
  private def dkSemanticPairsOracle(kExpr: String, iters: Int, thr: Double,
                                    cap: Option[Long] = None): String = {
    def dot(a: String, b: String) =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |  list_transform(range(1, len($a) + 1), i -> $a[i] * $b[i])), (x, y) -> x + y)""".stripMargin
    val subExpr = cap match {
      case Some(c) => s"asg.vec_id % ((csz.cn + ${c - 1}) // $c)"
      case None    => "CAST(0 AS BIGINT)"
    }
    dkKmeansSql(kExpr, iters,
      s""",
         |csz AS (SELECT cluster, COUNT(*) AS cn FROM asg GROUP BY cluster),
         |sp AS (SELECT asg.vec_id, asg.cluster, $subExpr AS sub
         |       FROM asg JOIN csz USING (cluster))
         |SELECT cluster, va, vb, cosine FROM (
         |  SELECT a.cluster, a.vec_id AS va, b.vec_id AS vb,
         |         ${dot("a.xd", "b.xd")}
         |           / (sqrt(${dot("a.xd", "a.xd")}) * sqrt(${dot("b.xd", "b.xd")})) AS cosine
         |  FROM (SELECT qd.vec_id, qd.xd, sp.cluster, sp.sub FROM qd JOIN sp USING (vec_id)) a
         |  JOIN (SELECT qd.vec_id, qd.xd, sp.cluster, sp.sub FROM qd JOIN sp USING (vec_id)) b
         |    ON a.cluster = b.cluster AND a.sub = b.sub AND a.vec_id < b.vec_id)
         |WHERE cosine >= $thr
         |ORDER BY va, vb""".stripMargin)
  }
}
