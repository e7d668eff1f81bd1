package graft

import org.apache.spark.sql.Row

/** The Catalyst array kernels (array_dot / simhash60 / minhash_sig) must be
  * drop-in replacements for the interpreted higher-order-function chains
  * they replace on the dedup/similarity hot paths: same values bit-for-bit
  * (the DuckDB oracle hash-compares exact doubles), same null/empty
  * semantics. Each test evaluates kernel and composed form side by side.
  */
class KernelSpec extends SparkSpecBase {

  test("array_dot equals the sequential aggregate(zip_with) fold on fixture embeddings") {
    val e = Tables.load(spark, sfDir, "embeddings")
      .selectExpr("vec_id", "transform(embedding, x -> cast(x as double)) as v")
    val both = e.selectExpr(
      "array_dot(v, v) as kernel",
      "aggregate(zip_with(v, v, (x, y) -> x * y), 0D, (acc, w) -> acc + w) as composed")
    val rows = both.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("array_dot cross-vector matches and handles empty/null") {
    val rows = spark.sql(
      """SELECT array_dot(array(1D, 2D, 3D), array(4D, 5D, 6D)) AS d,
        |       array_dot(array(), array()) AS e,
        |       array_dot(cast(null as array<double>), array(1D)) AS n""".stripMargin)
      .collect()(0)
    assert(rows.getDouble(0) === 32.0)
    assert(rows.getDouble(1) === 0.0)
    assert(rows.isNullAt(2))
  }

  test("rhp_signature: kernel planes equal the reference derivation, signature equals the composed form") {
    // the memoized kernel table must be the DOCUMENTED md5 rule — the one
    // VectorOps.hyperplanes states and the DuckDB oracle re-derives
    val (b, r, dim) = (16, 8, 64)
    val ref = graft.ops.VectorOps.hyperplanes(b * r, dim)
    val ker = graft.sql.expressions.ArrayKernels.rhpPlanes(b * r, dim)
    assert(ker.length === ref.length)
    ref.zip(ker).foreach { case (rp, kp) =>
      rp.zip(kp).foreach { case (x, y) =>
        assert(java.lang.Double.doubleToLongBits(x) ===
          java.lang.Double.doubleToLongBits(y))
      }
    }
    // and the codegen'd signature must equal the composed
    // transform(planes, p -> array_dot(v, p) >= 0) it replaced, bit for bit
    val planesSql = ref
      .map(p => s"array(${p.map(x => s"${x}D").mkString(",")})")
      .mkString("array(", ", ", ")")
    val both = Tables.load(spark, sfDir, "embeddings")
      .selectExpr("vec_id", "transform(embedding, x -> cast(x as double)) as v")
      .selectExpr(
        s"rhp_signature(v, ${b * r}, $dim) as kernel",
        s"transform($planesSql, p -> array_dot(v, p) >= 0D) as composed")
    val rows = both.collect()
    assert(rows.nonEmpty)
    rows.foreach { row =>
      assert(row.getSeq[Boolean](0) === row.getSeq[Boolean](1))
    }
  }

  test("simhash60 equals the composed 60-pass majority expression on fixture documents") {
    val hs = Tables.load(spark, sfDir, "documents")
      .selectExpr("doc_id",
        s"transform(${graft.ops.TextOps.wordsExpr("text")}, x -> ${graft.ops.TextOps.h60("x")}) as hs")
    val both = hs.selectExpr(
      "simhash60(hs) as kernel",
      """aggregate(sequence(0, 59), 0L, (acc, j) ->
        |  acc + case when aggregate(hs, 0L, (a, h) -> a + (shiftright(h, j) % 2) * 2 - 1) > 0
        |             then shiftleft(1L, j) else 0L end) as composed""".stripMargin)
    val rows = both.collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(0) === r.getLong(1)))
  }

  test("md5_h64 kernel equals the composed h60<<4|nibble derivation on fixture words") {
    val both = Tables.load(spark, sfDir, "documents")
      .selectExpr(s"explode(${graft.ops.TextOps.wordsExpr("text")}) as w")
      .distinct()
      .selectExpr("md5_h64(w) as kernel",
        s"${graft.ops.TextOps.h64Reference("w")} as composed", "w")
    val rows = both.collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(0) === r.getLong(1)))
    // the JVM stub-tier h60 (kernel >>> 4) equals the first 15 md5 hex chars
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach { r =>
      val bytes = r.getString(2).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val hex = md.digest(bytes).map("%02x".format(_)).mkString
      val h60 = java.lang.Long.parseLong(hex.substring(0, 15), 16)
      assert(graft.ops.MultimodalOps.h60(r.getString(2)) === h60)
      assert(graft.ops.MultimodalOps.h60(bytes) === h60)
    }
    // null propagates; full-range: fixture-independent sign coverage via
    // probe strings whose top md5 nibble is ≥ 8 (negative) and < 8
    val r = spark.sql(
      "SELECT md5_h64(cast(null as string)) AS n, md5_h64('') AS e, " +
        "md5_h64('a') AS a").collect()(0)
    assert(r.isNullAt(0))
    // '' → md5 d41d… (top nibble d ≥ 8: negative); 'a' → md5 0cc1…
    // (top nibble 0 < 8: positive) — BOTH signs pinned by literal probes
    // independent of fixture content (ADVICE r18)
    assert(r.getLong(1) === java.lang.Long.parseUnsignedLong("d41d8cd98f00b204", 16))
    assert(r.getLong(2) === java.lang.Long.parseUnsignedLong("0cc175b9c0f1b6a8", 16))
    assert(r.getLong(2) > 0L && r.getLong(1) < 0L)
  }

  test("simhash60 of an empty token list is 0; null is null") {
    val r = spark.sql(
      "SELECT simhash60(array()) AS z, simhash60(cast(null as array<bigint>)) AS n")
      .collect()(0)
    assert(r.getLong(0) === 0L)
    assert(r.isNullAt(1))
  }

  test("minhash_sig equals the composed per-permutation array_min passes on fixture shingles") {
    val P = graft.ops.DedupOps.P
    val K = graft.ops.DedupOps.K
    val hs = Tables.load(spark, sfDir, "documents")
      .selectExpr("doc_id", s"${graft.ops.TextOps.wordsExpr("text")} as w")
      .selectExpr("doc_id", s"${graft.ops.TextOps.shinglesExpr("w")} as sh")
      .selectExpr("doc_id", s"transform(sh, x -> ${graft.ops.TextOps.h60("x")} % ${P}L) as hs")
    val both = hs.selectExpr(
      s"minhash_sig(hs, $K) as kernel",
      s"""transform(sequence(0, ${K - 1}), i ->
         |  array_min(transform(hs, h -> (1000003L * (2 * i + 1) * h + 7919L * i + 12345L) % ${P}L)))
         |  as composed""".stripMargin)
    val rows = both.collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getSeq[Long](0) === r.getSeq[Long](1)))
  }

  test("minhash_sig of an empty set is k nulls (array_min([]) semantics)") {
    val r = spark.sql("SELECT minhash_sig(array(), 4) AS s").collect()(0)
    assert(r.getSeq[Any](0) === Seq(null, null, null, null))
  }

  test("feature_hash equals the composed per-bucket signed counts on fixture tokens") {
    val hs = Tables.load(spark, sfDir, "documents")
      .selectExpr("doc_id",
        s"transform(${graft.ops.TextOps.wordsExpr("text")}, x -> ${graft.ops.TextOps.h60("x")}) as hs")
    val both = hs.selectExpr(
      "feature_hash(hs, 16) as kernel",
      """transform(sequence(0, 15), j ->
        |  aggregate(hs, 0L, (acc, h) ->
        |    acc + case when h % 16 = j
        |               then case when (shiftright(h, 59) & 1) = 1 then 1L else -1L end
        |               else 0L end)) as composed""".stripMargin)
    val rows = both.collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getSeq[Long](0) === r.getSeq[Long](1)))
  }

  test("feature_hash of an empty token list is all zeros") {
    val r = spark.sql("SELECT feature_hash(array(), 4) AS v").collect()(0)
    assert(r.getSeq[Long](0) === Seq(0L, 0L, 0L, 0L))
  }

  test("cdc_bounds rolling kernel equals the composed per-gram aggregate fold on fixture documents") {
    // The composed form derives the SAME 256-entry Gear table in SQL (md5
    // of each byte value, first 15 hex chars base-16 — the h60 rule) and
    // folds (2·h + G[cp % 256]) % 2^60 over each trailing 8-gram — the
    // oracle-portable definition; the kernel must match it bit-for-bit
    // while paying O(1) per position via the rolling update.
    val (w, m) = (8, 32)
    val composed =
      s"""filter(transform(sequence($w, length(text)), i ->
         |  case when aggregate(
         |         transform(sequence(i - ${w - 1}, i),
         |           j -> element_at(gt, (ascii(substring(text, j, 1)) % 256) + 1)),
         |         0L, (a, x) -> (2L * a + x) % 1152921504606846976L) % $m = 0
         |       then i end),
         |  x -> x is not null) as composed""".stripMargin
    val both = Tables.load(spark, sfDir, "documents")
      .selectExpr("doc_id", "text",
        "transform(sequence(0, 255), b -> cast(conv(substring(md5(cast(b as string)), 1, 15), 16, 10) as bigint)) as gt")
      .selectExpr("doc_id", s"cdc_bounds(text, $w, $m) as kernel", composed)
    val rows = both.collect()
    assert(rows.nonEmpty)
    assert(rows.exists(_.getSeq[Int](1).nonEmpty), "fixture produced no boundaries at all")
    rows.foreach(r => assert(r.getSeq[Int](1) === r.getSeq[Int](2), s"doc ${r.get(0)}"))
  }

  test("cdc_bounds edge cases: short text has no boundaries; null is null") {
    val r = spark.sql(
      """SELECT cdc_bounds('abc', 8, 32) AS short,
        |       cdc_bounds('', 8, 32) AS empty,
        |       cdc_bounds(cast(null as string), 8, 32) AS n""".stripMargin)
      .collect()(0)
    assert(r.getSeq[Int](0) === Seq.empty)
    assert(r.getSeq[Int](1) === Seq.empty)
    assert(r.isNullAt(2))
  }

  test("span_keep equals the per-token exists() form, incl. a many-islands stress doc") {
    // synthetic docs: 400 tokens; doc d gets every-other-8-token islands —
    // the half-contaminated worst case that made the exists() form
    // quadratic (islands ≈ tokens / 16)
    val docs = spark.sql(
      """SELECT id AS doc_id,
        |       transform(sequence(0, 399), i -> concat('t', cast(i as string))) AS w,
        |       CASE WHEN id = 0 THEN slice(isl, 1, 0)
        |            WHEN id = 1 THEN array(struct(0 AS s, 399 AS e))
        |            ELSE isl
        |       END AS rs
        |FROM (SELECT id, transform(sequence(0, 24),
        |        k -> struct(k * 16 AS s, k * 16 + 7 AS e)) AS isl
        |      FROM range(6))""".stripMargin)
    val both = docs.selectExpr("doc_id",
      "span_keep(w, transform(rs, r -> r.s), transform(rs, r -> r.e)) as kernel",
      """filter(transform(w, (x, i) ->
        |  case when exists(rs, r -> i >= r.s and i <= r.e) then null
        |       else x end), x -> x is not null) as composed""".stripMargin)
    val rows = both.collect()
    assert(rows.length === 6)
    rows.foreach(r => assert(r.getSeq[String](1) === r.getSeq[String](2), s"doc ${r.get(0)}"))
    // the full-cut doc keeps nothing; the no-ranges doc keeps everything
    val byId = rows.map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(byId(0L).length === 400)
    assert(byId(1L).isEmpty)
    assert(byId(2L).length === 200)
  }

  test("zvalue3 kernel: hand vectors, codegen == pure-SQL fold on fixture keys") {
    // (1,1,1) bits=1 → 0b111 = 7; (1,0,1) → 0b101 = 5; x=3 alone bits=2
    // → bits 0 and 3 → 9; high bits beyond `bits` ignored
    val r = spark.sql(
      s"""SELECT zvalue3(1, 1, 1, 1) AS a, zvalue3(1, 0, 1, 1) AS b,
         |       zvalue3(3, 0, 0, 2) AS c, zvalue3(1 + 4, 1, 1, 1) AS d""".stripMargin)
      .collect()(0)
    assert(r.getLong(0) === 7L && r.getLong(1) === 5L &&
      r.getLong(2) === 9L && r.getLong(3) === 7L)
    val both = Tables.load(spark, sfDir, "lineitem").limit(2000)
      .selectExpr(
        graft.ops.LayoutOps.zValue3Expr("l_partkey", "l_suppkey", "l_linenumber", 20) + " as kernel",
        graft.ops.LayoutOps.zValue3FoldExpr("l_partkey", "l_suppkey", "l_linenumber", 20) + " as fold")
      .collect()
    assert(both.nonEmpty)
    both.foreach(r => assert(r.getLong(0) === r.getLong(1)))
  }

  test("hvalue masks inputs to `bits` like zvalue: high bits cannot corrupt the curve") {
    val r = spark.sql(
      s"""SELECT hvalue(3, 5, 4) AS base,
         |       hvalue(3 + 16, 5, 4) AS xwrap,
         |       hvalue(3, 5 + 32, 4) AS ywrap,
         |       ${graft.ops.LayoutOps.hValueFoldExpr("3 + 16", "5 + 32", 4)} AS foldwrap""".stripMargin)
      .collect()(0)
    assert(r.getLong(1) === r.getLong(0), "x high bits leaked into the kernel")
    assert(r.getLong(2) === r.getLong(0), "y high bits leaked into the kernel")
    assert(r.getLong(3) === r.getLong(0), "fold form disagrees with the kernel on masked input")
  }
}
