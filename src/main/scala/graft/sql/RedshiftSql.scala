package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}

import SqlTokens._

/** Redshift → Spark SQL dialect rewriter (SURVEY.md §2.2 🔧 rows).
  *
  * The reference forwards arbitrary Redshift SQL verbatim
  * (`/root/reference/amazonredshift_blueprints/blueprints/execute_sql.py:64,77`,
  * `store_query_results.py:103,132`); Spark's parser rejects a handful of
  * Redshift-specific constructs. This rewriter translates exactly those,
  * token-aware (string literals / quoted identifiers are never touched),
  * and is the identity on already-valid Spark SQL — property-tested in
  * DialectSpec.
  *
  * Syntax handled here:
  *   SELECT TOP n …                → SELECT … LIMIT n  (end of query block)
  *   APPROXIMATE COUNT(DISTINCT x) → approx_count_distinct(x)
  *   RATIO_TO_REPORT(x) OVER (w)   → ((x) / sum(x) OVER (w))
  *   x [NOT] SIMILAR TO 'pat'      → x [NOT] RLIKE '^(pat)$' (%→.*, _→.)
  *   GETDATE() / SYSDATE           → current_timestamp()
  *   RANDOM()                      → rand()
  *   CONVERT(type, x)              → CAST(x AS type)
  *   DATEADD(u, n, ts)  (3-arg)    → timestampadd(u, n, ts)
  *   DATEDIFF(u, a, b)  (3-arg)    → timestampdiff(u, date_trunc(u, a),
  *                                   date_trunc(u, b)) — truncation turns
  *                                   Spark's elapsed-complete-units into
  *                                   Redshift's boundary-crossing count
  *   DATE_PART(part, x) (bare part) → date_part('<PART>', x)
  *   EXTRACT/DATE_PART(dow …)      → (extract(DAYOFWEEK FROM x) - 1)
  *   EXTRACT/DATE_PART(epoch …)    → (unix_micros(CAST(x AS TIMESTAMP)) / 1e6)
  *   EXTRACT/DATE_PART(ms|us …)    → CAST(extract(SECOND FROM x) * 1000[000]
  *                                   AS BIGINT)
  *   FIRST_VALUE/LAST_VALUE(x IGNORE|RESPECT NULLS)
  *                                 → FIRST_VALUE/LAST_VALUE(x) IGNORE|RESPECT NULLS
  *   TO_CHAR(ts, 'datefmt')        → date_format(ts, '<java fmt>')
  *   CREATE TABLE … DISTKEY/SORTKEY (table- or column-level)
  *                                 → CLUSTERED BY … SORTED BY … INTO 32
  *                                   BUCKETS (the Spark bucketed layout —
  *                                   the same co-located-join/sorted-scan
  *                                   role DISTKEY/SORTKEY play on Redshift);
  *                                   DISTSTYLE / ENCODE / BACKUP dropped
  *                                   (EVEN/ALL/AUTO distribution and column
  *                                   encodings are decided by Spark at
  *                                   plan/write time, not declared in DDL)
  *   NVL / NVL2 / DECODE / MINUS / `::` casts — already native in Spark.
  *   CREATE EXTERNAL SCHEMA / CREATE EXTERNAL TABLE (Spectrum DDL)
  *                                 → Spark datasource-table DDL ([[SpectrumDdl]])
  *   x ~ / ~* / !~ / !~* 'pat'     → [NOT] RLIKE (operand-guarded)
  *   TO_DATE/TO_TIMESTAMP PG fmts  → java patterns (PG-token-guarded)
  *   CREATE TABLE t (LIKE parent)  → CREATE TABLE t LIKE parent
  *   ALTER TABLE ADD COLUMN c ty   → ADD COLUMNS (c ty) (types normalized)
  *   START WITH … CONNECT BY PRIOR → WITH RECURSIVE fixed point (+ level)
  *
  * Function-name gaps with identical call syntax (CHARINDEX, LEN,
  * REGEXP_SUBSTR, FNV_HASH, CHECKSUM) are registered as real functions in
  * [[GraftFunctions]] instead of rewritten — resolution beats string
  * surgery wherever the parser already accepts the call.
  */
object RedshiftSql {

  /** The one path from local Redshift SQL text to a Spark plan: rewrite,
    * register the system-catalog views the text names, then `spark.sql`. */
  def plan(spark: SparkSession, sql: String): DataFrame = {
    val rewritten = rewrite(sql)
    CatalogShims.ensure(spark, rewritten)
    spark.sql(rewritten)
  }

  def rewrite(sql: String): String = {
    var toks = tokenize(sql)
    // Redshift `EXPLAIN [VERBOSE] <q>`: rewrite the inner query so dialect
    // constructs (QUALIFY, TOP, …) explain instead of erroring; VERBOSE
    // maps to Spark's EXTENDED. Recursion depth is 1 — the remainder
    // cannot itself start with EXPLAIN after the strip.
    val f = nextCode(toks, 0)
    if (f < toks.length && toks(f).isWord("explain")) {
      var r = nextCode(toks, f + 1)
      val verbose = r < toks.length && toks(r).isWord("verbose")
      if (verbose) r = nextCode(toks, r + 1)
      val mode = if (verbose) "EXPLAIN EXTENDED " else "EXPLAIN "
      return mode + rewrite(render(toks.slice(r, toks.length)).trim)
    }
    toks = SpectrumDdl.rewriteExternalSchema(toks)
    toks = SpectrumDdl.rewriteExternalTable(toks)
    toks = rewriteSelectInto(toks)
    toks = rewriteConnectBy(toks)
    toks = rewriteTop(toks)
    toks = rewriteQualify(toks)
    toks = rewriteApproximate(toks)
    toks = rewriteApproxPctDisc(toks)
    toks = rewriteRatioToReport(toks)
    toks = rewriteNullsModifier(toks)
    toks = rewriteSimilarTo(toks)
    toks = rewritePosixRegex(toks)
    toks = rewriteSimpleCalls(toks)
    toks = rewriteConvert(toks)
    toks = rewriteDateAddDiff(toks)
    toks = rewriteDateParts(toks)
    toks = rewriteToChar(toks)
    toks = rewriteToDateTs(toks)
    toks = rewriteCreateLike(toks)
    toks = rewriteLateBindingView(toks)
    toks = rewriteCreateFunction(toks)
    toks = rewriteDropFunction(toks)
    toks = rewriteAlterAddColumn(toks)
    toks = rewriteCommentOn(toks)
    toks = rewriteInfoSchema(toks)
    toks = rewriteTableAttrs(toks)
    toks = rewriteDollarLiterals(toks)
    render(toks)
  }

  /** Dollar-quoted strings ($$…$$ / $tag$…$tag$) used as GENERAL literals —
    * Redshift/PostgreSQL allow them anywhere a string literal goes
    * (reference `execute_sql.py` forwards them verbatim to the server);
    * Spark's parser does not know the syntax. UDF and procedure bodies were
    * already consumed by [[rewriteCreateFunction]] above, so any DollarStr
    * still in the stream is a plain literal → re-quote as a standard
    * escaped '…' literal. Runs LAST so no earlier rewrite sees a literal
    * it might mistake for syntax. */
  private def rewriteDollarLiterals(toks: Vector[Tok]): Vector[Tok] =
    toks.map { t =>
      if (t.kind == DollarStr)
        Tok(Str, "'" + dollarBody(t).replace("\\", "\\\\").replace("'", "\\'") + "'")
      else t
    }

  /** The header of a `CREATE [modifiers] TABLE` statement; None for any
    * other statement, or when no plain name follows (left to Spark). */
  private def anyCreateTable(toks: Vector[Tok]): Option[CreateHeader] =
    try createHeader(toks, "table", _ => true)
    catch { case _: IllegalArgumentException => None }

  /** CREATE TABLE physical-layout attributes (Redshift DDL that Spark's
    * parser rejects outright). DISTKEY → bucket column, SORTKEY → in-bucket
    * sort, fixed 32 buckets (bucket count is a Spark-side choice; Redshift
    * slices are implicit). Runs LAST in the chain and only on statements
    * that begin CREATE … TABLE; column names named `distkey`/`sortkey`/
    * `encode` are safe — the column-level attr branches require a name AND
    * a type to have been seen first.
    */
  private def rewriteTableAttrs(toks: Vector[Tok]): Vector[Tok] = {
    // attrs can only appear after the table name — a table literally NAMED
    // `distkey`/`backup` must not trigger the attr branches
    val afterName = anyCreateTable(toks) match {
      case Some(h) => h.afterName
      case None => return toks
    }

    def ident(t: Tok): String = t.kind match {
      case QIdent => t.text.stripPrefix("\"").stripSuffix("\"")
      case _ => t.text.stripPrefix("`").stripSuffix("`")
    }
    def groupIdents(open: Int): (Vector[String], Int) = {
      val close = matchParen(toks, open)
      (toks.slice(open + 1, close)
        .filter(t => t.kind == Word || t.kind == QIdent).map(ident), close)
    }

    var dk: Option[String] = None
    var sks: Vector[String] = Vector.empty
    val out = scala.collection.mutable.ArrayBuffer.empty[Tok]
    var insertAt = -1   // out-index for the bucket clause (table-level attrs)
    var colListEnd = -1 // out-index just after the column list's ')'
    // its own depth count: the column list's depth-1 commas and per-column
    // token counts drive the state below, which a depth-0 scan cannot see
    var depth = 0
    var seenFirstGroup = false
    var inColList = false
    var colDefTokens = 0
    var currentCol: String = null
    var copyRest = false
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      if (copyRest || t.kind == Ws || t.kind == Comment) { out += t; i += 1 }
      else if (depth == 0 && t.isWord("as")) { copyRest = true; out += t; i += 1 }
      else if (i < afterName) { out += t; i += 1 }
      else if (depth == 0 && (t.isWord("diststyle") || t.isWord("backup"))) {
        if (t.isWord("diststyle") && insertAt < 0) insertAt = out.length
        i = nextCode(toks, i + 1) + 1 // drop keyword + its value word
      } else if (depth == 0 && t.isWord("distkey")) {
        val p = nextCode(toks, i + 1)
        require(p < toks.length && toks(p).text == "(", "DISTKEY needs (col)")
        val (ids, close) = groupIdents(p)
        dk = ids.headOption
        if (insertAt < 0) insertAt = out.length
        i = close + 1
      } else if (depth == 0 && (t.isWord("sortkey") ||
          ((t.isWord("compound") || t.isWord("interleaved")) && {
            val n = nextCode(toks, i + 1)
            n < toks.length && toks(n).isWord("sortkey")
          }))) {
        val sk = if (t.isWord("sortkey")) i else nextCode(toks, i + 1)
        val p = nextCode(toks, sk + 1)
        if (insertAt < 0) insertAt = out.length
        if (p < toks.length && toks(p).text == "(") {
          val (ids, close) = groupIdents(p)
          sks = ids
          i = close + 1
        } else i = p + 1 // SORTKEY AUTO | NONE — drop both words
      } else if (t.kind == Sym && t.text == "(") {
        depth += 1
        if (depth == 1 && !seenFirstGroup) {
          seenFirstGroup = true; inColList = true; colDefTokens = 0; currentCol = null
        }
        out += t; i += 1
      } else if (t.kind == Sym && t.text == ")") {
        depth -= 1
        out += t; i += 1
        if (depth == 0 && inColList) { inColList = false; colListEnd = out.length }
      } else if (inColList && depth == 1 && t.kind == Sym && t.text == ",") {
        colDefTokens = 0; currentCol = null; out += t; i += 1
      } else if (inColList && depth == 1 && colDefTokens >= 2 && t.isWord("encode")) {
        i = nextCode(toks, i + 1) + 1 // drop ENCODE + codec name
      } else if (inColList && depth == 1 && colDefTokens >= 2 &&
          (t.isWord("identity") || t.isWord("generated"))) {
        // IDENTITY(seed, step) / GENERATED BY DEFAULT AS IDENTITY(seed, step):
        // Spark tables have no auto-generated columns — the column becomes a
        // plain one; loads supply explicit values (the COPY EXPLICIT_IDS path)
        var j = i
        if (t.isWord("generated")) {
          while (j < toks.length && !toks(j).isWord("identity")) j += 1
        }
        val p = nextCode(toks, j + 1)
        i = if (p < toks.length && toks(p).text == "(") matchParen(toks, p) + 1
            else j + 1
      } else if (inColList && depth == 1 && colDefTokens >= 2 && t.isWord("primary")) {
        i = nextCode(toks, i + 1) + 1 // PRIMARY KEY: informational only in Redshift
      } else if (inColList && depth == 1 && colDefTokens >= 2 && t.isWord("unique")) {
        i += 1 // informational only
      } else if (inColList && depth == 1 && colDefTokens >= 2 && t.isWord("references")) {
        // REFERENCES tbl[(col)]: informational only
        val (_, after) = qualifiedName(toks, nextCode(toks, i + 1))
        val p = nextCode(toks, after)
        i = if (p < toks.length && toks(p).text == "(") matchParen(toks, p) + 1
            else after
      } else if (inColList && depth == 1 && colDefTokens == 0 && t.kind == Word &&
          Set("primary", "unique", "foreign", "constraint")
            .contains(t.text.toLowerCase)) {
        // table-level constraint list item — Redshift documents PK/FK/UNIQUE
        // as informational-only (never enforced), so dropping them preserves
        // Redshift behavior exactly. Swallow the item and one comma.
        val j = topLevel(toks, i).find(j => isSym(toks(j), ",") || isSym(toks(j), ")"))
          .getOrElse(toks.length)
        if (j < toks.length && isSym(toks(j), ",")) i = j + 1
        else {
          // last item: also drop the comma that preceded it
          while (out.nonEmpty && (out.last.kind == Ws || out.last.kind == Comment))
            out.remove(out.length - 1)
          if (out.nonEmpty && out.last.kind == Sym && out.last.text == ",")
            out.remove(out.length - 1)
          i = j
        }
      } else if (inColList && depth == 1 && colDefTokens >= 2 && t.isWord("distkey")) {
        dk = Option(currentCol); i += 1
      } else if (inColList && depth == 1 && colDefTokens >= 2 && t.isWord("sortkey")) {
        if (currentCol != null) sks = sks :+ currentCol
        i += 1
      } else {
        if (inColList && depth == 1 && (t.kind == Word || t.kind == QIdent)) {
          if (colDefTokens == 0) currentCol = ident(t)
          colDefTokens += 1
        }
        out += t; i += 1
      }
    }
    if (dk.isEmpty && sks.isEmpty) return out.toVector
    val bucket = dk.orElse(sks.headOption).get
    val sorted =
      if (sks.nonEmpty) s" SORTED BY (${sks.map(s => s"`$s`").mkString(", ")})" else ""
    val pos =
      if (insertAt >= 0) insertAt else if (colListEnd >= 0) colListEnd else out.length
    out.insertAll(pos, tokenize(s" CLUSTERED BY (`$bucket`)$sorted INTO 32 BUCKETS"))
    out.toVector
  }

  /** Redshift hierarchical queries (Oracle-style `START WITH … CONNECT BY
    * PRIOR`; Spark has no CONNECT BY) → the native recursive CTE that
    * computes the same fixed point:
    *
    *   SELECT <list> FROM <table> [WHERE w]
    *     START WITH <seed> CONNECT BY PRIOR <pcol> = <ccol> [ORDER BY …]
    *   → WITH RECURSIVE __connect_by AS (
    *       SELECT __cb_c.*, CAST(1 AS BIGINT) AS level
    *       FROM <table> __cb_c WHERE <seed>
    *       UNION ALL
    *       SELECT __cb_c.*, __cb_p.level + 1
    *       FROM <table> __cb_c JOIN __connect_by __cb_p
    *         ON __cb_p.<pcol> = __cb_c.<ccol>)
    *     SELECT <list> FROM __connect_by [WHERE w] [ORDER BY …]
    *
    * `PRIOR x` refers to the PARENT row, so `PRIOR x = y` joins parent.x
    * to child.y (either operand order is accepted). Oracle/Redshift's
    * LEVEL pseudo-column is materialized as `level` (root = 1). The WHERE
    * clause filters AFTER hierarchy expansion — Redshift's documented
    * evaluation order. Single-table FROM only; a cyclic hierarchy is
    * caught by Spark's recursion depth limit instead of looping forever.
    */
  private def rewriteConnectBy(toks: Vector[Tok]): Vector[Tok] = {
    def findWord(w: String, from: Int, until: Int): Int =
      topLevel(toks, from, until).find(toks(_).isWord(w)).getOrElse(-1)
    val cb = topLevel(toks, 0).find { i =>
      toks(i).isWord("connect") && {
        val by = nextCode(toks, i + 1)
        by < toks.length && toks(by).isWord("by")
      }
    }.getOrElse(-1)
    if (cb < 0) return toks
    val sel = findWord("select", 0, cb)
    val from = findWord("from", sel.max(0), cb)
    require(sel >= 0 && from >= 0, "CONNECT BY needs SELECT … FROM …")
    val startWith = findWord("start", from, cb)
    require(startWith >= 0 && {
      val w = nextCode(toks, startWith + 1)
      w < toks.length && toks(w).isWord("with")
    }, "CONNECT BY requires a START WITH clause")
    val where = findWord("where", from, startWith)
    val selectList = render(toks.slice(sel + 1, from)).trim
    val tableEnd = if (where >= 0) where else startWith
    val table = render(toks.slice(from + 1, tableEnd)).trim
    require(!table.exists(c => c == ',' || c.isWhitespace) && table.nonEmpty,
      s"CONNECT BY supports a single-table FROM (got: $table)")
    val whereText =
      if (where >= 0) render(toks.slice(where + 1, startWith)).trim
      else ""
    val withAt = nextCode(toks, startWith + 1)
    val seed = render(toks.slice(withAt + 1, cb)).trim
    require(seed.nonEmpty, "START WITH needs a predicate")

    // CONNECT BY [PRIOR] a = b [ORDER BY …] — one equality, PRIOR on one side
    val by = nextCode(toks, cb + 1)
    var j = nextCode(toks, by + 1)
    val tail = findWord("order", j, toks.length) match {
      case -1 => toks.length
      case o => o
    }
    var priorLeft = false
    if (j < tail && toks(j).isWord("prior")) { priorLeft = true; j = nextCode(toks, j + 1) }
    val eq = (j until tail).find(k => toks(k).kind == Sym && toks(k).text == "=")
      .getOrElse(throw new IllegalArgumentException(
        "CONNECT BY supports exactly `[PRIOR] col = [PRIOR] col`"))
    var lhs = render(toks.slice(j, eq)).trim
    var r = nextCode(toks, eq + 1)
    var priorRight = false
    if (r < tail && toks(r).isWord("prior")) { priorRight = true; r = nextCode(toks, r + 1) }
    var rhs = render(toks.slice(r, tail)).trim
    require(priorLeft ^ priorRight,
      "CONNECT BY needs PRIOR on exactly one side of the equality")
    val (pcol, ccol) = if (priorLeft) (lhs, rhs) else (rhs, lhs)
    val orderText = if (tail < toks.length) " " + render(toks.slice(tail, toks.length)).trim else ""
    val whereClause = if (whereText.nonEmpty) s" WHERE $whereText" else ""

    tokenize(
      s"WITH RECURSIVE __connect_by AS (" +
        s"SELECT __cb_c.*, CAST(1 AS BIGINT) AS level FROM $table __cb_c WHERE $seed" +
        s" UNION ALL SELECT __cb_c.*, __cb_p.level + 1" +
        s" FROM $table __cb_c JOIN __connect_by __cb_p ON __cb_p.$pcol = __cb_c.$ccol)" +
        s" SELECT $selectList FROM __connect_by$whereClause$orderText")
  }
  /** QUALIFY <pred> (Redshift 2023+/Snowflake window filter; Spark's parser
    * rejects it) → hoist the SELECT into a subquery and filter outside:
    *
    *   SELECT <list> FROM … QUALIFY <pred> [ORDER BY …] [LIMIT n]
    *   → SELECT * [EXCEPT (__qualify_i…)] FROM (
    *       SELECT <list>[, <winexpr_i> AS __qualify_i…] FROM …
    *     ) __qualify_src WHERE <pred'> [ORDER BY …] [LIMIT n]
    *
    * Window calls INSIDE the predicate (`QUALIFY row_number() OVER (…) = 1`)
    * cannot live in a WHERE clause, so each `f(args) OVER (…)` is computed
    * as a generated `__qualify_i` column in the inner select (the original
    * scope, so PARTITION BY may reference non-selected source columns) and
    * the outer star EXCEPTs the helpers away; predicates that only
    * reference select-list aliases pass through unchanged. A DISTINCT moves
    * to the OUTER select: the standard evaluates windows before DISTINCT,
    * and helper columns inside the inner list must not weaken the dedup.
    * The ORDER BY/LIMIT tail moves outside too — both apply AFTER the
    * QUALIFY filter.
    */
  private def rewriteQualify(toks: Vector[Tok]): Vector[Tok] = {
    // locate the first QUALIFY with a SELECT at the same paren depth; its
    // own depth count, since it maps every depth to its latest SELECT
    var depth = 0
    val selectAt = scala.collection.mutable.Map.empty[Int, Int]
    var q = -1; var qSelect = -1
    var i = 0
    while (i < toks.length && q < 0) {
      val t = toks(i)
      if (t.kind == Sym && t.text == "(") depth += 1
      else if (t.kind == Sym && t.text == ")") depth -= 1
      else if (t.isWord("select")) selectAt(depth) = i
      else if (t.isWord("qualify") && selectAt.contains(depth) &&
        nextCode(toks, i + 1) < toks.length) {
        q = i; qSelect = selectAt(depth)
      }
      i += 1
    }
    if (q < 0) return toks
    val end = blockEnd(toks, q + 1)
    val tailStart = topLevel(toks, q + 1, end).find { j =>
      toks(j).isWord("order") || toks(j).isWord("limit") || toks(j).isWord("offset")
    }.getOrElse(end)

    // pull each `f(args) OVER (…)` out of the predicate into a helper column
    val pred = toks.slice(q + 1, tailStart).toBuffer
    val helpers = Vector.newBuilder[String]
    var nHelpers = 0
    var k = 0
    while (k < pred.length) {
      var advanced = false
      if (pred(k).isWord("over")) {
        val pv = pred.toVector
        val open = nextCode(pv, k + 1)
        if (open < pv.length && pv(open).kind == Sym && pv(open).text == "(") {
          val close = matchParen(pv, open)
          var e = k - 1
          while (e >= 0 && (pv(e).kind == Ws || pv(e).kind == Comment)) e -= 1
          if (e >= 0 && pv(e).kind == Sym && pv(e).text == ")") {
            // match the function call's '(' backward, then its name
            var dd = 0; var sIdx = e; var ok = false
            while (sIdx >= 0 && !ok) {
              val t = pv(sIdx)
              if (t.kind == Sym && t.text == ")") dd += 1
              else if (t.kind == Sym && t.text == "(") {
                dd -= 1; if (dd == 0) ok = true
              }
              if (!ok) sIdx -= 1
            }
            var nIdx = sIdx - 1
            while (nIdx >= 0 && (pv(nIdx).kind == Ws || pv(nIdx).kind == Comment)) nIdx -= 1
            if (ok && nIdx >= 0 && pv(nIdx).kind == Word) {
              val alias = s"__qualify_$nHelpers"; nHelpers += 1
              helpers += s"${render(pv.slice(nIdx, close + 1))} AS $alias"
              pred.remove(nIdx, close + 1 - nIdx)
              pred.insert(nIdx, Tok(Word, alias))
              k = nIdx + 1
              advanced = true
            }
          }
        }
      }
      if (!advanced) k += 1
    }

    // inner select = the original block up to QUALIFY, DISTINCT hoisted out,
    // helper columns appended to the select list (just before its FROM)
    var inner = toks.slice(qSelect, q)
    val distIdx = nextCode(inner, 1)
    val outerDistinct = distIdx < inner.length && inner(distIdx).isWord("distinct")
    if (outerDistinct) inner = inner.patch(distIdx, Nil, 1)
    if (nHelpers > 0) {
      val fromIdx = topLevel(inner, 0).find(inner(_).isWord("from")).getOrElse(-1)
      require(fromIdx >= 0, "QUALIFY needs a FROM clause to hoist into")
      inner = inner.patch(fromIdx,
        tokenize(s", ${helpers.result().mkString(", ")} "), 0)
    }
    val exceptClause =
      if (nHelpers > 0)
        s" EXCEPT (${(0 until nHelpers).map(n => s"__qualify_$n").mkString(", ")})"
      else ""
    val head = tokenize(
      s"SELECT ${if (outerDistinct) "DISTINCT " else ""}*$exceptClause FROM (")
    val mid = tokenize(") __qualify_src WHERE ")
    while (pred.nonEmpty && pred.head.kind == Ws) pred.remove(0)
    val tail = toks.slice(tailStart, end)
    val newBlock = head ++ inner ++ mid ++ pred.toVector ++
      (if (tail.nonEmpty) Tok(Ws, " ") +: tail else Vector.empty)
    rewriteQualify(toks.patch(qSelect, newBlock, end - qSelect))
  }

  // SELECT TOP n … → SELECT … LIMIT n. The LIMIT lands at the end of the
  // SELECT's own block: before the ')' that closes it, or before a
  // top-level set-op keyword, or at end of statement.
  private def rewriteTop(toks: Vector[Tok]): Vector[Tok] = {
    val sel = toks.indices.find { i =>
      toks(i).isWord("select") && {
        val t = nextCode(toks, i + 1)
        t < toks.length && toks(t).isWord("top") && {
          val v = nextCode(toks, t + 1)
          v < toks.length && toks(v).kind == Num
        }
      }
    }
    sel match {
      case None => toks
      case Some(i) =>
        val t = nextCode(toks, i + 1)
        val v = nextCode(toks, t + 1)
        val limit = toks(v).text
        // drop TOP + n (and the whitespace on both sides of them)
        val dropTo = if (v + 1 < toks.length && toks(v + 1).kind == Ws) v + 1 else v
        val without = toks.patch(t, Nil, dropTo - t + 1)
        // trim trailing whitespace before the insertion point
        var e = blockEnd(without, i)
        while (e > 0 && without(e - 1).kind == Ws) e -= 1
        val inserted = without.patch(e,
          Vector(Tok(Ws, " "), Tok(Word, "LIMIT"), Tok(Ws, " "), Tok(Num, limit)), 0)
        rewriteTop(inserted) // handle further TOPs (nested/unioned)
    }
  }

  // APPROXIMATE COUNT(DISTINCT x) → approx_count_distinct(x)
  private def rewriteApproximate(toks: Vector[Tok]): Vector[Tok] = {
    val hit = toks.indices.find { i =>
      toks(i).isWord("approximate") && {
        val c = nextCode(toks, i + 1)
        c < toks.length && toks(c).isWord("count") && {
          val p = nextCode(toks, c + 1)
          p < toks.length && toks(p).text == "(" && {
            val d = nextCode(toks, p + 1)
            d < toks.length && toks(d).isWord("distinct")
          }
        }
      }
    }
    hit match {
      case None => toks
      case Some(i) =>
        val c = nextCode(toks, i + 1)
        val p = nextCode(toks, c + 1)
        val d = nextCode(toks, p + 1)
        val afterDistinct = nextCode(toks, d + 1)
        val replaced = toks.patch(i, Vector(Tok(Word, "approx_count_distinct"), Tok(Sym, "(")),
          afterDistinct - i)
        rewriteApproximate(replaced)
    }
  }

  // SELECT <list> INTO [TEMP|TEMPORARY] [TABLE] <name> FROM …
  //   → CREATE [TEMP] TABLE <name> AS SELECT <list> FROM …
  // (the PG-inherited Redshift idiom; Spark has no SELECT INTO). Only a
  // depth-0 INTO in a statement that BEGINS with SELECT qualifies —
  // INSERT INTO and subquery INTOs never match.
  private def rewriteSelectInto(toks: Vector[Tok]): Vector[Tok] = {
    val first = nextCode(toks, 0)
    if (first >= toks.length || !toks(first).isWord("select")) return toks
    val into = topLevel(toks, first).find(toks(_).isWord("into")).getOrElse(-1)
    if (into < 0) return toks
    var j = nextCode(toks, into + 1)
    val temp = j < toks.length &&
      (toks(j).isWord("temp") || toks(j).isWord("temporary"))
    if (temp) j = nextCode(toks, j + 1)
    if (j < toks.length && toks(j).isWord("table")) j = nextCode(toks, j + 1)
    val (name, afterName) = qualifiedName(toks, j)
    val head = tokenize(
      s"CREATE ${if (temp) "TEMP " else ""}TABLE $name AS ")
    head ++ toks.slice(first, into) ++ toks.slice(afterName, toks.length)
  }

  // APPROXIMATE PERCENTILE_DISC(p) WITHIN GROUP (ORDER BY col)
  //   → approx_percentile(col, p)
  // (plain PERCENTILE_DISC WITHIN GROUP is native in Spark 3.4+; only the
  // APPROXIMATE form needs surgery — Redshift's quantile-sketch variant
  // maps onto Spark's approx_percentile.)
  private def rewriteApproxPctDisc(toks: Vector[Tok]): Vector[Tok] = {
    val hit = toks.indices.find { i =>
      toks(i).isWord("approximate") && {
        val c = nextCode(toks, i + 1)
        c < toks.length && toks(c).isWord("percentile_disc")
      }
    }
    hit match {
      case None => toks
      case Some(i) =>
        val c = nextCode(toks, i + 1)            // percentile_disc
        val p0 = nextCode(toks, c + 1)           // (
        require(p0 < toks.length && toks(p0).text == "(",
          "APPROXIMATE PERCENTILE_DISC: expected '(' after the function name")
        val pe = matchParen(toks, p0)            // ) of the fraction
        val pct = toks.slice(p0 + 1, pe)
        val wi = nextCode(toks, pe + 1)
        val gr = if (wi < toks.length && toks(wi).isWord("within"))
          nextCode(toks, wi + 1) else -1
        require(gr > 0 && toks(gr).isWord("group"),
          "APPROXIMATE PERCENTILE_DISC: expected WITHIN GROUP (ORDER BY …)")
        val g0 = nextCode(toks, gr + 1)          // (
        val ge = matchParen(toks, g0)            // )
        val ob = nextCode(toks, g0 + 1)          // ORDER
        val by = nextCode(toks, ob + 1)          // BY
        require(toks(ob).isWord("order") && toks(by).isWord("by"),
          "APPROXIMATE PERCENTILE_DISC: expected ORDER BY inside WITHIN GROUP")
        val sortExpr = toks.slice(nextCode(toks, by + 1), ge)
        // Trailing sort modifiers are valid Redshift here. ASC and NULLS
        // FIRST/LAST are dropped (approx_percentile ignores nulls either
        // way); DESC flips to the complementary fraction — the value p of
        // the way down a descending order is the value 1-p of the way up.
        val code = sortExpr.indices.filter { j =>
          sortExpr(j).kind != Ws && sortExpr(j).kind != Comment
        }
        var cut = code.length
        var desc = false
        var scanning = true
        while (scanning && cut > 0) {
          val t = sortExpr(code(cut - 1))
          if ((t.isWord("first") || t.isWord("last")) &&
              cut > 1 && sortExpr(code(cut - 2)).isWord("nulls")) cut -= 2
          else if (t.isWord("asc")) cut -= 1
          else if (t.isWord("desc")) { desc = true; cut -= 1 }
          else scanning = false
        }
        require(cut > 0,
          "APPROXIMATE PERCENTILE_DISC: empty ORDER BY expression")
        val valueExpr = sortExpr.take(code(cut - 1) + 1)
        val pctOut =
          if (desc) tokenize("(1 - (") ++ pct ++ tokenize("))") else pct
        val replaced = toks.patch(i,
          Vector(Tok(Word, "approx_percentile"), Tok(Sym, "(")) ++
            valueExpr ++ Vector(Tok(Sym, ",")) ++ pctOut ++ Vector(Tok(Sym, ")")),
          ge + 1 - i)
        rewriteApproxPctDisc(replaced)
    }
  }

  // RATIO_TO_REPORT(x) OVER (w) → ((x) / sum(x) OVER (w))
  private def rewriteRatioToReport(toks: Vector[Tok]): Vector[Tok] = {
    val hit = toks.indices.find(i => toks(i).isWord("ratio_to_report"))
    hit match {
      case None => toks
      case Some(i) =>
        val p = nextCode(toks, i + 1)
        if (p >= toks.length || toks(p).text != "(") return toks
        val pe = matchParen(toks, p)
        val ov = nextCode(toks, pe + 1)
        if (ov >= toks.length || !toks(ov).isWord("over")) return toks
        val w = nextCode(toks, ov + 1)
        if (w >= toks.length || toks(w).text != "(") return toks
        val we = matchParen(toks, w)
        val x = render(toks.slice(p + 1, pe))
        val win = render(toks.slice(w + 1, we))
        val repl = Tok(Word, s"(($x) / sum($x) OVER ($win))")
        rewriteRatioToReport(toks.patch(i, Vector(repl), we - i + 1))
    }
  }

  // FIRST_VALUE/LAST_VALUE(x IGNORE|RESPECT NULLS) OVER (w) — Redshift's
  // documented form — → FIRST_VALUE/LAST_VALUE(x) IGNORE|RESPECT NULLS OVER
  // (w), where Spark's parser takes the modifier. Runs after QUALIFY, which
  // finds a window call by the `)` just before its OVER.
  private def rewriteNullsModifier(toks: Vector[Tok]): Vector[Tok] = {
    // (IGNORE|RESPECT, NULLS, the call's ')') when the call at `i` ends so
    def modifier(i: Int): Option[(Int, Int, Int)] = {
      if (!toks(i).isWord("first_value") && !toks(i).isWord("last_value")) return None
      val p = nextCode(toks, i + 1)
      if (p >= toks.length || !isSym(toks(p), "(")) return None
      val pe = matchParen(toks, p)
      topLevel(toks, p + 1, pe).filter(j => toks(j).kind != Ws && toks(j).kind != Comment)
        .toVector.takeRight(2) match {
        case Seq(m, n) if (toks(m).isWord("ignore") || toks(m).isWord("respect")) &&
            toks(n).isWord("nulls") => Some((m, n, pe))
        case _ => None
      }
    }
    toks.indices.iterator.map(modifier).collectFirst { case Some(h) => h } match {
      case None => toks
      case Some((m, n, pe)) =>
        var s = m
        while (s > 0 && toks(s - 1).kind == Ws) s -= 1
        rewriteNullsModifier(toks.take(s) ++ Vector(toks(pe), Tok(Ws, " ")) ++
          toks.slice(m, n + 1) ++ toks.drop(pe + 1))
    }
  }

  // x [NOT] SIMILAR TO 'pat' → x [NOT] RLIKE '^(pat)$'
  private def rewriteSimilarTo(toks: Vector[Tok]): Vector[Tok] = {
    val hit = toks.indices.find { i =>
      toks(i).isWord("similar") && {
        val t = nextCode(toks, i + 1)
        t < toks.length && toks(t).isWord("to")
      }
    }
    hit match {
      case None => toks
      case Some(i) =>
        val t = nextCode(toks, i + 1)
        val s = nextCode(toks, t + 1)
        if (s >= toks.length || toks(s).kind != Str) return toks
        val raw = toks(s).text.stripPrefix("'").stripSuffix("'")
        val rx = similarToRegex(raw)
        rewriteSimilarTo(toks.patch(i,
          Vector(Tok(Word, "RLIKE"), Tok(Ws, " "), Tok(Str, s"'$rx'")), s - i + 1))
    }
  }

  /** POSIX regex predicates — `x ~ 'p'`, `x ~* 'p'`, `x !~ 'p'`,
    * `x !~* 'p'` (grep-style matching, ubiquitous in Redshift WHERE
    * clauses; Spark's parser has no binary `~`) → `[NOT] RLIKE`, with the
    * case-insensitive forms folding `(?i)` into the pattern (literal
    * patterns get it prefixed in place; a computed pattern is wrapped in
    * `concat('(?i)', …)`).
    *
    * `~` is ALSO Spark's unary bitwise NOT: the rewrite fires only when
    * the token before the operator (before the `!` for negated forms) is
    * an OPERAND — a literal, quoted identifier, closing paren/bracket, or
    * a non-keyword word — which a unary `~` can never follow. `SELECT ~5`
    * and `a & ~b` pass through untouched (identity-property tested).
    */
  private val nonOperandKeywords = Set(
    "select", "where", "and", "or", "not", "case", "when", "then", "else",
    "on", "in", "is", "like", "ilike", "rlike", "regexp", "between", "from",
    "join", "having", "all", "any", "some", "distinct", "as", "union",
    "intersect", "except", "minus", "limit", "offset", "by", "over",
    "partition", "escape", "set", "values", "returning", "filter")
  private def rewritePosixRegex(toks: Vector[Tok]): Vector[Tok] = {
    def isOperand(t: Tok): Boolean = t.kind match {
      case Str | Num | QIdent => true
      case Sym => t.text == ")" || t.text == "]"
      case Word => !nonOperandKeywords.contains(t.text.toLowerCase)
      case _ => false
    }
    def prevCode(i: Int): Int = {
      var p = i - 1
      while (p >= 0 && (toks(p).kind == Ws || toks(p).kind == Comment)) p -= 1
      p
    }
    val hit = toks.indices.find { i =>
      toks(i).kind == Sym && toks(i).text == "~" && {
        val p = prevCode(i)
        val p2 = if (p >= 0 && toks(p).kind == Sym && toks(p).text == "!") prevCode(p) else p
        p2 >= 0 && isOperand(toks(p2))
      }
    }
    hit match {
      case None => toks
      case Some(i) =>
        val bang = prevCode(i)
        val neg = bang >= 0 && toks(bang).kind == Sym && toks(bang).text == "!"
        val star = nextCode(toks, i + 1)
        val ci = star < toks.length && toks(star).kind == Sym && toks(star).text == "*"
        val opStart = if (neg) bang else i
        val opEnd = if (ci) star else i
        val rhs = nextCode(toks, opEnd + 1)
        if (rhs >= toks.length) return toks
        // pad only where the original had no whitespace, so spaced input
        // round-trips without doubled blanks
        val core = tokenize(if (neg) "NOT RLIKE" else "RLIKE")
        val pre = if (opStart > 0 && toks(opStart - 1).kind != Ws)
          Vector(Tok(Ws, " ")) else Vector.empty
        val post = if (opEnd + 1 < toks.length && toks(opEnd + 1).kind != Ws)
          Vector(Tok(Ws, " ")) else Vector.empty
        val opToks = pre ++ core ++ post
        val out: Vector[Tok] =
          if (!ci)
            toks.patch(opStart, opToks, opEnd - opStart + 1)
          else if (toks(rhs).kind == Str) {
            val pat = toks(rhs).text.stripPrefix("'").stripSuffix("'")
            toks.updated(rhs, Tok(Str, s"'(?i)$pat'"))
              .patch(opStart, opToks, opEnd - opStart + 1)
          } else {
            // computed pattern: bound its extent (call, paren group, or a
            // single identifier) and wrap it in concat('(?i)', …)
            val rhsEnd = toks(rhs).kind match {
              case Sym if toks(rhs).text == "(" => matchParen(toks, rhs)
              case Word | QIdent =>
                val p = nextCode(toks, rhs + 1)
                if (p < toks.length && toks(p).kind == Sym && toks(p).text == "(")
                  matchParen(toks, p)
                else rhs
              case _ => return toks // unrecognized rhs shape — leave it loud
            }
            val wrapped = tokenize(
              s"concat('(?i)', ${render(toks.slice(rhs, rhsEnd + 1))})")
            toks.patch(rhs, wrapped, rhsEnd - rhs + 1)
              .patch(opStart, opToks, opEnd - opStart + 1)
          }
        rewritePosixRegex(out)
    }
  }

  /** SQL SIMILAR TO pattern → anchored Java regex: % → .*, _ → . ;
    * SIMILAR TO's own metachars (| * + ? {} () []) pass through; regex
    * chars that are literal in SIMILAR TO (. ^ $) are escaped. */
  private[sql] def similarToRegex(pat: String): String = {
    val sb = new StringBuilder("^(")
    var i = 0
    while (i < pat.length) {
      pat.charAt(i) match {
        case '\\' if i + 1 < pat.length =>
          sb.append("\\\\").append(pat.charAt(i + 1)); i += 1
        case '%' => sb.append(".*")
        case '_' => sb.append('.')
        case '.' => sb.append("\\\\.")
        case '^' => sb.append("\\\\^")
        case '$' => sb.append("\\\\$")
        case c => sb.append(c)
      }
      i += 1
    }
    sb.append(")$").toString
  }

  // GETDATE() → current_timestamp(); SYSDATE → current_timestamp(); RANDOM() → rand()
  private def rewriteSimpleCalls(toks: Vector[Tok]): Vector[Tok] =
    toks.zipWithIndex.map { case (tk, i) =>
      if (tk.isWord("getdate")) Tok(Word, "current_timestamp")
      else if (tk.isWord("random")) {
        val p = nextCode(toks, i + 1)
        if (p < toks.length && toks(p).text == "(") Tok(Word, "rand") else tk
      } else if (tk.isWord("sysdate")) Tok(Word, "current_timestamp()")
      else tk
    }

  // CONVERT(type, x) → CAST(x AS type)
  private def rewriteConvert(toks: Vector[Tok]): Vector[Tok] = {
    val hit = toks.indices.find { i =>
      toks(i).isWord("convert") && {
        val p = nextCode(toks, i + 1)
        p < toks.length && toks(p).text == "("
      }
    }
    hit match {
      case None => toks
      case Some(i) =>
        val p = nextCode(toks, i + 1)
        val pe = matchParen(toks, p)
        val commas = topCommas(toks, p, pe)
        if (commas.length != 1) return toks
        val tpe = render(toks.slice(p + 1, commas.head)).trim
        val x = render(toks.slice(commas.head + 1, pe)).trim
        rewriteConvert(toks.patch(i, Vector(Tok(Word, s"CAST($x AS $tpe)")), pe - i + 1))
    }
  }

  // 3-arg DATEADD/DATEDIFF → timestampadd/timestampdiff (Spark's 2-arg
  // dateadd/datediff keep their day-based semantics untouched). The unit
  // token is normalized from Redshift's abbreviation set (`d`, `h`, `min`,
  // `mon`, `qtr`, `w`, quoted or bare — Redshift accepts both) to the
  // canonical Spark unit keyword, which timestampadd/timestampdiff require.
  private val unitAliases: Map[String, String] = Map(
    "YEAR" -> Seq("y", "yr", "yrs", "year", "years"),
    "QUARTER" -> Seq("qtr", "qtrs", "quarter", "quarters"),
    "MONTH" -> Seq("mon", "mons", "month", "months"),
    "WEEK" -> Seq("w", "week", "weeks"),
    "DAY" -> Seq("d", "day", "days", "dayofmonth"),
    "HOUR" -> Seq("h", "hr", "hrs", "hour", "hours"),
    "MINUTE" -> Seq("m", "min", "mins", "minute", "minutes"),
    "SECOND" -> Seq("s", "sec", "secs", "second", "seconds"),
    "MILLISECOND" -> Seq("ms", "msec", "msecs", "millisec", "millisecond", "milliseconds"),
    "MICROSECOND" -> Seq("us", "usec", "usecs", "microsec", "microsecond", "microseconds")
  ).flatMap { case (canon, aliases) => aliases.map(_ -> canon) }
  private def rewriteDateAddDiff(toks: Vector[Tok]): Vector[Tok] = {
    val hit = toks.indices.find { i =>
      (toks(i).isWord("dateadd") || toks(i).isWord("datediff")) && {
        val p = nextCode(toks, i + 1)
        p < toks.length && toks(p).text == "(" && {
          val pe = matchParen(toks, p)
          pe > 0 && topCommas(toks, p, pe).length == 2
        }
      }
    }
    hit match {
      case None => toks
      case Some(i) =>
        val isDiff = toks(i).isWord("datediff")
        val name = if (isDiff) "timestampdiff" else "timestampadd"
        val p = nextCode(toks, i + 1)
        val pe = matchParen(toks, p)
        val u = nextCode(toks, p + 1)
        val unitText = toks(u).kind match {
          case Word => Some(toks(u).text)
          case Str => Some(toks(u).text.stripPrefix("'").stripSuffix("'"))
          case _ => None
        }
        val canon = unitText.flatMap(t => unitAliases.get(t.toLowerCase))
        if (isDiff && canon.isDefined) {
          // Redshift DATEDIFF counts unit-BOUNDARY CROSSINGS; Spark's
          // timestampdiff counts elapsed complete units (10:59→11:01 is 1
          // Redshift hour, 0 Spark hours). Truncating both operands to the
          // unit makes the two identical: after truncation every operand
          // sits on a boundary, so complete units == crossings.
          val unit = canon.get
          val commas = topCommas(toks, p, pe)
          val a = render(toks.slice(commas(0) + 1, commas(1))).trim
          val b = render(toks.slice(commas(1) + 1, pe)).trim
          // Re-tokenize the replacement (not one opaque Word token) so
          // nested rewritable calls inside the operands — a 3-arg DATEADD,
          // TO_CHAR, TO_DATE with PG formats — stay visible to this
          // recursion and to the later rewrite passes.
          rewriteDateAddDiff(toks.patch(i,
            tokenize(
              s"timestampdiff($unit, date_trunc('$unit', $a), date_trunc('$unit', $b))"),
            pe - i + 1))
        } else {
          val renamed = toks.updated(i, Tok(Word, name))
          rewriteDateAddDiff(
            canon.fold(renamed)(c => renamed.updated(u, Tok(Word, c))))
        }
    }
  }

  // DATE_PART/DATEPART(part, x) with a bare part (Redshift's usual form;
  // Spark reads a bare word there as a column) → the quoted canonical part
  // from unitAliases. The parts Spark's EXTRACT lacks or numbers otherwise,
  // in EXTRACT/DATE_PART/DATEPART, wrap the operand x instead (`from` is
  // where the scan resumes, past what a rewrite emitted):
  //   day of week → (extract(DAYOFWEEK FROM x) - 1): Redshift numbers Sunday 0
  //   epoch       → DOUBLE seconds since 1970-01-01 00:00 (session zone UTC)
  //   ms, us      → the seconds field with its fraction, in ms or µs (BIGINT)
  private val dowParts = Set("dow", "dw", "weekday", "dayofweek")
  private def partWrap(part: String): Option[(String, String)] =
    if (dowParts(part)) Some(("(extract(DAYOFWEEK FROM ", ") - 1)"))
    else if (part == "epoch") Some(("(unix_micros(CAST(", " AS TIMESTAMP)) / 1e6)"))
    else unitAliases.get(part).collect {
      case "MILLISECOND" => ("CAST(extract(SECOND FROM ", ") * 1000 AS BIGINT)")
      case "MICROSECOND" => ("CAST(extract(SECOND FROM ", ") * 1000000 AS BIGINT)")
    }
  private def rewriteDateParts(toks: Vector[Tok], from: Int = 0): Vector[Tok] = {
    val hit = (from until toks.length).find { i =>
      (toks(i).isWord("extract") || toks(i).isWord("date_part") || toks(i).isWord("datepart")) && {
        val p = nextCode(toks, i + 1)
        p < toks.length && isSym(toks(p), "(")
      }
    }
    hit match {
      case None => toks
      case Some(i) =>
        val p = nextCode(toks, i + 1)
        val pe = matchParen(toks, p)
        val u = nextCode(toks, p + 1)
        val extract = toks(i).isWord("extract")
        // the operand follows EXTRACT's FROM, or DATE_PART's one comma
        val sep =
          if (extract) topLevel(toks, u, pe).find(toks(_).isWord("from"))
          else Some(topCommas(toks, p, pe)).collect { case Seq(c) => c }
        val part = toks(u).kind match {
          case Word => Some(toks(u).text.toLowerCase)
          case Str if !extract => Some(toks(u).text.stripPrefix("'").stripSuffix("'").toLowerCase)
          case _ => None
        }
        (sep, part) match {
          case (Some(c), Some(pt)) if partWrap(pt).isDefined =>
            val (open, close) = partWrap(pt).get
            val head = tokenize(open)
            rewriteDateParts(toks.take(i) ++ head ++ toks.slice(nextCode(toks, c + 1), pe) ++
              tokenize(close) ++ toks.drop(pe + 1), i + head.length)
          case (Some(_), Some(pt)) if !extract && toks(u).kind == Word =>
            val canon = unitAliases.getOrElse(pt, toks(u).text)
            rewriteDateParts(toks.updated(u, Tok(Str, s"'$canon'")), u + 1)
          case _ => rewriteDateParts(toks, i + 1)
        }
    }
  }

  // TO_CHAR(ts, 'YYYY-MM-DD') → date_format(ts, 'yyyy-MM-dd') — only when
  // the format literal contains date tokens (numeric TO_CHAR is native).
  private val dateTokens: Seq[(String, String)] = Seq(
    "YYYY" -> "yyyy", "YY" -> "yy", "MONTH" -> "MMMM", "MON" -> "MMM",
    "MM" -> "MM", "DDD" -> "DDD", "DD" -> "dd", "DAY" -> "EEEE", "DY" -> "EEE",
    "HH24" -> "HH", "HH12" -> "hh", "HH" -> "hh", "MI" -> "mm", "SS" -> "ss",
    "MS" -> "SSS", "AM" -> "a", "PM" -> "a", "TZ" -> "zz", "Q" -> "Q")
  private def rewriteToChar(toks: Vector[Tok]): Vector[Tok] = {
    val hit = toks.indices.find { i =>
      toks(i).isWord("to_char") && {
        val p = nextCode(toks, i + 1)
        p < toks.length && toks(p).text == "(" && {
          val pe = matchParen(toks, p)
          val commas = topCommas(toks, p, pe)
          commas.length == 1 && {
            val s = nextCode(toks, commas.head + 1)
            toks(s).kind == Str && hasDateTokens(toks(s).text)
          }
        }
      }
    }
    hit match {
      case None => toks
      case Some(i) =>
        val p = nextCode(toks, i + 1)
        val pe = matchParen(toks, p)
        val comma = topCommas(toks, p, pe).head
        val s = nextCode(toks, comma + 1)
        val fmt = toks(s).text.stripPrefix("'").stripSuffix("'")
        val out = toks
          .updated(i, Tok(Word, "date_format"))
          .updated(s, Tok(Str, s"'${translateFormat(fmt)}'"))
        rewriteToChar(out)
    }
  }
  /** TO_DATE(x, 'fmt') / TO_TIMESTAMP(x, 'fmt') with a Redshift
    * (PostgreSQL-token) format → the same call with the java pattern.
    * Spark's native to_date/to_timestamp already take java patterns, so the
    * rewrite only fires on formats that are UNAMBIGUOUSLY PG: either a
    * PG-only token (HH24/HH12/MI/MON/DAY/DY) or an all-uppercase format
    * ('YYYY-MM-DD' — java-pattern authors write 'yyyy-MM-dd'). A mixed-case
    * java format like 'yyyy-MM-dd HH:mm:ss' passes through untouched —
    * translating its HH (0-23) to hh (1-12) would silently corrupt it.
    */
  private def hasPgTokens(fmt: String): Boolean = {
    val up = fmt.toUpperCase
    // PG-only tokens, ANY case: java patterns have no MI/HH24/HH12, and
    // mon/month/day/dy as java letter runs are nonsensical combinations —
    // Redshift accepts lowercase spellings of all its format tokens.
    Seq("HH24", "HH12", "MI", "MON", "MONTH", "DAY", "DY").exists(up.contains) ||
      (fmt.exists(_.isUpper) && !fmt.exists(_.isLower) && hasDateTokens(fmt)) ||
      // All-LOWERCASE date-shaped formats: Redshift reads 'yyyy-mm-dd' as
      // year-month-day while a java pattern reads mm as minutes — passing
      // it through silently yields corrupt dates. Formats with time context
      // ('hh:mm') are left alone: there the java reading (minutes) is the
      // plausible intent and the PG spelling would use MI anyway.
      (fmt.exists(_.isLower) && !fmt.exists(_.isUpper) && !up.contains("HH") &&
        (up.contains("YYYY") || (up.contains("MM") && up.contains("DD"))))
  }
  private def rewriteToDateTs(toks: Vector[Tok]): Vector[Tok] = {
    val hit = toks.indices.find { i =>
      (toks(i).isWord("to_date") || toks(i).isWord("to_timestamp")) && {
        val p = nextCode(toks, i + 1)
        p < toks.length && toks(p).text == "(" && {
          val pe = matchParen(toks, p)
          val commas = topCommas(toks, p, pe)
          commas.length == 1 && {
            val s = nextCode(toks, commas.head + 1)
            toks(s).kind == Str &&
              hasPgTokens(toks(s).text.stripPrefix("'").stripSuffix("'"))
          }
        }
      }
    }
    hit match {
      case None => toks
      case Some(i) =>
        val p = nextCode(toks, i + 1)
        val pe = matchParen(toks, p)
        val s = nextCode(toks, topCommas(toks, p, pe).head + 1)
        val fmt = toks(s).text.stripPrefix("'").stripSuffix("'")
        rewriteToDateTs(toks.updated(s, Tok(Str, s"'${translateFormat(fmt)}'")))
    }
  }

  /** `information_schema.tables` / `.columns` → the flat shim-view names
    * [[CatalogShims]] registers (temp views cannot be schema-qualified, so
    * the qualified reference is folded into one identifier). Only those
    * two relations are mapped; other information_schema members pass
    * through and fail loudly rather than resolving to something wrong.
    */
  private def rewriteInfoSchema(toks: Vector[Tok]): Vector[Tok] = {
    val mapped = Set("tables", "columns")
    val hit = toks.indices.find { i =>
      toks(i).isWord("information_schema") && {
        val dot = i + 1 // must be IMMEDIATELY adjacent (no ws in a name)
        dot < toks.length && toks(dot).kind == Sym && toks(dot).text == "." && {
          val rel = dot + 1
          rel < toks.length && toks(rel).kind == Word &&
            mapped.contains(toks(rel).text.toLowerCase)
        }
      }
    }
    hit match {
      case None => toks
      case Some(i) =>
        val rel = toks(i + 2).text.toLowerCase
        rewriteInfoSchema(
          toks.patch(i, Vector(Tok(Word, s"__info_schema_$rel")), 3))
    }
  }

  /** Redshift/PG `COMMENT ON TABLE t IS 'x'` / `COMMENT ON COLUMN t.c IS
    * 'x'` → the Spark DDL holding the same metadata: table comments live
    * in TBLPROPERTIES('comment'), column comments in the column's own
    * COMMENT. `IS NULL` (comment removal) unsets / blanks it. Other
    * COMMENT ON kinds (VIEW, SCHEMA, CONSTRAINT) pass through untouched.
    */
  private def rewriteCommentOn(toks: Vector[Tok]): Vector[Tok] = {
    val first = nextCode(toks, 0)
    if (first >= toks.length || !toks(first).isWord("comment")) return toks
    val on = nextCode(toks, first + 1)
    if (on >= toks.length || !toks(on).isWord("on")) return toks
    val kindAt = nextCode(toks, on + 1)
    if (kindAt >= toks.length || toks(kindAt).kind != Word) return toks
    val kind = toks(kindAt).text.toLowerCase
    if (kind != "table" && kind != "column") return toks
    val (name, afterN) = qualifiedName(toks, kindAt + 1)
    val is = nextCode(toks, afterN)
    require(is < toks.length && toks(is).isWord("is"),
      s"COMMENT ON ${kind.toUpperCase}: expected IS 'text' | IS NULL")
    val v = nextCode(toks, is + 1)
    require(v < toks.length && (toks(v).kind == Str || toks(v).isWord("null")),
      s"COMMENT ON ${kind.toUpperCase}: the comment must be a string literal or NULL")
    val isNull = toks(v).kind != Str
    if (kind == "table")
      tokenize(
        if (isNull) s"ALTER TABLE $name UNSET TBLPROPERTIES ('comment')"
        else s"ALTER TABLE $name SET TBLPROPERTIES ('comment'=${toks(v).text})")
    else {
      val di = name.lastIndexOf('.')
      require(di > 0, "COMMENT ON COLUMN needs a table.column name")
      val (tbl, c) = (name.substring(0, di), name.substring(di + 1))
      tokenize(
        if (isNull) s"ALTER TABLE $tbl ALTER COLUMN $c COMMENT ''"
        else s"ALTER TABLE $tbl ALTER COLUMN $c COMMENT ${toks(v).text}")
    }
  }

  /** Redshift `ALTER TABLE t ADD [COLUMN] col type [DEFAULT expr]` →
    * Spark `ALTER TABLE t ADD COLUMNS (col type [DEFAULT expr])`
    * (Redshift's one-column-per-statement form without parens; Spark wants
    * the parenthesized list). The type goes through the same Redshift
    * spelling normalization as external DDL; DEFAULT rides through —
    * Spark's column-default machinery gives existing rows the default on
    * read, matching Redshift's ADD COLUMN backfill semantics.
    */
  private def rewriteAlterAddColumn(toks: Vector[Tok]): Vector[Tok] = {
    val first = nextCode(toks, 0)
    if (first >= toks.length || !toks(first).isWord("alter")) return toks
    val tbl = nextCode(toks, first + 1)
    if (tbl >= toks.length || !toks(tbl).isWord("table")) return toks
    val afterName =
      try qualifiedName(toks, tbl + 1)._2
      catch { case _: IllegalArgumentException => return toks }
    val add = nextCode(toks, afterName)
    if (add >= toks.length || !toks(add).isWord("add")) return toks
    var defAt = nextCode(toks, add + 1)
    if (defAt < toks.length && toks(defAt).isWord("column"))
      defAt = nextCode(toks, defAt + 1)
    // already-parenthesized (Spark ADD COLUMNS (…)) or ADD PARTITION —
    // native syntax, leave alone
    if (defAt >= toks.length || toks(defAt).kind == Sym ||
        toks(defAt).isWord("partition") || toks(defAt).isWord("columns") ||
        toks(defAt).isWord("constraint") || toks(defAt).isWord("if")) return toks
    // statement end = ';' or end of tokens
    var end = defAt
    while (end < toks.length && !(toks(end).kind == Sym && toks(end).text == ";"))
      end += 1
    val defText = SpectrumDdl.normalizeDef(toks.slice(defAt, end))
    if (defText.isEmpty) return toks
    toks.take(add).toVector ++ tokenize(s"ADD COLUMNS ($defText)") ++ toks.slice(end, toks.length)
  }

  /** Redshift `CREATE TABLE t (LIKE parent [INCLUDING|EXCLUDING DEFAULTS])`
    * → Spark `CREATE TABLE t LIKE parent` (the defaults clause has no
    * Spark counterpart — Spark copies the full source schema either way).
    */
  private def rewriteCreateLike(toks: Vector[Tok]): Vector[Tok] = {
    val afterName = anyCreateTable(toks) match {
      case Some(h) => h.afterName
      case None => return toks
    }
    val open = nextCode(toks, afterName)
    if (open >= toks.length || toks(open).text != "(") return toks
    val like = nextCode(toks, open + 1)
    if (like >= toks.length || !toks(like).isWord("like")) return toks
    val close = matchParen(toks, open)
    val (src, afterSrc) = try qualifiedName(toks, like + 1)
      catch { case _: IllegalArgumentException => return toks }
    // tolerate INCLUDING/EXCLUDING DEFAULTS between the name and ')'
    val rest = render(toks.slice(afterSrc, close)).trim.toLowerCase
    if (rest.nonEmpty && rest != "including defaults" && rest != "excluding defaults")
      return toks
    toks.patch(open, tokenize(s"LIKE $src"), close - open + 1)
  }

  /** Redshift late-binding views: `CREATE [OR REPLACE] VIEW … WITH NO
    * SCHEMA BINDING` (`execute_sql.py:23,77` forwards the DDL verbatim;
    * the suffix is MANDATORY on every Redshift view over external/Spectrum
    * tables and habitual in dumped DDL). Spark's parser rejects the
    * trailing clause, aborting the whole script — strip it and keep the
    * view DDL native. Documented divergence: Redshift defers name
    * resolution to query time (the view may reference tables that don't
    * exist yet); Spark validates the body at CREATE time, so creation
    * over a missing table fails here instead of at first SELECT. */
  private def rewriteLateBindingView(toks: Vector[Tok]): Vector[Tok] = {
    val c = nextCode(toks, 0)
    if (c >= toks.length || !toks(c).isWord("create")) return toks
    var i = nextCode(toks, c + 1)
    if (i < toks.length && toks(i).isWord("or")) {
      i = nextCode(toks, i + 1)
      if (i >= toks.length || !toks(i).isWord("replace")) return toks
      i = nextCode(toks, i + 1)
    }
    if (i >= toks.length || !toks(i).isWord("view")) return toks
    val code = toks.indices.filter(j => toks(j).kind != Ws && toks(j).kind != Comment)
    if (code.length < 4) return toks
    val tail = code.takeRight(4)
    val clause = Seq("with", "no", "schema", "binding")
    if (tail.zip(clause).forall { case (j, w) => toks(j).isWord(w) })
      toks.take(tail.head)
    else toks
  }

  /** Redshift scalar SQL UDFs (`CREATE [OR REPLACE] FUNCTION f(argtypes)
    * RETURNS type VOLATILE|STABLE|IMMUTABLE AS $$ SELECT expr $$ LANGUAGE
    * sql` — the one user-extension statement the reference's pass-through
    * surface exposes, `execute_sql.py:23,64`) → Spark 4 native SQL UDFs
    * (`CREATE [OR REPLACE] FUNCTION f(p1 T1, …) RETURNS type RETURN expr`).
    *
    *  - SQL-UDF args are positional types referenced `$1…$n` in the body;
    *    they become named parameters `p1…pn` and the body references are
    *    substituted token-aware ($ inside string literals is never touched).
    *    Named python-style `name type` pairs are tolerated and kept.
    *  - IMMUTABLE maps to Spark's DETERMINISTIC; STABLE/VOLATILE have no
    *    Spark spelling and drop (Spark SQL UDFs are inlined into the plan,
    *    so volatility is decided by the substituted expression itself).
    *  - `LANGUAGE plpythonu` raises loudly: a silent no-op would corrupt
    *    every later statement that calls the function.
    */
  private def rewriteCreateFunction(toks: Vector[Tok]): Vector[Tok] = {
    val c = nextCode(toks, 0)
    if (c >= toks.length || !toks(c).isWord("create")) return toks
    var i = nextCode(toks, c + 1)
    var orReplace = false
    if (i < toks.length && toks(i).isWord("or")) {
      i = nextCode(toks, i + 1)
      if (i >= toks.length || !toks(i).isWord("replace")) return toks
      orReplace = true
      i = nextCode(toks, i + 1)
    }
    if (i >= toks.length || !toks(i).isWord("function")) return toks
    val (name, afterName) = qualifiedName(toks, i + 1)
    val open = nextCode(toks, afterName)
    if (open >= toks.length || toks(open).text != "(") return toks
    val close = matchParen(toks, open)
    // argument list: `type` (positional, $n-referenced) or `name type`
    val bounds = (open +: topCommas(toks, open, close).toVector) :+ close
    val args = bounds.sliding(2).toVector.flatMap { case Seq(a, b) =>
      val seg = toks.slice(a + 1, b)
      if (nextCode(seg, 0) >= seg.length) None else Some(seg)
    }
    val params = args.zipWithIndex.map { case (seg, idx) =>
      val segWords = seg.indices.filter(j => seg(j).kind == Word || seg(j).kind == QIdent)
      val firstWord = segWords.headOption.map(j => seg(j).text.toLowerCase).getOrElse("")
      val secondWord = segWords.lift(1).map(j => seg(j).text.toLowerCase).getOrElse("")
      // `name type` vs bare positional type: a first word that is a type
      // keyword usually means positional — EXCEPT when the second word
      // starts a type too (`date date`, `text varchar(10)`): no multi-word
      // type spelling has that shape (double PRECISION, character VARYING,
      // timestamp WITH time zone), so it must be a parameter NAMED like a
      // type keyword (ADVICE r12 — previously rendered `p1 date date`).
      val named = segWords.length >= 2 &&
        (!typeFirstWords.contains(firstWord) || typeFirstWords.contains(secondWord))
      if (named) {
        val nameTok = seg(segWords.head).text
        val tyToks = seg.slice(segWords.head + 1, seg.length)
        (nameTok, normalizeTypeText(tyToks))
      } else (s"p${idx + 1}", normalizeTypeText(seg))
    }
    var j = nextCode(toks, close + 1)
    if (j >= toks.length || !toks(j).isWord("returns"))
      return toks // not the Redshift UDF shape — leave for Spark's parser
    j = nextCode(toks, j + 1)
    // return type runs until the volatility word or AS
    val retStart = j
    while (j < toks.length && !toks(j).isWord("as") && !toks(j).isWord("volatile") &&
        !toks(j).isWord("stable") && !toks(j).isWord("immutable")) j += 1
    val retType = normalizeTypeText(toks.slice(retStart, j))
    var deterministic = false
    while (j < toks.length && !toks(j).isWord("as")) {
      if (toks(j).isWord("immutable")) deterministic = true
      j += 1
    }
    if (j >= toks.length) return toks
    // body: a dollar-quoted string or a plain '…' literal after AS
    val bodyAt = nextCode(toks, j + 1)
    if (bodyAt >= toks.length) return toks
    val rawBody = toks(bodyAt) match {
      case t if t.kind == DollarStr => dollarBody(t)
      case t if t.kind == Str => t.text.substring(1, t.text.length - 1).replace("''", "'")
      case _ => return toks
    }
    // LANGUAGE is checked POSITIONALLY — the code token right after the
    // body — never by scanning the whole statement (an identifier named
    // `language` elsewhere must not trigger the check). Reaching a
    // dollar/string body means this IS the Redshift UDF shape, so a
    // non-sql language (plpythonu) raises with the reason here instead
    // of half-parsing a python body as SQL.
    val lw = nextCode(toks, bodyAt + 1)
    if (lw < toks.length && toks(lw).isWord("language")) {
      val lv = nextCode(toks, lw + 1)
      val lang = if (lv < toks.length) toks(lv).text.toLowerCase else ""
      if (lang != "sql") throw new IllegalArgumentException(
        s"CREATE FUNCTION $name: LANGUAGE $lang is not supported in this " +
          "engine (Redshift python UDFs have no Spark-side runtime here); " +
          "only LANGUAGE sql scalar UDFs are translated")
    }
    // strip the leading SELECT (Redshift SQL-UDF bodies are a SELECT
    // clause) and any trailing semicolon, then substitute $n → pn
    val bodyToks0 = tokenize(rawBody)
    val selAt = nextCode(bodyToks0, 0)
    val bodyToks1 =
      if (selAt < bodyToks0.length && bodyToks0(selAt).isWord("select"))
        bodyToks0.slice(selAt + 1, bodyToks0.length)
      else bodyToks0
    val out = Vector.newBuilder[Tok]
    var bi = 0
    while (bi < bodyToks1.length) {
      val t = bodyToks1(bi)
      if (t.kind == Sym && t.text == "$" && bi + 1 < bodyToks1.length &&
          bodyToks1(bi + 1).kind == Num && bodyToks1(bi + 1).text.forall(_.isDigit)) {
        val idx = bodyToks1(bi + 1).text.toInt
        require(idx >= 1 && idx <= params.length,
          s"CREATE FUNCTION $name: body references $$$idx but only " +
            s"${params.length} argument(s) are declared")
        out += Tok(Word, params(idx - 1)._1)
        bi += 2
      } else { out += t; bi += 1 }
    }
    val bodyText = render(out.result()).trim.stripSuffix(";").trim
    require(bodyText.nonEmpty, s"CREATE FUNCTION $name: empty SQL body")
    val sig = params.map { case (n, t) => s"$n $t" }.mkString(", ")
    val det = if (deterministic) " DETERMINISTIC" else ""
    val rep = if (orReplace) "OR REPLACE " else ""
    tokenize(s"CREATE ${rep}FUNCTION $name($sig) RETURNS $retType$det RETURN $bodyText")
  }

  /** First words of Redshift type names — an argument segment starting
    * with one of these is a bare positional type, not `name type`. */
  private val typeFirstWords: Set[String] = Set(
    "smallint", "int2", "integer", "int", "int4", "bigint", "int8",
    "decimal", "numeric", "real", "float4", "float8", "float",
    "double", "boolean", "bool", "char", "character", "bpchar", "varchar",
    "nvarchar", "text", "date", "timestamp", "timestamptz", "varbyte",
    "varbinary", "binary", "super", "time", "timetz", "hllsketch", "geometry")

  /** Render a type token slice with the same spelling normalization as
    * external DDL (`double precision` → DOUBLE, int4 → INT, …). CHAR and
    * VARCHAR (any length, or bare) become STRING: Spark hard-rejects
    * char/varchar in SQL-UDF signatures (UNSUPPORTED_CHAR_OR_VARCHAR_AS_
    * STRING), and STRING is the semantics Redshift's VARCHAR has inside an
    * expression anyway (no pad/truncate happens in a scalar body). */
  private def normalizeTypeText(tyToks: Vector[Tok]): String = {
    val t = SpectrumDdl.normalizeDef(Tok(Word, "x") +: Tok(Ws, " ") +: tyToks)
      .stripPrefix("x").trim
    val lower = t.toLowerCase
    val charish = Seq("varchar", "nvarchar", "char", "character varying",
      "character", "bpchar", "text")
    if (charish.exists(p => lower == p || lower.startsWith(p + "(") ||
        lower.startsWith(p + " ("))) "STRING"
    else t
  }

  /** Redshift `DROP FUNCTION name(argtypes) [CASCADE|RESTRICT]` — the
    * argument-type list is MANDATORY in Redshift (functions overload on
    * it) but rejected by Spark's parser, which identifies functions by
    * name alone. Strip the list and the cascade word. */
  private def rewriteDropFunction(toks: Vector[Tok]): Vector[Tok] = {
    val c = nextCode(toks, 0)
    if (c >= toks.length || !toks(c).isWord("drop")) return toks
    var i = nextCode(toks, c + 1)
    if (i >= toks.length || !toks(i).isWord("function")) return toks
    i = nextCode(toks, i + 1)
    if (i < toks.length && toks(i).isWord("if")) {
      val n = nextCode(toks, i + 1)
      if (n < toks.length && toks(n).isWord("exists")) i = nextCode(toks, n + 1)
    }
    val afterName =
      try qualifiedName(toks, i)._2
      catch { case _: IllegalArgumentException => return toks }
    val open = nextCode(toks, afterName)
    if (open >= toks.length || toks(open).text != "(") return toks
    val close = matchParen(toks, open)
    val tail = nextCode(toks, close + 1)
    val end =
      if (tail < toks.length &&
          (toks(tail).isWord("cascade") || toks(tail).isWord("restrict")))
        tail + 1
      else close + 1
    toks.take(open).reverse.dropWhile(_.kind == Ws).reverse ++ toks.slice(end, toks.length)
  }

  private def hasDateTokens(lit: String): Boolean = {
    val up = lit.toUpperCase
    Seq("YYYY", "YY", "MM", "DD", "HH", "MI", "SS", "MON", "DAY").exists(up.contains)
  }
  private[sql] def translateFormat(fmt: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < fmt.length) {
      val rest = fmt.substring(i).toUpperCase
      dateTokens.find { case (rs, _) => rest.startsWith(rs) } match {
        case Some((rs, sp)) => sb.append(sp); i += rs.length
        case None => sb.append(fmt.charAt(i)); i += 1
      }
    }
    sb.toString
  }
}
