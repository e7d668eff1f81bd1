package graft.cli

import scala.util.Try

import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.config.{ArgParser, ConnectionConfig}
import graft.sql.{LocalCopy, LocalDml, LocalMv, RedshiftSql}
import graft.sql.SqlTokens._

/** Blueprint CLI #3: SQL pass-through executor (SURVEY.md §2.1 A10;
  * reference `execute_sql.py:62-79`).
  *
  * The statement runs through the Redshift→Spark dialect rewriter and
  * `spark.sql` over the session catalog; with `--db-connection-url` (or
  * host/db/user) it instead executes verbatim on the remote database over
  * a raw JDBC statement — exactly the reference's semantics (arbitrary
  * statement, results discarded).
  */
object ExecuteSql {
  val flags: Set[String] = Set(
    "query", "host", "port", "database", "username", "password",
    "db-connection-url", "url-parameters", "schema")

  def main(args: Array[String]): Unit = {
    val parsed = ArgParser.parse(args, flags).fold(e => sys.error(e), identity)
    val query = parsed.getOrElse("query", sys.error("--query is required"))
    val conn = connectionOf(parsed)
    run(GraftSession.get("graft-execute-sql"), query, conn, parsed.get("schema"))
    println("Your query has been successfully executed.")
  }

  /** When `sql` is EXPLAIN [EXTENDED] over a statement this engine only
    * EMULATES (no Spark plan exists), returns that statement's leading
    * keyword; None for everything Spark can plan natively. */
  private def explainedEmulated(toks: Vector[Tok]): Option[String] = {
    val emulated = Set("update", "delete", "merge", "copy", "unload",
      "vacuum", "refresh")
    var i = nextCode(toks, 0)
    if (i >= toks.length || !toks(i).isWord("explain")) return None
    i = nextCode(toks, i + 1)
    if (i < toks.length && toks(i).isWord("extended")) i = nextCode(toks, i + 1)
    if (i < toks.length && toks(i).kind == Word &&
        emulated.contains(toks(i).text.toLowerCase))
      Some(toks(i).text.toUpperCase)
    else None
  }

  /** Tri-source connection resolution shared by all three CLIs — returns
    * None when no source is given (local session-catalog mode). A partial
    * set of connection flags raises the resolve message instead of
    * silently running against the local catalog. `--url-parameters`
    * become the connection's JDBC properties. */
  private[cli] def connectionOf(p: Map[String, String]): Option[ConnectionConfig] = {
    val params = p.get("url-parameters").fold(Seq.empty[(String, String)])(
      ConnectionConfig.parseUrlParameters)
    ConnectionConfig.resolve(
      p.get("db-connection-url"), p.get("host"), p.get("port").map(portOf),
      p.get("database"), p.get("username"), p.get("password")) match {
      case Right(c) => Some(c.copy(urlParameters = params))
      case Left(msg) if connectionFlags.exists(p.contains) =>
        throw new IllegalArgumentException(msg)
      case Left(_) => None
    }
  }

  private def portOf(s: String): Int = s.toIntOption.getOrElse(
    throw new IllegalArgumentException(s"invalid --port '$s' (expected an integer)"))

  private val connectionFlags = Seq("db-connection-url", "host", "port",
    "database", "username", "password", "url-parameters")

  /** Runs `query` with `schema` (`--schema`) as its default schema: the
    * JDBC connection's schema, or locally the current namespace for the
    * run, restored afterwards. */
  def run(spark: SparkSession, query: String, conn: Option[ConnectionConfig],
          schema: Option[String] = None): Unit =
    conn match {
      case Some(c) =>
        val jc = c.connect()
        try {
          schema.foreach(jc.setSchema)
          val st = jc.createStatement(); try st.execute(query) finally st.close()
        } finally jc.close()
      case None =>
        // Redshift ETL scripts arrive as multi-statement strings
        // (`BEGIN; …; COMMIT;`) — split at depth-0 semicolons OUTSIDE
        // string literals / comments (the tokenizer guarantees that) and
        // run each statement through the full local pipeline in order.
        val toks = tokenize(query)
        val semis = topLevel(toks, 0).filter(i => isSym(toks(i), ";")).toVector
        val cuts = (-1 +: semis) :+ toks.length
        val stmts = cuts.sliding(2).map { case Seq(a, b) => render(toks.slice(a + 1, b)).trim }
        val previous = spark.catalog.currentDatabase
        schema.foreach { s =>
          require(spark.catalog.databaseExists(s), s"--schema $s: no such schema in the catalog")
          spark.catalog.setCurrentDatabase(s)
        }
        // Redshift TEMP tables are session-scoped: one CLI invocation is
        // one session, so tables created TEMP here are visible to every
        // later statement of this script and dropped when the run ends
        // (success or failure) — the next invocation never sees them.
        fetchLog.clear() // fresh per run; readable by specs afterwards
        try stmts.filter(_.nonEmpty).foreach(runOne(spark, _))
        finally {
          tempTables.forEach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
          tempTables.clear()
          preparedStmts.clear()
          cursors.forEach((_, c) => graft.ops.LineageUtil.freeLocalCheckpoint(c.df))
          cursors.clear()
          schema.foreach(_ => spark.catalog.setCurrentDatabase(previous))
        }
    }

  /** Tables created via CREATE TEMP TABLE in the current run. */
  private val tempTables = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  /** PREPARE name → raw (un-rewritten) statement text with $n params. */
  private val preparedStmts = new java.util.concurrent.ConcurrentHashMap[String, String]()
  /** DECLAREd cursors: materialized result + the fetch position. */
  private final class CursorState(val df: org.apache.spark.sql.DataFrame,
                                  val total: Long) { var pos: Long = 0L }
  private val cursors = new java.util.concurrent.ConcurrentHashMap[String, CursorState]()
  /** Per-FETCH observability for specs (the CLI discards result rows, as
    * the reference does): (cursor, rows actually fetched). Run-scoped. */
  private[graft] val fetchLog =
    scala.collection.mutable.ArrayBuffer.empty[(String, Long)]

  /** DECLARE … CURSOR FOR <query> / FETCH [FORWARD] n|NEXT|ALL FROM name /
    * CLOSE name|ALL — the cursor protocol every psql-style client and BI
    * paginator emits through the pass-through (the reference forwards it
    * verbatim to the server; locally it is emulated run-scoped, like
    * PREPARE/EXECUTE). Returns true when handled.
    *
    * Semantics follow Redshift's: DECLARE materializes the full result
    * set (Redshift buffers it on the leader node; here a localCheckpoint
    * pins the rows so every FETCH pages the SAME deterministic snapshot —
    * re-running the query per FETCH could tear under concurrent DML).
    * FETCH advances a position and returns min(n, remaining) rows — zero
    * at end, never an error; CLOSE releases the snapshot eagerly. FETCH
    * or CLOSE on an unknown cursor raises, exactly like the server. */
  private def runCursor(spark: SparkSession, toks: Vector[Tok]): Boolean = {
    val f = nextCode(toks, 0)
    if (f >= toks.length || toks(f).kind != Word) return false
    def cursorOf(name: String): CursorState =
      Option(cursors.get(name.toLowerCase)).getOrElse(throw new IllegalArgumentException(
        s"""cursor "$name" does not exist"""))
    toks(f).text.toLowerCase match {
      case "declare" =>
        val (name, afterName) = qualifiedName(toks, nextCode(toks, f + 1))
        // optional modifiers up to CURSOR — loop over the known PG modifier
        // word set (ADVICE r13: the full BINARY INSENSITIVE NO SCROLL form
        // is 4 tokens, which a fixed hop cap rejected); a non-modifier word
        // here means this is not a cursor DECLARE → fall through
        val mods = Set("binary", "insensitive", "asensitive", "scroll", "no")
        var i = nextCode(toks, afterName)
        while (i < toks.length && toks(i).kind == Word &&
               mods.contains(toks(i).text.toLowerCase)) {
          i = nextCode(toks, i + 1)
        }
        if (i >= toks.length || !toks(i).isWord("cursor")) return false
        i = nextCode(toks, i + 1)
        if (i < toks.length && (toks(i).isWord("with") || toks(i).isWord("without"))) {
          i = nextCode(toks, i + 1) // HOLD
          i = nextCode(toks, i + 1)
        }
        require(i < toks.length && toks(i).isWord("for"),
          s"DECLARE $name: expected CURSOR FOR <query>")
        require(!cursors.containsKey(name.toLowerCase),
          s"""cursor "$name" already exists""")
        val q = render(toks.slice(i + 1, toks.length)).trim
        require(q.nonEmpty, s"DECLARE $name: empty cursor query")
        val df = RedshiftSql.plan(spark, q).localCheckpoint()
        cursors.put(name.toLowerCase, new CursorState(df, df.count()))
        true
      case "fetch" =>
        var i = nextCode(toks, f + 1)
        if (i < toks.length && toks(i).isWord("forward")) i = nextCode(toks, i + 1)
        var count: Option[Long] = Some(1L) // bare FETCH FROM c = NEXT
        if (i < toks.length) {
          if (toks(i).isWord("next")) { count = Some(1L); i = nextCode(toks, i + 1) }
          else if (toks(i).isWord("all")) { count = None; i = nextCode(toks, i + 1) }
          else if (toks(i).kind == Num) {
            // whole non-negative counts only (ADVICE r13: `FETCH 1.5` must
            // raise cleanly, not NumberFormatException); counts past Long
            // clamp to "all remaining", like the server treats ALL
            val t = toks(i).text
            require(t.forall(_.isDigit),
              s"FETCH: row count must be a non-negative integer, got $t")
            count = Some(if (t.length > 18) Long.MaxValue else t.toLong)
            i = nextCode(toks, i + 1)
          }
        }
        if (i < toks.length && (toks(i).isWord("from") || toks(i).isWord("in")))
          i = nextCode(toks, i + 1)
        val (name, _) = qualifiedName(toks, i)
        require(name.nonEmpty, "FETCH: expected a cursor name")
        val c = cursorOf(name)
        val remaining = math.max(0L, c.total - c.pos)
        val n = math.min(count.getOrElse(remaining), remaining)
        // page the pinned snapshot; rows are discarded like every other
        // pass-through SELECT (the reference CLI does the same)
        require(c.pos + n <= Int.MaxValue,
          s"FETCH: cursor $name position ${c.pos + n} exceeds the " +
            "2^31-row local paging bound — page the query directly instead")
        if (n > 0)
          c.df.offset(c.pos.toInt).limit(n.toInt).foreach(_ => ())
        c.pos += n
        fetchLog += ((name.toLowerCase, n))
        true
      case "close" =>
        val i = nextCode(toks, f + 1)
        if (i < toks.length && toks(i).isWord("all")) {
          cursors.forEach((_, c) => graft.ops.LineageUtil.freeLocalCheckpoint(c.df))
          cursors.clear()
        } else {
          val (name, _) = qualifiedName(toks, i)
          val c = cursorOf(name)
          graft.ops.LineageUtil.freeLocalCheckpoint(c.df)
          cursors.remove(name.toLowerCase)
        }
        true
      case _ => false
    }
  }

  /** Strip [LOCAL] TEMP|TEMPORARY out of CREATE … TABLE; returns the
    * tokens and the temp table's name, or the tokens unchanged and None
    * when they are not a temp-table DDL. */
  private def stripTemp(toks: Vector[Tok]): (Vector[Tok], Option[String]) = {
    val temp = Set("temp", "temporary")
    createHeader(toks, "table", {
      case Seq(t) => temp(t)
      case Seq("local", t) => temp(t)
      case _ => false
    }).fold((toks, Option.empty[String])) { header =>
      val drops = header.modifiers.toSet
      (toks.zipWithIndex.collect { case (t, j) if !drops.contains(j) => t }, Some(header.name))
    }
  }

  /** `name` with every part quoted, in the current schema when it names
    * none — the end-of-run DROP then hits the table this run created even
    * after a later `SET search_path`. */
  private def pinned(spark: SparkSession, name: String): String = {
    val parts = spark.sessionState.sqlParser.parseMultipartIdentifier(name)
    val full = if (parts.length == 1) spark.catalog.currentDatabase +: parts else parts
    full.map(p => "`" + p.replace("`", "``") + "`").mkString(".")
  }

  /** PREPARE / EXECUTE / DEALLOCATE — Redshift's server-side prepared
    * statements, emulated session-side: PREPARE stores the raw text,
    * EXECUTE substitutes `$n` literals positionally and re-enters the
    * normal pipeline, DEALLOCATE forgets. Returns true when handled. */
  private def runPrepared(spark: SparkSession, toks: Vector[Tok]): Boolean = {
    val f = nextCode(toks, 0)
    if (f >= toks.length || toks(f).kind != Word) return false
    toks(f).text.toLowerCase match {
      case "prepare" =>
        var i = nextCode(toks, f + 1)
        val (name, after) = qualifiedName(toks, i)
        i = nextCode(toks, after)
        // optional parenthesized parameter-type list — parsed and ignored
        // (types are inferred from the substituted literals)
        if (i < toks.length && toks(i).kind == Sym && toks(i).text == "(")
          i = nextCode(toks, matchParen(toks, i) + 1)
        require(i < toks.length && toks(i).isWord("as"),
          s"PREPARE $name: expected AS <statement>")
        preparedStmts.put(name.toLowerCase, render(toks.slice(i + 1, toks.length)).trim)
        true
      case "execute" =>
        val (name, after) = qualifiedName(toks, nextCode(toks, f + 1))
        val body = Option(preparedStmts.get(name.toLowerCase)).getOrElse(
          throw new IllegalArgumentException(s"EXECUTE $name: no such prepared statement"))
        val i = nextCode(toks, after)
        val args: Seq[String] =
          if (i < toks.length && toks(i).kind == Sym && toks(i).text == "(") {
            val close = matchParen(toks, i)
            val cuts = topCommas(toks, i, close)
            val bounds = (i +: cuts.toVector) :+ close
            bounds.sliding(2).map { case Seq(a, b) =>
              render(toks.slice(a + 1, b)).trim
            }.toSeq
          } else Seq.empty
        // substitute at the token level — a `$` Sym immediately followed by
        // an integer Num — so a literal "$1" inside a string literal or
        // quoted identifier of the PREPAREd body is never corrupted (the
        // tokenizer exists precisely to avoid raw-text replacement)
        val bodyToks = tokenize(body)
        val out = Vector.newBuilder[Tok]
        var unbound: Option[String] = None
        var bi = 0
        while (bi < bodyToks.length) {
          val t = bodyToks(bi)
          if (t.kind == Sym && t.text == "$" && bi + 1 < bodyToks.length &&
              bodyToks(bi + 1).kind == Num &&
              bodyToks(bi + 1).text.forall(_.isDigit)) {
            val idx = bodyToks(bi + 1).text.toInt
            if (idx >= 1 && idx <= args.length)
              out ++= tokenize(s"(${args(idx - 1)})")
            else unbound = unbound.orElse(Some("$" + idx))
            bi += 2
          } else { out += t; bi += 1 }
        }
        require(unbound.isEmpty,
          s"EXECUTE $name: unbound parameter ${unbound.getOrElse("")} " +
            s"(got ${args.length} arguments)")
        runOne(spark, render(out.result()))
        true
      case "deallocate" =>
        var i = nextCode(toks, f + 1)
        if (i < toks.length && toks(i).isWord("prepare")) i = nextCode(toks, i + 1)
        if (i < toks.length && toks(i).isWord("all")) preparedStmts.clear()
        else preparedStmts.remove(qualifiedName(toks, i)._1.toLowerCase)
        true
      case _ => false
    }
  }

  /** One statement: tokenized once for the prepared/cursor dispatch, and
    * once more after the dialect rewrite for everything downstream. */
  private def runOne(spark: SparkSession, stmt: String): Unit = {
    val toks = tokenize(stmt)
    if (runPrepared(spark, toks) || runCursor(spark, toks)) return
    // rewrite first: SELECT … INTO [TEMP] t becomes CREATE [TEMP] TABLE t
    // AS …, so the TEMP strip/tracking below sees every temp-table form
    val (rtoks, temp) = stripTemp(tokenize(RedshiftSql.rewrite(stmt)))
    val rewritten = render(rtoks)
    // Only a table this statement creates is the run's to drop: when the
    // name is taken (or cannot be checked) the CREATE fails or, with IF NOT
    // EXISTS, does nothing, and the existing table must outlive the run.
    val created = temp.filterNot(t => Try(spark.catalog.tableExists(t)).getOrElse(true))
      .map(pinned(spark, _))
    // EXPLAIN over a locally-EMULATED statement (DML/COPY/MV/APPEND)
    // has no Spark plan to show — fail with the reason instead of the
    // opaque ParseException spark.sql would raise on e.g. UPDATE
    explainedEmulated(rtoks).foreach { stmt =>
      throw new IllegalArgumentException(
        s"EXPLAIN $stmt: the statement executes through local emulation " +
          "(LocalDml/LocalCopy/LocalMv) — there is no Spark plan to explain")
    }
    // introspection queries against the Redshift system catalog resolve
    // through generated views over the Spark catalog
    graft.sql.CatalogShims.ensure(spark, rewritten)
    // Local UPDATE/DELETE get copy-on-write emulation (Spark has no
    // row-level DML on plain parquet tables), COPY/UNLOAD map to the
    // blueprint CSV paths, and MATERIALIZED VIEW DDL materializes as a
    // refreshable table; everything else runs on spark.sql.
    // DDL/DML execute eagerly; SELECTs need an action to actually run
    // (the reference also discards SELECT results here).
    if (!LocalDml.run(spark, rtoks) && !LocalCopy.run(spark, rtoks) &&
        !LocalMv.run(spark, rtoks))
      spark.sql(rewritten).foreach(_ => ())
    created.foreach(tempTables.add)
  }
}
