package graft.sql

import org.apache.spark.sql.SparkSession

import SqlTokens._

/** Local CREATE / REFRESH / DROP MATERIALIZED VIEW emulation for the
  * `execute_sql` pass-through (SURVEY §2.2 DDL; the reference admits any
  * Redshift statement — `execute_sql.py:23,77` — and materialized views are
  * among the most common DDL reachable through it).
  *
  * Mapping: the view materializes as a regular session-catalog table whose
  * defining query is recorded in a table property (`graft.mv.query`, already
  * dialect-rewritten). REFRESH re-runs the stored query and swaps the new
  * contents in through [[LocalDml.swapDf]] — the same copy-on-write
  * mechanism as local DML, so a reader never sees partial data and the
  * bucket/sort layout survives the refresh. This is Redshift's *full
  * recompute* refresh; Redshift's incremental refresh is a cost optimization
  * with identical results, so full recompute is the honest local semantics.
  *
  * Grammar (tokenized):
  *   CREATE MATERIALIZED VIEW <name>
  *     [BACKUP YES|NO] [DISTSTYLE EVEN|KEY|ALL] [DISTKEY (col)]
  *     [SORTKEY (col, …)] [AUTO REFRESH NO] AS <query>
  *   REFRESH MATERIALIZED VIEW <name>
  *   DROP MATERIALIZED VIEW [IF EXISTS] <name>
  *
  * DISTKEY/SORTKEY map to the same CLUSTERED/SORTED BY 32-bucket layout as
  * CREATE TABLE DDL (RedshiftSql.rewriteTableAttrs' contract); BACKUP and
  * DISTSTYLE are cluster-placement hints with no local meaning and are
  * ignored. `AUTO REFRESH YES` RAISES: it promises freshness this engine
  * cannot deliver (there is no background refresher), and silently serving
  * stale data would be worse than failing loudly. Querying the view is just
  * querying the table — no rewrite needed.
  */
object LocalMv {

  private val QueryProp = "graft.mv.query"

  /** Runs the statement `toks` as a materialized-view statement; false
    * when it is none of CREATE/REFRESH/DROP MATERIALIZED VIEW (caller falls
    * through). */
  def run(spark: SparkSession, toks: Vector[Tok]): Boolean = {
    val first = nextCode(toks, 0)
    if (first >= toks.length) return false
    val t = toks(first)
    if (t.isWord("create") && isMatView(toks, first + 1)) {
      runCreate(spark, toks, first); true
    } else if (t.isWord("refresh") && isMatView(toks, first + 1)) {
      runRefresh(spark, toks, first); true
    } else if (t.isWord("drop") && isMatView(toks, first + 1)) {
      runDrop(spark, toks, first); true
    } else false
  }

  private def isMatView(toks: Vector[Tok], from: Int): Boolean = {
    val m = nextCode(toks, from)
    if (m >= toks.length || !toks(m).isWord("materialized")) return false
    val v = nextCode(toks, m + 1)
    v < toks.length && toks(v).isWord("view")
  }

  /** Index just past MATERIALIZED VIEW. */
  private def afterMatView(toks: Vector[Tok], from: Int): Int = {
    val m = nextCode(toks, from)
    nextCode(toks, m + 1) + 1
  }

  private def runCreate(spark: SparkSession, toks: Vector[Tok], at: Int): Unit = {
    val (name, afterName) = qualifiedName(toks, afterMatView(toks, at + 1))
    var distKey: Option[String] = None
    var sortKeys: Seq[String] = Seq.empty
    var i = nextCode(toks, afterName)
    var asAt = -1
    while (i < toks.length && asAt < 0) {
      val t = toks(i)
      require(t.kind == Word,
        s"CREATE MATERIALIZED VIEW: unexpected '${t.text}' before AS")
      t.text.toLowerCase match {
        case "as" => asAt = i
        case "backup" =>
          val v = nextCode(toks, i + 1)
          require(v < toks.length && (toks(v).isWord("yes") || toks(v).isWord("no")),
            "BACKUP needs YES or NO")
          i = v
        case "diststyle" =>
          val v = nextCode(toks, i + 1)
          require(v < toks.length && (toks(v).isWord("even") || toks(v).isWord("key") ||
            toks(v).isWord("all")), "DISTSTYLE needs EVEN, KEY or ALL")
          i = v
        case "distkey" =>
          val open = nextCode(toks, i + 1)
          val (cols, close) = nameList(toks, open)
          require(cols.length == 1, "DISTKEY takes exactly one column")
          distKey = Some(cols.head)
          i = close
        case "sortkey" =>
          val open = nextCode(toks, i + 1)
          val (cols, close) = nameList(toks, open)
          require(cols.nonEmpty, "SORTKEY needs at least one column")
          sortKeys = cols
          i = close
        case "auto" =>
          val r = nextCode(toks, i + 1)
          require(r < toks.length && toks(r).isWord("refresh"), "AUTO needs REFRESH")
          val v = nextCode(toks, r + 1)
          require(v < toks.length && (toks(v).isWord("yes") || toks(v).isWord("no")),
            "AUTO REFRESH needs YES or NO")
          require(toks(v).isWord("no"),
            "CREATE MATERIALIZED VIEW: AUTO REFRESH YES is not supported — " +
              "there is no background refresher; use REFRESH MATERIALIZED VIEW")
          i = v
        case w =>
          throw new IllegalArgumentException(
            s"CREATE MATERIALIZED VIEW: unknown option '$w' — refusing to guess")
      }
      if (asAt < 0) i = nextCode(toks, i + 1)
    }
    require(asAt >= 0, "CREATE MATERIALIZED VIEW needs AS <query>")
    val query = render(toks.slice(asAt + 1, toks.length)).trim
    require(query.nonEmpty, "CREATE MATERIALIZED VIEW needs a defining query")
    require(!spark.catalog.tableExists(name),
      s"CREATE MATERIALIZED VIEW: $name already exists")

    val df = spark.sql(query)
    var w = df.write
    // same physical mapping as DISTKEY/SORTKEY on CREATE TABLE DDL
    // (RedshiftSql.rewriteTableAttrs): 32 buckets on the distribution key —
    // or on the first sort key when only SORTKEY is given (a requested sort
    // layout must not silently drop) — sorted within buckets
    distKey.orElse(sortKeys.headOption).foreach { bk =>
      w = w.bucketBy(32, bk)
      if (sortKeys.nonEmpty) w = w.sortBy(sortKeys.head, sortKeys.tail: _*)
    }
    w.saveAsTable(name)
    setQueryProp(spark, name, query)
  }

  private def runRefresh(spark: SparkSession, toks: Vector[Tok], at: Int): Unit = {
    val (name, _) = qualifiedName(toks, afterMatView(toks, at + 1))
    val query = storedQuery(spark, name).getOrElse(throw new IllegalArgumentException(
      s"REFRESH MATERIALIZED VIEW: $name is not a materialized view"))
    // full recompute, swapped in copy-on-write (readers never see partial
    // data; bucket/sort layout is re-applied by swapDf)
    LocalDml.swapDf(spark, name, spark.sql(query))
    // the swap writes a fresh table — re-record the defining query
    setQueryProp(spark, name, query)
  }

  private def runDrop(spark: SparkSession, toks: Vector[Tok], at: Int): Unit = {
    var i = afterMatView(toks, at + 1)
    var ifExists = false
    val n = nextCode(toks, i)
    if (n < toks.length && toks(n).isWord("if")) {
      val e = nextCode(toks, n + 1)
      require(e < toks.length && toks(e).isWord("exists"), "IF needs EXISTS")
      ifExists = true
      i = e + 1
    }
    val (name, _) = qualifiedName(toks, i)
    if (!spark.catalog.tableExists(name)) {
      require(ifExists, s"DROP MATERIALIZED VIEW: $name does not exist")
      return
    }
    require(storedQuery(spark, name).isDefined,
      s"DROP MATERIALIZED VIEW: $name is a table, not a materialized view " +
        "(use DROP TABLE)")
    spark.sql(s"DROP TABLE $name")
  }

  /** Records the defining query through the CATALOG API, not an ALTER
    * TABLE … SET TBLPROPERTIES statement: a SQL string literal would be
    * parsed a second time (backslash escapes re-processed), so a defining
    * query containing `'\\d'` would be stored once-unescaped and REFRESH
    * would silently recompute with a different regex. The catalog call
    * stores the raw string byte-for-byte. */
  private def setQueryProp(spark: SparkSession, name: String, query: String): Unit = {
    val cat = spark.sessionState.catalog
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(name)
    val meta = cat.getTableMetadata(ident)
    cat.alterTable(meta.copy(properties = meta.properties + (QueryProp -> query)))
  }

  /** The recorded defining query, or None when `name` is not an MV. */
  private[sql] def storedQuery(spark: SparkSession, name: String): Option[String] = {
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(name)
    spark.sessionState.catalog.getTableMetadata(ident).properties.get(QueryProp)
  }
}
