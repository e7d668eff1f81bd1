package graft.sql

import SqlTokens._

/** Redshift Spectrum external-table DDL → Spark datasource-table DDL.
  *
  * Reachable through the pass-through like every other statement
  * (`/root/reference/amazonredshift_blueprints/blueprints/execute_sql.py:77`):
  * a Redshift user's lake tables are declared with
  * `CREATE EXTERNAL SCHEMA` + `CREATE EXTERNAL TABLE … STORED AS …
  * LOCATION 's3://…'` and partitions are attached with
  * `ALTER TABLE … ADD PARTITION`. Spark's own catalog covers all three
  * natively — an unmanaged (`LOCATION`-pinned) datasource table IS the
  * external table, with partition pruning and pushdown on top — so this
  * shim is pure DDL translation, no execution emulation:
  *
  *   CREATE EXTERNAL SCHEMA [IF NOT EXISTS] s FROM DATA CATALOG …
  *     → CREATE SCHEMA [IF NOT EXISTS] s     (catalog plumbing dropped —
  *       the session catalog is the only catalog here)
  *   CREATE EXTERNAL TABLE s.t (cols) [PARTITIONED BY (pcol type, …)]
  *     [ROW FORMAT DELIMITED [FIELDS TERMINATED BY 'd'] [LINES TERMINATED BY '\n']]
  *     STORED AS PARQUET|TEXTFILE|ORC|JSON LOCATION 'p'
  *     [TABLE PROPERTIES ('k'='v', …)]
  *     → CREATE TABLE s.t (cols + pcols) USING parquet|csv|orc|json
  *       [OPTIONS (sep 'd' [, header 'true'])] [PARTITIONED BY (pcols)]
  *       LOCATION 'p' [TBLPROPERTIES (…)]
  *       — Spectrum declares partition columns OUTSIDE the column list,
  *       Spark inside it: the rewrite appends the defs and references
  *       them by name; 'skip.header.line.count'='1' maps to the CSV
  *       reader's header option; remaining properties ride along as
  *       TBLPROPERTIES metadata; Redshift type spellings Spark rejects
  *       (DOUBLE PRECISION, INT8, FLOAT4, TEXT, TIMESTAMPTZ, …) are
  *       normalized to the Spark DDL type of the same width.
  *   ALTER TABLE … ADD/DROP PARTITION — already Spark syntax, untouched.
  *
  * Unsupported forms raise loudly instead of mis-reading data:
  * ROW FORMAT SERDE, STORED AS INPUTFORMAT/AVRO/RCFILE/SEQUENCEFILE/ION
  * (no matching local datasource), LINES TERMINATED BY anything but '\n',
  * skip.header.line.count > 1.
  */
object SpectrumDdl {

  /** Spark-side rendering of a possibly-qualified, possibly-quoted name
    * starting at `from`: double-quoted parts become backticked. Returns
    * (rendered, index after the name). */
  private def sparkName(toks: Vector[Tok], from: Int): (String, Int) = {
    var i = nextCode(toks, from)
    val sb = new StringBuilder
    var done = false
    while (i < toks.length && !done) {
      toks(i).kind match {
        case Word | Num => sb.append(toks(i).text); i += 1
        case QIdent =>
          sb.append('`')
            .append(toks(i).text.stripPrefix("\"").stripSuffix("\"").replace("\"\"", "\""))
            .append('`')
          i += 1
        case _ => done = true
      }
      if (!done) {
        if (i < toks.length && toks(i).kind == Sym && toks(i).text == ".") {
          sb.append('.'); i += 1
        } else done = true
      }
    }
    require(sb.nonEmpty, "expected a name")
    (sb.toString, i)
  }

  /** The header of `CREATE EXTERNAL <kind> [IF NOT EXISTS] <name>`, the
    * name in its Spark rendering; None when the statement is something
    * else. */
  private def createExternal(toks: Vector[Tok], kind: String): Option[CreateHeader] =
    createHeader(toks, kind, _ == Seq("external"), sparkName)

  private def ifNotExistsClause(h: CreateHeader): String =
    if (h.ifNotExists) "IF NOT EXISTS " else ""

  def rewriteExternalSchema(toks: Vector[Tok]): Vector[Tok] =
    // FROM DATA CATALOG / HIVE METASTORE / … — remote-catalog plumbing with
    // no local counterpart; the schema itself is what queries resolve on
    createExternal(toks, "schema").fold(toks)(h =>
      tokenize(s"CREATE SCHEMA ${ifNotExistsClause(h)}${h.name}"))

  private val formatMap = Map(
    "parquet" -> "PARQUET", "textfile" -> "CSV", "orc" -> "ORC", "json" -> "JSON")

  /** Redshift type spellings Spark's DDL parser rejects (or reads with the
    * wrong width). FLOAT maps to DOUBLE because Redshift FLOAT *is* float8
    * — the statement is Redshift dialect, so Redshift widths win. Bare
    * TIMESTAMP stays untouched (both dialects accept it). */
  private val typeAliases = Map(
    "int2" -> "SMALLINT", "int4" -> "INT", "int8" -> "BIGINT",
    "float4" -> "FLOAT", "float8" -> "DOUBLE", "float" -> "DOUBLE",
    "real" -> "FLOAT", "text" -> "STRING", "varbyte" -> "BINARY",
    "timestamptz" -> "TIMESTAMP_LTZ", "super" -> "VARIANT")

  /** Normalizes ONE column definition's type tokens; the leading name
    * token is never touched (a column named `int8` stays a name).
    * Package-visible: ALTER TABLE ADD COLUMN reuses it ([[RedshiftSql]]). */
  private[sql] def normalizeDef(defToks: Vector[Tok]): String = {
    val first = nextCode(defToks, 0)
    val out = Vector.newBuilder[Tok]
    var i = 0
    while (i < defToks.length) {
      val t = defToks(i)
      if (i <= first) { out += t; i += 1 }
      else if (t.isWord("double")) {
        val n = nextCode(defToks, i + 1)
        if (n < defToks.length && defToks(n).isWord("precision")) {
          out += Tok(Word, "DOUBLE"); i = n + 1
        } else { out += t; i += 1 }
      } else if (t.isWord("bpchar")) {
        val n = nextCode(defToks, i + 1)
        val bare = n >= defToks.length || defToks(n).text != "("
        out += Tok(Word, if (bare) "CHAR(256)" else "CHAR"); i += 1
      } else if (t.kind == Word && typeAliases.contains(t.text.toLowerCase)) {
        out += Tok(Word, typeAliases(t.text.toLowerCase)); i += 1
      } else { out += t; i += 1 }
    }
    render(out.result()).trim
  }

  /** Splits a parenthesized definition list at `open` into per-definition
    * normalized texts; returns (defs, index of the closing paren). */
  private def normalizedDefs(toks: Vector[Tok], open: Int): (Vector[String], Int) = {
    val close = matchParen(toks, open)
    val bounds = open +: topCommas(toks, open, close) :+ close
    val defs = bounds.sliding(2).map { case Seq(a, b) =>
      normalizeDef(toks.slice(a + 1, b))
    }.toVector
    (defs, close)
  }

  def rewriteExternalTable(toks: Vector[Tok]): Vector[Tok] = {
    val head = createExternal(toks, "table") match {
      case Some(h) => h
      case None => return toks
    }
    val (name, afterName) = (head.name, head.afterName)
    val open = nextCode(toks, afterName)
    require(open < toks.length && toks(open).kind == Sym && toks(open).text == "(",
      s"CREATE EXTERNAL TABLE $name: expected a column list")
    val (colDefs, close) = normalizedDefs(toks, open)
    val colList = colDefs.mkString(", ")

    var partDefs = Vector.empty[String]   // full "name TYPE" definitions
    var partNames = Vector.empty[String]
    var sep: Option[String] = None        // literal token text incl. quotes
    var fmt: Option[String] = None
    var location: Option[String] = None   // literal token text incl. quotes
    var header = false
    var props = Vector.empty[String]      // rendered 'k'='v' pairs

    def lit(i: Int, what: String): Int = {
      val s = nextCode(toks, i)
      require(s < toks.length && toks(s).kind == Str,
        s"CREATE EXTERNAL TABLE $name: $what needs a string literal")
      s
    }
    def word(i: Int, w: String): Int = {
      val n = nextCode(toks, i)
      require(n < toks.length && toks(n).isWord(w),
        s"CREATE EXTERNAL TABLE $name: expected ${w.toUpperCase}")
      n
    }

    var i = nextCode(toks, close + 1)
    var stop = false
    while (i < toks.length && !stop) {
      val t = toks(i)
      if (t.kind == Sym && t.text == ";") stop = true
      else if (t.isWord("partitioned")) {
        val by = word(i + 1, "by")
        val p = nextCode(toks, by + 1)
        require(p < toks.length && toks(p).text == "(",
          s"CREATE EXTERNAL TABLE $name: PARTITIONED BY needs (col type, …)")
        val pc = matchParen(toks, p)
        val bounds = p +: topCommas(toks, p, pc) :+ pc
        bounds.sliding(2).foreach { case Seq(a, b) =>
          val defToks = toks.slice(a + 1, b)
          val defText = normalizeDef(defToks)
          require(defText.nonEmpty,
            s"CREATE EXTERNAL TABLE $name: empty partition column definition")
          val (pname, _) = sparkName(defToks.toVector, 0)
          partDefs :+= defText
          partNames :+= pname
        }
        i = nextCode(toks, pc + 1)
      } else if (t.isWord("row")) {
        val f = word(i + 1, "format")
        val kind = nextCode(toks, f + 1)
        require(kind >= toks.length || !toks(kind).isWord("serde"),
          s"CREATE EXTERNAL TABLE $name: ROW FORMAT SERDE has no local datasource mapping")
        require(kind < toks.length && toks(kind).isWord("delimited"),
          s"CREATE EXTERNAL TABLE $name: expected ROW FORMAT DELIMITED")
        i = nextCode(toks, kind + 1)
        var more = true
        while (more && i < toks.length) {
          if (toks(i).isWord("fields")) {
            val term = word(i + 1, "terminated")
            val by = word(term + 1, "by")
            val s = lit(by + 1, "FIELDS TERMINATED BY")
            sep = Some(toks(s).text)
            i = nextCode(toks, s + 1)
          } else if (toks(i).isWord("lines")) {
            val term = word(i + 1, "terminated")
            val by = word(term + 1, "by")
            val s = lit(by + 1, "LINES TERMINATED BY")
            val v = toks(s).text.stripPrefix("'").stripSuffix("'")
            require(v == "\\n" || v == "\n",
              s"CREATE EXTERNAL TABLE $name: only LINES TERMINATED BY '\\n' is supported")
            i = nextCode(toks, s + 1)
          } else more = false
        }
      } else if (t.isWord("stored")) {
        val as = word(i + 1, "as")
        val f = nextCode(toks, as + 1)
        require(f < toks.length && toks(f).kind == Word,
          s"CREATE EXTERNAL TABLE $name: STORED AS needs a format keyword")
        val key = toks(f).text.toLowerCase
        require(!(key == "inputformat"),
          s"CREATE EXTERNAL TABLE $name: STORED AS INPUTFORMAT/OUTPUTFORMAT is not supported")
        fmt = Some(formatMap.getOrElse(key, throw new IllegalArgumentException(
          s"CREATE EXTERNAL TABLE $name: STORED AS ${key.toUpperCase} has no " +
            s"local datasource (supported: ${formatMap.keys.map(_.toUpperCase).mkString(", ")})")))
        i = nextCode(toks, f + 1)
      } else if (t.isWord("location")) {
        val s = lit(i + 1, "LOCATION")
        location = Some(toks(s).text)
        i = nextCode(toks, s + 1)
      } else if (t.isWord("table")) {
        val pr = word(i + 1, "properties")
        val p = nextCode(toks, pr + 1)
        require(p < toks.length && toks(p).text == "(",
          s"CREATE EXTERNAL TABLE $name: TABLE PROPERTIES needs ('k'='v', …)")
        val pc = matchParen(toks, p)
        val bounds = p +: topCommas(toks, p, pc) :+ pc
        bounds.sliding(2).foreach { case Seq(a, b) =>
          val pair = toks.slice(a + 1, b)
          val k = nextCode(pair, 0)
          require(k < pair.length && pair(k).kind == Str,
            s"CREATE EXTERNAL TABLE $name: TABLE PROPERTIES keys must be string literals")
          val keyText = pair(k).text.stripPrefix("'").stripSuffix("'")
          if (keyText.equalsIgnoreCase("skip.header.line.count")) {
            val eq = nextCode(pair, k + 1)
            val v = if (eq < pair.length) nextCode(pair, eq + 1) else pair.length
            val value = if (v < pair.length)
              pair(v).text.stripPrefix("'").stripSuffix("'") else ""
            require(value == "1",
              s"CREATE EXTERNAL TABLE $name: skip.header.line.count must be 1 " +
                "(the CSV reader skips exactly one header line)")
            header = true
          } else props :+= render(pair).trim
        }
        i = nextCode(toks, pc + 1)
      } else throw new IllegalArgumentException(
        s"CREATE EXTERNAL TABLE $name: unsupported clause starting at '${t.text}'")
    }

    val format = fmt.getOrElse(throw new IllegalArgumentException(
      s"CREATE EXTERNAL TABLE $name: STORED AS is required"))
    val loc = location.getOrElse(throw new IllegalArgumentException(
      s"CREATE EXTERNAL TABLE $name: LOCATION is required"))
    require(sep.isEmpty || format == "CSV",
      s"CREATE EXTERNAL TABLE $name: ROW FORMAT DELIMITED requires STORED AS TEXTFILE")

    val options = if (format == "CSV") {
      // Redshift/Hive delimited-text default separator is ctrl-A (\001)
      val sepLit = sep.getOrElse("'\u0001'")
      val headerOpt = if (header) ", header 'true'" else ""
      s" OPTIONS (sep $sepLit$headerOpt)"
    } else {
      require(!header,
        s"CREATE EXTERNAL TABLE $name: skip.header.line.count only applies to TEXTFILE")
      ""
    }
    val allCols =
      if (partDefs.isEmpty) colList else s"$colList, ${partDefs.mkString(", ")}"
    val partitioned =
      if (partNames.isEmpty) "" else s" PARTITIONED BY (${partNames.mkString(", ")})"
    val tblProps =
      if (props.isEmpty) "" else s" TBLPROPERTIES (${props.mkString(", ")})"
    tokenize(
      s"CREATE TABLE ${ifNotExistsClause(head)}$name ($allCols) " +
        s"USING $format$options$partitioned " +
        s"LOCATION $loc$tblProps")
  }
}
