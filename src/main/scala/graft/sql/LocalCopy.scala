package graft.sql

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, count, expr, lit}
import org.apache.spark.sql.types.StructType

import SqlTokens._

/** Local COPY / UNLOAD emulation for the `execute_sql` pass-through
  * (SURVEY §2.2 "CTEs, DDL, DML" — `COPY … FROM` / `UNLOAD` map to the
  * blueprint A1/A8 semantics; the reference's own COPY substitute IS the
  * upload blueprint, `upload_file.py:118-155`, and UNLOAD's is the store
  * blueprint, `store_query_results.py:98-118`). A Redshift user's two most
  * common non-query statements thus execute locally instead of failing at
  * the Spark parser; with a remote connection the statements still pass
  * through verbatim over JDBC (ExecuteSql's remote branch).
  *
  * Grammar handled (tokenized; the full option scan is STRICT — every word
  * is either implemented, on the documented transport/perf skip list below,
  * or raises; silently skipping an unknown word risks treating a
  * semantics-bearing option as noise):
  *   COPY <table> [(cols)] FROM '<path>'
  *        [[FORMAT] [AS] CSV | PARQUET | ORC | JSON ['auto'|'auto ignorecase']]
  *        [DELIMITER [AS] '<d>'] [IGNOREHEADER [AS] n] [NULL [AS] '<s>']
  *        [DATEFORMAT [AS] '<fmt>'] [TIMEFORMAT [AS] '<fmt>'] [MANIFEST]
  *        [GZIP | BZIP2]
  *   UNLOAD ('<query>') TO '<path>'
  *        [[FORMAT] [AS] CSV | PARQUET | JSON]
  *        [DELIMITER [AS] '<d>'] [HEADER] [ADDQUOTES] [NULL [AS] '<s>']
  *        [GZIP | BZIP2] [PARALLEL ON|OFF] [PARTITION BY (cols)]
  *        [ALLOWOVERWRITE | CLEANPATH] [MANIFEST [VERBOSE]]
  *
  * Semantics follow Redshift where they matter:
  *  - COPY appends into an EXISTING table and takes its types from the
  *    target schema (no inference drift between loads);
  *  - the default delimiter is '|' (Redshift's text format), ',' under CSV;
  *  - a COPY column list loads those columns (matched case-insensitively —
  *    Redshift identifiers fold case) and fills the rest with NULL;
  *  - COPY from Parquet maps columns BY POSITION onto the target columns
  *    (Redshift's columnar-format rule); JSON 'auto' matches fields by
  *    name, 'auto ignorecase' case-insensitively;
  *  - UNLOAD raises if the destination already holds files unless
  *    ALLOWOVERWRITE (or CLEANPATH) is given — Redshift's default;
  *  - UNLOAD defaults to a parallel directory of part files (the 100 TB
  *    path); PARALLEL OFF produces the single-file contract, every format
  *    through [[graft.io.CsvIO.writeSingleFile]] with the same write
  *    options (ADDQUOTES, NULL AS, compression) as the parallel path;
  *  - MANIFEST writes a `<path>manifest` JSON listing every data file
  *    (VERBOSE adds content_length metadata), Redshift's layout;
  *  - COPY … MANIFEST treats the FROM path as such a manifest and loads
  *    exactly the listed files: a missing file raises when its entry is
  *    `"mandatory": true`, and is skipped otherwise (Redshift's rule) —
  *    the UNLOAD MANIFEST → COPY MANIFEST round-trip is gated in
  *    DialectSpec.
  *
  * Transport/credential options (IAM_ROLE, CREDENTIALS, REGION, …) are
  * skipped with their values — Spark's Hadoop FS layer owns transport; on a
  * real cluster an `s3a://` path reads exactly like the local paths used in
  * tests. Codec words (GZIP/BZIP2/ZSTD) are validated, not skipped: Hadoop
  * decompresses by file extension, so the COPY scan verifies every data
  * file carries the matching suffix (and both statements reject codecs on
  * columnar formats, whose compression is internal). ZSTD rides
  * aircompressor's pure-Java Hadoop codec (on Spark's classpath for
  * ORC/Parquet; registered into `io.compression.codecs` for the COPY read
  * side); LZOP raises loudly — the one Redshift codec with no usable
  * counterpart here. Perf
  * hints (MAXFILESIZE, ROWGROUPSIZE, COMPROWS,
  * MAXERROR, STATUPDATE, COMPUPDATE) parse and are ignored — Spark decides
  * file sizing and statistics. Everything else raises.
  */
object LocalCopy {

  /** Runs the statement `toks` as emulated local COPY/UNLOAD; false when
    * it is neither (caller falls back to `spark.sql`). */
  def run(spark: SparkSession, toks: Vector[Tok]): Boolean = {
    val first = nextCode(toks, 0)
    if (first >= toks.length) return false
    if (toks(first).isWord("copy")) { runCopy(spark, toks, first); true }
    else if (toks(first).isWord("unload")) { runUnload(spark, toks, first); true }
    else false
  }

  private def unquote(s: String): String =
    s.stripPrefix("'").stripSuffix("'").replace("''", "'")

  /** Formats whose data has no Spark-native reader/writer mapping here —
    * silently skipping the word would misparse the data as delimited text. */
  /** aircompressor's pure-Java Hadoop zstd codec (writes/reads `.zst`). */
  private val ZstdCodecClass = "io.airlift.compress.zstd.ZstdCodec"

  /** Hadoop's CompressionCodecFactory resolves a file's codec from
    * `io.compression.codecs` (falling back to its built-in set when the
    * key is unset). The airlift codec isn't service-registered, so COPY of
    * a `.zst` file needs it added — together with the stock codecs the
    * fallback would otherwise have provided (gzip/bzip2 COPYs keep
    * working). Idempotent; called when a ZSTD read is requested. */
  private def registerZstdCodec(spark: SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration.set("io.compression.codecs",
      "org.apache.hadoop.io.compress.DefaultCodec," +
        "org.apache.hadoop.io.compress.GzipCodec," +
        "org.apache.hadoop.io.compress.BZip2Codec," + ZstdCodecClass)

  private val rejectedFormats = Set("avro", "fixedwidth", "shapefile")

  /** Auth/transport words carrying a quoted (or `default`) value: skipped
    * together with the value — the Hadoop FS layer owns transport. */
  private val transportOpts = Set(
    "iam_role", "credentials", "access_key_id", "secret_access_key",
    "session_token", "kms_key_id", "master_symmetric_key", "region")

  /** Consume an option value: optional AS, then a quoted string.
    * Returns (value, index of last consumed token). */
  private def strVal(toks: Vector[Tok], at: Int, what: String): (String, Int) = {
    var k = nextCode(toks, at + 1)
    if (k < toks.length && toks(k).isWord("as")) k = nextCode(toks, k + 1)
    require(k < toks.length && toks(k).kind == Str, s"$what needs a quoted value")
    (unquote(toks(k).text), k)
  }

  /** Consume a numeric option value (optional AS). */
  private def numVal(toks: Vector[Tok], at: Int, what: String): (Long, Int) = {
    var k = nextCode(toks, at + 1)
    if (k < toks.length && toks(k).isWord("as")) k = nextCode(toks, k + 1)
    require(k < toks.length && toks(k).kind == Num, s"$what needs a number")
    (toks(k).text.toLong, k)
  }

  /** Skip a transport option's value: a quoted literal or the bare word
    * `default` (IAM_ROLE default). Returns the last consumed index. */
  private def skipTransportVal(toks: Vector[Tok], at: Int): Int = {
    val k = nextCode(toks, at + 1)
    if (k < toks.length && (toks(k).kind == Str || toks(k).isWord("default"))) k
    else at
  }

  /** Mutable option state shared by the COPY and UNLOAD scans. */
  private final class Opts {
    var format: String = "text" // text | csv | parquet | json
    var jsonSpec: String = "auto"
    var delim: Option[String] = None
    var nullAs: Option[String] = None
    var dateFmt: Option[String] = None
    var timeFmt: Option[String] = None
    var compression: Option[String] = None
    /** Delimited-text-only options seen during the scan, validated AFTER it
      * (the format word may come before or after the option). */
    var delimitedOpts: List[String] = Nil
    def delimitedOnly(opt: String): Unit = delimitedOpts ::= opt
    def validate(stmt: String): Unit =
      if (format == "parquet" || format == "json" || format == "orc")
        require(delimitedOpts.isEmpty,
          s"$stmt: ${delimitedOpts.mkString(", ")} only applies to " +
            s"CSV/delimited text, not ${format.toUpperCase}")
    def sep: String = delim.getOrElse(if (format == "csv") "," else "|")
  }

  /** Option words common to COPY and UNLOAD. Returns the new scan index, or
    * -1 when the word is not a shared option (caller handles or raises). */
  private def scanShared(toks: Vector[Tok], j: Int, o: Opts, stmt: String): Int = {
    val t = toks(j)
    if (t.kind != Word) return j // symbols/strings between options: ignore
    val w = t.text.toLowerCase
    w match {
      case "format" | "as" => j
      case "csv" => o.format = "csv"; j
      case "parquet" => o.format = "parquet"; j
      // COPY-only columnar source (Redshift UNLOAD has no ORC target;
      // runUnload rejects it after the shared scan)
      case "orc" => o.format = "orc"; j
      case "json" =>
        o.format = "json"
        // optional spec literal ('auto' | 'auto ignorecase' | jsonpaths)
        val k = nextCode(toks, j + 1)
        if (k < toks.length && toks(k).kind == Str) {
          o.jsonSpec = unquote(toks(k).text).toLowerCase.trim
          require(o.jsonSpec == "auto" || o.jsonSpec == "auto ignorecase",
            s"$stmt: JSON '${o.jsonSpec}' is not supported ('auto' and 'auto ignorecase' only)")
          k
        } else j
      case "delimiter" =>
        o.delimitedOnly("DELIMITER")
        val (v, k) = strVal(toks, j, "DELIMITER"); o.delim = Some(v); k
      case "null" =>
        o.delimitedOnly("NULL AS")
        val (v, k) = strVal(toks, j, "NULL"); o.nullAs = Some(v); k
      case "dateformat" =>
        val (v, k) = strVal(toks, j, "DATEFORMAT")
        if (!v.equalsIgnoreCase("auto")) o.dateFmt = Some(RedshiftSql.translateFormat(v))
        k
      case "timeformat" =>
        val (v, k) = strVal(toks, j, "TIMEFORMAT")
        require(!v.toLowerCase.startsWith("epoch"),
          s"$stmt: TIMEFORMAT '$v' is not supported")
        if (!v.equalsIgnoreCase("auto")) o.timeFmt = Some(RedshiftSql.translateFormat(v))
        k
      case "encrypted" =>
        val k = nextCode(toks, j + 1)
        if (k < toks.length && toks(k).isWord("auto")) k else j
      case "gzip" => o.compression = Some("gzip"); j
      case "bzip2" => o.compression = Some("bzip2"); j
      case "zstd" =>
        // Hadoop's own ZStandardCodec needs the native library, but
        // aircompressor (on Spark's classpath for ORC/Parquet) ships a
        // pure-Java Hadoop CompressionCodec — pass its class name where
        // Spark's short-name table has no zstd entry
        // (CompressionCodecs.getCodecClassName resolves either form)
        o.compression = Some(ZstdCodecClass); j
      case "lzop" | "lzo" =>
        // the one Redshift codec with no Hadoop-native counterpart —
        // skipping the word would load compressed bytes as text
        throw new IllegalArgumentException(
          s"$stmt: LZOP has no Hadoop-native codec (use GZIP, BZIP2, or ZSTD)")
      case f if rejectedFormats.contains(f) =>
        throw new IllegalArgumentException(
          s"$stmt: format '${t.text}' is not supported (CSV/delimited text, PARQUET, ORC, JSON)")
      case tr if transportOpts.contains(tr) => skipTransportVal(toks, j)
      case _ => -1
    }
  }

  // ---------------------------------------------------------------- COPY

  /** COPY flag words that are data-compatible no-ops under Spark's
    * permissive CSV reader (null-fill on parse failure ≈ their behavior)
    * or that only tune Redshift-side stats — parsed and ignored. */
  private val copyFlagSkips = Set(
    "emptyasnull", "blanksasnull", "trimblanks", "truncatecolumns",
    "roundec", "explicit_ids", "acceptanydate", "ignoreblanklines",
    "fillrecord", "removequotes")

  private def runCopy(spark: SparkSession, toks: Vector[Tok], at: Int): Unit = {
    val (table, afterTable) = qualifiedName(toks, at + 1)
    var i = nextCode(toks, afterTable)
    // optional (col, col, ...) list
    val cols: Seq[String] =
      if (i < toks.length && toks(i).kind == Sym && toks(i).text == "(") {
        val (names, close) = nameList(toks, i)
        i = nextCode(toks, close + 1)
        names
      } else Seq.empty
    require(i < toks.length && toks(i).isWord("from"), "COPY needs FROM '<path>'")
    i = nextCode(toks, i + 1)
    require(i < toks.length && toks(i).kind == Str, "COPY FROM needs a quoted path")
    val path = unquote(toks(i).text)

    val o = new Opts
    var headerRows = 0
    var manifest = false
    var j = nextCode(toks, i + 1)
    while (j < toks.length) {
      val shared = scanShared(toks, j, o, "COPY")
      if (shared >= 0) j = nextCode(toks, shared + 1)
      else {
        val t = toks(j)
        val w = t.text.toLowerCase
        j = w match {
          case "manifest" => manifest = true; j
          case "ignoreheader" =>
            o.delimitedOnly("IGNOREHEADER")
            val (n, k) = numVal(toks, j, "IGNOREHEADER")
            headerRows = n.toInt
            // Spark's header option skips exactly one line per file;
            // silently loading the remaining header lines as data would
            // corrupt the table
            require(headerRows <= 1, "COPY: IGNOREHEADER > 1 is not supported")
            k
          case "compupdate" | "statupdate" =>
            val k = nextCode(toks, j + 1)
            if (k < toks.length && (toks(k).isWord("on") || toks(k).isWord("off") ||
                toks(k).isWord("true") || toks(k).isWord("false") ||
                toks(k).isWord("preset"))) k
            else j
          case "maxerror" | "comprows" => numVal(toks, j, t.text)._2
          case "acceptinvchars" =>
            val k = nextCode(toks, j + 1)
            if (k < toks.length && toks(k).kind == Str) k else j
          case f if copyFlagSkips.contains(f) => j
          case _ =>
            throw new IllegalArgumentException(
              s"COPY: unknown option '${t.text}' — refusing to guess its semantics")
        }
        j = nextCode(toks, j + 1)
      }
    }
    o.validate("COPY")
    require(spark.catalog.tableExists(table), s"COPY target $table does not exist")
    val target = spark.table(table)
    // resolve the column list case-insensitively — Redshift identifiers
    // fold case, so COPY t (ID, NAME) must load lowercase columns
    val loadCols: Seq[String] =
      if (cols.isEmpty) target.schema.fieldNames.toSeq
      else cols.map { c =>
        target.schema.fieldNames.find(_.equalsIgnoreCase(c)).getOrElse(
          throw new IllegalArgumentException(
            s"COPY: column '$c' does not exist in $table"))
      }
    val loadSchema = StructType(
      loadCols.map(c => target.schema(target.schema.fieldIndex(c))))
    // MANIFEST: the path names a JSON manifest; load exactly the listed
    // files. A missing file raises when its entry is mandatory, else it is
    // skipped (Redshift's rule). An all-skipped list loads zero rows.
    val dataPaths: Seq[String] =
      if (manifest) manifestFiles(spark, path) else Seq(path)
    if (dataPaths.isEmpty) return
    // A COPY codec word is a real load contract, not noise. Hadoop
    // decompresses BY FILE EXTENSION, so (a) columnar formats reject it —
    // their compression is internal, the option never applies — and (b)
    // every text data file must actually carry the matching suffix;
    // otherwise Spark would read compressed bytes as rows and append
    // garbage to the table.
    o.compression.foreach { c =>
      val cname = if (c == ZstdCodecClass) "ZSTD" else c.toUpperCase
      require(o.format != "parquet" && o.format != "orc",
        s"COPY: $cname does not apply to ${o.format.toUpperCase} " +
          "(columnar compression is internal to the format)")
      val ext = c match {
        case "gzip" => ".gz"
        case "bzip2" => ".bz2"
        case _ => ".zst"
      }
      if (c == ZstdCodecClass) registerZstdCodec(spark)
      val hconf = spark.sparkContext.hadoopConfiguration
      val bad = dataPaths.flatMap { p =>
        val hp = new org.apache.hadoop.fs.Path(p)
        val fs = hp.getFileSystem(hconf)
        if (fs.exists(hp) && fs.getFileStatus(hp).isDirectory) {
          val it = fs.listFiles(hp, true)
          val names = Seq.newBuilder[String]
          while (it.hasNext) {
            val f = it.next().getPath
            if (!f.getName.startsWith("_") && !f.getName.startsWith("."))
              names += f.toUri.toString
          }
          names.result()
        } else Seq(p)
      }.filterNot(_.endsWith(ext))
      require(bad.isEmpty,
        s"COPY $cname: file(s) without the '$ext' extension would " +
          s"load as raw text: ${bad.take(3).mkString(", ")}")
    }
    // Redshift's columnar-format rule (PARQUET and ORC alike): columns map
    // BY POSITION onto the target columns, so names may differ but order
    // and count must match
    def positional(raw: DataFrame, what: String): DataFrame = {
      require(raw.schema.length == loadSchema.length,
        s"COPY: $what data has ${raw.schema.length} columns, " +
          s"target list has ${loadSchema.length}")
      raw.select(raw.schema.fieldNames.zip(loadSchema.fields).map {
        case (src, f) => col(s"`$src`").cast(f.dataType).as(f.name)
      }.toSeq: _*)
    }
    val read: DataFrame = o.format match {
      case "parquet" => positional(spark.read.parquet(dataPaths: _*), "parquet")
      case "orc" => positional(spark.read.orc(dataPaths: _*), "orc")
      case "json" if o.jsonSpec == "auto" =>
        // 'auto': field names match exactly (Redshift's rule); reading with
        // the target schema projects and types in one pass
        jsonReader(spark, o).schema(loadSchema).json(dataPaths: _*)
      case "json" =>
        // 'auto ignorecase': infer, then project case-insensitively
        val raw = jsonReader(spark, o).json(dataPaths: _*)
        val byLower = raw.schema.fieldNames.map(n => n.toLowerCase -> n).toMap
        raw.select(loadSchema.fields.map { f =>
          byLower.get(f.name.toLowerCase) match {
            case Some(src) => col(s"`$src`").cast(f.dataType).as(f.name)
            case None => expr(s"CAST(NULL AS ${f.dataType.sql})").as(f.name)
          }
        }.toSeq: _*)
      case _ =>
        var r = spark.read
          .schema(loadSchema)
          .option("header", headerRows > 0)
          .option("sep", o.sep)
        o.nullAs.foreach(v => r = r.option("nullValue", v))
        o.dateFmt.foreach(v => r = r.option("dateFormat", v))
        o.timeFmt.foreach(v => r = r.option("timestampFormat", v))
        r.csv(dataPaths: _*)
    }
    // fill unlisted columns with typed NULLs, in target column order
    val full = target.schema.fields.map { f =>
      if (loadCols.contains(f.name)) col(f.name)
      else expr(s"CAST(NULL AS ${f.dataType.sql})").as(f.name)
    }
    // row count observed on the load itself (no second source scan) —
    // backs pg_last_copy_count(), the standard post-COPY verification call
    val obs = Observation()
    read.select(full.toSeq: _*).observe(obs, count(lit(1)).as("n"))
      .write.mode("append").saveAsTable(table)
    lastCopyRows.set(obs.get("n").asInstanceOf[Long])
  }

  /** Rows loaded by the most recent local COPY in this JVM (Redshift's
    * `pg_last_copy_count()`; 0 before any COPY has run). */
  private val lastCopyRows = new java.util.concurrent.atomic.AtomicLong(0L)
  def lastCopyCount: Long = lastCopyRows.get

  /** Parse a Redshift COPY manifest ({"entries": [{"url": …,
    * "mandatory": bool}, …]} — the same layout [[writeManifest]] emits) and
    * return the files to load. `mandatory` defaults to false; a missing
    * mandatory file raises, a missing optional one is skipped (Redshift's
    * rule). The manifest itself is a small driver-side control file — it is
    * read through Spark's JSON source with an explicit schema and collected
    * (entry counts are file counts, never data-scale).
    */
  private def manifestFiles(spark: SparkSession, manifestPath: String): Seq[String] = {
    import org.apache.spark.sql.types.{ArrayType, BooleanType, StringType, StructField}
    val mPath = new org.apache.hadoop.fs.Path(manifestPath)
    val mfs = mPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(mfs.exists(mPath), s"COPY MANIFEST: manifest '$manifestPath' does not exist")
    val schema = StructType(Seq(StructField("entries", ArrayType(StructType(Seq(
      StructField("url", StringType), StructField("mandatory", BooleanType)))))))
    val rows = spark.read.schema(schema).option("multiLine", "true")
      .json(manifestPath).collect()
    require(rows.length == 1 && !rows(0).isNullAt(0),
      s"COPY MANIFEST: '$manifestPath' is not a manifest ({\"entries\": […]})")
    rows(0).getSeq[org.apache.spark.sql.Row](0).flatMap { e =>
      require(!e.isNullAt(0), s"COPY MANIFEST: entry without a url in '$manifestPath'")
      val url = e.getString(0)
      val mandatory = !e.isNullAt(1) && e.getBoolean(1)
      val p = new org.apache.hadoop.fs.Path(url)
      val exists = p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
      if (exists) Some(url)
      else if (mandatory) throw new IllegalArgumentException(
        s"COPY MANIFEST: mandatory file '$url' does not exist")
      else None
    }
  }

  private def jsonReader(spark: SparkSession, o: Opts) = {
    var r = spark.read
    o.dateFmt.foreach(v => r = r.option("dateFormat", v))
    o.timeFmt.foreach(v => r = r.option("timestampFormat", v))
    r
  }

  // -------------------------------------------------------------- UNLOAD

  private def runUnload(spark: SparkSession, toks: Vector[Tok], at: Int): Unit = {
    var i = nextCode(toks, at + 1)
    require(i < toks.length && toks(i).kind == Sym && toks(i).text == "(",
      "UNLOAD needs ('<query>')")
    val close = matchParen(toks, i)
    val inner = toks.slice(i + 1, close).filter(_.kind == Str)
    require(inner.length == 1, "UNLOAD needs exactly one quoted query")
    val query = unquote(inner.head.text)
    i = nextCode(toks, close + 1)
    require(i < toks.length && toks(i).isWord("to"), "UNLOAD needs TO '<path>'")
    i = nextCode(toks, i + 1)
    require(i < toks.length && toks(i).kind == Str, "UNLOAD TO needs a quoted path")
    val path = unquote(toks(i).text)

    val o = new Opts
    var header = false
    var addQuotes = false
    var parallel = true // Redshift default: one file per slice
    var partitionCols: Seq[String] = Seq.empty
    var allowOverwrite = false
    var cleanPath = false
    var manifest = false
    var manifestVerbose = false
    var j = nextCode(toks, i + 1)
    while (j < toks.length) {
      val shared = scanShared(toks, j, o, "UNLOAD")
      if (shared >= 0) j = nextCode(toks, shared + 1)
      else {
        val t = toks(j)
        val w = t.text.toLowerCase
        j = w match {
          case "header" => o.delimitedOnly("HEADER"); header = true; j
          case "addquotes" => o.delimitedOnly("ADDQUOTES"); addQuotes = true; j
          case "allowoverwrite" => allowOverwrite = true; j
          case "cleanpath" => cleanPath = true; j
          case "manifest" =>
            manifest = true
            val k = nextCode(toks, j + 1)
            if (k < toks.length && toks(k).isWord("verbose")) {
              manifestVerbose = true; k
            } else j
          case "parallel" =>
            // a PARALLEL value is required — silently treating a typo'd
            // value as the next option would flip the file layout
            val k = nextCode(toks, j + 1)
            require(k < toks.length &&
              (toks(k).isWord("on") || toks(k).isWord("off") ||
                toks(k).isWord("true") || toks(k).isWord("false")),
              "UNLOAD: PARALLEL needs ON or OFF")
            parallel = toks(k).isWord("on") || toks(k).isWord("true")
            k
          case "partition" =>
            val by = nextCode(toks, j + 1)
            require(by < toks.length && toks(by).isWord("by"), "PARTITION needs BY (cols)")
            val open = nextCode(toks, by + 1)
            val (cols, cl) = nameList(toks, open)
            partitionCols = cols
            val k = nextCode(toks, cl + 1)
            if (k < toks.length && toks(k).isWord("include"))
              // Spark's partitionBy encodes the columns in the path and
              // excludes them from data files (Redshift's default);
              // duplicating them would silently change the file schema
              throw new IllegalArgumentException(
                "UNLOAD: PARTITION BY ... INCLUDE is not supported")
            cl
          case "maxfilesize" | "rowgroupsize" =>
            // perf hints: Spark sizes files itself. Value = n [MB|GB]
            val (_, k) = numVal(toks, j, t.text)
            val u = nextCode(toks, k + 1)
            if (u < toks.length && (toks(u).isWord("mb") || toks(u).isWord("gb"))) u
            else k
          case "extension" => strVal(toks, j, "EXTENSION")._2
          case "escape" =>
            throw new IllegalArgumentException(
              "UNLOAD: ESCAPE (unquoted backslash escaping) has no Spark CSV equivalent")
          case _ =>
            throw new IllegalArgumentException(
              s"UNLOAD: unknown option '${t.text}' — refusing to guess its semantics")
        }
        j = nextCode(toks, j + 1)
      }
    }
    o.validate("UNLOAD")
    require(o.format != "orc",
      "UNLOAD: ORC is not an UNLOAD format in Redshift (CSV/JSON/PARQUET)")
    require(!(o.format == "parquet" && o.compression.nonEmpty),
      "UNLOAD: compression options do not apply to PARQUET " +
        "(Redshift writes parquet with its internal codec)")
    val df = RedshiftSql.plan(spark, query)

    // Redshift's default refuses to UNLOAD over existing files — a mistyped
    // TO path must not silently destroy data (ADVICE r4)
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(hPath) && !(allowOverwrite || cleanPath)) {
      val occupied =
        if (fs.getFileStatus(hPath).isFile) true
        else fs.listStatus(hPath).nonEmpty
      if (occupied) throw new IllegalArgumentException(
        s"UNLOAD: destination '$path' already contains files; " +
          "add ALLOWOVERWRITE (or CLEANPATH) to replace them")
    }
    if (cleanPath && fs.exists(hPath)) fs.delete(hPath, true)

    val writeOpts: Map[String, String] =
      (if (o.format == "parquet" || o.format == "json") Map.empty[String, String]
       else Map("header" -> header.toString, "sep" -> o.sep) ++
         (if (addQuotes) Map("quoteAll" -> "true") else Map.empty) ++
         o.nullAs.map("nullValue" -> _).toMap) ++
        o.compression.map("compression" -> _).toMap
    val fmt = if (o.format == "parquet" || o.format == "json") o.format else "csv"

    if (partitionCols.nonEmpty) {
      // partitioned export: one directory per key prefix — Spark's
      // partitionBy is exactly Redshift's PARTITION BY layout
      require(parallel, "UNLOAD: PARTITION BY cannot be combined with PARALLEL OFF")
      df.write.mode("overwrite").options(writeOpts)
        .partitionBy(partitionCols: _*).format(fmt).save(path)
    } else if (parallel) {
      // PARALLEL ON (Redshift's default) → a directory of part files
      df.write.mode("overwrite").options(writeOpts).format(fmt).save(path)
    } else {
      // PARALLEL OFF → the blueprint single-file contract, every format
      graft.io.CsvIO.writeSingleFile(df, path, fmt, writeOpts)
    }

    if (manifest) writeManifest(fs, hPath, manifestVerbose)
  }

  /** Redshift UNLOAD MANIFEST layout: a JSON file at `<path>manifest`
    * listing every data file's URL ({"entries": [{"url": …}, …]}; VERBOSE
    * adds {"meta": {"content_length": N}}). */
  private def writeManifest(fs: org.apache.hadoop.fs.FileSystem,
                            dest: org.apache.hadoop.fs.Path,
                            verbose: Boolean): Unit = {
    val files: Seq[(String, Long)] =
      if (fs.getFileStatus(dest).isFile)
        Seq(dest.toUri.toString -> fs.getFileStatus(dest).getLen)
      else
        fs.listStatus(dest).toSeq
          .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
            !s.getPath.getName.startsWith("."))
          .map(s => s.getPath.toUri.toString -> s.getLen)
          .sortBy(_._1)
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val entries = files.map { case (url, len) =>
      if (verbose)
        s"""{"url": "${esc(url)}", "meta": {"content_length": $len}}"""
      else s"""{"url": "${esc(url)}"}"""
    }
    val manifestPath = new org.apache.hadoop.fs.Path(
      dest.getParent, dest.getName + "manifest")
    val out = fs.create(manifestPath, true)
    try out.write(
      s"""{"entries": [${entries.mkString(", ")}]}""".getBytes("UTF-8"))
    finally out.close()
  }
}
