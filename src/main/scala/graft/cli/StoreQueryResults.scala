package graft.cli

import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.config.{ArgParser, ConnectionConfig}
import graft.io.{CsvIO, LocalFiles, TableIO}
import graft.sql.RedshiftSql

/** Blueprint CLI #2: query → CSV export (SURVEY.md §2.1 A7–A9; reference
  * `store_query_results.py:125-156`).
  *
  * The query runs through the dialect rewriter → `spark.sql` (or a
  * streamed JDBC read when a connection is given), then lands as one CSV
  * file at `folder/file`. `--file-header` is honored as DOCUMENTED — the
  * reference parses it and then drops it at the call site
  * (`store_query_results.py:151-154`, SURVEY §7.4.4). Output is a fresh
  * file, never the reference's accidental append-to-existing (`:107`).
  */
object StoreQueryResults {
  val flags: Set[String] = Set(
    "query", "destination-file-name", "destination-folder-name", "file-header",
    "host", "port", "database", "username", "password",
    "db-connection-url", "url-parameters")

  def main(args: Array[String]): Unit = {
    val p = ArgParser.parse(args, flags).fold(e => sys.error(e), identity)
    val query = p.getOrElse("query", sys.error("--query is required"))
    val file = p.getOrElse("destination-file-name", sys.error("--destination-file-name is required"))
    val folder = p.getOrElse("destination-folder-name", "")
    // bool coercion semantics of store_query_results.py:76-85
    val header = !p.get("file-header").exists(_.equalsIgnoreCase("false"))
    run(GraftSession.get("graft-store-query-results"),
      query, folder, file, header, ExecuteSql.connectionOf(p))
    println("Successfully stored the query results.")
  }

  def run(spark: SparkSession, query: String, folder: String, file: String,
          header: Boolean, conn: Option[ConnectionConfig] = None): String = {
    val df = conn.fold(RedshiftSql.plan(spark, query))(TableIO.query(spark, query, _))
    LocalFiles.ensureFolder(folder)
    val dest = LocalFiles.combine(folder, file)
    CsvIO.write(df, dest, header)
    dest
  }
}
