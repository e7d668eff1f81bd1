package graft.config

import org.apache.spark.sql.SaveMode

/** Configuration layer for the blueprint CLIs (SURVEY.md §2.1 A11–A13).
  *
  * Mirrors the reference's argument contract
  * (`/root/reference/amazonredshift_blueprints/blueprints/upload_file.py:11-76`,
  * `store_query_results.py:10-59`, `execute_sql.py:7-42`) re-expressed as
  * typed case classes: insert-method and match-type enums instead of
  * stringly-typed flags, and the tri-source connection rule as a total
  * function returning Either instead of argparse exits.
  */

/** Table-load modes (`upload_file.py:44-52`) → Spark SaveMode.
  * The reference applies the mode per 10k-row pandas chunk, forcing
  * `append` after the first chunk (`upload_file.py:131-132`); Spark applies
  * one atomic SaveMode to the whole DataFrame, which also fixes the
  * replace-per-file bug in regex multi-file uploads (`upload_file.py:193-200`).
  */
sealed abstract class InsertMethod(val flag: String, val saveMode: SaveMode)
object InsertMethod {
  case object Fail extends InsertMethod("fail", SaveMode.ErrorIfExists)
  case object Replace extends InsertMethod("replace", SaveMode.Overwrite)
  case object Append extends InsertMethod("append", SaveMode.Append)
  val all: Seq[InsertMethod] = Seq(Fail, Replace, Append)
  def parse(s: String): Either[String, InsertMethod] =
    all.find(_.flag == s).toRight(
      s"invalid --insert-method '$s' (choose: ${all.map(_.flag).mkString("|")})")
}

/** File-match modes (`upload_file.py:23-27`). */
sealed abstract class MatchType(val flag: String)
object MatchType {
  case object Exact extends MatchType("exact_match")
  case object Regex extends MatchType("regex_match")
  val all: Seq[MatchType] = Seq(Exact, Regex)
  def parse(s: String): Either[String, MatchType] =
    all.find(_.flag == s).toRight(
      s"invalid --source-file-name-match-type '$s' (choose: ${all.map(_.flag).mkString("|")})")
}

/** Database connection, resolved from the tri-source rule
  * (`upload_file.py:62-76`): (1) an explicit connection URL, (2)
  * host + database + username [+ password + port], or (3) the
  * `DB_CONNECTION_URL` environment variable. Default port 5439
  * (`upload_file.py:17`).
  */
final case class ConnectionConfig(
    url: Option[String] = None,
    host: Option[String] = None,
    port: Int = 5439,
    database: Option[String] = None,
    username: Option[String] = None,
    password: Option[String] = None,
    urlParameters: Seq[(String, String)] = Nil) {

  /** JDBC URL (`create_connection_url`, `upload_file.py:79-82`; ours emits
    * the JDBC scheme rather than the sqlalchemy dialect scheme). */
  def jdbcUrl: String = url.getOrElse {
    s"jdbc:redshift://${host.getOrElse("")}:$port/${database.getOrElse("")}"
  }

  /** Spark JDBC reader/writer options (credentials + driver-agnostic).
    * Spark hands options it does not know to the driver as connection
    * properties, which is where the `--url-parameters` pairs belong. */
  def jdbcOptions: Map[String, String] =
    urlParameters.toMap ++ Map("url" -> jdbcUrl) ++
      username.map("user" -> _) ++
      password.map("password" -> _)

  /** A raw JDBC connection with the same properties as [[jdbcOptions]]. */
  def connect(): java.sql.Connection = {
    val props = new java.util.Properties()
    (urlParameters ++ username.map("user" -> _) ++ password.map("password" -> _))
      .foreach { case (k, v) => props.setProperty(k, v) }
    java.sql.DriverManager.getConnection(jdbcUrl, props)
  }
}

object ConnectionConfig {
  val EnvVar = "DB_CONNECTION_URL"

  /** Tri-source validation (`upload_file.py:62-76`): exactly the reference's
    * acceptance rule — an explicit URL, or host+database+username, or the
    * environment variable — otherwise an error naming all three options.
    * (The reference's fourth branch at `upload_file.py:73-75` is
    * tautologically dead; not reproduced.)
    */
  def resolve(
      url: Option[String],
      host: Option[String],
      port: Option[Int],
      database: Option[String],
      username: Option[String],
      password: Option[String],
      env: Map[String, String] = sys.env): Either[String, ConnectionConfig] = {
    val cfg = ConnectionConfig(url, host, port.getOrElse(5439), database, username, password)
    if (url.isDefined) Right(cfg)
    else if (host.isDefined && database.isDefined && username.isDefined) Right(cfg)
    else if (env.contains(EnvVar)) Right(cfg.copy(url = env.get(EnvVar)))
    else Left(
      "connection required: pass --db-connection-url, or --host with " +
        s"--database and --username, or set $EnvVar")
  }

  /** `--url-parameters` as `k=v[&k=v…]` → the driver's connection
    * properties, in order. Properties reach any driver; URL suffix syntax
    * does not (Derby separates with `;`, not `&`). */
  def parseUrlParameters(s: String): Seq[(String, String)] =
    s.split("&", -1).toSeq.map { pair =>
      pair.split("=", 2) match {
        case Array(k, v) if k.nonEmpty => k -> v
        case _ => throw new IllegalArgumentException(
          s"invalid --url-parameters '$s' (expected k=v[&k=v...], got '$pair')")
      }
    }
}

/** Minimal `--flag value` argument parser (no external dependency; the
  * reference uses argparse). Unknown flags error; flags may appear once. */
object ArgParser {
  def parse(args: Array[String], known: Set[String]): Either[String, Map[String, String]] = {
    @annotation.tailrec
    def loop(rest: List[String], acc: Map[String, String]): Either[String, Map[String, String]] =
      rest match {
        case Nil => Right(acc)
        case flag :: value :: tail if flag.startsWith("--") =>
          val key = flag.drop(2)
          if (!known.contains(key)) Left(s"unknown flag --$key")
          else if (acc.contains(key)) Left(s"duplicate flag --$key")
          else loop(tail, acc + (key -> value))
        case other :: _ => Left(s"expected --flag value, got '$other'")
      }
    loop(args.toList, Map.empty)
  }
}
