package graft.io

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** CSV source/sink (SURVEY.md §2.1 A1/A8).
  *
  * Source replaces the reference's 10k-row chunked pandas read with
  * per-chunk dtype inference (`upload_file.py:120,126`) by Spark's
  * partitioned read with ONE global schema-inference pass — a documented,
  * deliberate divergence (SURVEY §7.4.1): per-chunk inference can produce
  * inconsistent column types mid-file.
  *
  * Sink reproduces the single-CSV-file contract of
  * `store_query_results.py:98-118` (header flag honored as DOCUMENTED —
  * the reference parses `--file-header` but drops it at the call site,
  * `store_query_results.py:151-154`; fresh file, not the reference's
  * accidental append-to-existing, `:107`). `singleFile=false` is the
  * 100 TB path: a directory of part files written in parallel, no
  * single-task bottleneck.
  */
object CsvIO {

  /** Read one or many CSV files as ONE DataFrame (header + one global
    * inference pass). Multiple paths arrive from regex discovery (A2/A3). */
  def read(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.option("header", true).option("inferSchema", true).csv(paths: _*)

  /** Write `df` as CSV to `destPath`.
    *
    * `singleFile=true` → exactly one CSV file at `destPath` (the blueprint
    * contract, [[writeSingleFile]]). Serializes the final write through
    * one task — correct for CLI-sized exports, NOT for 100 TB (use
    * `singleFile=false`, which writes `destPath` as a directory of parts
    * with executor parallelism).
    */
  def write(df: DataFrame, destPath: String, header: Boolean = true,
            singleFile: Boolean = true, sep: String = ","): Unit = {
    if (!singleFile) {
      df.write.mode("overwrite").option("header", header).option("sep", sep)
        .csv(destPath)
    } else {
      writeSingleFile(df, destPath, "csv",
        Map("header" -> header.toString, "sep" -> sep))
    }
  }

  /** Write `df` as exactly one `format` file at `dest` — the single-file
    * egest of StoreQueryResults and `UNLOAD … PARALLEL OFF`: one task
    * writes a spill directory, then its part file is moved into place (an
    * empty file when the result leaves no part). The spill directory is
    * removed whether or not the write succeeds. */
  private[graft] def writeSingleFile(df: DataFrame, dest: String, format: String,
                                     options: Map[String, String]): Unit = {
    val spill = Files.createTempDirectory("graft_spill_")
    try {
      val out = spill.resolve("out")
      df.coalesce(1).write.mode("overwrite").options(options).format(format)
        .save(out.toString)
      val stream = Files.list(out)
      val part =
        try stream.iterator.asScala.find(_.getFileName.toString.startsWith("part-"))
        finally stream.close()
      val to = Paths.get(dest)
      Option(to.getParent).foreach(Files.createDirectories(_))
      part match {
        case Some(p) => Files.move(p, to, StandardCopyOption.REPLACE_EXISTING)
        case None => Files.write(to, Array.emptyByteArray)
      }
    } finally LocalFiles.deleteRecursively(spill)
  }
}
