package graft.cli

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.col

/** Shared CLI plumbing: document reading (both CLIs mirror the
  * reference launchers' file handling — JsonSchemaFinder.java:233-238
  * / JsonShredder.java:95-100). Sessions come from
  * [[graft.GraftSession]].
  * `private[graft]`: the graftjson DSv2 source reuses [[readDocs]]
  * for its planning-time inference pass. */
private[graft] object CliSession {

  /** Per-input "Reading <file>" progress lines, reference parity.
    * The two reference CLIs use DIFFERENT streams — the schema finder
    * prints to stderr (its stdout is the DDL,
    * JsonSchemaFinder.java:231-232), the shredder to stdout
    * (JsonShredder.java:93-94) — so the stream is a parameter. The
    * distributed scan opens files on executors in arbitrary order, so
    * the honest driver-side equivalent is the resolved input list
    * before the job launches. */
  def announceInputs(ds: Dataset[_], out: java.io.PrintStream): Unit = {
    ds.inputFiles.sorted.foreach(f => out.println(s"Reading $f"))
    out.flush()
  }

  /** NDJSON lines by default; `whole` reads each file as one unit for
    * documents spanning lines (parallelism across files only). */
  def readDocs(spark: SparkSession, files: Seq[String], whole: Boolean,
               announceTo: java.io.PrintStream = System.err): Dataset[String] = {
    val ds =
      if (whole) {
        import spark.implicits._
        spark.read.option("wholetext", "true").text(files: _*)
          .select(col("value")).as[String]
      } else spark.read.textFile(files: _*)
    announceInputs(ds, announceTo)
    ds
  }
}
