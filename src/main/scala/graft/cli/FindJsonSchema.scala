package graft.cli

import graft.infer.{InferSchema, InferSchemaCountAgg}
import graft.types.{HStruct, HType}

/** Distributed equivalent of the reference's `find-json-schema` CLI
  * (reference `bin/find-json-schema:24-25` →
  * `JsonSchemaFinder.main`, JsonSchemaFinder.java:223-255).
  *
  * Usage: FindJsonSchema [-f] [--whole] file-or-glob...
  *
  * Reads newline-delimited (or per-line concatenated) JSON documents —
  * `.gz` inputs decode transparently via the text source codec, the
  * Spark counterpart of JsonSchemaFinder.java:233-238 — infers the
  * least-upper-bound Hive type of the whole collection on the
  * executors, and prints the `create table` DDL (or the flat
  * `root.path: type` listing with `-f`) on the driver. Record count
  * goes to stderr like the reference (:248-249).
  *
  * `--whole` reads each file as one unit (`wholetext`), for exact
  * parity with the reference's `JsonStreamParser` on pathological
  * inputs where a single JSON document spans multiple lines (SURVEY
  * §7 risk list). Default NDJSON mode splits on newlines and scales
  * within files; whole mode parallelizes across files only.
  */
object FindJsonSchema {
  def main(args: Array[String]): Unit = {
    val flat = args.contains("-f")
    val whole = args.contains("--whole")
    val files = args.filterNot(a => a == "-f" || a == "--whole")
    require(files.nonEmpty, "usage: FindJsonSchema [-f] [--whole] <json file or glob>...")

    val spark = graft.GraftSession("graft-find-json-schema")
    val docs = CliSession.readDocs(spark, files.toSeq, whole)
    // one pass: tiny per-partition partial schemas, one combine
    val (schema, count) = docs.select(new InferSchemaCountAgg().toColumn).head()

    System.err.println(s"$count records read")
    System.err.println()
    if (flat) print(InferSchema.render(schema, "flat"))
    else schema match {
      case s: HStruct => print(HType.renderDDL(s))
      case other      =>
        // reference crashes here with a ClassCastException
        // (JsonSchemaFinder.java:252-253); we print the type name
        println(other.toString)
    }
    spark.stop()
  }
}
