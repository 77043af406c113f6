package graft.cli

import graft.shred.Shredder

/** Distributed equivalent of the reference's `shred-json` CLI
  * (reference `bin/shred-json:24-25` → `JsonShredder.main`,
  * JsonShredder.java:89-111).
  *
  * Usage: ShredJson [--whole] <outDir> <json file or glob>...
  * (`--whole` reads each file as one unit for documents spanning
  * lines, like FindJsonSchema.)
  *
  * Writes one directory per dotted column path under `outDir`
  * (`path=root.a.b/part-*.txt`), the scale-out version of the
  * reference's one-file-per-column layout (JsonShredder.java:52-62).
  * Documents are read, counted, and shredded in ONE pass (the count
  * rides an accumulator inside the shred flatMap).
  */
object ShredJson {
  def main(args: Array[String]): Unit = {
    val whole = args.contains("--whole")
    val rest = args.filterNot(_ == "--whole")
    require(rest.length >= 2,
      "usage: ShredJson [--whole] <outDir> <json file or glob>...")
    val outDir = rest.head
    val files = rest.tail

    val spark = graft.GraftSession("graft-shred-json")
    // the shredder's "Reading" lines go to STDOUT in the reference
    // (JsonShredder.java:93-94), unlike the schema finder's stderr
    val docs = CliSession.readDocs(spark, files.toSeq, whole,
      announceTo = System.out)

    // single pass: the shred flatMap counts documents as it walks them
    // (a whole-file row or a concatenated line carries several docs).
    // The count rides an accumulator updated in a transformation, so a
    // retried/speculated task can over-count — acceptable for this
    // purely diagnostic stderr-style line (the reference's count is
    // informational too); the shredded OUTPUT stays exactly-once via
    // the file commit protocol.
    import spark.implicits._
    val acc = spark.sparkContext.longAccumulator("documents")
    val shredded = docs.flatMap { d =>
      val (rows, n) = Shredder.flattenCount(d)
      acc.add(n)
      rows
    }
    Shredder.writeShreddedRows(shredded, outDir)
    println(s"${acc.value} records read")
    println()
    spark.stop()
  }
}
