package graft.functions

import graft.SparkTestBase
import graft.ops.TextOps
import org.apache.spark.sql.functions._

/** The native deflate measurement must be bit-identical to a
  * driver-side Deflater fold — q181's low-entropy flag sits on the
  * exact byte count, and zlib output depends on the (level, nowrap)
  * configuration, so one mismatched flag would shift ratios
  * corpus-wide. */
class DeflateLengthSpec extends SparkTestBase {

  private def driverDeflateLen(t: String, level: Int): Long = {
    val d = new java.util.zip.Deflater(level, true)
    try {
      d.setInput(t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      d.finish()
      val buf = new Array[Byte](8192)
      var n = 0L
      while (!d.finished()) n += d.deflate(buf)
      n
    } finally d.end()
  }

  test("graft_deflate_len equals the driver-side Deflater on varied text") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260814)
    val vocab = Vector("the", "quick", "brown", "fox", "Ünïcode", "数字", "a")
    val texts = Seq("", "a", "spam " * 200,
      ("x" * 10000)) ++
      Seq.fill(50)(Seq.fill(5 + rnd.nextInt(200))(
        vocab(rnd.nextInt(vocab.size))).mkString(" "))
    val rows = texts.toDF("text")
      .select(col("text"),
        call_function("graft_deflate_len", col("text"), lit(6)).as("native"))
      .collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("native") ==
        driverDeflateLen(r.getAs[String]("text"), 6))
    }
  }

  test("compressionSignal: repeated text flags, varied text does not") {
    import spark.implicits._
    val docs = Seq(
      (0L, "spam " * 300 + "spam", "src0"),
      (1L, (1 to 300).map(i => s"w$i").mkString(" "), "src0"))
      .toDF("doc_id", "text", "source")
    val out = TextOps.compressionSignal(docs).orderBy("doc_id").collect()
    val loop = out(0); val varied = out(1)
    assert(loop.getAs[Boolean]("low_entropy"))
    assert(!varied.getAs[Boolean]("low_entropy"))
    assert(loop.getAs[Double]("ratio") > varied.getAs[Double]("ratio"))
    // the exported ratio is the rounded quotient of the two counts
    assert(loop.getAs[Double]("ratio") ==
      math.round(loop.getAs[Long]("n_bytes").toDouble /
        loop.getAs[Long]("deflate_bytes") * 10000).toDouble / 10000)
  }

  test("column-appending contract: carried dims survive, text is dropped") {
    import spark.implicits._
    val docs = Seq((7L, "some text here now ok", "srcZ", "en"))
      .toDF("doc_id", "text", "source", "lang")
    val out = TextOps.compressionSignal(docs)
    assert(out.columns.toSet ==
      Set("doc_id", "source", "lang", "n_bytes", "deflate_bytes",
        "ratio", "low_entropy"))
    assert(out.collect()(0).getAs[String]("source") == "srcZ")
  }

  test("null text measures as empty; level out of range is rejected") {
    import spark.implicits._
    val docs = Seq((0L, Option.empty[String]), (1L, Option("")))
      .toDF("doc_id", "text")
    val out = TextOps.compressionSignal(docs).orderBy("doc_id").collect()
    assert(out(0).getAs[Long]("n_bytes") == 0L)
    assert(out(0).getAs[Long]("deflate_bytes") ==
      out(1).getAs[Long]("deflate_bytes"))
    intercept[IllegalArgumentException] {
      DeflateLength(org.apache.spark.sql.catalyst.expressions.Literal("x"), 0)
    }
  }

  test("interpreted eval matches codegen (expression used outside WSCG)") {
    import spark.implicits._
    // a non-codegen context: the expression inside a filter on a
    // union forces interpreted evaluation paths in some plans; simpler
    // and deterministic — call eval() directly against collected rows
    val texts = Seq("alpha beta alpha beta", "", "zz " * 64).toDF("text")
    val fromPlan = texts
      .select(call_function("graft_deflate_len", col("text"), lit(6)).as("n"))
      .collect().map(_.getAs[Long]("n"))
    val expr = DeflateLength(
      org.apache.spark.sql.catalyst.expressions.BoundReference(
        0, org.apache.spark.sql.types.StringType, nullable = true), 6)
    val direct = Seq("alpha beta alpha beta", "", "zz " * 64).map { t =>
      expr.eval(org.apache.spark.sql.catalyst.InternalRow(
        org.apache.spark.unsafe.types.UTF8String.fromString(t)))
        .asInstanceOf[Long]
    }
    assert(fromPlan.toSeq == direct)
  }
}
