package graft.functions

import graft.SparkTestBase
import graft.ops.TextOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Native graft_winnow must be bit-identical to the composed
  * higher-order-function form (the oracle below) on every input
  * shape. */
class WinnowFingerprintSpec extends SparkTestBase {

  private def corpus = spark.createDataFrame(Seq(
    (0L, "the quick brown fox jumps over the lazy dog", "s", "en"),
    (1L, "", "s", "en"),                      // empty
    (2L, "short", "s", "en"),                 // < k chars
    (3L, "exactly8", "s", "en"),              // == k chars → 1 gram, < w windows
    (4L, "0123456789a", "s", "en"),           // n = 4 grams = w windows exactly
    (5L, "aaaaaaaaaaaaaaaaaaaa", "s", "en"),  // all grams identical (tie storm)
    (6L, "naïve café déjà vu — unicode ✓ αβγδε ζηθικ", "s", "en"), // multibyte
    (7L, null, "s", "en")))                   // null text
    .toDF("doc_id", "text", "source", "lang")

  test("native equals composed on every edge shape") {
    assert(spark.catalog.functionExists("graft_winnow"))
    for ((k, w) <- Seq((8, 4), (3, 2), (1, 1))) {
      val native = TextOps.winnowingFingerprint(corpus, k, w)
        .orderBy(col("doc_id")).collect().map(_.toSeq)
      val composed = WinnowFingerprintSpec.composed(corpus, k, w)
        .orderBy(col("doc_id")).collect().map(_.toSeq)
      assert(native.toSeq == composed.toSeq, s"k=$k w=$w")
    }
  }

  test("native equals composed on 150 random docs (ascii + unicode)") {
    val rnd = new scala.util.Random(99)
    val alphabets = Seq("ab ", "abcdefgh 0123", "αβγ δé✓", "a")
    val rows = (0L until 150L).map { i =>
      val alpha = alphabets((i % alphabets.length).toInt)
      val len = rnd.nextInt(40)
      val text = (0 until len).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
      (i, text, "s", "en")
    }
    val docs = spark.createDataFrame(rows).toDF("doc_id", "text", "source", "lang")
    val native = TextOps.winnowingFingerprint(docs, 5, 3)
      .orderBy(col("doc_id")).collect().map(_.toSeq)
    val composed = WinnowFingerprintSpec.composed(docs, 5, 3)
      .orderBy(col("doc_id")).collect().map(_.toSeq)
    assert(native.toSeq == composed.toSeq)
  }

  test("digest reacts to content and is stable") {
    val out = TextOps.winnowingFingerprint(corpus).orderBy(col("doc_id"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("fp_digest")).toMap
    assert(out(0L) != out(5L))
    // empty, sub-k and null text share the md5-of-empty digest
    assert(out(1L) == out(2L) && out(1L) == out(7L))
    assert(out(1L) == "d41d8cd98f00b204e9800998ecf8427e")
  }
}

object WinnowFingerprintSpec {
  /** Parity oracle: the winnowing fingerprint as composed Spark
    * expressions (md5 per k-gram, window minima by `array_min` over
    * slices), the same (doc_id, n_grams, n_selected, fp_digest) rows
    * as [[TextOps.winnowingFingerprint]]. */
  def composed(docs: DataFrame, k: Int, w: Int): DataFrame = {
    val n = (length(col("text")) - lit(k) + lit(1)).cast("int")
    // materialize the gram-hash array as a real column: higher-order
    // functions have no cross-lambda CSE, so inlining it under the
    // window transform would recompute every md5 per window.
    // sequence(1, 0) DESCENDS ([1, 0]), so docs shorter than k need
    // the explicit empty branch
    val withGrams = docs.select(col("doc_id"), greatest(n, lit(0)).as("n"),
      when(n >= 1,
        transform(sequence(lit(1), n),
          i => md5(col("text").substr(i, lit(k)).cast("binary"))))
        .otherwise(array().cast("array<string>")).as("grams"))
    val sel = when(col("n") >= w,
      array_sort(array_distinct(transform(
        sequence(lit(1), col("n") - lit(w) + lit(1)),
        j => array_min(slice(col("grams"), j, lit(w)))))))
      .otherwise(array().cast("array<string>"))
    withGrams.select(col("doc_id"), col("n"), sel.as("sel"))
      .select(
        col("doc_id"),
        col("n").cast("bigint").as("n_grams"),
        size(col("sel")).cast("bigint").as("n_selected"),
        md5(concat_ws(",", col("sel")).cast("binary")).as("fp_digest"))
  }
}
