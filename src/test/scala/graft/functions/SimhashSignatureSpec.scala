package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** The native simhash must be bit-identical to the UDF oracle below —
  * q53's bucket keys (16-bit signature chunks) depend on the exact
  * hash family, so one flipped bit silently changes candidate
  * generation. */
class SimhashSignatureSpec extends SparkTestBase {

  test("graft_simhash equals the composed UDF on random word lists") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260812)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "x", "longertoken",
      "Ünïcode", "数字", "", " ", "123", "a-b.c")
    val rows = Seq.fill(200)(Seq.fill(1 + rnd.nextInt(30))(
      vocab(rnd.nextInt(vocab.size))))
    val df = spark.createDataset(rows).toDF("words")
    val both = df.select(
      call_function("graft_simhash", col("words")).as("native"),
      SimhashSignatureSpec.simhash64(col("words")).as("udf")).collect()
    both.foreach { r =>
      assert(r.getAs[Long]("native") == r.getAs[Long]("udf"))
    }
  }

  test("empty word list matches the UDF; null array is null (native only)") {
    import spark.implicits._
    val defined = Seq(Seq.empty[String], Seq("w")).toDF("words")
    val rows = defined.select(
      call_function("graft_simhash", col("words")).as("native"),
      SimhashSignatureSpec.simhash64(col("words")).as("udf")).collect()
    // empty list: all lanes tie at 0 → signature 0 on both forms
    assert(rows(0).getAs[Long]("native") == 0L)
    assert(rows(0).getAs[Long]("native") == rows(0).getAs[Long]("udf"))
    assert(rows(1).getAs[Long]("native") == rows(1).getAs[Long]("udf"))
    // null array: the null-safe unary expression yields null — the UDF
    // oracle instead throws on null input (a Seq-typed Scala UDF is
    // not null-tolerant), so the native form strictly widens the
    // domain; no parity row to compare
    val nullRow = Seq(Option.empty[Seq[String]]).toDF("words")
      .select(call_function("graft_simhash", col("words")).as("native"))
      .collect()
    assert(nullRow(0).isNullAt(0))
  }

  test("identical word lists collide regardless of the evaluation path") {
    import spark.implicits._
    val df = Seq(
      (0L, "the quick brown fox"),
      (1L, "the quick brown fox")).toDF("doc_id", "text")
    val sigs = df.select(
      call_function("graft_simhash", split(col("text"), " ")).as("s"))
      .collect().map(_.getAs[Long]("s"))
    assert(sigs(0) == sigs(1))
  }
}

object SimhashSignatureSpec {
  /** Parity oracle: 64-bit simhash of a word list as a Scala UDF —
    * sign-sum of per-word MurmurHash3 bits (fixed seeds, no
    * JVM-dependent state), positive lanes set. */
  val simhash64 = udf { words: Seq[String] =>
    val counts = new Array[Int](64)
    words.foreach { w =>
      val h = (scala.util.hashing.MurmurHash3.stringHash(w, 0xCAFEF00D).toLong << 32) |
        (scala.util.hashing.MurmurHash3.stringHash(w, 0x9747B28C).toLong & 0xFFFFFFFFL)
      var j = 0
      while (j < 64) {
        if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
        j += 1
      }
    }
    var sig = 0L
    var j = 0
    while (j < 64) { if (counts(j) > 0) sig |= (1L << j); j += 1 }
    sig
  }
}
