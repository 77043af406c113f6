package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** 64-bit SimHash of a word array: per-word 64-bit hash (two
  * fixed-seed MurmurHash3 string hashes packed high/low), sign-sum
  * over each bit lane, positive lanes set in the signature.
  *
  * Replaces the Scala-UDF form in the near-dup hot path: the UDF pays
  * a full ArrayData→Seq[String] encoder round-trip per row and drops
  * the projection out of whole-stage codegen; this expression reads
  * UTF8Strings straight off the array inside the generated loop. The
  * hash family (MurmurHash3 string hash, seeds 0xCAFEF00D/0x9747B28C)
  * is IDENTICAL to the UDF oracle SimhashSignatureSpec keeps, which
  * pins bit-equality; the q53 bucket keys depend on it.
  *
  * Re-expresses the candidate-bucketing role of the reference's
  * per-document type fingerprint (no direct reference twin — simhash
  * is part of the LLM-pipeline surface, cf. Manku et al. WWW'07).
  */
case class SimhashSignature(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${other.simpleString}")
  }

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any = {
    val xs = input.asInstanceOf[ArrayData]
    val m = xs.numElements()
    val counts = new Array[Int](64)
    var j = 0
    while (j < m) {
      val w = xs.getUTF8String(j).toString
      val h = (scala.util.hashing.MurmurHash3.stringHash(w, 0xCAFEF00D).toLong << 32) |
        (scala.util.hashing.MurmurHash3.stringHash(w, 0x9747B28C).toLong & 0xFFFFFFFFL)
      var k = 0
      while (k < 64) {
        if (((h >>> k) & 1L) == 1L) counts(k) += 1 else counts(k) -= 1
        k += 1
      }
      j += 1
    }
    var sig = 0L
    var k = 0
    while (k < 64) { if (counts(k) > 0) sig |= (1L << k); k += 1 }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, xs => {
      val counts = ctx.freshName("counts")
      val h = ctx.freshName("h")
      val w = ctx.freshName("w")
      val j = ctx.freshName("j")
      val k = ctx.freshName("k")
      val mm = "scala.util.hashing.MurmurHash3$.MODULE$"
      s"""
         |int[] $counts = new int[64];
         |int ${j}_m = $xs.numElements();
         |for (int $j = 0; $j < ${j}_m; $j++) {
         |  String $w = $xs.getUTF8String($j).toString();
         |  long $h = (((long) $mm.stringHash($w, 0xCAFEF00D)) << 32) |
         |    (((long) $mm.stringHash($w, 0x9747B28C)) & 0xFFFFFFFFL);
         |  for (int $k = 0; $k < 64; $k++) {
         |    if ((($h >>> $k) & 1L) == 1L) $counts[$k]++; else $counts[$k]--;
         |  }
         |}
         |${ev.value} = 0L;
         |for (int $k = 0; $k < 64; $k++) {
         |  if ($counts[$k] > 0) ${ev.value} |= (1L << $k);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_simhash"
}
