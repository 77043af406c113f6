package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass winnowing fingerprint (see [[graft.ops.TextOps.winnowingFingerprint]]
  * for the scheme). The composed higher-order-function form is
  * interpreted and allocates a k-gram hash array plus one window slice
  * per position (O(n·w) allocations per row); this expression computes
  * the same (n_grams, n_selected, fp_digest) struct in a single pass
  * with one reused MessageDigest and a monotonic-deque window minimum
  * (O(n) amortized), and stays inside whole-stage codegen via a static
  * helper call.
  *
  * Bit-parity contract with the composed form (WinnowFingerprintSpec
  * keeps it as the oracle):
  * k-grams are taken with the same character semantics as `substr`
  * (`UTF8String.substringSQL`), hashed to lowercase md5 hex, window
  * minima compared as strings (hex is ASCII, so UTF8String and
  * java.lang.String orderings agree), selected set sorted distinct,
  * comma-joined, and md5-hexed again.
  */
case class WinnowFingerprint(child: Expression, k: Int, w: Int)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${other.simpleString}")
  }

  override def dataType: DataType = WinnowFingerprint.Schema

  override def nullSafeEval(input: Any): Any =
    WinnowFingerprint.compute(input.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.WinnowFingerprint.compute($s, $k, $w);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_winnow"
}

object WinnowFingerprint {

  val Schema: StructType = StructType(Seq(
    StructField("n_grams", LongType, nullable = false),
    StructField("n_selected", LongType, nullable = false),
    StructField("fp_digest", StringType, nullable = false)))

  private val HexChars = "0123456789abcdef".toCharArray

  private def hex(bytes: Array[Byte]): String = {
    val out = new Array[Char](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      out(2 * i) = HexChars((bytes(i) >> 4) & 0xF)
      out(2 * i + 1) = HexChars(bytes(i) & 0xF)
      i += 1
    }
    new String(out)
  }

  /** Static so generated code can call it directly. */
  def compute(text: UTF8String, k: Int, w: Int): InternalRow = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val n = text.numChars() - k + 1
    if (n < 1)
      return InternalRow(0L, 0L,
        UTF8String.fromString(hex(md.digest("".getBytes("UTF-8")))))
    val grams = new Array[String](n)
    var i = 0
    while (i < n) {
      // identical char semantics to substr(i+1, k)
      val sub = text.substringSQL(i + 1, k)
      grams(i) = hex(md.digest(sub.getBytes))
      i += 1
    }
    if (n < w)
      return InternalRow(n.toLong, 0L,
        UTF8String.fromString(hex(md.digest("".getBytes("UTF-8")))))
    // monotonic deque of indices: head is the current window minimum;
    // ties keep the EARLIER index (strict '<' eviction), matching
    // array_min which returns the value (equal strings are identical)
    val deque = new Array[Int](n)
    var head = 0
    var tail = 0 // exclusive
    val selected = new java.util.TreeSet[String]()
    i = 0
    while (i < n) {
      while (tail > head && grams(deque(tail - 1)) > grams(i)) tail -= 1
      deque(tail) = i
      tail += 1
      if (deque(head) <= i - w) head += 1
      if (i >= w - 1) selected.add(grams(deque(head)))
      i += 1
    }
    val joined = String.join(",", selected)
    InternalRow(n.toLong, selected.size.toLong,
      UTF8String.fromString(hex(md.digest(joined.getBytes("UTF-8")))))
  }
}
