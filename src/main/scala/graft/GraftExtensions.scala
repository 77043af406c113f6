package graft

import graft.functions.{BloomMightContain, DeflateLength, DotProduct, MinhashSignature, PqEncode, SimhashSignature, SortedIntersectSize, WinnowFingerprint}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** Session extensions installing graft's native expressions.
  * [[GraftSession]] installs them on every graft session, and the
  * operators call the `graft_*` functions unconditionally; an
  * externally built session needs
  * `spark.sql.extensions=graft.GraftExtensions`.
  *
  * Only expressions whose composed-function form measurably loses
  * codegen live here (SURVEY §4.2: custom code confined to the
  * expression/aggregator layer); each is the fused form of that
  * composed tree, which its spec keeps as the parity oracle. Plus TWO
  * analyzer rules —
  * [[graft.sources.ResolveGraftSqlOnFile]], which gives the DSv2
  * source the `FROM graftjson.`/dir`` SQL-on-file surface Spark
  * reserves for V1 file formats, and
  * [[graft.sources.GraftDmlRefusal]], which turns the row-rewrite
  * DML verbs (UPDATE/MERGE) into NAMED refusals that point at the
  * supported alternatives. No custom Strategy or physical plan is
  * needed anywhere in this engine. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** Uniform arity gate: every builder checks argument count FIRST so
    * a wrong-arity SQL call raises a clear usage error instead of an
    * IndexOutOfBoundsException from a positional children() access. */
  private def arity(children: Seq[Expression], n: Int, usage: String): Unit =
    if (children.length != n)
      throw new IllegalArgumentException(
        s"$usage takes $n arguments, got ${children.length}")

  override def apply(ext: SparkSessionExtensions): Unit = {
    // HINT batch, not the resolution batch: Spark's ResolveSQLOnFile
    // throws on non-FileFormat providers before extension resolution
    // rules (appended after it) would run — the hint batch is the one
    // public injection point that sees the plan first
    ext.injectHintResolutionRule(s =>
      new graft.sources.ResolveGraftSqlOnFile(s))
    // NAMED refusal of UPDATE/MERGE on graftjson tables (r16): the
    // post-hoc batch sees the RESOLVED relation and fires before
    // CheckAnalysis's generic unsupported-operation error
    ext.injectPostHocResolutionRule(s =>
      new graft.sources.GraftDmlRefusal(s))
    ext.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (children: Seq[Expression]) => {
        arity(children, 2, "graft_dot(a, b)")
        DotProduct(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_isect"),
      new ExpressionInfo(classOf[SortedIntersectSize].getName, "graft_isect"),
      (children: Seq[Expression]) => {
        arity(children, 2, "graft_isect(a, b)")
        SortedIntersectSize(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_winnow"),
      new ExpressionInfo(classOf[WinnowFingerprint].getName, "graft_winnow"),
      (children: Seq[Expression]) => {
        arity(children, 3, "graft_winnow(text, k, w)")
        (children(1), children(2)) match {
          case (Literal(k: Int, _), Literal(w: Int, _)) =>
            WinnowFingerprint(children.head, k, w)
          case other => throw new IllegalArgumentException(
            s"graft_winnow(text, k, w): k and w must be integer literals, got $other")
        }
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinhashSignature].getName, "graft_minhash"),
      (children: Seq[Expression]) => {
        arity(children, 2, "graft_minhash(hashes, n)")
        children(1) match {
          case Literal(n: Int, _) => MinhashSignature(children.head, n)
          case other => throw new IllegalArgumentException(
            s"graft_minhash(hashes, n): n must be an integer literal, got $other")
        }
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimhashSignature].getName, "graft_simhash"),
      (children: Seq[Expression]) => {
        arity(children, 1, "graft_simhash(words)")
        SimhashSignature(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_pq_encode"),
      new ExpressionInfo(classOf[PqEncode].getName, "graft_pq_encode"),
      (children: Seq[Expression]) => {
        arity(children, 3, "graft_pq_encode(v, books, nAssign)")
        val books = children(1) match {
          case Literal(ad: ArrayData,
              ArrayType(ArrayType(ArrayType(DoubleType, _), _), _)) =>
            Seq.tabulate(ad.numElements()) { s =>
              val sub = ad.getArray(s)
              Seq.tabulate(sub.numElements())(c =>
                sub.getArray(c).toDoubleArray().toSeq)
            }
          case other => throw new IllegalArgumentException(
            "graft_pq_encode(v, books, nAssign): books must be an " +
              s"array<array<array<double>>> literal, got $other")
        }
        children(2) match {
          case Literal(n: Int, _) => PqEncode(children.head, books, n)
          case other => throw new IllegalArgumentException(
            s"graft_pq_encode(v, books, nAssign): nAssign must be an integer literal, got $other")
        }
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_deflate_len"),
      new ExpressionInfo(classOf[DeflateLength].getName, "graft_deflate_len"),
      (children: Seq[Expression]) => {
        arity(children, 2, "graft_deflate_len(text, level)")
        children(1) match {
          case Literal(l: Int, _) => DeflateLength(children.head, l)
          case other => throw new IllegalArgumentException(
            s"graft_deflate_len(text, level): level must be an integer literal, got $other")
        }
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_bloom_contains"),
      new ExpressionInfo(classOf[BloomMightContain].getName, "graft_bloom_contains"),
      (children: Seq[Expression]) => {
        arity(children, 2, "graft_bloom_contains(fp, sketch)")
        children(1) match {
          case Literal(bytes: Array[Byte], _) =>
            BloomMightContain(children.head, bytes.toIndexedSeq)
          case other => throw new IllegalArgumentException(
            s"graft_bloom_contains(fp, sketch): sketch must be a binary literal, got $other")
        }
      }))
  }
}
