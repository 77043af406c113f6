package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The shared test session is a [[GraftSession]] session: every
  * native expression is installed, and its launch conf matches
  * [[GraftSession.settings]] except the one documented override. The
  * spec reads the running session instead of building a second one —
  * `getOrCreate` would reuse the JVM-wide context and overwrite the
  * test session's file system. */
class GraftSessionSpec extends SparkTestBase {

  /** Function names [[GraftExtensions]] injects. */
  private def injectedFunctions: Seq[String] = {
    val names = Seq.newBuilder[String]
    new GraftExtensions().apply(new SparkSessionExtensions {
      override def injectFunction(fd: (FunctionIdentifier, ExpressionInfo,
          Seq[Expression] => Expression)): Unit = names += fd._1.funcName
    })
    names.result()
  }

  test("every graft_* function from GraftExtensions is registered") {
    val names = injectedFunctions
    assert(names.size >= 8 && names.forall(_.startsWith("graft_")), names)
    names.foreach(n => assert(spark.catalog.functionExists(n), n))
  }

  test("GraftSession pins UTC, nanosAsLong and the raw local FS") {
    val s = GraftSession.settings.toMap
    assert(s("spark.sql.session.timeZone") == "UTC")
    assert(s("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(s("spark.hadoop.fs.file.impl") == sys.env.getOrElse(
      "SPARK_GRAFT_FS_IMPL", "org.apache.hadoop.fs.RawLocalFileSystem"))
    assert(s("spark.master") == sys.env.getOrElse("SPARK_MASTER",
      s"local[${s("spark.sql.shuffle.partitions")}]"))
  }

  test("SparkTestBase's conf differs from GraftSession only in fs.file.impl") {
    val launched = spark.sparkContext.getConf
    val (fsKey, fsImpl) = SparkTestBase.fsOverride
    GraftSession.settings.foreach { case (k, v) =>
      val want = if (k == fsKey) fsImpl else v
      assert(launched.getOption(k).contains(want), s"$k: want $want")
    }
    assert(GraftSession.settings.exists(_._1 == fsKey))
    assert(spark.sparkContext.hadoopConfiguration.get("fs.file.impl") == fsImpl)
  }
}
