package graft.cli

import graft.GraftSession

/** Plan-inspection CLI: prints the formatted physical plan (and
  * optionally times an execution) for named [[graft.SparkEntry]]
  * queries — the `.explain("formatted")` loop the build notes call
  * for after every operator lands.
  *
  * Usage: `runMain graft.cli.ExplainQuery <sfDir> <query>[,query...]
  * [--time]`
  */
object ExplainQuery {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ExplainQuery <sfDir> <q1,q2,...> [--time]")
    val dir = args(0)
    val names = args(1).split(",").toSeq
    val time = args.contains("--time")
    val spark = GraftSession("graft-explain-query")
    spark.sparkContext.setLogLevel("ERROR")
    for (n <- names) {
      val fn = graft.SparkEntry.queries(n)
      println(s"===== $n =====")
      fn(spark, dir).explain("formatted")
      if (time) {
        for (pass <- 1 to 2) {
          val t0 = System.nanoTime()
          fn(spark, dir).count()
          println(f"$n pass $pass: ${(System.nanoTime() - t0) / 1e9}%.3f s")
        }
      }
    }
    spark.stop()
  }
}
