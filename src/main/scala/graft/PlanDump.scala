package graft

import org.apache.spark.sql.execution.ExplainMode

/** Plan-capture helper for the optimization rounds: writes
  * `explain("formatted")` output for declared queries to files, so plan
  * claims in OPTIMIZATION_rNN.md are checkable without running Spark.
  *
  * Usage: `runMain graft.PlanDump <outDir> [qNN ...]` — no query args
  * dumps every declared query. Reads the same `SPARK_GRAFT_SF_DIR` /
  * `SPARK_GRAFT_CPUS` env contract as [[Bench]] so the captured plans
  * are the bench's plans. Queries whose construction itself fails (or
  * whose side-effecting build throws) record the error text instead of
  * aborting the dump. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: PlanDump <outDir> [qNN ...]")
    val outDir = java.nio.file.Paths.get(args(0))
    java.nio.file.Files.createDirectories(outDir)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // coalescing floor: per query via SparkEntry.withCoalesceFloor
    val spark = GraftSession("graft-plan-dump")
    val wanted = args.drop(1).toSet
    val qs = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (k, _) =>
      wanted.isEmpty || wanted.contains(k) ||
        wanted.contains(k.takeWhile(_ != '_'))
    }
    qs.foreach { case (name, fn) =>
      val text =
        try fn(spark, sfDir).queryExecution
          .explainString(ExplainMode.fromString("formatted"))
        catch { case t: Throwable =>
          s"EXPLAIN FAILED: ${t.getClass.getName}: ${t.getMessage}"
        }
      java.nio.file.Files.write(outDir.resolve(s"$name.txt"),
        text.getBytes("UTF-8"))
      // lifecycle queries persist/checkpoint during construction —
      // keep dumps independent, like the bench's cold passes
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      println(s"dumped $name")
    }
    spark.stop()
  }
}
