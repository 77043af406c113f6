package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Optimization-round profiler: runs ONE declared query N times and
  * prints per-job and per-stage wall times from a SparkListener, so a
  * multi-job lifecycle query's cost attributes to its actual passes
  * (build / write / probe) instead of guessing from code. Dev tool —
  * never part of the bench or the driver contract.
  *
  * Usage: `runMain graft.JobProfile <qNN> [passes]` (env contract as
  * [[Bench]]). */
object JobProfile {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: JobProfile <qNN> [passes]")
    val passes = if (args.length > 1) args(1).toInt else 3
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // coalescing floor: per query via SparkEntry.withCoalesceFloor
    val spark = GraftSession("graft-job-profile")
    val hits = SparkEntry.queries.keys
      .filter(k => k == args(0) || k.takeWhile(_ != '_') == args(0)).toSeq
    require(hits.size == 1, s"matches: ${hits.sorted.mkString(",")}")
    val name = hits.head
    val fn = SparkEntry.queries(name)
    final case class J(id: Int, var desc: String = "",
                       var start: Long = 0L, var end: Long = 0L,
                       var stages: List[(Int, String, Long, Long)] = Nil)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    var capture = false
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (capture) {
          val j = J(js.jobId,
            Option(js.properties)
              .flatMap(p => Option(p.getProperty("spark.job.description")))
              .getOrElse(""), js.time)
          jobs.put(js.jobId, j)
          js.stageIds.foreach(sid => stageToJob.put(sid, js.jobId))
        }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val j = jobs.get(je.jobId)
        if (j != null) j.end = je.time
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val jid = stageToJob.getOrDefault(si.stageId, -1)
        val j = jobs.get(jid)
        if (j != null) j.stages ::= ((si.stageId,
          (si.name.takeWhile(_ != '\n') + " | " +
            si.details.linesIterator.take(4).mkString(" <- ")).take(220),
          si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L),
          si.numTasks.toLong))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    for (p <- 1 to passes) {
      jobs.clear(); stageToJob.clear()
      capture = true
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val total = (System.nanoTime() - t0) / 1e9
      // drain the listener bus BEFORE reading the J vars (ADVICE r17:
      // the listener mutates them on the bus thread; waitUntilEmpty is
      // the happens-before edge a capture-flag flip + sleep lacked)
      org.apache.spark.GraftListenerBus.drain(spark.sparkContext)
      capture = false
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      Thread.sleep(300)
      import scala.jdk.CollectionConverters._
      println(f"== pass $p: $name total=$total%.3fs jobs=${jobs.size}")
      if (p == passes) {
        jobs.values.asScala.toSeq.sortBy(_.id).foreach { j =>
          println(f"  job ${j.id}%3d ${(j.end - j.start) / 1e3}%7.3fs  ${j.desc.take(70)}")
          j.stages.sortBy(_._1).foreach { case (sid, nm, ms, nt) =>
            println(f"    stage $sid%4d ${ms / 1e3}%7.3fs tasks=$nt%-3d\n      $nm")
          }
        }
      }
      System.gc()
    }
    spark.stop()
  }
}
