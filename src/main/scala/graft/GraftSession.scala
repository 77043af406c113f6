package graft

import org.apache.spark.sql.SparkSession

/** The one way graft builds a SparkSession. Every entry point (Bench,
  * Verify, PlanDump, JobProfile and the CLIs) and the test base build
  * through it, so the profilers, the correctness gate and the bench
  * all run on the same engine and I/O stack. The session always
  * installs [[GraftExtensions]], so the native `graft_*` expressions
  * are the only production path of the operators that use them.
  *
  * Settable from the environment, and nothing else:
  *   - `SPARK_GRAFT_CPUS` (default 4): `local[n]` and the shuffle
  *     partition count;
  *   - `SPARK_MASTER`: replaces the `local[n]` master;
  *   - `SPARK_GRAFT_FS_IMPL`: the `file:` file system, by default
  *     Hadoop's `RawLocalFileSystem`. */
object GraftSession {

  /** The shared settings, as Spark conf key → value. */
  def settings: Seq[(String, String)] = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    Seq(
      "spark.master" -> sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"),
      "spark.sql.shuffle.partitions" -> cpus,
      // the events NTZ->timestamp normalization in Tables is a pure
      // zone relabeling only under UTC, so result rows match the
      // DuckDB oracle on any host time zone
      "spark.sql.session.timeZone" -> "UTC",
      // the events table carries TIMESTAMP(NANOS); the mapping is read
      // at session bootstrap (TablesSpec guards that no OTHER table
      // reads nanos as bigint under this flag)
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      // Local FS without CRC sidecars: Hadoop's default local FS is a
      // ChecksumFileSystem, so every file write also writes a .crc
      // sidecar and every read re-verifies it, doubling the per-file
      // I/O of the store lifecycles' many small parquet commits.
      // Production file systems (HDFS/S3) carry their own integrity
      // checks, so the client-side CRC emulation is a local-mode
      // artifact; the lease/manifest code already bypasses it for its
      // own I/O (JsonLease.rawFs).
      "spark.hadoop.fs.file.impl" -> sys.env.getOrElse(
        "SPARK_GRAFT_FS_IMPL", "org.apache.hadoop.fs.RawLocalFileSystem"),
      "spark.ui.enabled" -> "false")
  }

  /** A builder carrying [[GraftExtensions]] and [[settings]]. */
  def builder(appName: String): SparkSession.Builder =
    settings.foldLeft(SparkSession.builder()
      .withExtensions(new GraftExtensions).appName(appName)) {
      case (b, (k, v)) => b.config(k, v)
    }

  /** Builds (or returns the running) graft session, logging at WARN. */
  def apply(appName: String): SparkSession = {
    val spark = builder(appName).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
