package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for integration specs (one per suite;
  * cheap after the first JVM-wide context), built through
  * [[GraftSession]] with one override, [[SparkTestBase.fsOverride]]. */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = GraftSession.builder(getClass.getSimpleName)
    .config(SparkTestBase.fsOverride._1, SparkTestBase.fsOverride._2)
    .getOrCreate()

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.setLogLevel("WARN")
  }

  /** Register the graft V2 catalog on the shared session (idempotent;
    * the catalog instantiates lazily per conf). */
  protected def useCatalog(): Unit =
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)

  val sfDir = "/root/testdata/sf0.001"
}

object SparkTestBase {
  /** Hadoop's checksummed `LocalFileSystem` in place of GraftSession's
    * raw one: the crash and fuzz specs delete `.crc` sidecars, and
    * JsonLease's `ChecksumFileSystem` unwrap branch is exercised only
    * under a checksummed file system. */
  val fsOverride: (String, String) =
    "spark.hadoop.fs.file.impl" -> classOf[org.apache.hadoop.fs.LocalFileSystem].getName
}
