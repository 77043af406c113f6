package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Parquet star-schema table loader for the driver testdata layout
  * (TESTDATA.md). Reads are plain `spark.read.parquet` so Catalyst
  * keeps predicate pushdown / column pruning / partition parallelism —
  * the same call shape works against a 100 TB table directory.
  *
  * `events.ts` has shipped in two physical layouts across testdata
  * generations, both normalized here to a session-zone
  * microsecond TIMESTAMP so every downstream query (and the DuckDB
  * oracle, whose native TIMESTAMP is naive microseconds) sees one
  * shape:
  *   - parquet TIMESTAMP(NANOS): Spark's reader rejects it outright;
  *     read as raw nanos via the legacy long mapping and
  *     floor-divided to microseconds — the identical truncation
  *     DuckDB applies converting TIMESTAMP_NS.
  *   - parquet TIMESTAMP(MICROS, isAdjustedToUTC=false): reads as
  *     TIMESTAMP_NTZ; cast to TIMESTAMP. All graft entry points run
  *     `spark.sql.session.timeZone=UTC`, so the cast is a relabeling
  *     of the same wall-clock instant, not an offset shift. */
object Tables {
  def apply(s: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      // The flag is set at session bootstrap by graft.GraftSession,
      // which every graft entry point builds through; this set is the
      // idempotent FALLBACK for externally-built sessions (e.g. the
      // driver's own smoke session) so a library user needs no special
      // conf. The legacy mapping is consulted when the reader converts
      // the footer schema, and a per-read DataFrameReader option does
      // NOT reach that converter (probed empirically on 4.1 — footer
      // inference still throws PARQUET_TYPE_ILLEGAL). Set/set is
      // race-free under concurrent query construction (idempotent; a
      // set-then-restore pattern could unset the flag mid-read on a
      // sibling thread). Harmless for the MICROS layout (the mapping
      // only fires on NANOS columns). Trade-off: any OTHER table with
      // a TIMESTAMP(NANOS) column reads as bigint instead of failing
      // fast — TablesSpec guards that `events` stays the only table
      // whose timestamps need normalizing.
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = s.read.parquet(s"$dir/$name.parquet")
      raw.schema("ts").dataType match {
        case LongType =>
          // nanos-as-long layout: floor division (not `div`, which
          // truncates toward zero and would diverge from DuckDB's
          // ns->us floor on pre-epoch values): subtract the positive
          // remainder first
          raw.withColumn("ts",
            timestamp_micros(expr("(ts - pmod(ts, 1000)) div 1000")))
        case TimestampNTZType =>
          raw.withColumn("ts", col("ts").cast(TimestampType))
        case _ => raw // already a session-zone timestamp
      }
    } else s.read.parquet(s"$dir/$name.parquet")

  /** The ONE sequential-fold dot product every cosine query shares
    * (q218/q225/q226/LlmQueries ANN baselines): left-to-right double
    * accumulation in array order, so the result is bit-stable across
    * layouts and matches what a DuckDB oracle computes over the same
    * arrays — the engine cosine convention. Three private copies had
    * already accreted (review r11); any future change to the fold
    * lands here or nowhere. Delegates to [[graft.ops.VectorOps.dot]],
    * the native codegen'd `graft_dot` (DotProductSpec pins it
    * BIT-IDENTICAL to the `aggregate(zip_with(...))` fold the oracle
    * computes). */
  private[queries] def dotFold(a: org.apache.spark.sql.Column,
                               b: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    graft.ops.VectorOps.dot(a, b)
}
