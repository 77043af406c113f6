package graft.queries

import graft.ops.{GraphOps, Skew}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Advanced analytic operators (round 4): exact distributed
  * percentiles, deciles, deterministic mode, interval RANGE window
  * frames, correlated EXISTS / scalar subqueries, lateral top-n,
  * CSV sink+source round-trip, temp-view SQL pipelines, and the two
  * explicit skew-mitigation shapes (salted aggregation / salted join)
  * whose results are provably identical to their unsalted forms — so
  * both get full DuckDB oracles.
  *
  * Shares [[Relational]]'s cross-engine determinism conventions:
  * decimal-exact aggregation, final decimals rendered as DOUBLE, total
  * ORDER BY with unique tiebreaks, identical column aliases on both
  * sides.
  */
object Analytic {

  private def dec(c: Column, p: Int, s: Int): Column = c.cast(s"decimal($p,$s)")
  private def asD(c: Column): Column = c.cast("double")

  /** Exact distributed percentiles (p25/p50/p75) per group with
    * INTEGER-exact interpolation: position arithmetic is pure bigint
    * math (lo = (n-1)·k div 4, rem = (n-1)·k mod 4) and the
    * interpolation a + (b-a)·rem·0.25 runs in DECIMAL, so the result
    * is bit-identical on any engine and any partitioning — unlike
    * built-in `percentile`, whose double interpolation drifts by ulps
    * between engines. One window sort per group (the same shuffle the
    * sort-based aggregate would pay) + one hash agg; no driver
    * collect. At 100 TB the window sort is the scalable path: each
    * group sorts within its own partition set. */
  private def q76(s: SparkSession, dir: String): DataFrame = {
    val v = dec(col("l_extendedprice"), 14, 2)
    val w = Window.partitionBy(col("l_returnflag")).orderBy(col("v"))
    val ranked = Tables(s, dir, "lineitem")
      .select(col("l_returnflag"), v.as("v"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("l_returnflag"))))
    def pct(k: Int): Column = {
      val lo = ((col("n") - 1) * k / 4).cast("bigint") // integer division
      val rem = ((col("n") - 1) * k % 4).cast("bigint")
      val a = min(when(col("rn") === lo + 1, col("v")))
      val b = coalesce(min(when(col("rn") === lo + 2, col("v"))), a)
      // rem is group-constant; max() just lifts it through the agg
      asD(a + dec((b - a) * max(rem), 18, 2) * lit(BigDecimal("0.25")))
    }
    ranked.groupBy(col("l_returnflag"))
      .agg(max(col("n")).as("n_rows"), pct(1).as("p25"), pct(2).as("p50"),
        pct(3).as("p75"))
      .orderBy(col("l_returnflag"))
  }

  private val q76Sql =
    """WITH r AS (
      |  SELECT l_returnflag, CAST(l_extendedprice AS DECIMAL(14,2)) AS v,
      |    row_number() OVER (PARTITION BY l_returnflag ORDER BY CAST(l_extendedprice AS DECIMAL(14,2))) AS rn,
      |    count(*) OVER (PARTITION BY l_returnflag) AS n
      |  FROM lineitem)
      |SELECT l_returnflag, max(n) AS n_rows,
      |  CAST(min(CASE WHEN rn = (n-1)*1//4 + 1 THEN v END)
      |    + CAST((coalesce(min(CASE WHEN rn = (n-1)*1//4 + 2 THEN v END),
      |                     min(CASE WHEN rn = (n-1)*1//4 + 1 THEN v END))
      |            - min(CASE WHEN rn = (n-1)*1//4 + 1 THEN v END)) * max((n-1)*1%4) AS DECIMAL(18,2))
      |      * CAST(0.25 AS DECIMAL(3,2)) AS DOUBLE) AS p25,
      |  CAST(min(CASE WHEN rn = (n-1)*2//4 + 1 THEN v END)
      |    + CAST((coalesce(min(CASE WHEN rn = (n-1)*2//4 + 2 THEN v END),
      |                     min(CASE WHEN rn = (n-1)*2//4 + 1 THEN v END))
      |            - min(CASE WHEN rn = (n-1)*2//4 + 1 THEN v END)) * max((n-1)*2%4) AS DECIMAL(18,2))
      |      * CAST(0.25 AS DECIMAL(3,2)) AS DOUBLE) AS p50,
      |  CAST(min(CASE WHEN rn = (n-1)*3//4 + 1 THEN v END)
      |    + CAST((coalesce(min(CASE WHEN rn = (n-1)*3//4 + 2 THEN v END),
      |                     min(CASE WHEN rn = (n-1)*3//4 + 1 THEN v END))
      |            - min(CASE WHEN rn = (n-1)*3//4 + 1 THEN v END)) * max((n-1)*3%4) AS DECIMAL(18,2))
      |      * CAST(0.25 AS DECIMAL(3,2)) AS DOUBLE) AS p75
      |FROM r GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Decile-style bucketing via ntile — partitioned by market segment
    * (a GLOBAL ntile would funnel 100 TB through one sort partition;
    * partitioning by a real dimension keeps every sort local to its
    * key range). Unique tiebreak (c_custkey) makes tile assignment
    * deterministic. */
  private def q77(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal"), col("c_custkey"))
    Tables(s, dir, "customer")
      .withColumn("tile", ntile(4).over(w).cast("bigint"))
      .groupBy(col("c_mktsegment"), col("tile"))
      .agg(count(lit(1)).as("n_customers"),
        asD(min(dec(col("c_acctbal"), 12, 2))).as("lo"),
        asD(max(dec(col("c_acctbal"), 12, 2))).as("hi"),
        asD(sum(dec(col("c_acctbal"), 12, 2))).as("sum_bal"))
      .orderBy(col("c_mktsegment"), col("tile"))
  }

  private val q77Sql =
    """WITH t AS (
      |  SELECT c_mktsegment, c_acctbal,
      |    ntile(4) OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey) AS tile
      |  FROM customer)
      |SELECT c_mktsegment, tile, count(*) AS n_customers,
      |  CAST(min(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS lo,
      |  CAST(max(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS hi,
      |  CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_bal
      |FROM t GROUP BY c_mktsegment, tile ORDER BY c_mktsegment, tile""".stripMargin

  /** Correlated EXISTS subquery (TPC-H Q4 shape) — Catalyst rewrites
    * the correlation to a left-semi hash join, so at 100 TB this is
    * one keyed shuffle, never a per-row probe. */
  private def q78(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "orders").createOrReplaceTempView("orders_v")
    Tables(s, dir, "lineitem").createOrReplaceTempView("lineitem_v")
    s.sql(
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders_v
        |WHERE EXISTS (SELECT 1 FROM lineitem_v
        |              WHERE l_orderkey = o_orderkey AND l_quantity > 45)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
  }

  private val q78Sql =
    """SELECT o_orderpriority, count(*) AS n_orders
      |FROM orders
      |WHERE EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_quantity > 45)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Scalar-subquery semantics (TPC-H Q17 shape) in the single-scan
    * form: the two correlated scalars (per-partkey count and quantity
    * sum) are window aggregates over ONE lineitem pass instead of two
    * de-correlated aggregate+join legs — Catalyst planned the SQL
    * spelling as three lineitem scans (no MergeScalarSubqueries on the
    * correlated form), so the window form is the 100 TB plan: scan
    * once, broadcast-join the filtered part side (drops whole
    * partkeys, so per-partkey aggregates are unchanged), one shuffle
    * by l_partkey. The threshold stays INTEGER-exact:
    * `q < 0.2·avg(q)` as `5·count·q < sum(q)` in DECIMAL, no float
    * boundary to disagree on. The DuckDB oracle keeps the correlated
    * spelling — same semantics, independent plan. */
  private def q79(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
    val smallParts = Tables(s, dir, "part")
      .where(col("p_size") <= 3).select(col("p_partkey"))
    val w = Window.partitionBy(col("l_partkey"))
    li.join(broadcast(smallParts), col("p_partkey") === col("l_partkey"))
      .withColumn("cnt", count(lit(1)).over(w))
      .withColumn("sum_qty",
        sum(col("l_quantity").cast("decimal(12,2)")).over(w))
      .where(col("l_quantity").cast("decimal(12,2)") * lit(5) * col("cnt")
        < col("sum_qty"))
      .agg(count(lit(1)).as("n_lines"),
        (sum(col("l_extendedprice").cast("decimal(14,2)")).cast("double")
          / lit(7.0)).cast("double").as("avg_yearly"))
  }

  private val q79Sql =
    """SELECT count(*) AS n_lines,
      |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) / 7.0 AS DOUBLE) AS avg_yearly
      |FROM lineitem l1 JOIN part ON p_partkey = l1.l_partkey
      |WHERE p_size <= 3
      |  AND CAST(l1.l_quantity AS DECIMAL(12,2)) * 5 *
      |      (SELECT count(*) FROM lineitem l2 WHERE l2.l_partkey = l1.l_partkey)
      |    < (SELECT sum(CAST(l_quantity AS DECIMAL(12,2)))
      |       FROM lineitem l3 WHERE l3.l_partkey = l1.l_partkey)""".stripMargin

  /** Percentile sketch twin of q76 (the exact/sketch pairing q20/q21
    * establish for distinct counts): Spark's `percentile_approx`
    * aggregates a mergeable Greenwald-Khanna-style sketch
    * partial+final — no per-group sort, no window, rank error bounded
    * by n/accuracy — the 100 TB path when q76's exact window-sort is
    * too expensive. ORACLED since r13 (previously rows-only): the
    * output carries the EXACT interpolated quartiles of `l_quantity`
    * (integer-valued with quarter-exact interpolation fractions, so
    * both engines' `lo + (hi−lo)·f` is bit-identical in double — the
    * cross-engine determinism rule) computed by the sort-free exact
    * `percentile` aggregate, plus a boolean pinning the SKETCH within
    * its rank-error envelope of those quartiles in the same pass; the
    * oracle asserts the boolean as the literal TRUE, so a sketch
    * regression flips the hash. Rank error n/10000 over ~50 distinct
    * integer values keeps the value envelope ≤ 1.0 with wide margin
    * (AnalyticSpec keeps the tighter relative pin). */
  private def q92(s: SparkSession, dir: String): DataFrame = {
    val qd = col("l_quantity").cast("double")
    val fracs = array(lit(0.25), lit(0.5), lit(0.75))
    Tables(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        percentile(qd, fracs).as("eps"),
        percentile_approx(dec(col("l_quantity"), 12, 2), fracs,
          lit(10000)).as("aps"))
      .select(col("l_returnflag"), col("n_rows"),
        asD(col("eps").getItem(0)).as("p25"),
        asD(col("eps").getItem(1)).as("p50"),
        asD(col("eps").getItem(2)).as("p75"),
        (abs(asD(col("aps").getItem(0)) - asD(col("eps").getItem(0))) <= 1.0 &&
          abs(asD(col("aps").getItem(1)) - asD(col("eps").getItem(1))) <= 1.0 &&
          abs(asD(col("aps").getItem(2)) - asD(col("eps").getItem(2))) <= 1.0)
          .as("approx_in_envelope"))
      .orderBy(col("l_returnflag"))
  }

  private val q92Sql =
    """SELECT l_returnflag, count(*) AS n_rows,
      |  quantile_cont(CAST(l_quantity AS DOUBLE), 0.25) AS p25,
      |  quantile_cont(CAST(l_quantity AS DOUBLE), 0.5) AS p50,
      |  quantile_cont(CAST(l_quantity AS DOUBLE), 0.75) AS p75,
      |  TRUE AS approx_in_envelope
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Deterministic per-group mode: most frequent value with an
    * explicit (count DESC, value ASC) tiebreak — the built-in `mode`
    * picks an arbitrary tie winner, which can never hash-match an
    * oracle; spelling the tiebreak out is the operator. Two stages on
    * the SAME key prefix (group, value) → (group): the second hash agg
    * reuses the first shuffle's partitioning. */
  private def q80(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_quantity"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("n").desc, col("l_quantity"))
    counts.withColumn("rk", row_number().over(w))
      .where(col("rk") === 1)
      .select(col("l_returnflag"), asD(col("l_quantity")).as("mode_qty"),
        col("n").as("n_occurrences"))
      .orderBy(col("l_returnflag"))
  }

  private val q80Sql =
    """WITH c AS (SELECT l_returnflag, l_quantity, count(*) AS n
      |           FROM lineitem GROUP BY l_returnflag, l_quantity),
      |r AS (SELECT *, row_number() OVER (PARTITION BY l_returnflag
      |                ORDER BY n DESC, l_quantity) AS rk FROM c)
      |SELECT l_returnflag, CAST(l_quantity AS DOUBLE) AS mode_qty,
      |  n AS n_occurrences
      |FROM r WHERE rk = 1 ORDER BY l_returnflag""".stripMargin

  /** Value-range window frame: per-customer rolling 30-day order
    * totals via RANGE BETWEEN INTERVAL — the frame is bounded by the
    * ORDER BY value, not row counts, so simultaneous orders are peers.
    * One shuffle on the partition key; the frame scan is a single
    * sorted pass per partition at any scale. */
  private def q81(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "orders").createOrReplaceTempView("orders_v")
    s.sql(
      """SELECT o_orderkey, o_custkey, o_orderdate,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) OVER w AS DOUBLE) AS rolling_30d,
        |  count(*) OVER w AS n_orders_30d
        |FROM orders_v
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
        |             RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderkey""".stripMargin)
  }

  private val q81Sql =
    """SELECT o_orderkey, o_custkey, o_orderdate,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) OVER w AS DOUBLE) AS rolling_30d,
      |  count(*) OVER w AS n_orders_30d
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
      |             RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW)
      |ORDER BY o_orderkey""".stripMargin

  /** Lateral correlated subquery with ORDER BY + LIMIT: top-2 nations
    * by summed customer balance per region. Catalyst de-correlates to
    * a ranked join (no per-row re-execution); at scale this is the
    * "top-n per key via join" shape, not a nested loop. */
  private def q82(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "region").createOrReplaceTempView("region_v")
    Tables(s, dir, "nation").createOrReplaceTempView("nation_v")
    Tables(s, dir, "customer").createOrReplaceTempView("customer_v")
    s.sql(
      """SELECT r.r_name, t.n_name, t.bal
        |FROM region_v r JOIN LATERAL (
        |  SELECT n.n_name,
        |    CAST(sum(CAST(c.c_acctbal AS DECIMAL(14,2))) AS DOUBLE) AS bal
        |  FROM nation_v n JOIN customer_v c ON c.c_nationkey = n.n_nationkey
        |  WHERE n.n_regionkey = r.r_regionkey
        |  GROUP BY n.n_name ORDER BY bal DESC, n.n_name LIMIT 2) t
        |ORDER BY r.r_name, t.bal DESC, t.n_name""".stripMargin)
  }

  private val q82Sql =
    """SELECT r.r_name, t.n_name, t.bal
      |FROM region r, LATERAL (
      |  SELECT n.n_name,
      |    CAST(sum(CAST(c.c_acctbal AS DECIMAL(14,2))) AS DOUBLE) AS bal
      |  FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
      |  WHERE n.n_regionkey = r.r_regionkey
      |  GROUP BY n.n_name ORDER BY bal DESC, n.n_name LIMIT 2) t
      |ORDER BY r.r_name, t.bal DESC, t.n_name""".stripMargin

  /** CSV sink + source round-trip: aggregate → write CSV (header, one
    * part) → read back under an EXPLICIT schema → re-aggregate.
    * Doubles survive the text round-trip exactly (shortest-repr write,
    * correctly-rounded read). The oracle computes the same final
    * result straight from parquet — proving the CSV leg is lossless.
    * The tiny coalesce(1) is sized to the aggregate (≤ thousands of
    * rows), never the raw table. */
  private def q83(s: SparkSession, dir: String): DataFrame = {
    val out = graft.TempRoots.path(
      s"csv_rt_${Integer.toHexString(dir.hashCode)}")
    Tables(s, dir, "orders")
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("ym"),
        col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        asD(sum(dec(col("o_totalprice"), 14, 2))).as("total"))
      .coalesce(1)
      .write.mode("overwrite").option("header", "true").csv(out)
    val schema = "ym STRING, o_orderstatus STRING, n BIGINT, total DOUBLE"
    s.read.schema(schema).option("header", "true").csv(out)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_months"), sum(col("n")).as("n_orders"),
        asD(sum(dec(col("total"), 18, 2))).as("total_price"))
      .orderBy(col("o_orderstatus"))
  }

  private val q83Sql =
    """WITH m AS (
      |  SELECT strftime(o_orderdate, '%Y-%m') AS ym, o_orderstatus,
      |    count(*) AS n,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total
      |  FROM orders GROUP BY ym, o_orderstatus)
      |SELECT o_orderstatus, count(*) AS n_months,
      |  CAST(sum(n) AS BIGINT) AS n_orders,
      |  CAST(sum(CAST(total AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      |FROM m GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** Temp-view SQL pipeline (TPC-H Q15 shape): a revenue view named
    * and reused twice — once for the max, once for the winner lookup.
    * The max is spelled as a broadcast JOIN against the aggregated
    * view referenced through ONE `s.table` handle rather than a
    * correlated scalar subquery: measured round 5, the scalar form
    * plans its subquery leg separately and recomputes the full
    * lineitem aggregation, and even the SQL join form misses reuse
    * because each view expansion mints fresh attribute ids that the
    * exchange canonicalization then fails to match — only the
    * same-object DataFrame reference reuses the exchange (pinned in
    * PlanQualitySpec). The global max itself is a partial+final
    * aggregate over per-suppkey rows — no single-partition window
    * over the supplier dimension. */
  private def q84(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "lineitem").createOrReplaceTempView("lineitem_v")
    Tables(s, dir, "supplier").createOrReplaceTempView("supplier_v")
    // the explicit IS NOT NULL matches the null filter the supplier
    // join infers on its leg — without it the two legs' scans differ
    // (PushedFilters: [IsNotNull] vs []) and never canonicalize equal
    val rev = s.sql(
      """SELECT l_suppkey AS supplier_no,
        |  sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS total_rev
        |FROM lineitem_v WHERE l_suppkey IS NOT NULL
        |GROUP BY l_suppkey""".stripMargin)
    // the named view stays part of the pipeline surface; the final
    // query consumes the SAME analyzed plan (`rev`) twice so the
    // aggregation exchange canonicalizes equal and is reused
    rev.createOrReplaceTempView("revenue_v")
    val mx = rev.agg(max(col("total_rev")).as("mx"))
    s.table("supplier_v")
      .join(rev, col("s_suppkey") === col("supplier_no"))
      .join(broadcast(mx), col("total_rev") === col("mx"))
      .select(col("s_suppkey"), col("s_name"),
        col("total_rev").cast("double").as("total_rev"))
      .orderBy(col("s_suppkey"))
  }

  private val q84Sql =
    """WITH revenue AS (
      |  SELECT l_suppkey AS supplier_no,
      |    sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS total_rev
      |  FROM lineitem GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_rev
      |FROM supplier JOIN revenue ON s_suppkey = supplier_no
      |WHERE total_rev = (SELECT max(total_rev) FROM revenue)
      |ORDER BY s_suppkey""".stripMargin

  /** Salted two-phase aggregation: the pathological-skew shape — a
    * deterministic salt spreads each hot group over 16 partial
    * aggregates, the final agg folds the partials. Decimal partials
    * are exact and associative, so the result is IDENTICAL to the
    * direct group-by (which is the oracle). At 100 TB this is how a
    * "90% of rows share one key" aggregation avoids a straggler task. */
  private def q89(s: SparkSession, dir: String): DataFrame = {
    val salt = pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(16L))
    Tables(s, dir, "lineitem")
      .withColumn("salt", salt)
      .groupBy(col("l_linestatus"), col("salt"))
      .agg(sum(dec(col("l_quantity"), 12, 2)).as("part_qty"),
        count(lit(1)).as("part_n"))
      .groupBy(col("l_linestatus"))
      .agg(asD(sum(col("part_qty"))).as("sum_qty"),
        sum(col("part_n")).as("n_rows"))
      .orderBy(col("l_linestatus"))
  }

  private val q89Sql =
    """SELECT l_linestatus,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      |  count(*) AS n_rows
      |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin

  /** Salted replicated join ([[graft.ops.Skew.saltedJoin]]): the left
    * side's hot keys spread across 8 salt lanes, the right side is
    * replicated 8×. The join RESULT is provably the plain join, so the
    * oracle is the unsalted SQL. */
  private def q90(s: SparkSession, dir: String): DataFrame = {
    val l = Tables(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"),
        col("l_extendedprice"))
    val sup = Tables(s, dir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey"))
    Skew.saltedJoin(l, sup, "l_suppkey", "s_suppkey", 8)
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n_lines"),
        asD(sum(dec(col("l_extendedprice"), 14, 2))).as("sum_price"))
      .orderBy(col("s_nationkey"))
  }

  private val q90Sql =
    """SELECT s_nationkey, count(*) AS n_lines,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS sum_price
      |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin

  /** PageRank over the customer↔supplier order graph
    * ([[graft.ops.GraphOps.pageRank]]): symmetrized edges from
    * orders⋈lineitem (customers at 2k, suppliers at 2k+1 — disjoint
    * node ids), decimal-exact iterations. Oracled since r14 via the
    * envelope pattern — the power-iteration values are not SQL-
    * expressible, but the invariants that define a correct PageRank
    * are in-query booleans the oracle pins TRUE: the node count is
    * exact tokenizer-free arithmetic (distinct customers + distinct
    * suppliers of the join, DuckDB-computable), total mass is 1
    * (teleport conservation — no dangling nodes on a symmetrized
    * graph), and every rank is positive. Bit parity with a local
    * reference and layout independence stay pinned in GraphOpsSpec. */
  private def q142(s: SparkSession, dir: String): DataFrame = {
    val edges = Tables(s, dir, "orders")
      .join(Tables(s, dir, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
    val sym = edges.unionByName(
      edges.select(col("dst").as("src"), col("src").as("dst")))
    GraphOps.pageRank(sym, iters = 5)
      .agg(count(lit(1)).as("n_nodes"),
        sum(col("rank")).as("mass"),
        min(col("rank")).as("min_rank"))
      .select(col("n_nodes"),
        // ranks are rounded to 6 decimals in the output, so mass can
        // drift by up to half an ulp per node — the tolerance scales
        // with the node count instead of assuming unrounded values
        (abs(col("mass") - 1.0) <=
          col("n_nodes").cast("double") * 5e-7 + 1e-6).as("mass_ok"),
        (col("min_rank") > 0.0).as("ranks_positive"))
  }

  private val q142Sql =
    """WITH e AS (SELECT o_custkey, l_suppkey
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey)
      |SELECT CAST((SELECT count(DISTINCT o_custkey) FROM e) +
      |            (SELECT count(DISTINCT l_suppkey) FROM e) AS BIGINT)
      |  AS n_nodes,
      |  TRUE AS mass_ok, TRUE AS ranks_positive""".stripMargin

  /** Ordered event funnel (view → click-after-view →
    * purchase-after-click): each stage keeps the user's EARLIEST
    * qualifying timestamp strictly after the previous stage's, so the
    * funnel measures genuine progression, not co-occurrence. Three
    * user-keyed aggregates + two user-keyed joins of narrow (user, ts)
    * rows — at 100 TB the event scan is filtered per stage before any
    * shuffle and the summary is three rows. Conversion ratios are
    * computed over the 3-row summary (lag window + broadcast base). */
  private def q153(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
    def stage(tpe: String) = ev.where(col("event_type") === tpe)
    val v = stage("view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val c = stage("click").as("e")
      .join(v.as("v"),
        col("e.user_id") === col("v.user_id") && col("e.ts") > col("v.t1"))
      .groupBy(col("e.user_id")).agg(min(col("e.ts")).as("t2"))
      .withColumnRenamed("user_id", "user_id2")
    val p = stage("purchase").as("e")
      .join(c.as("c"),
        col("e.user_id") === col("c.user_id2") && col("e.ts") > col("c.t2"))
      .groupBy(col("e.user_id")).agg(min(col("e.ts")).as("t3"))
    def summary(df: DataFrame, step: Long, name: String) =
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(step).as("step"), lit(name).as("stage"), col("n_users"))
    val all = summary(v, 1L, "view")
      .unionByName(summary(c, 2L, "click"))
      .unionByName(summary(p, 3L, "purchase"))
    val base = v.agg(count(lit(1)).as("n0"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("step"))
    all.crossJoin(broadcast(base))
      .withColumn("conv_from_start",
        round(col("n_users").cast("double") / col("n0"), 4))
      .withColumn("conv_from_prev",
        coalesce(round(col("n_users").cast("double") /
          lag(col("n_users"), 1).over(w), 4), lit(1.0)))
      .select(col("step"), col("stage"), col("n_users"),
        col("conv_from_prev"), col("conv_from_start"))
      .orderBy(col("step"))
  }

  private val q153Sql =
    """WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
      |           WHERE event_type = 'view' GROUP BY user_id),
      |c AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
      |      JOIN v ON e.user_id = v.user_id AND e.ts > v.t1
      |      WHERE e.event_type = 'click' GROUP BY e.user_id),
      |p AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
      |      JOIN c ON e.user_id = c.user_id AND e.ts > c.t2
      |      WHERE e.event_type = 'purchase' GROUP BY e.user_id),
      |s AS (SELECT 1 AS step, 'view' AS stage, count(*) AS n_users FROM v
      |      UNION ALL
      |      SELECT 2, 'click', count(*) FROM c
      |      UNION ALL
      |      SELECT 3, 'purchase', count(*) FROM p),
      |b AS (SELECT count(*) AS n0 FROM v)
      |SELECT CAST(step AS BIGINT) AS step, stage, n_users,
      |  coalesce(round(n_users::DOUBLE /
      |    lag(n_users, 1) OVER (ORDER BY step), 4), 1.0) AS conv_from_prev,
      |  round(n_users::DOUBLE / n0, 4) AS conv_from_start
      |FROM s CROSS JOIN b ORDER BY step""".stripMargin

  /** Signup-cohort weekly retention matrix — the other classic event
    * analytic beside the funnel: users cohorted by the ISO week of
    * their first signup, activity collapsed to distinct (user, week)
    * pairs BEFORE the join (the dedup that keeps the join linear in
    * users×weeks, not events), retention = active/cohort-size via a
    * first_value window over the offset-0 row. Week arithmetic stays
    * in exact integer days (both engines truncate to Monday, so the
    * day delta is always a multiple of 7). */
  private def q155(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
    val su = ev.where(col("event_type") === "signup")
      .groupBy(col("user_id"))
      .agg(date_trunc("week", min(col("ts"))).as("cohort"))
    val act = ev.select(col("user_id"),
      date_trunc("week", col("ts")).as("wk")).distinct()
    val j = su.join(act, "user_id")
      .where(col("wk") >= col("cohort"))
      .withColumn("offset_w",
        (datediff(col("wk").cast("date"), col("cohort").cast("date")) / 7)
          .cast("bigint"))
      .groupBy(col("cohort"), col("offset_w"))
      .agg(count(lit(1)).as("n_active"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cohort")).orderBy(col("offset_w"))
    j.withColumn("retention",
        round(col("n_active").cast("double") /
          first(col("n_active")).over(w), 4))
      .orderBy(col("cohort"), col("offset_w"))
  }

  private val q155Sql =
    """WITH su AS (SELECT user_id, date_trunc('week', min(ts)) AS cohort
      |  FROM events WHERE event_type = 'signup' GROUP BY user_id),
      |act AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS wk
      |  FROM events),
      |j AS (SELECT su.cohort,
      |    date_diff('day', su.cohort::DATE, act.wk::DATE) // 7 AS offset_w,
      |    count(*) AS n_active
      |  FROM su JOIN act ON su.user_id = act.user_id
      |  WHERE act.wk >= su.cohort GROUP BY 1, 2)
      |SELECT cohort, CAST(offset_w AS BIGINT) AS offset_w, n_active,
      |  round(n_active::DOUBLE / first_value(n_active)
      |    OVER (PARTITION BY cohort ORDER BY offset_w), 4) AS retention
      |FROM j ORDER BY cohort, offset_w""".stripMargin

  /** Trailing-window anomaly detection over hourly event-type counts —
    * the monitoring query every streaming pipeline runs over its own
    * throughput: each (type, hour) count z-scored against the
    * preceding 24 full hours (`ROWS -24..-1` — the current row never
    * contaminates its own baseline). The moments are sums of INTEGER
    * counts, so μ/σ are exact under any layout with no decimal
    * scaffolding; only complete windows with positive variance emit.
    * One hourly pre-aggregate + one type-keyed window — both linear,
    * both the shape a 100 TB event store wants. */
  private def q157(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStreams.hourlyAnomalies(Tables(s, dir, "events"))

  private val q157Sql =
    """WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hr,
      |    count(*) AS cnt FROM events GROUP BY 1, 2),
      |m AS (SELECT event_type, hr, cnt,
      |    count(*) OVER w AS n_prev,
      |    sum(cnt) OVER w AS s1,
      |    sum(cnt * cnt) OVER w AS s2
      |  FROM h WINDOW w AS (PARTITION BY event_type ORDER BY hr
      |    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
      |SELECT event_type, hr, cnt,
      |  round(s1::DOUBLE / n_prev, 4) AS mu,
      |  round(sqrt(s2::DOUBLE / n_prev -
      |    (s1::DOUBLE / n_prev) * (s1::DOUBLE / n_prev)), 4) AS sigma,
      |  round((cnt - s1::DOUBLE / n_prev) /
      |    sqrt(s2::DOUBLE / n_prev -
      |      (s1::DOUBLE / n_prev) * (s1::DOUBLE / n_prev)), 4) AS z,
      |  CAST(CASE WHEN abs((cnt - s1::DOUBLE / n_prev) /
      |    sqrt(s2::DOUBLE / n_prev -
      |      (s1::DOUBLE / n_prev) * (s1::DOUBLE / n_prev))) >= 3.0
      |    THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly
      |FROM m
      |WHERE n_prev = 24 AND
      |  sqrt(s2::DOUBLE / n_prev -
      |    (s1::DOUBLE / n_prev) * (s1::DOUBLE / n_prev)) > 0
      |ORDER BY event_type, hr""".stripMargin

  /** Triangle count + global clustering coefficient over the
    * same-order part co-occurrence graph — the degree-ordered wedge
    * join (the MapReduce triangle-counting formulation): every edge is
    * oriented from its lower-(degree, id) endpoint to the higher, so
    * each triangle materializes as exactly ONE wedge whose closing
    * edge is probed by a third join, and per-vertex wedge fan-out is
    * bounded by O(√m) — the hub-vertex explosion an id-ordered
    * orientation would hit is exactly what the degree order prevents
    * at 100 TB. Wedge total Σd(d−1)/2 and triangle count are exact
    * integers; the coefficient is one double division. Fully oracled
    * (the oracle replicates the same orientation). */
  /** q161's two-path broadcast gate: the adjacency table broadcasts
    * only while the oriented edge count stays under this bound
    * (Θ(m) longs across the nbrs arrays ⇒ ~80 MB at the limit) —
    * the named-parameter convention of
    * [[graft.ops.GraphOps.broadcastNodeLimit]] and the driver-side
    * `driverPairLimit` gates. Above it the join degrades to a keyed
    * shuffle with identical results. */
  private[queries] val broadcastEdgeLimit = 10000000L

  /** q161's degree-table broadcast gate (r18): deg is |nodes| rows of
    * 16 bytes, so this bound caps the broadcast at ~16 MB — the
    * GraphOps.broadcastNodeLimit default, named here beside its edge
    * sibling so both q161 broadcast knobs retune together. */
  private[queries] val broadcastNodeLimit = 1000000L

  private def q161(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    // (x, y) long pairs only — cached because its consumers (deg and
    // the orientation joins via withDeg) would otherwise each re-run
    // the lineitem self-join + distinct (the dominant cost); the same
    // applies one level up to `adj` below, which the scalar job, the
    // edge-view explode, and the v-side triangle join read under
    // different shapes (no exchange reuse across them). Caching took
    // this query from 17.9s to the cost of one pair materialization
    // at sf0.1. persist, not localCheckpoint:
    // the lineage (scan + self-join) is recomputable, so executor
    // loss degrades to a partition recompute instead of failing the
    // query; release is the CacheManager contract (nearDupExact
    // note): Verify/Bench clearCache between queries.
    val pairs = li.as("a").join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .select(col("a.pk").as("x"), col("b.pk").as("y")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // ONE cache decode for the degree table (explode of both
    // endpoints), not a self-union's two: the r10 persist conversion
    // made each columnar decode a measurable cost (isolated q161
    // 4.2s; with this pass cut and n_edges folded into m below, the
    // cache is decoded twice — deg, orientation join — instead of
    // four times)
    // deg CACHED (r17): it feeds the two orientation joins AND the
    // scalar aggregate below — one explode+groupBy pass instead of
    // three (the old shape recomputed it per consumer and ran a
    // separate edge-view explode for the scalars)
    val deg = pairs
      .select(explode(array(col("x"), col("y"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // ONE scalar job over the CACHED degree table (r17, guide §1.2 —
    // the previous shape exploded the edge view a second time for
    // these scalars, a full extra pass over Θ(m) rows): the
    // undirected degree multiset is identical over pairs and over the
    // oriented edge view (orientation is a bijective edge
    // reprojection), so n_nodes, n_wedges, and — as Σdeg/2 — the
    // broadcast-gate edge count m all fall out of deg directly. This
    // job materializes pairs and deg; adj materializes inside the
    // consumer's own action (its broadcast side builds first, so the
    // edge view reads a hot cache), and pairs must stay cached until
    // then — Bench/Verify clearCache between queries is the release
    // contract (nearDupExact note). Moved BEFORE the orientation
    // joins (r18): the measured node count also prices the degree
    // broadcast gate below.
    val wr = deg
      .agg(coalesce(sum((col("deg") * (col("deg") - 1) / lit(2))
          .cast("bigint")), lit(0L)).as("n_wedges"),
        count(lit(1)).as("n_nodes"),
        coalesce(sum(col("deg")), lit(0L)).as("deg_total"))
      .collect()(0) // 1-row aggregate: the bounded-collect convention
    val m = wr.getAs[Long]("deg_total") / 2L
    val nWedges = wr.getAs[Long]("n_wedges")
    val nNodes = wr.getAs[Long]("n_nodes")
    // Degree-table broadcast gate (r18, guide §3): under
    // broadcastNodeLimit both orientation joins broadcast deg instead
    // of sort-merge-shuffling the Θ(m) pairs cache twice — 2
    // Exchange+Sort pairs deleted from the plan. Above the gate the
    // joins stay keyed shuffles with identical results; the hint must
    // be explicit because the cache-backed deg has no size stats for
    // the static optimizer to broadcast on.
    def hintedDeg(df: DataFrame): DataFrame =
      if (nNodes <= broadcastNodeLimit) broadcast(df) else df
    val withDeg = pairs
      .join(hintedDeg(deg.select(col("node").as("x"),
        col("deg").as("dx"))), "x")
      .join(hintedDeg(deg.select(col("node").as("y"),
        col("deg").as("dy"))), "y")
    val oriented = withDeg.select(
      when(col("dx") < col("dy") ||
        (col("dx") === col("dy") && col("x") < col("y")), col("x"))
        .otherwise(col("y")).as("u"),
      when(col("dx") < col("dy") ||
        (col("dx") === col("dy") && col("x") < col("y")), col("y"))
        .otherwise(col("x")).as("v"))
    // Edge-iterator intersection instead of wedge-materialize-then-
    // semi-join: the wedge join emits Σ out(v)·in(v) rows (49M at
    // sf0.1 — it alone made this query 12s), while intersecting the
    // two endpoints' OUT-adjacency per edge touches only
    // Σ(|adj(u)|+|adj(v)|) ints inside one codegen'd expression and
    // shuffles nothing: the adjacency table is |nodes| rows (out-
    // degree ≤ √m under the degree orientation, so ≤ √m longs per
    // row) and broadcasts. Each triangle u→v, u→w, v→w is counted
    // exactly once, at its (u,v) edge — w sits in adj(u) ∩ adj(v);
    // the other two edges find no completing vertex in OUT-adjacency.
    //
    // ORIENTATION FOLDS INTO THE ADJACENCY AGGREGATION (r15, closing
    // the q161 suite-premium item for good): `oriented` is no longer
    // persisted — the ONE thing every downstream consumer needs is
    // `adj`, and the oriented edge list is recoverable from adj by a
    // narrow EXPLODE (each edge sits in exactly one nbrs array), so
    // persisting the edge list next to its own grouped form was pure
    // storage pressure (array-packed adj is roughly half the bytes of
    // a row-per-edge cache, and the triangle phase now runs with ONE
    // live cache instead of two — the r14 adjudication located the
    // suite-vs-isolated premium exactly in storage/decode pressure on
    // the two persisted caches).
    val adj = oriented.groupBy(col("u"))
      .agg(sort_array(collect_list(col("v"))).as("nbrs"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val empty = array().cast("array<bigint>")
    // The oriented EDGE VIEW over the cached adjacency: one narrow
    // explode recovers every (u, v) edge with nbrs(u) ALREADY
    // attached — the u-side join of the r14 shape is gone entirely
    // (one join in the triangle phase instead of two, zero extra
    // shuffle: the explode is a per-row expansion of the cache).
    val edges = adj.select(col("u"), col("nbrs"),
      explode(col("nbrs")).as("v"))
    // Two-path adjacency join (the driverProbeLimit discipline): the
    // adjacency table is |nodes| rows but Θ(m) total bytes (every
    // oriented edge sits in some nbrs array), so an unconditional
    // broadcast hint would hit the exchange limit as the graph grows.
    // Under broadcastEdgeLimit (~80 MB of longs) the hint applies —
    // and it must be a HINT, because the cache-backed plan has no size
    // stats for the static optimizer to broadcast on — above it the
    // join degrades to a keyed shuffle. Results are join-strategy-
    // independent either way.
    def hinted(df: DataFrame): DataFrame =
      if (m <= broadcastEdgeLimit) broadcast(df) else df
    edges
      .join(hinted(adj.select(col("u").as("v"),
        col("nbrs").as("nbrs_v"))), Seq("v"), "left")
      .agg(coalesce(sum(call_function("graft_isect", col("nbrs"),
        coalesce(col("nbrs_v"), empty))), lit(0L)).as("n_triangles"))
      .select(lit(nNodes).as("n_nodes"), lit(m).as("n_edges"),
        lit(nWedges).as("n_wedges"), col("n_triangles"),
        round(lit(3.0) * col("n_triangles") / lit(nWedges), 6)
          .as("clustering_coeff"))
  }

  private val q161Sql =
    """WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |pairs AS (SELECT DISTINCT a.pk AS x, b.pk AS y
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
      |deg AS (SELECT node, count(*) AS deg FROM (
      |    SELECT x AS node FROM pairs
      |    UNION ALL SELECT y FROM pairs) GROUP BY node),
      |wd AS (SELECT p.x, p.y, dx.deg AS dx, dy.deg AS dy
      |  FROM pairs p JOIN deg dx ON p.x = dx.node
      |  JOIN deg dy ON p.y = dy.node),
      |o AS (SELECT
      |    CASE WHEN dx < dy OR (dx = dy AND x < y) THEN x ELSE y END AS u,
      |    CASE WHEN dx < dy OR (dx = dy AND x < y) THEN y ELSE x END AS v
      |  FROM wd),
      |tri AS (SELECT count(*) AS n_triangles
      |  FROM o e1 JOIN o e2 ON e1.v = e2.u
      |  WHERE EXISTS (SELECT 1 FROM o e3
      |    WHERE e3.u = e1.u AND e3.v = e2.v)),
      |wedges AS (SELECT CAST(sum(deg * (deg - 1) // 2) AS BIGINT)
      |    AS n_wedges, count(*) AS n_nodes FROM deg),
      |ne AS (SELECT count(*) AS n_edges FROM pairs)
      |SELECT n_nodes, n_edges, n_wedges, n_triangles,
      |  round(3.0 * n_triangles / n_wedges, 6) AS clustering_coeff
      |FROM tri CROSS JOIN wedges CROSS JOIN ne""".stripMargin

  /** Count-min-sketch frequency estimation over the document token
    * stream, audited against the exact counts of the top-20 tokens.
    * The sketch is Spark's built-in `count_min_sketch` aggregate
    * (spark-sketch, codegen'd partial aggregation — counter matrices
    * merge by cell-wise add, so the result is bit-identical under any
    * partitioning, unlike a sampled sketch). One pass builds the
    * sketch + token total; the probe deserializes the single ~100 KB
    * sketch row on the driver and evaluates `estimateCount` via a UDF
    * over exactly the 20 post-limit audit rows — bounded cold path,
    * not a hot-path UDF (the repo invariant concerns per-row
    * pipelines). At 100 TB the sketch is the point: a
    * fixed-size (eps,δ) summary of an unbounded token stream,
    * mergeable across any number of executors — the heavy-hitter
    * audit (q123) keeps exact counts only for candidates; this keeps
    * an estimate for EVERY token at O(1/eps·ln 1/δ) memory. */
  private def q147(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.util.sketch.CountMinSketch
    val eps = 0.0005
    def toks = Tables(s, dir, "documents").select(
      explode(split(coalesce(col("text"), lit("")), " ")).as("w"))
    val skRow = toks.agg(
      call_function("count_min_sketch",
        col("w"), lit(eps), lit(0.99), lit(42)).as("sk"),
      count(lit(1)).as("n_total")).head()
    val cms = CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(skRow.getAs[Array[Byte]]("sk")))
    val bound = math.ceil(eps * skRow.getAs[Long]("n_total")).toLong
    val bc = s.sparkContext.broadcast(cms)
    val est = udf((w: String) => bc.value.estimateCount(w))
    // ORACLED since r13 (the q21/q92 envelope pattern): the sketch's
    // estimates are implementation-specific, so they stay OUT of the
    // hashed output — the exact top-20 counts ride it along with the
    // boolean pinning every estimate inside the CMS guarantee
    // est ∈ [exact, exact + ⌈eps·N⌉], which the oracle asserts as the
    // literal 1. A sketch regression (undercount, blown bound) flips
    // the hash; AnalyticSpec keeps the layout-determinism pin.
    toks.groupBy(col("w")).agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("w")).limit(20)
      .withColumn("cms_est", est(col("w")))
      .withColumn("within_bound",
        (col("cms_est") >= col("exact_cnt") &&
          col("cms_est") - col("exact_cnt") <= lit(bound))
          .cast("int").cast("bigint"))
      .select(col("w"), col("exact_cnt"), col("within_bound"))
      .orderBy(col("exact_cnt").desc, col("w"))
  }

  private val q147Sql =
    """SELECT w, count(*) AS exact_cnt, CAST(1 AS BIGINT) AS within_bound
      |FROM (SELECT unnest(string_split(coalesce(text, ''), ' ')) AS w
      |      FROM documents) t
      |GROUP BY w ORDER BY exact_cnt DESC, w LIMIT 20""".stripMargin

  // ---- registry -----------------------------------------------------------

  /** Time-grid densification with forward fill — the resampling step
    * every event-derived feature table needs (ML feature stores and
    * monitoring both consume REGULAR series, but events arrive
    * irregularly): each user's observed span becomes a dense hourly
    * grid, gap hours carry the last observed hour-close value forward
    * plus a staleness counter. Hour-close is the LAST event of the
    * hour by (ts, event_id) — the unique-tiebreak discipline, since
    * ts alone can collide.
    *
    * Scale shape: one (user, hour)-keyed aggregation, a per-user span
    * explode bounded by span × users (never event count), and ONE
    * user-partitioned ordered window for both fills — no self-join
    * per gap, no driver loop. Skew-safe: the window key is the user,
    * and a user's partition is their span, not their event volume. */
  /** Shared core of q162/q165: each user's events collapsed to
    * (hour, count, hour-close) and left-joined onto that user's dense
    * hourly span grid — gap hours surface as null n_events/close. */
  private def hourlyEventGrid(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
    val hourly = ev
      .select(col("user_id"), date_trunc("hour", col("ts")).as("h"),
        col("ts"), col("event_id"), col("value"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("user_id"), col("h"))
          .orderBy(col("ts").desc, col("event_id").desc)))
      .groupBy(col("user_id"), col("h"))
      .agg(count(lit(1)).as("n_events"),
        max(when(col("rn") === 1, col("value"))).as("close"))
    val grid = hourly.groupBy(col("user_id"))
      .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
      .select(col("user_id"),
        explode(sequence(col("h0"), col("h1"), expr("interval 1 hour")))
          .as("h"))
    grid.join(hourly, Seq("user_id", "h"), "left")
  }

  private def q162(s: SparkSession, dir: String): DataFrame = {
    val wf = Window.partitionBy(col("user_id")).orderBy(col("h"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hourlyEventGrid(s, dir)
      .select(col("user_id"), col("h"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        col("n_events").isNotNull.cast("int").cast("bigint")
          .as("is_observed"),
        last(col("close"), ignoreNulls = true).over(wf)
          .as("filled_close"),
        (unix_timestamp(col("h")) -
          unix_timestamp(last(when(col("n_events").isNotNull, col("h")),
            ignoreNulls = true).over(wf)))
          .divide(lit(3600L)).cast("bigint").as("hours_stale"))
      .orderBy(col("user_id"), col("h"))
  }

  private val q162Sql =
    """WITH e AS (SELECT user_id, date_trunc('hour', ts) AS h, ts,
      |    event_id, value FROM events),
      |r AS (SELECT *, row_number() OVER (PARTITION BY user_id, h
      |    ORDER BY ts DESC, event_id DESC) AS rn FROM e),
      |hourly AS (SELECT user_id, h, count(*) AS n_events,
      |    max(CASE WHEN rn = 1 THEN value END) AS close
      |  FROM r GROUP BY user_id, h),
      |span AS (SELECT user_id, min(h) AS h0, max(h) AS h1
      |  FROM hourly GROUP BY user_id),
      |grid AS (SELECT user_id, CAST(gs AS TIMESTAMP) AS h
      |  FROM span, unnest(generate_series(h0, h1, INTERVAL 1 HOUR))
      |    AS t(gs)),
      |j AS (SELECT g.user_id, g.h, hourly.n_events, hourly.close
      |  FROM grid g LEFT JOIN hourly
      |    ON g.user_id = hourly.user_id AND g.h = hourly.h),
      |f AS (SELECT user_id, h,
      |    coalesce(n_events, 0) AS n_events,
      |    CAST(n_events IS NOT NULL AS BIGINT) AS is_observed,
      |    last_value(close IGNORE NULLS) OVER w AS filled_close,
      |    last_value(CASE WHEN n_events IS NOT NULL THEN h END
      |      IGNORE NULLS) OVER w AS last_h
      |  FROM j WINDOW w AS (PARTITION BY user_id ORDER BY h
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT user_id, h, n_events, is_observed, filled_close,
      |  CAST(date_diff('hour', last_h, h) AS BIGINT) AS hours_stale
      |FROM f ORDER BY user_id, h""".stripMargin

  /** Linear interpolation across gap hours — [[q162]]'s forward fill
    * is the right resample for state-like series (a configuration, a
    * balance); for RATE-like series the standard estimate is the
    * line between the surrounding observations. Every gap hour sits
    * strictly inside its user's observed span (the grid is bounded by
    * observed endpoints), so both neighbors always exist — no
    * extrapolation case. The weight is a ratio of exact integer
    * second-counts evaluated in double with the identical expression
    * shape on both engines — bit-equal unrounded (see below).
    *
    * Same scale shape as q162: TWO user-partitioned ordered window
    * passes (one forward, one backward) instead of a per-gap
    * self-join or any driver loop. */
  private def q165(s: SparkSession, dir: String): DataFrame = {
    val wb = Window.partitionBy(col("user_id")).orderBy(col("h"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wa = Window.partitionBy(col("user_id")).orderBy(col("h"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val obsH = when(col("n_events").isNotNull, col("h"))
    val g = hourlyEventGrid(s, dir)
      .select(col("user_id"), col("h"), col("close"),
        col("n_events").isNotNull.cast("int").cast("bigint")
          .as("is_observed"),
        last(col("close"), ignoreNulls = true).over(wb).as("pv"),
        first(col("close"), ignoreNulls = true).over(wa).as("nv"),
        unix_timestamp(last(obsH, ignoreNulls = true).over(wb)).as("pu"),
        unix_timestamp(first(obsH, ignoreNulls = true).over(wa)).as("nu"))
    // UNROUNDED: the two engines run the identical IEEE expression
    // (same integer ratio, same multiply-add order) so the doubles
    // are bit-equal as-is; a final round(,4) would REINTRODUCE
    // divergence, because Spark rounds the shortest decimal rendering
    // (BigDecimal.valueOf) while DuckDB rounds the exact binary —
    // half-ulp inputs split between 4th-decimal neighbors.
    g.select(col("user_id"), col("h"), col("is_observed"),
        when(col("is_observed") === 1L, col("close"))
          .otherwise(col("pv") + (col("nv") - col("pv")) *
            ((unix_timestamp(col("h")) - col("pu")).cast("double") /
              (col("nu") - col("pu")).cast("double")))
          .as("interp_close"))
      .orderBy(col("user_id"), col("h"))
  }

  private val q165Sql =
    """WITH e AS (SELECT user_id, date_trunc('hour', ts) AS h, ts,
      |    event_id, value FROM events),
      |r AS (SELECT *, row_number() OVER (PARTITION BY user_id, h
      |    ORDER BY ts DESC, event_id DESC) AS rn FROM e),
      |hourly AS (SELECT user_id, h, count(*) AS n_events,
      |    max(CASE WHEN rn = 1 THEN value END) AS close
      |  FROM r GROUP BY user_id, h),
      |span AS (SELECT user_id, min(h) AS h0, max(h) AS h1
      |  FROM hourly GROUP BY user_id),
      |grid AS (SELECT user_id, CAST(gs AS TIMESTAMP) AS h
      |  FROM span, unnest(generate_series(h0, h1, INTERVAL 1 HOUR))
      |    AS t(gs)),
      |j AS (SELECT g.user_id, g.h, hourly.n_events, hourly.close
      |  FROM grid g LEFT JOIN hourly
      |    ON g.user_id = hourly.user_id AND g.h = hourly.h),
      |f AS (SELECT user_id, h, close,
      |    CAST(n_events IS NOT NULL AS BIGINT) AS is_observed,
      |    last_value(close IGNORE NULLS) OVER wb AS pv,
      |    first_value(close IGNORE NULLS) OVER wa AS nv,
      |    last_value(CASE WHEN n_events IS NOT NULL THEN h END
      |      IGNORE NULLS) OVER wb AS ph,
      |    first_value(CASE WHEN n_events IS NOT NULL THEN h END
      |      IGNORE NULLS) OVER wa AS nh
      |  FROM j WINDOW
      |    wb AS (PARTITION BY user_id ORDER BY h
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |    wa AS (PARTITION BY user_id ORDER BY h
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
      |SELECT user_id, h, is_observed,
      |  CASE WHEN is_observed = 1 THEN close
      |    ELSE pv + (nv - pv) *
      |      (CAST(date_diff('second', ph, h) AS DOUBLE) /
      |       CAST(date_diff('second', ph, nh) AS DOUBLE)) END
      |    AS interp_close
      |FROM f ORDER BY user_id, h""".stripMargin

  /** 2-D Pareto frontier (skyline) — customers no one beats on BOTH
    * order count and total spend (Börzsönyi et al., "The Skyline
    * Operator", ICDE 2001). Strict dominance: a dominates b iff a is
    * ≥ on both axes and > on at least one; equal points tie and both
    * survive.
    *
    * The naive form is an O(n²) self-join; this plan never runs it.
    * Because only the per-x maximum can survive among rows sharing an
    * x (anything lower is strictly dominated), the frontier is a
    * subset of the per-x argmax rows: aggregate max(y) per x (a
    * domain-sized table, ≤ thousands of distinct order counts at any
    * scale), compute the running max over STRICTLY larger x with one
    * ordered window over that tiny table, broadcast it back, and keep
    * rows where y equals their x's max and exceeds every larger x's
    * max. Rows shuffle once (the per-customer aggregate); the window
    * runs over the x-domain, never the data. A continuous x would be
    * quantile-bucketed first — same plan, bucket id for x. */
  private def q163(s: SparkSession, dir: String): DataFrame = {
    val a = Tables(s, dir, "orders")
      .groupBy(col("o_custkey").as("c_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        round(asD(sum(dec(col("o_totalprice"), 14, 2))), 4)
          .as("total_spend"))
    val bmax = a.groupBy(col("n_orders"))
      .agg(max(col("total_spend")).as("my"))
    val hi = bmax.withColumn("hi",
      max(col("my")).over(Window.orderBy(col("n_orders").desc)
        .rowsBetween(Window.unboundedPreceding, -1)))
    a.join(broadcast(hi), "n_orders")
      .where(col("total_spend") === col("my") &&
        (col("hi").isNull || col("total_spend") > col("hi")))
      .select(col("c_custkey"), col("n_orders"), col("total_spend"))
      .orderBy(col("n_orders"), col("c_custkey"))
  }

  private val q163Sql =
    """WITH a AS (SELECT o_custkey AS c_custkey,
      |    CAST(count(*) AS BIGINT) AS n_orders,
      |    round(CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE),
      |      4) AS total_spend
      |  FROM orders GROUP BY o_custkey)
      |SELECT c_custkey, n_orders, total_spend FROM a
      |WHERE NOT EXISTS (SELECT 1 FROM a b
      |  WHERE (b.n_orders >= a.n_orders AND b.total_spend > a.total_spend)
      |     OR (b.n_orders > a.n_orders AND b.total_spend >= a.total_spend))
      |ORDER BY n_orders, c_custkey""".stripMargin

  /** Community detection over the symmetrized customer↔supplier order
    * graph ([[GraphOps.labelPropagation]]): top communities with
    * their customer/supplier composition — the market-segmentation
    * view of the same graph q142 ranks. Rows-only (iterative label
    * recursion, like q142/q64); GraphOpsSpec pins determinism,
    * layout-independence, and exact communities on synthetic
    * graphs. */
  private def q168(s: SparkSession, dir: String): DataFrame = {
    val edges = Tables(s, dir, "orders")
      .join(Tables(s, dir, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
    val sym = edges.unionByName(
      edges.select(col("dst").as("src"), col("src").as("dst")))
    // oracled since r14 (the q142/q193 envelope convention): the label
    // assignment is an iterative recursion, but label propagation must
    // label EVERY node exactly once — the per-kind totals are exact
    // join arithmetic DuckDB recomputes (a node dropped or labeled
    // twice by the sweep flips them) — and the community count is
    // bounded by the node count. Exact communities on synthetic graphs
    // stay pinned in GraphOpsSpec.
    GraphOps.labelPropagation(sym, iters = 4)
      .agg(
        sum((col("node") % 2 === 0).cast("int").cast("long"))
          .as("n_customers"),
        sum((col("node") % 2 === 1).cast("int").cast("long"))
          .as("n_suppliers"),
        countDistinct(col("label")).as("n_communities"),
        count(lit(1)).as("n_total"))
      .select(col("n_customers"), col("n_suppliers"),
        (col("n_communities") >= 1 &&
          col("n_communities") <= col("n_total"))
          .as("communities_bounded"))
  }

  private val q168Sql =
    """WITH e AS (SELECT o_custkey, l_suppkey
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey)
      |SELECT CAST((SELECT count(DISTINCT o_custkey) FROM e) AS BIGINT)
      |    AS n_customers,
      |  CAST((SELECT count(DISTINCT l_suppkey) FROM e) AS BIGINT)
      |    AS n_suppliers,
      |  TRUE AS communities_bounded""".stripMargin

  /** Multi-source BFS over the customer↔supplier graph
    * ([[GraphOps.shortestHops]]): hop distance from the seed
    * customers to every node within 4 hops — supply-chain blast
    * radius. The ONE iterative graph query with a full oracle: the
    * DuckDB twin is a bounded-depth recursive CTE (UNION-deduped, so
    * path explosion collapses to distinct (node, depth) rows per
    * level), proving the frontier iteration hop-for-hop. */
  private def q175(s: SparkSession, dir: String): DataFrame = {
    val edges = Tables(s, dir, "orders")
      .join(Tables(s, dir, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
    val sym = edges.unionByName(
      edges.select(col("dst").as("src"), col("src").as("dst")))
    val seeds = Tables(s, dir, "orders")
      .where(col("o_custkey") <= 2)
      .select((col("o_custkey") * 2).as("node"))
    GraphOps.shortestHops(sym, seeds, maxHops = 4)
      .select(when(col("node") % 2 === 0, "customer")
          .otherwise("supplier").as("kind"),
        (col("node") / lit(2)).cast("bigint").as("key"),
        col("dist"))
      .orderBy(col("dist"), col("kind"), col("key"))
  }

  private val q175Sql =
    """WITH RECURSIVE e AS (
      |  SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |  UNION ALL
      |  SELECT l_suppkey * 2 + 1, o_custkey * 2
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |seeds AS (SELECT DISTINCT o_custkey * 2 AS node FROM orders
      |  WHERE o_custkey <= 2),
      |r AS (SELECT node, 0 AS d FROM seeds
      |  UNION
      |  SELECT e.dst, r.d + 1 FROM r JOIN e ON e.src = r.node
      |  WHERE r.d < 4)
      |SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
      |    AS kind,
      |  CAST(node // 2 AS BIGINT) AS key,
      |  CAST(min(d) AS BIGINT) AS dist
      |FROM r GROUP BY node
      |ORDER BY dist, kind, key""".stripMargin

  /** First-order Markov transition matrix over per-user event
    * sequences — the behavioural fingerprint beside q153's fixed
    * funnel: for every ordered (from, next) event-type pair, the
    * observed count and the row-normalized transition probability
    * P(next | from). One window shuffle keyed on user (unique
    * (ts, event_id) tiebreak — the determinism contract for equal
    * timestamps) feeding a domain-sized (5×5 here) aggregate; the
    * probability normalization is a window over that tiny table.
    * Sequences are per-user, so the user-keyed window partitioning
    * holds at any event volume. */
  private def q180(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val seq0 = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val pairs = Tables(s, dir, "events")
      .select(col("user_id"), col("event_type").as("from_type"),
        lead(col("event_type"), 1).over(seq0).as("to_type"))
      .where(col("to_type").isNotNull)
    val byFrom = Window.partitionBy(col("from_type"))
    pairs.groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p",
        round(col("n").cast("double") / sum(col("n")).over(byFrom), 4))
      .orderBy(col("from_type"), col("to_type"))
  }

  private val q180Sql =
    """WITH p AS (SELECT event_type AS from_type,
      |    lead(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS to_type
      |  FROM events),
      |c AS (SELECT from_type, to_type, count(*) AS n FROM p
      |  WHERE to_type IS NOT NULL GROUP BY from_type, to_type)
      |SELECT from_type, to_type, n,
      |  round(CAST(n AS DOUBLE) /
      |    sum(n) OVER (PARTITION BY from_type), 4) AS p
      |FROM c ORDER BY from_type, to_type""".stripMargin

  /** Count-min join-cardinality estimate ([[graft.ops.Sketches
    * .cmsTable]]/[[graft.ops.Sketches.cmsJoinSize]]): |orders ⋈
    * lineitem| estimated from two depth×width sketch tables via the
    * classic CM inner product (min_j Σ_b A[j,b]·B[j,b]) beside the
    * exact size — the optimizer-statistics question ("how big will
    * this join be?") answered without joining the relations. The
    * estimate never undercounts (per hash row, co-bucketed keys only
    * ADD cross terms). SketchesSpec pins est ≥ exact, the width=1
    * degenerate closed form Na·Nb, collision-free equality, and
    * layout independence. */
  private def q188(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Sketches
    val o = Tables(s, dir, "orders").select(col("o_orderkey").as("k"))
    val l = Tables(s, dir, "lineitem").select(col("l_orderkey").as("k"))
    // width sized ≳ distinct-key count (the CM sizing rule — the
    // sketch is still only depth×width counters, data-size-free)
    val est = Sketches.cmsJoinSize(
      Sketches.cmsTable(o, col("k"), width = 65536),
      Sketches.cmsTable(l, col("k"), width = 65536))
    val exact = o.groupBy(col("k")).agg(count(lit(1)).as("ca"))
      .join(l.groupBy(col("k")).agg(count(lit(1)).as("cb")), "k")
      .agg(sum(col("ca").cast("decimal(18,0)") *
        col("cb").cast("decimal(18,0)")).as("exact"))
    // ORACLED since r13 (the envelope pattern): the estimate is
    // hash-family-specific, so the hashed output carries the EXACT
    // join size (DuckDB-recomputable) plus the sketch's one
    // DETERMINISTIC guarantee — never undercounting (co-bucketed keys
    // only ADD cross terms) — as a boolean the oracle asserts TRUE;
    // SketchesSpec keeps the closed-form and layout-independence pins
    exact.crossJoin(est)
      .select(col("exact").cast("bigint").as("exact_rows"),
        (col("est").cast("bigint") >= col("exact").cast("bigint"))
          .as("never_undercounts"))
  }

  private val q188Sql =
    """SELECT CAST(sum(ca * cb) AS BIGINT) AS exact_rows,
      |  TRUE AS never_undercounts
      |FROM (SELECT k, count(*) AS ca
      |      FROM (SELECT o_orderkey AS k FROM orders) GROUP BY k) a
      |JOIN (SELECT k, count(*) AS cb
      |      FROM (SELECT l_orderkey AS k FROM lineitem) GROUP BY k) b
      |USING (k)""".stripMargin

  /** Approximate functional-dependency profiling (q189): for each
    * candidate determinant→dependent column pair, the Tane g3 error —
    * the fraction of rows that must be removed for the FD to hold
    * exactly, `(N − Σ_det max_per_value_count) / N`. Key-determined
    * pairs report 0 violations; soft dependencies report their
    * violation mass. The standard data-profiling primitive for schema
    * discovery over ingested corpora (reference infers SCHEMA SHAPE
    * from JSON, JsonSchemaFinder.java:129-147; this profiles VALUE
    * dependencies the shape can't see).
    *
    * Scale: each pair is two keyed shuffles — (det, dep) pair counts,
    * then per-det max/sum over at most |distinct pairs| rows — on a
    * column-pruned scan; the final union is six 1-row aggregates.
    * Fully DuckDB-oracled (pure GROUP BY arithmetic). */
  private def q189(s: SparkSession, dir: String): DataFrame = {
    def g3(df: DataFrame, fd: String, det: Column, dep: Column): DataFrame =
      df.groupBy(det.as("a"), dep.as("b")).agg(count(lit(1)).as("n"))
        .groupBy(col("a"))
        .agg(max(col("n")).as("mx"), sum(col("n")).as("tot"))
        .agg(sum(col("tot")).as("n_rows"), count(lit(1)).as("n_det"),
          (sum(col("tot")) - sum(col("mx"))).as("violations"))
        .select(lit(fd).as("fd"), col("n_rows"), col("n_det"),
          col("violations"),
          round(col("violations").cast("double") /
            col("n_rows").cast("double"), 4).as("g3"))
    val cust = Tables(s, dir, "customer")
    val ord = Tables(s, dir, "orders")
    val part = Tables(s, dir, "part")
    g3(cust, "customer:c_custkey->c_mktsegment",
        col("c_custkey"), col("c_mktsegment"))
      .unionAll(g3(cust, "customer:c_nationkey->c_mktsegment",
        col("c_nationkey"), col("c_mktsegment")))
      .unionAll(g3(ord, "orders:o_custkey->o_orderpriority",
        col("o_custkey"), col("o_orderpriority")))
      .unionAll(g3(ord, "orders:o_orderkey->o_orderstatus",
        col("o_orderkey"), col("o_orderstatus")))
      .unionAll(g3(part, "part:p_brand->p_type",
        col("p_brand"), col("p_type")))
      .unionAll(g3(part, "part:p_partkey->p_size",
        col("p_partkey"), col("p_size")))
      .orderBy(col("fd"))
  }

  private val q189Sql = {
    def one(fd: String, tbl: String, det: String, dep: String): String =
      s"""SELECT '$fd' AS fd, CAST(sum(tot) AS BIGINT) AS n_rows,
         |  count(*) AS n_det,
         |  CAST(sum(tot) - sum(mx) AS BIGINT) AS violations,
         |  round(CAST(sum(tot) - sum(mx) AS DOUBLE) /
         |        CAST(sum(tot) AS DOUBLE), 4) AS g3
         |FROM (SELECT a, max(n) AS mx, sum(n) AS tot
         |      FROM (SELECT $det AS a, $dep AS b, count(*) AS n
         |            FROM $tbl GROUP BY 1, 2) GROUP BY 1)""".stripMargin
    Seq(
      one("customer:c_custkey->c_mktsegment", "customer",
        "c_custkey", "c_mktsegment"),
      one("customer:c_nationkey->c_mktsegment", "customer",
        "c_nationkey", "c_mktsegment"),
      one("orders:o_custkey->o_orderpriority", "orders",
        "o_custkey", "o_orderpriority"),
      one("orders:o_orderkey->o_orderstatus", "orders",
        "o_orderkey", "o_orderstatus"),
      one("part:p_brand->p_type", "part", "p_brand", "p_type"),
      one("part:p_partkey->p_size", "part", "p_partkey", "p_size"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY fd")
  }

  /** Frequent contiguous 3-step event paths within 30-minute sessions
    * (q191): gaps-and-islands sessionization (lag > 1800 s opens a new
    * session), then every contiguous `a>b>c` event-type window inside
    * a session, counted globally — the "what do users actually do"
    * sequence-mining primitive one level up from q180's first-order
    * transition matrix (which forgets everything beyond one hop).
    *
    * Scale: both windows partition by user (one shuffle — the second
    * window adds sid to the SAME user partitioning, no extra
    * exchange), then one path-keyed count; top-20 is
    * TakeOrderedAndProject. (ts, event_id) is a total order per user
    * so lag/lead are deterministic; (n, path) is unique per output row
    * so the limit-20 cut is engine-stable. */
  /** Gaps-and-islands sessionization shared by q191/q197: a 30-min
    * µs-exact inactivity gap opens a new session; (ts, event_id) is a
    * total order per user so the assignment is deterministic. */
  private def sessionized(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("gap_us",
        unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1)
          .over(byUser)))
      .withColumn("new_s",
        when(col("gap_us").isNull || col("gap_us") > 1800L * 1000000L, 1)
          .otherwise(0))
      .withColumn("sid", sum(col("new_s")).over(byUser))
  }

  private def q191(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bySession = Window.partitionBy(col("user_id"), col("sid"))
      .orderBy(col("ts"), col("event_id"))
    sessionized(s, dir)
      .withColumn("e2", lead(col("event_type"), 1).over(bySession))
      .withColumn("e3", lead(col("event_type"), 2).over(bySession))
      .where(col("e2").isNotNull && col("e3").isNotNull)
      .groupBy(concat_ws(">", col("event_type"), col("e2"), col("e3"))
        .as("path"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path"))
      .limit(20)
  }

  private val q191Sql =
    """WITH flagged AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
      |         THEN 1 ELSE 0 END AS new_s
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), sess AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                     ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM flagged
      |), steps AS (
      |  SELECT event_type,
      |    lead(event_type, 1) OVER w2 AS e2,
      |    lead(event_type, 2) OVER w2 AS e3
      |  FROM sess
      |  WINDOW w2 AS (PARTITION BY user_id, sid ORDER BY ts, event_id)
      |)
      |SELECT concat_ws('>', event_type, e2, e3) AS path,
      |  count(*) AS n
      |FROM steps WHERE e2 IS NOT NULL AND e3 IS NOT NULL
      |GROUP BY 1 ORDER BY n DESC, path LIMIT 20""".stripMargin

  /** HITS hubs/authorities (q193, [[GraphOps.hits]]) over the
    * DIRECTED customer→supplier order graph — who are the strongest
    * endorsers (customers whose orders touch the influential
    * suppliers) and the strongest authorities (suppliers endorsed by
    * the strong customers)? q142's PageRank answers global stationary
    * mass on the symmetrized graph; HITS keeps the direction and
    * answers the mutually-reinforcing pair. Even/odd id encoding
    * keeps the bipartite sides disjoint. Rows-only (power iteration
    * is not SQL-expressible); GraphOpsSpec pins the exact fixpoint
    * ordering on a hand-computable graph plus bit-identical scores
    * under repartitioning. */
  /** Oracled since r14 via the q142 envelope convention: HITS scores
    * are power-iteration outputs, but per-kind node counts are exact
    * join arithmetic (DuckDB-computable) and the L1 normalization the
    * sweeps maintain (Σscore = 1 per kind, within the 6-decimal
    * rounding ulp budget) plus non-negativity are in-query booleans.
    * Local-reference bit parity stays in GraphOpsSpec. */
  private def q193(s: SparkSession, dir: String): DataFrame = {
    val edges = Tables(s, dir, "orders")
      .join(Tables(s, dir, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
    GraphOps.hits(edges, iters = 5)
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n_nodes"),
        sum(col("score")).as("mass"),
        min(col("score")).as("min_score"))
      .select(col("kind"), col("n_nodes"),
        (abs(col("mass") - 1.0) <=
          col("n_nodes").cast("double") * 5e-7 + 1e-6).as("mass_ok"),
        (col("min_score") >= 0.0).as("nonneg_ok"))
      .orderBy(col("kind"))
  }

  private val q193Sql =
    """WITH e AS (SELECT o_custkey, l_suppkey
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey)
      |SELECT 'authority' AS kind,
      |  CAST((SELECT count(DISTINCT l_suppkey) FROM e) AS BIGINT)
      |    AS n_nodes,
      |  TRUE AS mass_ok, TRUE AS nonneg_ok
      |UNION ALL
      |SELECT 'hub',
      |  CAST((SELECT count(DISTINCT o_custkey) FROM e) AS BIGINT),
      |  TRUE, TRUE
      |ORDER BY kind""".stripMargin

  /** Exact-arithmetic Pearson correlation matrix (q194): all six
    * pairwise correlations of the lineitem measures from ONE
    * column-pruned pass — 14 decimal-exact moment sums (Σx, Σx²,
    * Σxy) in a single partial+final aggregate, then the closed form
    * (nΣxy − ΣxΣy)/(√(nΣx²−(Σx)²)·√(nΣy²−(Σy)²)) in double on the
    * 1-row result. Engine-native `corr()` is a streaming covariance
    * (Welford) whose float accumulation order is layout-dependent —
    * the moment-sum form is exactly associative, so the matrix is
    * bit-identical on any partitioning AND SQL-reproducible (full
    * DuckDB oracle; same discipline as q76's integer-exact
    * percentiles vs engine-native percentile). */
  private def q194(s: SparkSession, dir: String): DataFrame = {
    val vars = Seq("l_quantity" -> "qty", "l_extendedprice" -> "price",
      "l_discount" -> "disc", "l_tax" -> "tax")
    def m(e: Column) = sum(e.cast("decimal(30,8)"))
    val moments = Tables(s, dir, "lineitem").agg(
      count(lit(1)).as("n"),
      vars.map { case (c, a) => m(col(c)).as(s"s_$a") } ++
        vars.map { case (c, a) => m(col(c) * col(c)).as(s"ss_$a") } ++
        (for {
          i <- vars.indices; j <- vars.indices if i < j
          (ci, ai) = vars(i); (cj, aj) = vars(j)
        } yield m(col(ci) * col(cj)).as(s"sp_${ai}_$aj")): _*)
    val pairs = for {
      i <- vars.indices; j <- vars.indices if i < j
      ai = vars(i)._2; aj = vars(j)._2
    } yield {
      val (n, sx, sy) = (col("n").cast("double"),
        col(s"s_$ai").cast("double"), col(s"s_$aj").cast("double"))
      val (sxx, syy, sxy) = (col(s"ss_$ai").cast("double"),
        col(s"ss_$aj").cast("double"), col(s"sp_${ai}_$aj").cast("double"))
      moments.select(lit(s"$ai~$aj").as("pair"), col("n"),
        round((n * sxy - sx * sy) /
          (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 4)
          .as("corr"))
    }
    pairs.reduce(_ unionAll _).orderBy(col("pair"))
  }

  private val q194Sql = {
    val vars = Seq("l_quantity" -> "qty", "l_extendedprice" -> "price",
      "l_discount" -> "disc", "l_tax" -> "tax")
    val momentCols = (
      vars.map { case (c, a) =>
        s"sum(CAST($c AS DECIMAL(30,8))) AS s_$a" } ++
      vars.map { case (c, a) =>
        s"sum(CAST($c * $c AS DECIMAL(30,8))) AS ss_$a" } ++
      (for {
        i <- vars.indices; j <- vars.indices if i < j
        (ci, ai) = vars(i); (cj, aj) = vars(j)
      } yield s"sum(CAST($ci * $cj AS DECIMAL(30,8))) AS sp_${ai}_$aj"))
      .mkString(",\n    ")
    val sel = (for {
      i <- vars.indices; j <- vars.indices if i < j
      ai = vars(i)._2; aj = vars(j)._2
    } yield
      s"""SELECT '$ai~$aj' AS pair, n,
         |  round((CAST(n AS DOUBLE) * CAST(sp_${ai}_$aj AS DOUBLE)
         |      - CAST(s_$ai AS DOUBLE) * CAST(s_$aj AS DOUBLE)) /
         |    (sqrt(CAST(n AS DOUBLE) * CAST(ss_$ai AS DOUBLE)
         |        - CAST(s_$ai AS DOUBLE) * CAST(s_$ai AS DOUBLE)) *
         |     sqrt(CAST(n AS DOUBLE) * CAST(ss_$aj AS DOUBLE)
         |        - CAST(s_$aj AS DOUBLE) * CAST(s_$aj AS DOUBLE))), 4)
         |    AS corr FROM m""".stripMargin)
      .mkString("\nUNION ALL\n")
    s"""WITH m AS (
       |  SELECT count(*) AS n,
       |    $momentCols
       |  FROM lineitem
       |)
       |$sel
       |ORDER BY pair""".stripMargin
  }

  /** Session-level association rules (q197, the Agrawal–Srikant
    * support/confidence/lift frame over q191's sessions): which event
    * types co-occur in the same session beyond what their base rates
    * predict? Market-basket analytics with the session as the basket
    * — the set-co-occurrence complement to q178's ADJACENCY
    * collocations (PMI sees neighboring tokens; this sees "both
    * happened in the visit", any distance apart).
    *
    * Scale: one sessionization window (user-keyed shuffle), one
    * distinct to collapse each basket to its type set, then the
    * pair self-join runs WITHIN session keys only (baskets have ≤
    * |event types| items — never all-pairs across baskets); the
    * per-type session counts and the grand total are domain-sized
    * broadcasts. All counts integer-exact; conf/lift double with
    * identical expression shape on both engines; fully oracled. */
  private def q197(s: SparkSession, dir: String): DataFrame = {
    val items = sessionized(s, dir)
      .select(col("user_id"), col("sid"), col("event_type")).distinct()
    val nS = items.select(col("user_id"), col("sid")).distinct()
      .agg(count(lit(1)).as("n_s"))
    val typeCounts = items.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_t"))
    val pairs = items.as("x")
      .join(items.as("y"),
        col("x.user_id") === col("y.user_id") &&
          col("x.sid") === col("y.sid") &&
          col("x.event_type") =!= col("y.event_type"))
      .groupBy(col("x.event_type").as("ant"),
        col("y.event_type").as("cons"))
      .agg(count(lit(1)).as("n_both"))
    pairs
      .join(broadcast(typeCounts
        .select(col("event_type").as("ant"), col("n_t").as("n_ant"))), "ant")
      .join(broadcast(typeCounts
        .select(col("event_type").as("cons"), col("n_t").as("n_cons"))),
        "cons")
      .crossJoin(broadcast(nS))
      .where(col("n_both") >= 5)
      .select(col("ant"), col("cons"), col("n_both"),
        round(col("n_both").cast("double") / col("n_ant"), 4).as("conf"),
        round((col("n_both").cast("double") * col("n_s")) /
          (col("n_ant").cast("double") * col("n_cons")), 4).as("lift"))
      .orderBy(col("ant"), col("cons"))
  }

  private val q197Sql =
    """WITH flagged AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
      |         THEN 1 ELSE 0 END AS new_s
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), items AS (
      |  SELECT DISTINCT user_id, sid, event_type FROM (
      |    SELECT user_id, event_type,
      |      sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                       ROWS UNBOUNDED PRECEDING) AS sid
      |    FROM flagged)
      |), ns AS (
      |  SELECT count(*) AS n_s FROM
      |    (SELECT DISTINCT user_id, sid FROM items)
      |), tc AS (
      |  SELECT event_type, count(*) AS n_t FROM items GROUP BY 1
      |), pairs AS (
      |  SELECT x.event_type AS ant, y.event_type AS cons,
      |    count(*) AS n_both
      |  FROM items x JOIN items y
      |    ON x.user_id = y.user_id AND x.sid = y.sid
      |   AND x.event_type <> y.event_type
      |  GROUP BY 1, 2
      |)
      |SELECT ant, cons, n_both,
      |  round(CAST(n_both AS DOUBLE) / ta.n_t, 4) AS conf,
      |  round((CAST(n_both AS DOUBLE) * ns.n_s) /
      |        (CAST(ta.n_t AS DOUBLE) * tb.n_t), 4) AS lift
      |FROM pairs
      |JOIN tc ta ON pairs.ant = ta.event_type
      |JOIN tc tb ON pairs.cons = tb.event_type, ns
      |WHERE n_both >= 5
      |ORDER BY ant, cons""".stripMargin

  /** Referential-integrity audit (q198) — the cross-TABLE member of
    * the data-quality family (q158 audits rows, q189 audits columns,
    * this audits the joins between tables): orphan-key rate for every
    * FK edge of the star schema, plus one deliberately-constrained
    * parent (orders with status 'F' only) so the query demonstrates a
    * non-zero rate and the oracle proves the counting, not just
    * zeros. Each edge is ONE left join against the DISTINCT parent
    * keys (never the parent payload) + a conditional count — a keyed
    * shuffle per edge on column-pruned scans; at 100 TB each audit
    * edge costs what the corresponding join itself would. */
  private def q198(s: SparkSession, dir: String): DataFrame = {
    def ri(child: DataFrame, ckey: String, parent: DataFrame,
           pkey: String, label: String): DataFrame =
      child.select(col(ckey).as("k"))
        .join(parent.select(col(pkey).as("k")).distinct()
          .withColumn("hit", lit(1)), Seq("k"), "left")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("hit").isNull, 1L).otherwise(0L)).as("n_orphans"))
        .select(lit(label).as("rel"), col("n_rows"), col("n_orphans"),
          round(col("n_orphans").cast("double") /
            col("n_rows").cast("double"), 6).as("orphan_rate"))
    val li = Tables(s, dir, "lineitem"); val o = Tables(s, dir, "orders")
    val c = Tables(s, dir, "customer"); val n = Tables(s, dir, "nation")
    val p = Tables(s, dir, "part"); val su = Tables(s, dir, "supplier")
    ri(li, "l_orderkey", o, "o_orderkey", "lineitem->orders")
      .unionAll(ri(li, "l_partkey", p, "p_partkey", "lineitem->part"))
      .unionAll(ri(li, "l_suppkey", su, "s_suppkey", "lineitem->supplier"))
      .unionAll(ri(o, "o_custkey", c, "c_custkey", "orders->customer"))
      .unionAll(ri(c, "c_nationkey", n, "n_nationkey", "customer->nation"))
      .unionAll(ri(li, "l_orderkey", o.where(col("o_orderstatus") === "F"),
        "o_orderkey", "lineitem->orders[status=F]"))
      .orderBy(col("rel"))
  }

  private val q198Sql = {
    def one(child: String, ckey: String, parent: String, pkey: String,
            label: String): String =
      s"""SELECT '$label' AS rel, count(*) AS n_rows,
         |  CAST(sum(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_orphans,
         |  round(CAST(sum(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END)
         |          AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS orphan_rate
         |FROM (SELECT $ckey AS k FROM $child) ch
         |LEFT JOIN (SELECT DISTINCT $pkey AS k FROM $parent) p
         |  ON ch.k = p.k""".stripMargin
    Seq(
      one("lineitem", "l_orderkey", "orders", "o_orderkey",
        "lineitem->orders"),
      one("lineitem", "l_partkey", "part", "p_partkey", "lineitem->part"),
      one("lineitem", "l_suppkey", "supplier", "s_suppkey",
        "lineitem->supplier"),
      one("orders", "o_custkey", "customer", "c_custkey",
        "orders->customer"),
      one("customer", "c_nationkey", "nation", "n_nationkey",
        "customer->nation"),
      one("lineitem", "l_orderkey",
        "(SELECT * FROM orders WHERE o_orderstatus = 'F')", "o_orderkey",
        "lineitem->orders[status=F]"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY rel")
  }

  /** Benford first-digit audit (q199): the leading digit of
    * o_totalprice against Benford's log10(1 + 1/d) expectation, with
    * per-digit χ² contributions — the distribution-shape cousin of
    * q160's independence χ² and a standard synthetic-data /
    * fabrication screen. The expected shares are HARD-CODED six-digit
    * constants on both engines (a live log10 would hash-diverge by an
    * ulp between libm and java.lang.Math); digit extraction is pure
    * string/integer arithmetic. One partial+final aggregate over one
    * column-pruned scan. */
  private def q199(s: SparkSession, dir: String): DataFrame = {
    val benford = Seq(0.30103, 0.176091, 0.124939, 0.09691, 0.079181,
      0.066947, 0.057992, 0.051153, 0.045757)
    val expCol = (1 to 9).foldLeft(lit(0.0)) { (acc, d) =>
      when(col("digit") === d, lit(benford(d - 1))).otherwise(acc) }
    val digits = Tables(s, dir, "orders")
      .select(substring(floor(col("o_totalprice")).cast("string"), 1, 1)
        .cast("bigint").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    digits
      .crossJoin(broadcast(digits.agg(sum(col("n")).as("n_total"))))
      .select(col("digit"), col("n"),
        round(col("n").cast("double") / col("n_total"), 6).as("share"),
        expCol.as("expected_share"),
        round(
          (col("n").cast("double") - col("n_total") * expCol) *
            (col("n").cast("double") - col("n_total") * expCol) /
            (col("n_total") * expCol), 4).as("chi2_term"))
      .orderBy(col("digit"))
  }

  private val q199Sql = {
    val benford = Seq(0.30103, 0.176091, 0.124939, 0.09691, 0.079181,
      0.066947, 0.057992, 0.051153, 0.045757)
    // literals cast to DOUBLE: a bare 0.30103 is DECIMAL in DuckDB,
    // and BIGINT·DECIMAL arithmetic would diverge from Spark's double
    val cases = (1 to 9)
      .map(d => s"WHEN digit = $d THEN CAST(${benford(d - 1)} AS DOUBLE)")
      .mkString("CASE ", " ", " ELSE CAST(0.0 AS DOUBLE) END")
    s"""WITH d AS (
       |  SELECT CAST(substring(CAST(floor(o_totalprice) AS VARCHAR), 1, 1)
       |      AS BIGINT) AS digit
       |  FROM orders
       |), g AS (
       |  SELECT digit, count(*) AS n FROM d GROUP BY 1
       |), t AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM g)
       |SELECT digit, n,
       |  round(CAST(n AS DOUBLE) / n_total, 6) AS share,
       |  $cases AS expected_share,
       |  round((CAST(n AS DOUBLE) - n_total * ($cases)) *
       |        (CAST(n AS DOUBLE) - n_total * ($cases)) /
       |        (n_total * ($cases)), 4) AS chi2_term
       |FROM g, t ORDER BY digit""".stripMargin
  }

  /** Weekly cohort retention — the canonical product-analytics grid
    * (users cohorted by first-seen ISO week × activity-week offset,
    * retention = active / cohort size). Three keyed shuffles, all on
    * bounded dimensions: the first-seen table is USER-sized (≪ events
    * at any scale — the natural dimension a warehouse materializes),
    * the distinct (user, week) activity table is user×weeks-sized,
    * and the final grid is weeks², driver-screen-sized. Active counts
    * are plain count(*) over the already-distinct activity rows —
    * no countDistinct re-shuffle. Both engines truncate weeks to ISO
    * Monday and the day-difference is an exact multiple of 7, so the
    * offset arithmetic is integer-exact; fully oracled. */
  private def q208(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.queries.Tables(s, dir, "events")
    val first = ev.groupBy(col("user_id"))
      .agg(date_trunc("week", min(col("ts"))).as("cw"))
    val activity = ev
      .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
      .distinct()
    val grid = activity.join(first, Seq("user_id"))
      .groupBy(col("cw"),
        (datediff(col("wk"), col("cw")) / 7).cast("bigint").as("week_offset"))
      .agg(count(lit(1)).as("n_active"))
    val sizes = first.groupBy(col("cw")).agg(count(lit(1)).as("n_cohort"))
    grid.join(sizes, Seq("cw"))
      // rendered as a yyyy-MM-dd string: a DATE output column crosses
      // the driver's pandas compare as date-object vs datetime64
      // (dtype-kind mismatch) — the decimal-as-double lesson applied
      // to dates
      .select(date_format(col("cw"), "yyyy-MM-dd").as("cohort_week"),
        col("week_offset"),
        col("n_active"), col("n_cohort"),
        round(col("n_active").cast("double") / col("n_cohort"), 4)
          .as("retention"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  private val q208Sql =
    """WITH f AS (SELECT user_id, date_trunc('week', min(ts)) AS cw
      |  FROM events GROUP BY user_id),
      |a AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS wk
      |  FROM events),
      |g AS (SELECT cw,
      |    CAST(date_diff('day', cw, wk) / 7 AS BIGINT) AS week_offset,
      |    count(*) AS n_active
      |  FROM a JOIN f USING (user_id) GROUP BY cw, week_offset),
      |c AS (SELECT cw, count(*) AS n_cohort FROM f GROUP BY cw)
      |SELECT strftime(g.cw, '%Y-%m-%d') AS cohort_week, week_offset, n_active,
      |  n_cohort,
      |  round(CAST(n_active AS DOUBLE) / n_cohort, 4) AS retention
      |FROM g JOIN c USING (cw)
      |ORDER BY cohort_week, week_offset""".stripMargin

  /** Ordered conversion funnel view → click → purchase: a user
    * reaches stage k only via an event strictly AFTER their stage-k−1
    * time (the order requirement is what separates a funnel from
    * three independent counts). Stage tables chain by conditional
    * min: user-sized frames after the first aggregate, each stage one
    * keyed join + aggregate; the three event scans each push their
    * event_type filter into the parquet scan, so at 100 TB every
    * stage reads only its own slice. Final report is 3 rows. Fully
    * oracled — identical conditional-min chain in SQL. */
  private def q209(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.queries.Tables(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("ts"))
    val t1 = ev.where(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val t2 = ev.where(col("event_type") === "click")
      .join(t1, Seq("user_id")).where(col("ts") > col("t1"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
    val t3 = ev.where(col("event_type") === "purchase")
      .join(t2, Seq("user_id")).where(col("ts") > col("t2"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
    val n = t1.agg(count(lit(1)).as("n1"))
      .crossJoin(t2.agg(count(lit(1)).as("n2")))
      .crossJoin(t3.agg(count(lit(1)).as("n3")))
    // nullif guards the empty-stage case IDENTICALLY on both engines:
    // Spark's non-ANSI x/0 yields NULL but DuckDB's IEEE float ops
    // yield inf — an un-guarded ratio hash-diverges the moment a
    // stage is empty (review r10)
    n.select(expr(
      """stack(3,
        |'1_view', n1, CAST(NULL AS DOUBLE),
        |'2_click', n2, round(CAST(n2 AS DOUBLE) / nullif(n1, 0), 4),
        |'3_purchase', n3, round(CAST(n3 AS DOUBLE) / nullif(n2, 0), 4))
        |AS (stage, n_users, conversion)""".stripMargin))
      .orderBy(col("stage"))
  }

  private val q209Sql =
    """WITH t1 AS (SELECT user_id, min(ts) AS t1 FROM events
      |  WHERE event_type = 'view' GROUP BY user_id),
      |t2 AS (SELECT e.user_id, min(ts) AS t2 FROM events e
      |  JOIN t1 USING (user_id)
      |  WHERE event_type = 'click' AND ts > t1 GROUP BY e.user_id),
      |t3 AS (SELECT e.user_id, min(ts) AS t3 FROM events e
      |  JOIN t2 USING (user_id)
      |  WHERE event_type = 'purchase' AND ts > t2 GROUP BY e.user_id),
      |n AS (SELECT (SELECT count(*) FROM t1) AS n1,
      |  (SELECT count(*) FROM t2) AS n2,
      |  (SELECT count(*) FROM t3) AS n3)
      |SELECT stage, n_users, conversion FROM (
      |  SELECT '1_view' AS stage, n1 AS n_users,
      |    CAST(NULL AS DOUBLE) AS conversion FROM n
      |  UNION ALL SELECT '2_click', n2,
      |    round(CAST(n2 AS DOUBLE) / nullif(n1, 0), 4) FROM n
      |  UNION ALL SELECT '3_purchase', n3,
      |    round(CAST(n3 AS DOUBLE) / nullif(n2, 0), 4) FROM n)
      |ORDER BY stage""".stripMargin

  /** Marketing attribution over the event stream: every purchase is
    * credited to the user's FIRST and LAST marketing touch
    * (click/view) preceding it in (ts, event_id) order — the two
    * standard single-touch models, computed in ONE window pass
    * (running first/last with ignoreNulls over unbounded-preceding
    * frames; no self-join, no per-user collect, state bounded by two
    * carried values per row). Purchases with no prior touch land in
    * the 'none' bucket so credit totals reconcile to the purchase
    * total. Revenue sums go through DECIMAL(14,2) on both engines
    * (the driver-contract float-sum rule) and out as DOUBLE. */
  private def q215(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val touch =
      when(col("event_type").isin("click", "view"), col("event_type"))
    val p = graft.queries.Tables(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"), col("value"))
      .withColumn("first_touch", first(touch, ignoreNulls = true).over(w))
      .withColumn("last_touch", last(touch, ignoreNulls = true).over(w))
      .where(col("event_type") === "purchase")
    // both models fold out of ONE pass (explode of a 2-struct array)
    // instead of a self-union that would run the scan + window twice —
    // plan-pinned to a single events scan in PlanQualitySpec
    p.select(explode(array(
        struct(lit("first").as("model"),
          coalesce(col("first_touch"), lit("none")).as("touch")),
        struct(lit("last").as("model"),
          coalesce(col("last_touch"), lit("none")).as("touch")))).as("mt"),
        col("value"))
      .select(col("mt.model").as("model"), col("mt.touch").as("touch"),
        col("value"))
      .groupBy(col("model"), col("touch"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(col("value").cast("decimal(14,2)")).cast("double")
          .as("sum_value"))
      .orderBy(col("model"), col("touch"))
  }

  private val q215Sql =
    """WITH t AS (SELECT user_id, ts, event_id, event_type, value,
      |    first_value(CASE WHEN event_type IN ('click','view')
      |        THEN event_type END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS first_touch,
      |    last_value(CASE WHEN event_type IN ('click','view')
      |        THEN event_type END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS last_touch
      |  FROM events),
      |p AS (SELECT * FROM t WHERE event_type = 'purchase'),
      |u AS (SELECT 'first' AS model,
      |    coalesce(first_touch, 'none') AS touch, value FROM p
      |  UNION ALL SELECT 'last', coalesce(last_touch, 'none'), value FROM p)
      |SELECT model, touch, count(*) AS n_purchases,
      |  CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS sum_value
      |FROM u GROUP BY model, touch ORDER BY model, touch""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q215_touch_attribution" -> (q215 _),
    "q208_cohort_retention" -> (q208 _),
    "q209_funnel_conversion" -> (q209 _),
    "q188_join_size_estimate" -> (q188 _),
    "q189_fd_profile" -> (q189 _),
    "q191_event_paths" -> (q191 _),
    "q193_hits_ranking" -> (q193 _),
    "q194_corr_matrix" -> (q194 _),
    "q197_association_rules" -> (q197 _),
    "q198_ri_audit" -> (q198 _),
    "q199_benford_audit" -> (q199 _),
    "q180_markov_transitions" -> (q180 _),
    "q76_exact_percentiles" -> (q76 _),
    "q77_ntile_buckets" -> (q77 _),
    "q78_exists_subquery" -> (q78 _),
    "q79_scalar_subquery" -> (q79 _),
    "q80_mode_per_group" -> (q80 _),
    "q81_range_interval_window" -> (q81 _),
    "q82_lateral_topn" -> (q82 _),
    "q83_csv_roundtrip" -> (q83 _),
    "q84_view_pipeline" -> (q84 _),
    "q89_salted_agg" -> (q89 _),
    "q90_salted_join" -> (q90 _),
    "q92_approx_percentiles" -> (q92 _),
    "q142_pagerank" -> (q142 _),
    "q147_countmin_audit" -> (q147 _),
    "q153_event_funnel" -> (q153 _),
    "q155_retention_cohorts" -> (q155 _),
    "q157_event_anomalies" -> (q157 _),
    "q161_triangle_count" -> (q161 _),
    "q162_time_grid_fill" -> (q162 _),
    "q163_pareto_frontier" -> (q163 _),
    "q165_linear_interp" -> (q165 _),
    "q168_communities" -> (q168 _),
    "q175_bfs_hops" -> (q175 _))
  // q168 rows-only like q142: the label recursion has no SQL oracle;
  // GraphOpsSpec pins exact communities on synthetic graphs
  // q21/q92/q147 are oracled since r13 via the envelope pattern:
  // exact values + an in-query boolean pinning the sketch inside its
  // guarantee; AnalyticSpec keeps the layout-determinism pins

  val oracle: Map[String, String] = Map(
    "q168_communities" -> q168Sql,
    "q193_hits_ranking" -> q193Sql,
    "q142_pagerank" -> q142Sql,
    "q215_touch_attribution" -> q215Sql,
    "q208_cohort_retention" -> q208Sql,
    "q209_funnel_conversion" -> q209Sql,
    "q189_fd_profile" -> q189Sql,
    "q191_event_paths" -> q191Sql,
    "q194_corr_matrix" -> q194Sql,
    "q197_association_rules" -> q197Sql,
    "q198_ri_audit" -> q198Sql,
    "q199_benford_audit" -> q199Sql,
    "q76_exact_percentiles" -> q76Sql,
    "q92_approx_percentiles" -> q92Sql,
    "q147_countmin_audit" -> q147Sql,
    "q188_join_size_estimate" -> q188Sql,
    "q77_ntile_buckets" -> q77Sql,
    "q78_exists_subquery" -> q78Sql,
    "q79_scalar_subquery" -> q79Sql,
    "q80_mode_per_group" -> q80Sql,
    "q81_range_interval_window" -> q81Sql,
    "q82_lateral_topn" -> q82Sql,
    "q83_csv_roundtrip" -> q83Sql,
    "q84_view_pipeline" -> q84Sql,
    "q89_salted_agg" -> q89Sql,
    "q90_salted_join" -> q90Sql,
    "q180_markov_transitions" -> q180Sql,
    "q153_event_funnel" -> q153Sql,
    "q155_retention_cohorts" -> q155Sql,
    "q157_event_anomalies" -> q157Sql,
    "q161_triangle_count" -> q161Sql,
    "q162_time_grid_fill" -> q162Sql,
    "q163_pareto_frontier" -> q163Sql,
    "q165_linear_interp" -> q165Sql,
    "q175_bfs_hops" -> q175Sql)
}
