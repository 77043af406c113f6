package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational operator inventory (SURVEY §2.2): the capabilities the
  * reference lacks entirely, surfaced through Spark built-ins so that
  * Catalyst/Tungsten provide pushdown, pruning, partial aggregation,
  * broadcast selection, AQE and codegen for free.
  *
  * Conventions shared by every query (and mirrored in the DuckDB
  * oracle SQL):
  *   - double measures are cast to DECIMAL *before* aggregation —
  *     decimal addition is exact and associative, so distributed
  *     (partial+final, any partitioning) sums are bit-identical to the
  *     oracle's sequential sums; raw double sums would drift by ulps
  *     under reordering;
  *   - the FINAL rendering of every decimal output is cast back to
  *     DOUBLE on both sides: decimal→double conversion is correctly
  *     rounded in both engines, so the bits match, whereas leaving the
  *     column DECIMAL exposes the engines' differing precision/scale
  *     inference to the driver's type-preserving hash (round-1
  *     hash_match failures on exactly the decimal-output queries);
  *   - every result carries a total ORDER BY with a unique tiebreak,
  *     so the rowset is fully deterministic;
  *   - aggregate/computed columns are aliased identically on both
  *     sides (the driver's compare matches columns by name).
  *
  * Scale notes: only genuinely bounded dims (region: 5 rows,
  * nation: 25) get an explicit `broadcast()` hint; every other join is
  * left to the optimizer + AQE (at 100 TB part/customer/supplier are
  * not broadcastable, and hard-coding a hint would be wrong at scale).
  */
object Relational {

  private def dec(c: Column, p: Int, s: Int): Column = c.cast(s"decimal($p,$s)")

  /** Final rendering of an exact-decimal result as a correctly-rounded
    * double (see class doc: decimal stays internal, double goes out). */
  private def asD(c: Column): Column = c.cast("double")

  /** Bloom-pruned join — the runtime-filter (semi-join pushdown)
    * pattern made explicit: the dimension slice builds a bloom sketch
    * of its join keys on the executors (`stat.bloomFilter`, bitwise-OR
    * merge ⇒ partitioning-independent bits), and the fact side is
    * probed by the codegen'd `graft_bloom_contains` long-key
    * expression BEFORE the join shuffle. No false negatives ⇒ the
    * result equals the plain join exactly (the oracle is that plain
    * join — false positives die in the real join); what the bloom
    * buys is never shuffling the ~97% of fact rows whose keys cannot
    * match. At 100 TB this is the difference between shuffling the
    * full lineitem and shuffling the urgent slice; Spark's own
    * InjectRuntimeFilter does this opportunistically, this operator
    * pins the shape deliberately (and PlanQualitySpec pins the
    * probe-below-shuffle plan). */
  private def q150(s: SparkSession, dir: String): DataFrame = {
    val sel = Tables(s, dir, "orders")
      .where(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_orderdate"))
    val bloom = new java.io.ByteArrayOutputStream()
    sel.stat.bloomFilter("o_orderkey", 20000L, 0.01).writeTo(bloom)
    Tables(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      .where(call_function("graft_bloom_contains",
        col("l_orderkey"), lit(bloom.toByteArray)))
      .join(sel, col("l_orderkey") === col("o_orderkey"))
      .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
      .agg(count(lit(1)).as("n_items"),
        asD(sum(dec(col("l_extendedprice") * (lit(1.0) - col("l_discount")),
          18, 6))).as("revenue"))
      .orderBy(col("month"))
  }

  private val q150Sql =
    """SELECT date_trunc('month', o_orderdate) AS month,
      |  count(*) AS n_items,
      |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
      |      AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderpriority = '1-URGENT'
      |GROUP BY 1 ORDER BY month""".stripMargin

  // ---- scan / filter / project / aggregate --------------------------------

  /** TPC-H Q1-style pricing summary: full-scan partial+final hash agg.
    * The averages divide the exact decimal sum by the count in double
    * and round ONCE at 4, as DuckDB's `avg(DECIMAL)` (a DOUBLE) does;
    * Spark's decimal `avg` would first round at 6 places. */
  private def q01(s: SparkSession, dir: String): DataFrame = {
    def avgOnce(c: Column): Column = round(asD(sum(c)) / count(c), 4)
    Tables(s, dir, "lineitem")
      .where(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        asD(sum(dec(col("l_quantity"), 12, 2))).as("sum_qty"),
        asD(sum(dec(col("l_extendedprice"), 14, 2))).as("sum_base_price"),
        asD(sum(dec(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 18, 6))).as("sum_disc_price"),
        asD(sum(dec(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax")), 18, 6))).as("sum_charge"),
        avgOnce(dec(col("l_quantity"), 12, 2)).as("avg_qty"),
        avgOnce(dec(col("l_discount"), 8, 4)).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  private val q01Sql =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
      |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
      |  CAST(round(avg(CAST(l_quantity AS DECIMAL(12,2))), 4) AS DOUBLE) AS avg_qty,
      |  CAST(round(avg(CAST(l_discount AS DECIMAL(8,4))), 4) AS DOUBLE) AS avg_disc,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Selective filter + projection — predicates and the 4-column read
    * schema must reach the parquet scan (pushdown + pruning). */
  private def q02(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "lineitem")
      .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .select(col("l_orderkey"), col("l_linenumber"),
        asD(dec(col("l_extendedprice") * col("l_discount"), 18, 6)).as("revenue"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  private val q02Sql =
    """SELECT l_orderkey, l_linenumber,
      |  CAST(CAST(l_extendedprice * l_discount AS DECIMAL(18,6)) AS DOUBLE) AS revenue
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** TPC-H Q6-style single-row aggregate over a pushed-down filter. */
  private def q03(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "lineitem")
      .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(asD(sum(dec(col("l_extendedprice") * col("l_discount"), 18, 6))).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  private val q03Sql =
    """SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
      |  count(*) AS n_items
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin

  // ---- joins --------------------------------------------------------------

  /** Fact ⋈ dim with an aggregate; the dim side is left to the
    * optimizer/AQE for broadcast selection (at sf0.1 `part` broadcasts
    * under the default 10 MB threshold; at 100 TB it shuffles). */
  private def q10(s: SparkSession, dir: String): DataFrame = {
    val l = Tables(s, dir, "lineitem")
    val p = Tables(s, dir, "part")
    l.join(p, l("l_partkey") === p("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(asD(sum(dec(col("l_quantity"), 12, 2))).as("sum_qty"),
        count(lit(1)).as("n_items"))
      .orderBy(col("p_brand"))
  }

  private val q10Sql =
    """SELECT p_brand, CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      |  count(*) AS n_items
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin

  /** TPC-H Q5-style 6-table join; region/nation get explicit broadcast
    * hints (bounded dims), the rest shuffle on their keys. */
  private def q11(s: SparkSession, dir: String): DataFrame = {
    val c = Tables(s, dir, "customer")
    val o = Tables(s, dir, "orders")
    val l = Tables(s, dir, "lineitem")
    val su = Tables(s, dir, "supplier")
    val n = Tables(s, dir, "nation")
    val r = Tables(s, dir, "region")
    c.join(o, col("c_custkey") === col("o_custkey"))
      .join(l, col("l_orderkey") === col("o_orderkey"))
      .join(su, col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .where(col("r_name") === "ASIA" &&
        col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .groupBy(col("n_name"))
      .agg(asD(sum(dec(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 18, 6))).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  private val q11Sql =
    """SELECT n_name,
      |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
      |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin

  /** Left-semi join: customers holding at least one open ('O') order. */
  private def q12(s: SparkSession, dir: String): DataFrame = {
    val c = Tables(s, dir, "customer")
    val o = Tables(s, dir, "orders").where(col("o_orderstatus") === "O")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  private val q12Sql =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
      |ORDER BY c_custkey""".stripMargin

  /** Left-anti join: customers with no pending ('P') order. */
  private def q13(s: SparkSession, dir: String): DataFrame = {
    val c = Tables(s, dir, "customer")
    val o = Tables(s, dir, "orders").where(col("o_orderstatus") === "P")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_acctbal"))
      .orderBy(col("c_custkey"))
  }

  private val q13Sql =
    """SELECT c_custkey, c_acctbal FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
      |ORDER BY c_custkey""".stripMargin

  /** Range (non-equi theta) join against a tiny literal bands table —
    * plans as a broadcast nested-loop join, the right physical choice
    * for a bounded band list at any fact-side scale. */
  private def q14(s: SparkSession, dir: String): DataFrame = {
    val bands = s.createDataFrame(Seq(
      (900.0, 925.0, "low"), (925.0, 950.0, "mid_low"),
      (950.0, 975.0, "mid_high"), (975.0, 1000.0, "high")))
      .toDF("lo", "hi", "band")
    Tables(s, dir, "part")
      .join(broadcast(bands),
        col("p_retailprice") >= col("lo") && col("p_retailprice") < col("hi"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_parts"),
        asD(sum(dec(col("p_retailprice"), 12, 2))).as("sum_price"))
      .orderBy(col("band"))
  }

  private val q14Sql =
    """SELECT band, count(*) AS n_parts,
      |  CAST(sum(CAST(p_retailprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
      |FROM part
      |JOIN (VALUES (900.0, 925.0, 'low'), (925.0, 950.0, 'mid_low'),
      |             (950.0, 975.0, 'mid_high'), (975.0, 1000.0, 'high'))
      |  b(lo, hi, band)
      |ON p_retailprice >= lo AND p_retailprice < hi
      |GROUP BY band ORDER BY band""".stripMargin

  // ---- aggregation variants ----------------------------------------------

  /** Exact distinct aggregation (expand + two-phase hash agg). */
  private def q20(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_suppkey")).as("n_suppliers"),
        countDistinct(col("l_partkey")).as("n_parts"),
        count(lit(1)).as("n_items"))
      .orderBy(col("l_returnflag"))
  }

  private val q20Sql =
    """SELECT l_returnflag, count(DISTINCT l_suppkey) AS n_suppliers,
      |  count(DISTINCT l_partkey) AS n_parts, count(*) AS n_items
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** HLL sketch distinct — the 100 TB path where exact distinct would
    * shuffle every key. ORACLED since r13 (previously rows-only, the
    * q92 promotion pattern): the sketch estimate is implementation-
    * specific, so the OUTPUT carries the exact distinct count plus a
    * boolean pinning the HLL++ estimate inside its 3·rsd envelope of
    * it, computed in the same pass; the oracle asserts the boolean as
    * the literal TRUE — a sketch regression flips the hash while the
    * estimate itself never has to match across engines. */
  private def q21(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_partkey"), 0.01).as("ap"),
        countDistinct(col("l_partkey")).as("n_parts"),
        count(lit(1)).as("n_items"))
      .select(col("l_returnflag"), col("n_parts"), col("n_items"),
        (abs(col("ap").cast("double") - col("n_parts").cast("double")) <=
          greatest(lit(1.0), col("n_parts").cast("double") * 0.03))
          .as("hll_in_envelope"))
      .orderBy(col("l_returnflag"))
  }

  private val q21Sql =
    """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
      |  count(*) AS n_items, TRUE AS hll_in_envelope
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** ROLLUP hierarchy totals; subtotal rows are disambiguated with
    * COALESCE sentinels (dialect-portable, the raw data is never null). */
  private def q22(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "orders")
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        asD(sum(dec(col("o_totalprice"), 14, 2))).as("sum_price"))
      .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n_orders"), col("sum_price"))
      .orderBy(col("status"), col("priority"))
  }

  private val q22Sql =
    """SELECT coalesce(o_orderstatus, 'ALL') AS status,
      |  coalesce(o_orderpriority, 'ALL') AS priority,
      |  count(*) AS n_orders,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS sum_price
      |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
      |ORDER BY status, priority""".stripMargin

  /** CUBE over two dims. */
  private def q23(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_items"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("n_items"))
      .orderBy(col("returnflag"), col("linestatus"))
  }

  private val q23Sql =
    """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
      |  coalesce(l_linestatus, 'ALL') AS linestatus, count(*) AS n_items
      |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY returnflag, linestatus""".stripMargin

  /** Explicit GROUPING SETS (the general form rollup/cube sugar over):
    * status-only and priority-only marginals in one pass. */
  private def q24(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "orders")
      .groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        asD(sum(dec(col("o_totalprice"), 14, 2))).as("sum_price"))
      .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n_orders"), col("sum_price"))
      .orderBy(col("status"), col("priority"))
  }

  private val q24Sql =
    """SELECT coalesce(o_orderstatus, 'ALL') AS status,
      |  coalesce(o_orderpriority, 'ALL') AS priority,
      |  count(*) AS n_orders,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS sum_price
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
      |ORDER BY status, priority""".stripMargin

  /** Statistical aggregates: exact interpolated percentiles (both
    * engines use the p·(n−1) linear-interpolation definition),
    * stddev/correlation rounded to absorb summation-order ulps. */
  private def q26(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        round(expr("percentile(l_quantity, 0.25)"), 4).as("p25"),
        round(expr("percentile(l_quantity, 0.5)"), 4).as("p50"),
        round(expr("percentile(l_quantity, 0.75)"), 4).as("p75"),
        round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qp"))
      .orderBy(col("l_returnflag"))
  }

  private val q26Sql =
    """SELECT l_returnflag,
      |  round(quantile_cont(l_quantity, 0.25), 4) AS p25,
      |  round(quantile_cont(l_quantity, 0.5), 4) AS p50,
      |  round(quantile_cont(l_quantity, 0.75), 4) AS p75,
      |  round(stddev_samp(l_quantity), 4) AS sd_qty,
      |  round(corr(l_quantity, l_extendedprice), 4) AS corr_qp
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Pivot: one column per order status, decimal-exact sums. Pivot
    * values are declared explicitly (never inferred by a scan) — at
    * 100 TB an inferred pivot would mean an extra distinct pass. */
  private def q25(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(sum(dec(col("o_totalprice"), 14, 2)))
      .select(col("o_orderpriority"), asD(col("F")).as("F"),
        asD(col("O")).as("O"), asD(col("P")).as("P"))
      .orderBy(col("o_orderpriority"))
  }

  private val q25Sql =
    """SELECT o_orderpriority, CAST("F" AS DOUBLE) AS "F",
      |  CAST("O" AS DOUBLE) AS "O", CAST("P" AS DOUBLE) AS "P"
      |FROM (PIVOT (SELECT o_orderpriority, o_orderstatus,
      |               CAST(o_totalprice AS DECIMAL(14,2)) AS p FROM orders)
      |      ON o_orderstatus IN ('F', 'O', 'P') USING sum(p)
      |      GROUP BY o_orderpriority)
      |ORDER BY o_orderpriority""".stripMargin

  /** Positional explode (UDTF surface beyond plain explode): element
    * index + value rows from an array column. */
  private def q27(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "embeddings")
      .where(col("vec_id") < 5)
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), (col("pos") + 1).cast("bigint").as("pos"),
        round(col("col").cast("double"), 4).as("val"))
      .orderBy(col("vec_id"), col("pos"))
  }

  private val q27Sql =
    // DuckDB lacks WITH ORDINALITY; parallel unnest/generate_subscripts
    // zip positionally
    """SELECT vec_id, CAST(generate_subscripts(embedding, 1) AS BIGINT) AS pos,
      |  round(CAST(unnest(embedding) AS DOUBLE), 4) AS val
      |FROM embeddings WHERE vec_id < 5 ORDER BY vec_id, pos""".stripMargin

  /** Ordered string aggregation (collect_list is order-nondeterministic
    * in a distributed run — sorting inside the aggregate restores
    * determinism; the oracle's string_agg gets an explicit ORDER BY). */
  private def q28(s: SparkSession, dir: String): DataFrame = {
    val n = Tables(s, dir, "nation")
    val r = Tables(s, dir, "region")
    n.join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n_nations"),
        array_join(array_sort(collect_list(col("n_name"))), ",").as("nations"))
      .orderBy(col("r_name"))
  }

  private val q28Sql =
    """SELECT r_name, count(*) AS n_nations,
      |  string_agg(n_name, ',' ORDER BY n_name) AS nations
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name ORDER BY r_name""".stripMargin

  // ---- window functions ---------------------------------------------------

  /** Ranking window: top-3 orders per customer (deterministic via a
    * unique tiebreak in the ordering). */
  private def q30(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables(s, dir, "orders")
      .withColumn("rn", row_number().over(w).cast("bigint"))
      .where(col("rn") <= 3)
      .select(col("o_custkey"), col("rn"), col("o_orderkey"),
        asD(dec(col("o_totalprice"), 14, 2)).as("totalprice"))
      .orderBy(col("o_custkey"), col("rn"))
  }

  private val q30Sql =
    """SELECT o_custkey, rn, o_orderkey, totalprice FROM (
      |  SELECT o_custkey, o_orderkey,
      |    CAST(CAST(o_totalprice AS DECIMAL(14,2)) AS DOUBLE) AS totalprice,
      |    row_number() OVER (PARTITION BY o_custkey
      |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders) t
      |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin

  /** Top-k per group via the bounded-heap typed aggregator
    * ([[graft.functions.TopKByScore]]) — same semantics as q30's
    * window form (and the same oracle modulo rank assignment), but the
    * 100 TB execution shape: a partial+final aggregation whose state
    * is k entries per key, so the map-side combine ships k rows per
    * key per partition and nothing ever sorts a whole group. */
  private def q29(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "orders")
      .select(col("o_custkey"),
        struct(col("o_orderkey"), asD(dec(col("o_totalprice"), 14, 2)).as("p")).as("e"))
      .as[(Long, (Long, Double))]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(new graft.functions.TopKByScore(3).toColumn.name("top"))
      .flatMap { case (cust, top) =>
        top.iterator.zipWithIndex.map { case ((orderkey, price), i) =>
          (cust, (i + 1).toLong, orderkey, price)
        }
      }
      .toDF("o_custkey", "rn", "o_orderkey", "totalprice")
      .orderBy(col("o_custkey"), col("rn"))
  }

  private val q29Sql =
    // ranks by the ROUNDED price (the heap's score), not the raw one —
    // the round-floats-before-ranking convention
    """SELECT o_custkey, rn, o_orderkey, totalprice FROM (
      |  SELECT o_custkey, o_orderkey,
      |    CAST(CAST(o_totalprice AS DECIMAL(14,2)) AS DOUBLE) AS totalprice,
      |    row_number() OVER (PARTITION BY o_custkey
      |      ORDER BY CAST(CAST(o_totalprice AS DECIMAL(14,2)) AS DOUBLE) DESC,
      |               o_orderkey) AS rn
      |  FROM orders) t
      |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin

  /** Running-total frame window (rows between unbounded preceding and
    * current row) — exact decimal prefix sums. */
  private def q31(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        asD(sum(dec(col("o_totalprice"), 14, 2)).over(w)).as("running_total"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  private val q31Sql =
    """SELECT o_custkey, o_orderkey,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(14,2)))
      |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
      |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin

  /** lag/lead offsets: per-customer order gaps in days. */
  private def q32(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        lead(col("o_orderkey"), 1).over(w).as("next_orderkey"),
        datediff(col("o_orderdate").cast("date"),
          lag(col("o_orderdate"), 1).over(w).cast("date"))
          .cast("bigint").as("gap_days"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  private val q32Sql =
    """SELECT o_custkey, o_orderkey,
      |  lead(o_orderkey, 1) OVER w AS next_orderkey,
      |  date_diff('day',
      |    CAST(lag(o_orderdate, 1) OVER w AS DATE),
      |    CAST(o_orderdate AS DATE)) AS gap_days
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  // ---- sort / limit / set ops --------------------------------------------

  /** Global top-k — Spark plans TakeOrderedAndProject (per-partition
    * heaps + driver merge), no full sort at scale. */
  private def q35(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        asD(dec(col("l_extendedprice"), 14, 2)).as("price"))
      .orderBy(col("price").desc, col("l_orderkey"), col("l_linenumber"))
      .limit(100)
  }

  private val q35Sql =
    """SELECT l_orderkey, l_linenumber,
      |  CAST(CAST(l_extendedprice AS DECIMAL(14,2)) AS DOUBLE) AS price
      |FROM lineitem
      |ORDER BY price DESC, l_orderkey, l_linenumber LIMIT 100""".stripMargin

  /** INTERSECT: building-segment customers who placed an urgent order. */
  private def q36(s: SparkSession, dir: String): DataFrame = {
    val a = Tables(s, dir, "customer")
      .where(col("c_mktsegment") === "BUILDING").select(col("c_custkey").as("k"))
    val b = Tables(s, dir, "orders")
      .where(col("o_orderpriority") === "1-URGENT").select(col("o_custkey").as("k"))
    a.intersect(b).orderBy(col("k"))
  }

  private val q36Sql =
    """SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
      |INTERSECT
      |SELECT o_custkey AS k FROM orders WHERE o_orderpriority = '1-URGENT'
      |ORDER BY k""".stripMargin

  /** EXCEPT: machinery-segment customers with no low-priority order. */
  private def q37(s: SparkSession, dir: String): DataFrame = {
    val a = Tables(s, dir, "customer")
      .where(col("c_mktsegment") === "MACHINERY").select(col("c_custkey").as("k"))
    val b = Tables(s, dir, "orders")
      .where(col("o_orderpriority") === "5-LOW").select(col("o_custkey").as("k"))
    a.except(b).orderBy(col("k"))
  }

  private val q37Sql =
    """SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'MACHINERY'
      |EXCEPT
      |SELECT o_custkey AS k FROM orders WHERE o_orderpriority = '5-LOW'
      |ORDER BY k""".stripMargin

  /** INTERSECT ALL — multiset semantics: a part key appearing m times
    * among returned items and n times among accepted ones survives
    * min(m,n) times (plain INTERSECT would collapse to one). */
  private def q33(s: SparkSession, dir: String): DataFrame = {
    val l = Tables(s, dir, "lineitem")
    val a = l.where(col("l_returnflag") === "R").select(col("l_partkey").as("k"))
    val b = l.where(col("l_returnflag") === "A").select(col("l_partkey").as("k"))
    a.intersectAll(b).orderBy(col("k"))
  }

  private val q33Sql =
    """SELECT l_partkey AS k FROM lineitem WHERE l_returnflag = 'R'
      |INTERSECT ALL
      |SELECT l_partkey AS k FROM lineitem WHERE l_returnflag = 'A'
      |ORDER BY k""".stripMargin

  /** EXCEPT ALL — multiset difference: m occurrences minus n
    * occurrences leaves max(m−n, 0) rows per key. */
  private def q34(s: SparkSession, dir: String): DataFrame = {
    val l = Tables(s, dir, "lineitem")
    val a = l.where(col("l_returnflag") === "R").select(col("l_partkey").as("k"))
    val b = l.where(col("l_returnflag") === "A").select(col("l_partkey").as("k"))
    a.exceptAll(b).orderBy(col("k"))
  }

  private val q34Sql =
    """SELECT l_partkey AS k FROM lineitem WHERE l_returnflag = 'R'
      |EXCEPT ALL
      |SELECT l_partkey AS k FROM lineitem WHERE l_returnflag = 'A'
      |ORDER BY k""".stripMargin

  /** UNION ALL + re-aggregation across two sources. */
  private def q38(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables(s, dir, "customer")
      .select(col("c_nationkey").as("nationkey"), lit("customer").as("kind"))
    val supp = Tables(s, dir, "supplier")
      .select(col("s_nationkey").as("nationkey"), lit("supplier").as("kind"))
    cust.unionAll(supp)
      .groupBy(col("nationkey"), col("kind"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("nationkey"), col("kind"))
  }

  private val q38Sql =
    """SELECT nationkey, kind, count(*) AS n FROM (
      |  SELECT c_nationkey AS nationkey, 'customer' AS kind FROM customer
      |  UNION ALL
      |  SELECT s_nationkey AS nationkey, 'supplier' AS kind FROM supplier) t
      |GROUP BY nationkey, kind ORDER BY nationkey, kind""".stripMargin

  // ---- scalar function families ------------------------------------------

  /** String function family over `part`. */
  private def q40(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "part")
      .select(col("p_partkey"),
        upper(col("p_brand")).as("brand_u"),
        substring(col("p_name"), 1, 12).as("name_pfx"),
        length(col("p_name")).cast("bigint").as("name_len"),
        concat_ws("/", col("p_brand"), col("p_type")).as("brand_type"),
        regexp_extract(col("p_type"), "^([A-Z]+)", 1).as("type_head"),
        replace(col("p_type"), lit(" "), lit("_")).as("type_snake"))
      .orderBy(col("p_partkey"))
  }

  private val q40Sql =
    """SELECT p_partkey, upper(p_brand) AS brand_u,
      |  substring(p_name, 1, 12) AS name_pfx, length(p_name) AS name_len,
      |  concat_ws('/', p_brand, p_type) AS brand_type,
      |  regexp_extract(p_type, '^([A-Z]+)', 1) AS type_head,
      |  replace(p_type, ' ', '_') AS type_snake
      |FROM part ORDER BY p_partkey""".stripMargin

  /** Date/time function family over `orders`. */
  private def q41(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "orders")
      .select(col("o_orderkey"),
        year(col("o_orderdate")).cast("bigint").as("y"),
        month(col("o_orderdate")).cast("bigint").as("m"),
        dayofmonth(col("o_orderdate")).cast("bigint").as("d"),
        date_trunc("month", col("o_orderdate")).as("month_start"),
        quarter(col("o_orderdate")).cast("bigint").as("q"))
      .orderBy(col("o_orderkey"))
  }

  private val q41Sql =
    """SELECT o_orderkey, year(o_orderdate) AS y, month(o_orderdate) AS m,
      |  dayofmonth(o_orderdate) AS d,
      |  date_trunc('month', o_orderdate) AS month_start,
      |  quarter(o_orderdate) AS q
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** Math function family (sqrt is IEEE-exact; log is rounded to kill
    * last-ulp libm differences between engines). */
  private def q42(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "part")
      .select(col("p_partkey"),
        round(sqrt(col("p_retailprice")), 6).as("sqrt_price"),
        floor(col("p_retailprice")).as("floor_price"),
        ceil(col("p_retailprice")).as("ceil_price"),
        abs(col("p_size") - lit(25)).as("size_dev"),
        round(log(col("p_retailprice")), 6).as("ln_price"),
        (col("p_retailprice") * col("p_retailprice")).as("price_sq"),
        pmod(col("p_partkey"), lit(7)).as("key_mod"))
      .orderBy(col("p_partkey"))
  }

  private val q42Sql =
    """SELECT p_partkey, round(sqrt(p_retailprice), 6) AS sqrt_price,
      |  CAST(floor(p_retailprice) AS BIGINT) AS floor_price,
      |  CAST(ceil(p_retailprice) AS BIGINT) AS ceil_price,
      |  abs(p_size - 25) AS size_dev, round(ln(p_retailprice), 6) AS ln_price,
      |  p_retailprice * p_retailprice AS price_sq,
      |  p_partkey % 7 AS key_mod
      |FROM part ORDER BY p_partkey""".stripMargin

  /** Conditional expressions: CASE / nullif / coalesce / least / greatest. */
  private def q43(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "customer")
      .select(col("c_custkey"),
        when(col("c_acctbal") < 0, "overdrawn")
          .when(col("c_acctbal") < 5000, "low")
          .otherwise("high").as("bal_class"),
        coalesce(nullif(col("c_mktsegment"), lit("BUILDING")), lit("(bldg)")).as("seg"),
        least(col("c_acctbal"), lit(9000.0)).as("bal_capped"),
        greatest(col("c_nationkey"), lit(10)).cast("bigint").as("nk_floor"))
      .orderBy(col("c_custkey"))
  }

  private val q43Sql =
    """SELECT c_custkey,
      |  CASE WHEN c_acctbal < 0 THEN 'overdrawn'
      |       WHEN c_acctbal < 5000 THEN 'low' ELSE 'high' END AS bal_class,
      |  coalesce(nullif(c_mktsegment, 'BUILDING'), '(bldg)') AS seg,
      |  least(c_acctbal, 9000.0) AS bal_capped,
      |  greatest(c_nationkey, 10) AS nk_floor
      |FROM customer ORDER BY c_custkey""".stripMargin

  /** SQL entry point + correlated scalar subquery — the full Spark SQL
    * parser/analyzer surface over registered views (the reference has
    * no SQL at all; our engine inherits Spark's). Parts priced well
    * above their brand's average. */
  private def q15(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "part").createOrReplaceTempView("part_v")
    s.sql(
      """SELECT p_partkey, p_brand,
        |  CAST(CAST(p_retailprice AS DECIMAL(12,2)) AS DOUBLE) AS price
        |FROM part_v p
        |WHERE p_retailprice > (SELECT avg(p_retailprice) + 5
        |                       FROM part_v p2 WHERE p2.p_brand = p.p_brand)
        |ORDER BY p_partkey""".stripMargin)
  }

  private val q15Sql =
    """SELECT p_partkey, p_brand,
      |  CAST(CAST(p_retailprice AS DECIMAL(12,2)) AS DOUBLE) AS price
      |FROM part p
      |WHERE p_retailprice > (SELECT avg(p_retailprice) + 5
      |                       FROM part p2 WHERE p2.p_brand = p.p_brand)
      |ORDER BY p_partkey""".stripMargin

  /** Recursive CTE (Spark 4's `WITH RECURSIVE`, SPARK-24497) — the
    * iterate-to-fixpoint SQL surface: each customer's ancestor chain
    * under the decimal parent relation parent(k) = k div 10. The
    * recursion depth is logarithmic in the key (≤ 7 levels here), the
    * work per level is one self-join-free projection, and Catalyst
    * executes it as repeated union steps — at scale the pattern is
    * the relational form of the q64 connected-components loop. DuckDB
    * runs the identical recursion for the oracle. */
  private def q141(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "customer").createOrReplaceTempView("customer_v")
    s.sql(
      """WITH RECURSIVE anc AS (
        |  SELECT c_custkey AS custkey, c_custkey AS node, 0 AS depth
        |  FROM customer_v
        |  UNION ALL
        |  SELECT custkey, node DIV 10, depth + 1 FROM anc WHERE node > 0)
        |SELECT custkey, CAST(max(depth) AS BIGINT) AS chain_len,
        |  CAST(count(*) AS BIGINT) AS n_nodes
        |FROM anc GROUP BY custkey ORDER BY custkey""".stripMargin)
  }

  private val q141Sql =
    """WITH RECURSIVE anc AS (
      |  SELECT c_custkey AS custkey, c_custkey AS node, 0 AS depth
      |  FROM customer
      |  UNION ALL
      |  SELECT custkey, node // 10, depth + 1 FROM anc WHERE node > 0)
      |SELECT custkey, CAST(max(depth) AS BIGINT) AS chain_len,
      |  CAST(count(*) AS BIGINT) AS n_nodes
      |FROM anc GROUP BY custkey ORDER BY custkey""".stripMargin

  /** Map scalar-function family (construct, extract, keys/values,
    * cardinality) — no map-typed testdata column exists, so the map is
    * built from row values, exercised, and decomposed back to plain
    * scalars the oracle can compare. */
  private def q17(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "part")
      .withColumn("m", map(lit("brand"), col("p_brand"), lit("type"), col("p_type")))
      .select(col("p_partkey"),
        element_at(col("m"), "brand").as("m_brand"),
        element_at(col("m"), "missing").as("m_missing"),
        concat_ws(",", map_keys(col("m"))).as("m_keys"),
        concat_ws(",", map_values(col("m"))).as("m_values"),
        size(col("m")).cast("bigint").as("m_size"))
      .orderBy(col("p_partkey"))
  }

  private val q17Sql =
    """WITH t AS (SELECT p_partkey,
      |    map(['brand','type'], [p_brand, p_type]) AS m FROM part)
      |SELECT p_partkey, m['brand'][1] AS m_brand,
      |  m['missing'][1] AS m_missing,
      |  array_to_string(map_keys(m), ',') AS m_keys,
      |  array_to_string(map_values(m), ',') AS m_values,
      |  CAST(cardinality(m) AS BIGINT) AS m_size
      |FROM t ORDER BY p_partkey""".stripMargin

  /** Array scalar-function family over the embeddings table. */
  private def q19(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        size(col("embedding")).cast("bigint").as("dim"),
        round(element_at(col("embedding"), 1).cast("double"), 4).as("first_elem"),
        round(element_at(col("embedding"), -1).cast("double"), 4).as("last_elem"),
        round(array_max(transform(col("embedding"), x => x.cast("double"))), 4).as("max_elem"),
        round(array_min(transform(col("embedding"), x => x.cast("double"))), 4).as("min_elem"),
        size(filter(col("embedding"), x => x > 0)).cast("bigint").as("n_positive"))
      .orderBy(col("vec_id"))
  }

  private val q19Sql =
    """SELECT vec_id, label, len(embedding) AS dim,
      |  round(CAST(embedding[1] AS DOUBLE), 4) AS first_elem,
      |  round(CAST(embedding[-1] AS DOUBLE), 4) AS last_elem,
      |  round(list_max(embedding::DOUBLE[]), 4) AS max_elem,
      |  round(list_min(embedding::DOUBLE[]), 4) AS min_elem,
      |  len(list_filter(embedding, x -> x > 0)) AS n_positive
      |FROM embeddings ORDER BY vec_id""".stripMargin

  /** FULL OUTER join: negative-balance customer counts vs negative-
    * balance supplier counts per nation — either side can be missing a
    * nation, so both null-extension directions are exercised. Both
    * sides are pre-aggregated (nation-sized), so the outer join itself
    * is over bounded inputs at any fact scale. */
  private def q04(s: SparkSession, dir: String): DataFrame = {
    val c = Tables(s, dir, "customer").where(col("c_acctbal") < 0)
      .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_cust"))
      .select(col("c_nationkey").as("ck"), col("n_cust"))
    val su = Tables(s, dir, "supplier").where(col("s_acctbal") < 0)
      .groupBy(col("s_nationkey")).agg(count(lit(1)).as("n_supp"))
      .select(col("s_nationkey").as("sk"), col("n_supp"))
    c.join(su, col("ck") === col("sk"), "full_outer")
      .select(coalesce(col("ck"), col("sk")).as("nationkey"),
        col("n_cust"), col("n_supp"))
      .orderBy(col("nationkey"))
  }

  private val q04Sql =
    """WITH c AS (SELECT c_nationkey AS nationkey, count(*) AS n_cust
      |           FROM customer WHERE c_acctbal < 0 GROUP BY 1),
      |s AS (SELECT s_nationkey AS nationkey, count(*) AS n_supp
      |      FROM supplier WHERE s_acctbal < 0 GROUP BY 1)
      |SELECT coalesce(c.nationkey, s.nationkey) AS nationkey, n_cust, n_supp
      |FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey
      |ORDER BY nationkey""".stripMargin

  /** Interval (event-time range) join: views by the same user in the
    * 24 hours before each purchase. The equi key (user_id) carries the
    * shuffle; the time range is a residual predicate evaluated inside
    * each key's partition — the batch twin of the streaming
    * stream-stream interval join ([[graft.streaming.EventStreams]]). */
  private def q05(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
    val p = ev.where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("pts"))
    val v = ev.where(col("event_type") === "view")
      .select(col("user_id").as("vuser"), col("ts").as("vts"),
        col("event_id").as("vid"))
    p.join(v, col("user_id") === col("vuser") &&
        col("vts") <= col("pts") &&
        col("vts") > col("pts") - expr("INTERVAL 24 HOURS"), "left")
      .groupBy(col("purchase_id"))
      .agg(count(col("vid")).as("n_prior_views"))
      .orderBy(col("purchase_id"))
  }

  private val q05Sql =
    """WITH p AS (SELECT event_id AS purchase_id, user_id, ts
      |           FROM events WHERE event_type = 'purchase'),
      |v AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'view')
      |SELECT p.purchase_id, count(v.event_id) AS n_prior_views
      |FROM p LEFT JOIN v ON p.user_id = v.user_id
      |  AND v.ts <= p.ts AND v.ts > p.ts - INTERVAL 24 HOUR
      |GROUP BY p.purchase_id ORDER BY purchase_id""".stripMargin

  /** Distribution window functions: ntile / percent_rank / cume_dist /
    * first_value / nth_value — deterministic because the ordering
    * carries a unique tiebreak. */
  private def q06(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderstatus"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"),
        ntile(4).over(w).cast("bigint").as("quartile"),
        round(percent_rank().over(w), 4).as("pct_rank"),
        round(cume_dist().over(w), 4).as("cume"),
        nth_value(col("o_orderkey"), 1).over(w).as("first_key"),
        nth_value(col("o_orderkey"), 2).over(w).as("second_key"))
      .orderBy(col("o_orderkey"))
  }

  private val q06Sql =
    """SELECT o_orderkey, o_orderstatus,
      |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
      |  round(percent_rank() OVER w, 4) AS pct_rank,
      |  round(cume_dist() OVER w, 4) AS cume,
      |  first_value(o_orderkey) OVER w AS first_key,
      |  nth_value(o_orderkey, 2) OVER w AS second_key
      |FROM orders
      |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
      |ORDER BY o_orderkey""".stripMargin

  /** Regexp function family: count / extract_all / replace / rlike. */
  private def q07(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "part")
      .select(col("p_partkey"),
        regexp_count(col("p_name"), lit("[aeiou]+")).cast("bigint").as("n_vowel_runs"),
        array_join(expr("regexp_extract_all(p_type, '[A-Z]+', 0)"), ",").as("caps"),
        regexp_replace(col("p_name"), "[aeiou]", "_").as("devoweled"),
        col("p_type").rlike("BRASS|STEEL").as("is_metal"))
      .orderBy(col("p_partkey"))
  }

  private val q07Sql =
    """SELECT p_partkey,
      |  CAST(len(regexp_extract_all(p_name, '[aeiou]+')) AS BIGINT) AS n_vowel_runs,
      |  array_to_string(regexp_extract_all(p_type, '[A-Z]+'), ',') AS caps,
      |  regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
      |  regexp_matches(p_type, 'BRASS|STEEL') AS is_metal
      |FROM part ORDER BY p_partkey""".stripMargin

  /** Edit-distance fuzzy join: probe strings matched to nation names
    * within Levenshtein distance 2. The probe side is a bounded
    * literal table (broadcast nested loop) — the entity-resolution
    * shape where the candidate side stays small while the fact side
    * scales; unmatched probes drop out (inner join). */
  private def q08(s: SparkSession, dir: String): DataFrame = {
    val probes = s.createDataFrame(Seq(
      Tuple1("NATICN_3"), Tuple1("NATION_1Z"),
      Tuple1("XATION_20"), Tuple1("NOTAREAL"))).toDF("probe")
    Tables(s, dir, "nation")
      .join(broadcast(probes), levenshtein(col("probe"), col("n_name")) <= 2)
      .select(col("probe"), col("n_name"),
        levenshtein(col("probe"), col("n_name")).cast("bigint").as("dist"))
      .orderBy(col("probe"), col("n_name"))
  }

  private val q08Sql =
    """SELECT probe, n_name, CAST(levenshtein(probe, n_name) AS BIGINT) AS dist
      |FROM nation
      |JOIN (VALUES ('NATICN_3'), ('NATION_1Z'), ('XATION_20'), ('NOTAREAL')) p(probe)
      |  ON levenshtein(probe, n_name) <= 2
      |ORDER BY probe, n_name""".stripMargin

  /** Fixed-width histogram: bucket by floor(price / width) with exact
    * decimal per-bucket stats — one hash aggregation, the plan shape
    * of any profiling pass at 100 TB. */
  private def q09(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "lineitem")
      .groupBy(floor(col("l_extendedprice") / 5000).cast("bigint").as("bucket"))
      .agg(count(lit(1)).as("n"),
        asD(min(dec(col("l_extendedprice"), 14, 2))).as("lo"),
        asD(max(dec(col("l_extendedprice"), 14, 2))).as("hi"),
        asD(sum(dec(col("l_extendedprice"), 14, 2))).as("sum_price"))
      .orderBy(col("bucket"))
  }

  private val q09Sql =
    """SELECT CAST(floor(l_extendedprice / 5000) AS BIGINT) AS bucket,
      |  count(*) AS n,
      |  CAST(min(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS lo,
      |  CAST(max(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS hi,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS sum_price
      |FROM lineitem GROUP BY 1 ORDER BY bucket""".stripMargin

  /** UNPIVOT (wide → long): numeric part attributes melted to
    * (metric, value) rows — the inverse of q25's pivot. */
  private def q16(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "part")
      .select(col("p_partkey"), col("p_size").cast("double").as("size"),
        col("p_retailprice").cast("double").as("retailprice"))
      .unpivot(Array(col("p_partkey")),
        Array(col("size"), col("retailprice")), "metric", "value")
      .orderBy(col("p_partkey"), col("metric"))
  }

  private val q16Sql =
    """SELECT p_partkey, metric, value FROM (
      |  UNPIVOT (SELECT p_partkey, CAST(p_size AS DOUBLE) AS size,
      |             CAST(p_retailprice AS DOUBLE) AS retailprice FROM part)
      |  ON size, retailprice INTO NAME metric VALUE value)
      |ORDER BY p_partkey, metric""".stripMargin

  /** Bitwise aggregates (bit_and / bit_or / bit_xor) — flag-mask
    * algebra as a partial+final hash aggregation. */
  private def q18(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(expr("bit_and(CAST(l_linenumber AS BIGINT))").as("flags_and"),
        expr("bit_or(CAST(l_linenumber AS BIGINT))").as("flags_or"),
        expr("bit_xor(CAST(l_linenumber AS BIGINT))").as("flags_xor"),
        expr("bit_or(shiftleft(CAST(l_linenumber AS BIGINT), 2))").as("flags_shifted"))
      .orderBy(col("l_returnflag"))
  }

  private val q18Sql =
    """SELECT l_returnflag,
      |  bit_and(CAST(l_linenumber AS BIGINT)) AS flags_and,
      |  bit_or(CAST(l_linenumber AS BIGINT)) AS flags_or,
      |  bit_xor(CAST(l_linenumber AS BIGINT)) AS flags_xor,
      |  bit_or(CAST(l_linenumber AS BIGINT) << 2) AS flags_shifted
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---- registry -----------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary" -> (q01 _),
    "q02_filter_pushdown" -> (q02 _),
    "q03_agg_filter" -> (q03 _),
    "q04_full_outer_join" -> (q04 _),
    "q05_interval_join" -> (q05 _),
    "q06_window_distribution" -> (q06 _),
    "q07_regexp_fns" -> (q07 _),
    "q08_fuzzy_join" -> (q08 _),
    "q09_histogram" -> (q09 _),
    "q16_unpivot" -> (q16 _),
    "q18_bitwise_agg" -> (q18 _),
    "q10_join_agg" -> (q10 _),
    "q11_join_multiway" -> (q11 _),
    "q12_semi_join" -> (q12 _),
    "q13_anti_join" -> (q13 _),
    "q14_range_join" -> (q14 _),
    "q15_sql_subquery" -> (q15 _),
    "q141_recursive_cte" -> (q141 _),
    "q150_bloom_join" -> (q150 _),
    "q17_map_fns" -> (q17 _),
    "q19_array_fns" -> (q19 _),
    "q20_distinct_agg" -> (q20 _),
    "q21_hll_distinct" -> (q21 _),
    "q22_rollup" -> (q22 _),
    "q23_cube" -> (q23 _),
    "q24_grouping_sets" -> (q24 _),
    "q25_pivot" -> (q25 _),
    "q26_stats_agg" -> (q26 _),
    "q27_posexplode" -> (q27 _),
    "q28_string_agg" -> (q28 _),
    "q29_topk_per_group" -> (q29 _),
    "q30_window_rank" -> (q30 _),
    "q31_window_running" -> (q31 _),
    "q32_window_lag_lead" -> (q32 _),
    "q33_intersect_all" -> (q33 _),
    "q34_except_all" -> (q34 _),
    "q35_topk" -> (q35 _),
    "q36_intersect" -> (q36 _),
    "q37_except" -> (q37 _),
    "q38_union_agg" -> (q38 _),
    "q40_string_fns" -> (q40 _),
    "q41_date_fns" -> (q41 _),
    "q42_math_fns" -> (q42 _),
    "q43_conditional_fns" -> (q43 _))

  val oracle: Map[String, String] = Map(
    "q01_pricing_summary" -> q01Sql,
    "q02_filter_pushdown" -> q02Sql,
    "q03_agg_filter" -> q03Sql,
    "q04_full_outer_join" -> q04Sql,
    "q05_interval_join" -> q05Sql,
    "q06_window_distribution" -> q06Sql,
    "q07_regexp_fns" -> q07Sql,
    "q08_fuzzy_join" -> q08Sql,
    "q09_histogram" -> q09Sql,
    "q16_unpivot" -> q16Sql,
    "q18_bitwise_agg" -> q18Sql,
    "q10_join_agg" -> q10Sql,
    "q11_join_multiway" -> q11Sql,
    "q12_semi_join" -> q12Sql,
    "q13_anti_join" -> q13Sql,
    "q14_range_join" -> q14Sql,
    "q15_sql_subquery" -> q15Sql,
    "q141_recursive_cte" -> q141Sql,
    "q150_bloom_join" -> q150Sql,
    "q17_map_fns" -> q17Sql,
    "q19_array_fns" -> q19Sql,
    "q20_distinct_agg" -> q20Sql,
    "q21_hll_distinct" -> q21Sql,
    "q22_rollup" -> q22Sql,
    "q23_cube" -> q23Sql,
    "q24_grouping_sets" -> q24Sql,
    "q25_pivot" -> q25Sql,
    "q26_stats_agg" -> q26Sql,
    "q27_posexplode" -> q27Sql,
    "q28_string_agg" -> q28Sql,
    "q29_topk_per_group" -> q29Sql,
    "q30_window_rank" -> q30Sql,
    "q31_window_running" -> q31Sql,
    "q32_window_lag_lead" -> q32Sql,
    "q33_intersect_all" -> q33Sql,
    "q34_except_all" -> q34Sql,
    "q35_topk" -> q35Sql,
    "q36_intersect" -> q36Sql,
    "q37_except" -> q37Sql,
    "q38_union_agg" -> q38Sql,
    "q40_string_fns" -> q40Sql,
    "q41_date_fns" -> q41Sql,
    "q42_math_fns" -> q42Sql,
    "q43_conditional_fns" -> q43Sql)
}
