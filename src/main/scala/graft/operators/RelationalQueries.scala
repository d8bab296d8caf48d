package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import graft.Tables

/** Relational operator inventory (SURVEY.md §2.3-§2.8): one named query
  * per operator capability, each paired with ANSI SQL the driver runs
  * in DuckDB over the same parquet tables.
  *
  * Determinism rules (so a value-hash compare against DuckDB passes):
  *  - Double aggregates go through `DECIMAL(18,4)` before summing:
  *    decimal addition is exact, so results are independent of Spark's
  *    partial-aggregation/merge order; the single final cast back to
  *    double is identical in both engines. Raw `sum(double)` drifts in
  *    the last bits with summation order. Same inside window frames
  *    (DuckDB uses segment trees, Spark running accumulation).
  *  - Averages are written as exact-decimal sum / count, never avg().
  *  - Every query ends with a total ORDER BY; ORDER BY NULLS FIRST is
  *    spelled out where rollup/cube introduce nulls (DuckDB defaults
  *    NULLS LAST, Spark NULLS FIRST).
  *  - `events.ts` is ns in parquet: both sides work in epoch
  *    microseconds (Spark `unix_micros`, DuckDB `epoch_us(CAST(ts AS
  *    TIMESTAMP))`) — both truncate ns → µs identically.
  *  - DuckDB type widenings are cast back to Spark's types in the
  *    oracle SQL (sum(BIGINT)→HUGEINT→BIGINT, year()→BIGINT→INT,
  *    ceil/floor→DOUBLE→BIGINT, length()→BIGINT→INT).
  *  - No round(double, n): Spark rounds via shortest-decimal
  *    (BigDecimal.valueOf), DuckDB via scaled fp — they disagree on
  *    .x5 boundaries.
  *
  * Scale notes are inline per query: the sf0.01 gate checks
  * correctness; the shapes are chosen to hold at 100 TB (partial aggs
  * before shuffles, broadcast dims, single-shuffle window plans).
  */
object RelationalQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Exact sum over a double column, independent of add order. */
  private def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 4))).cast("double")
  /** Exact average: decimal sum / count — deterministic across engines. */
  private def davg(c: Column): Column = dsum(c) / count(c)
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  final case class QDef(name: String, fn: Q, sql: Option[String])

  /** The exact trailing-24h reach (the bounded 24× hour-spread explode
    * + one distinct aggregation), shared by the `rolling_distinct`
    * gate and `rolling_distinct_hll`'s verdict baseline so the two
    * definitions cannot drift apart (the ProfileSpecs discipline).
    */
  private def rollingReachExact(ev: DataFrame): DataFrame = {
    val wh = ev.select(col("user_id"),
      expr("(ts div 1000) div 3600000000").as("h"))
    val hours = wh.select(col("h").as("hour")).distinct()
    wh.select(col("user_id"),
        explode(sequence(col("h"), col("h") + 23)).as("hour"))
      .join(hours, "hour")
      .groupBy("hour")
      .agg(countDistinct("user_id").as("reach_24h"))
  }

  /** DuckDB CTE chain for [[rollingReachExact]] — shared by both
    * rolling gates' oracles. */
  private val RollingReachCtes =
    """WITH e AS (SELECT user_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS h FROM events),
      |hrs AS (SELECT DISTINCT h AS hour FROM e),
      |sp AS (SELECT user_id, unnest(range(h, h + 24)) AS hour FROM e)""".stripMargin

  /** The six orders columns profiled by `profile_table` and its gated
    * approx twin `profile_table_approx` — one shared list so the two
    * gates can't drift apart. Doubles go through DECIMAL and dates
    * through DATE (type-stable distinct domains in both engines).
    */
  private val ProfileSpecs: Seq[(String, Column)] = Seq(
    "o_orderkey" -> col("o_orderkey"),
    "o_custkey" -> col("o_custkey"),
    "o_orderstatus" -> col("o_orderstatus"),
    "o_totalprice" -> col("o_totalprice").cast(DecimalType(18, 2)),
    "o_orderdate" -> col("o_orderdate").cast("date"),
    "o_orderpriority" -> col("o_orderpriority"))

  /** The production profiling aggregation: one scan producing one row
    * of mergeable HLL++ estimates — no Expand, no per-column rescan.
    * Exposed so RelationalSpec can pin the no-Expand plan property on
    * exactly the aggregation the gate runs.
    */
  private[graft] def profileApproxAgg(o: DataFrame): DataFrame = {
    val aggs = ProfileSpecs.map { case (n, c) =>
      approx_count_distinct(c, 0.01).as(s"ad_$n") }
    o.agg(aggs.head, aggs.tail: _*)
  }

  /** Global cumulative-RANGE count (`n_cheaper_or_eq` = rows with
    * value ≤ mine, nulls first as peers) on the [[BandedWindow]]
    * kernel: approx-quantile bands over `valueCol` and a RANGE frame
    * partitioned by band, so equal values stay peers.
    */
  private[graft] def cumulativeRangeCount(df: DataFrame, valueCol: String,
      nBands: Int = 256): DataFrame =
    BandedWindow.runningSum(df, BandedWindow.quantileBand(df, valueCol, nBands),
        Seq(col(valueCol)), lit(1), "n_cheaper_or_eq", "__n")
      .drop("__n")

  /** session_paths' per-session path cap: first PathCap events + a
    * '...' marker. Shared between the engine call and the oracle SQL
    * (interpolated) so changing it cannot silently desync them — the
    * span_corruption constants pattern.
    */
  private val PathCap = 20

  /** attribution_linear's touch band AND its de-skew bucket width, in
    * µs. The bucketed pairing is only exhaustive-and-exactly-once
    * because bucket width == band length (every purchase window covers
    * exactly the 2 buckets {p div B − 1, p div B}; every view sits in
    * 1) — so all four engine sites and the oracle's band predicate
    * MUST move together, hence one constant.
    */
  private val AttrBandUs = 1800000000L

  // ------------------------------------------------------------------
  val defs: Seq[QDef] = Seq(

    // ---- aggregation: TPC-H Q1 shape. One shuffle on two low-card
    // keys; map-side partial agg collapses 100 TB to O(groups)/task.
    QDef("q1_agg", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum("l_quantity").as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("sum_disc_price"),
          davg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |  CAST(sum(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / count(l_discount) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // ---- projection + filter: predicates/columns push to the parquet
    // scan (verified via explain: PushedFilters + pruned ReadSchema).
    QDef("filter_project", (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp")
          && col("l_discount") > lit(0.08))
        .select(col("l_orderkey"), col("l_linenumber"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("net_price"))
        .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber,
        |  l_extendedprice * (1.0 - l_discount) AS net_price
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_discount > 0.08
        |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // ---- CASE WHEN bucketing + agg.
    QDef("case_when", (s, dir) =>
      t(s, dir, "orders")
        .select(when(col("o_totalprice") > 300000, "big")
          .when(col("o_totalprice") > 150000, "mid")
          .otherwise("small").as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n"))
        .orderBy("bucket"),
      Some("""SELECT CASE WHEN o_totalprice > 300000 THEN 'big'
        |            WHEN o_totalprice > 150000 THEN 'mid'
        |            ELSE 'small' END AS bucket, count(*) AS n
        |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin)),

    // ---- inner equi-join, fact-to-fact: shuffles both sides on the
    // join key; at scale AQE picks SMJ/shuffled-hash; agg after.
    QDef("join_inner", (s, dir) =>
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"), dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority, count(*) AS n_items,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // ---- TPC-H Q5-shaped 6-way star join; dims broadcast so the only
    // big shuffles are lineitem⋈orders and the custkey join.
    QDef("join_multiway", (s, dir) => {
      val cust = t(s, dir, "customer"); val ord = t(s, dir, "orders")
      val li = t(s, dir, "lineitem"); val sup = t(s, dir, "supplier")
      val nat = t(s, dir, "nation"); val reg = t(s, dir, "region")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey")
          && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA")
        .groupBy("n_name")
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
        .orderBy("n_name")
    },
      Some("""SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name ORDER BY n_name""".stripMargin)),

    // ---- left outer join keeping empty groups; COALESCE on the
    // null-extended side.
    QDef("join_left", (s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey", "c_name")
        .agg(count(col("o_orderkey")).as("n_orders"),
          coalesce(dsum(col("o_totalprice")), lit(0.0)).as("total_spent"))
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey, c_name, count(o_orderkey) AS n_orders,
        |  COALESCE(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 0.0) AS total_spent
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey, c_name ORDER BY c_custkey""".stripMargin)),

    // ---- left-semi (EXISTS): never duplicates the left side, so no
    // post-join dedup shuffle.
    QDef("join_semi", (s, dir) =>
      t(s, dir, "orders")
        .join(t(s, dir, "lineitem").filter(col("l_quantity") >= 48),
          col("o_orderkey") === col("l_orderkey"), "left_semi")
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_quantity >= 48)
        |ORDER BY o_orderkey""".stripMargin)),

    // ---- left-anti (NOT EXISTS).
    QDef("join_anti", (s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |ORDER BY c_custkey""".stripMargin)),

    // ---- theta join: equi key + inequality residual. The equi part
    // keeps it hash-joinable at scale; the inequality is a residual
    // filter, not a nested-loop.
    QDef("join_theta", (s, dir) =>
      t(s, dir, "supplier")
        .join(t(s, dir, "customer"), col("s_nationkey") === col("c_nationkey")
          && col("c_acctbal") > col("s_acctbal"))
        .groupBy("s_suppkey", "s_name")
        .agg(count(lit(1)).as("n_richer"))
        .orderBy("s_suppkey"),
      Some("""SELECT s_suppkey, s_name, count(*) AS n_richer
        |FROM supplier JOIN customer
        |  ON s_nationkey = c_nationkey AND c_acctbal > s_acctbal
        |GROUP BY s_suppkey, s_name ORDER BY s_suppkey""".stripMargin)),

    // ---- banded range join: c_acctbal within ±10 of s_acctbal.
    // The BANDED form (equi-join on overlap bands + exact re-check)
    // replaces the BroadcastNestedLoopJoin Catalyst would pick for a
    // bare interval predicate — the O(n·m) NL join is dead at scale,
    // the band hash join shuffles each side once.
    QDef("join_range_band", (s, dir) =>
      RangeJoin.bandJoin(
          t(s, dir, "customer").select("c_custkey", "c_acctbal"), "c_acctbal",
          t(s, dir, "supplier")
            .select(col("s_suppkey"), col("s_acctbal"),
              (col("s_acctbal") - 10.0).as("lo"),
              (col("s_acctbal") + 10.0).as("hi")),
          "lo", "hi", width = 25.0)
        .select("s_suppkey", "c_custkey", "s_acctbal", "c_acctbal")
        .orderBy("s_suppkey", "c_custkey"),
      Some("""SELECT s_suppkey, c_custkey, s_acctbal, c_acctbal
        |FROM supplier JOIN customer
        |  ON c_acctbal >= s_acctbal - 10.0 AND c_acctbal <= s_acctbal + 10.0
        |ORDER BY s_suppkey, c_custkey""".stripMargin)),

    // ---- cross join (tiny×tiny only; broadcast NL at scale).
    QDef("join_cross", (s, dir) =>
      t(s, dir, "region").crossJoin(t(s, dir, "nation"))
        .select("r_name", "n_name")
        .orderBy("r_name", "n_name"),
      Some("""SELECT r_name, n_name FROM region CROSS JOIN nation
        |ORDER BY r_name, n_name""".stripMargin)),

    // ---- group-by + HAVING.
    QDef("agg_having", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_partkey")
        .agg(sum("l_quantity").as("total_qty"), count(lit(1)).as("n"))
        .filter(col("total_qty") > 200)
        .orderBy("l_partkey"),
      Some("""SELECT l_partkey, sum(l_quantity) AS total_qty, count(*) AS n
        |FROM lineitem GROUP BY l_partkey
        |HAVING sum(l_quantity) > 200 ORDER BY l_partkey""".stripMargin)),

    // ---- distinct aggregates (expand + two-phase agg in Spark).
    QDef("agg_distinct", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_suppkey")).as("n_supp"),
          countDistinct(col("l_partkey")).as("n_part"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag, count(DISTINCT l_suppkey) AS n_supp,
        |  count(DISTINCT l_partkey) AS n_part, count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // ---- ROLLUP hierarchy totals. Note: rollup-over-join trips
    // Spark 4's ambiguous-self-join detector (the rollup's Expand
    // duplicates grouping attrs carrying __dataset_id plan tags) — a
    // false positive. Fixed by declaring the rollup through SQL over a
    // temp view (a view boundary carries no dataset-id tags) rather
    // than flipping the session-wide analyzer conf, which raced with
    // CONCURRENT queries: any query analyzed inside the flip window
    // lost the ambiguity guard (ConcurrencySpec is the shared-session
    // contract). View name = sanitized dir (readability) + SHA-1 prefix
    // of the RAW dir (collision-proofing: sanitization alone is lossy —
    // "sf-0.1" and "sf_0.1" would share a name); re-registration with
    // identical content is idempotent.
    QDef("agg_rollup", (s, dir) => {
      val sha = java.security.MessageDigest.getInstance("SHA-1")
        .digest(dir.getBytes("UTF-8")).take(6).map(b => f"$b%02x").mkString
      val view = "agg_rollup_base_" +
        dir.replaceAll("[^A-Za-z0-9]", "_") + "_" + sha
      t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .select("r_name", "n_name", "c_acctbal")
        .createOrReplaceTempView(view)
      s.sql(
        s"""SELECT r_name, n_name, count(*) AS n_cust,
           |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_bal
           |FROM $view
           |GROUP BY ROLLUP(r_name, n_name)
           |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin)
    },
      Some("""SELECT r_name, n_name, count(*) AS n_cust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin)),

    // ---- CUBE.
    QDef("agg_cube", (s, dir) =>
      t(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), sum("l_quantity").as("qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first),
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS qty
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)),

    // ---- global aggregate (no grouping): min/max are order-exact.
    QDef("agg_stats", (s, dir) =>
      t(s, dir, "lineitem").agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("l_orderkey")).as("n_orders"),
        min("l_extendedprice").as("min_price"),
        max("l_extendedprice").as("max_price"),
        sum("l_quantity").as("sum_qty"),
        min("l_shipdate").as("first_ship"),
        max("l_shipdate").as("last_ship")),
      Some("""SELECT count(*) AS n_rows, count(DISTINCT l_orderkey) AS n_orders,
        |  min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price,
        |  sum(l_quantity) AS sum_qty,
        |  min(l_shipdate) AS first_ship, max(l_shipdate) AS last_ship
        |FROM lineitem""".stripMargin)),

    // ---- ranking windows: one shuffle on the partition key, sort
    // within partitions; rank/dense_rank on the value (ties OK),
    // row_number/ntile on a unique total order.
    QDef("window_rank", (s, dir) => {
      val byVal = Window.partitionBy("l_returnflag")
        .orderBy(col("l_extendedprice").desc)
      val unique = Window.partitionBy("l_returnflag")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice"),
          rank().over(byVal).as("rnk"),
          dense_rank().over(byVal).as("drnk"),
          row_number().over(unique).as("rn"),
          ntile(4).over(unique).as("quartile"))
        .filter(col("rn") <= 1000)
        .orderBy("l_returnflag", "rn")
    },
      Some("""SELECT * FROM (
        |  SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
        |    CAST(rank() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice DESC) AS INT) AS rnk,
        |    CAST(dense_rank() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice DESC) AS INT) AS drnk,
        |    CAST(row_number() OVER w AS INT) AS rn,
        |    CAST(ntile(4) OVER w AS INT) AS quartile
        |  FROM lineitem
        |  WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber)
        |) WHERE rn <= 1000 ORDER BY l_returnflag, rn""".stripMargin)),

    // ---- analytic windows: running sum (decimal-exact), lag/lead.
    QDef("window_running", (s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          sum(col("o_totalprice").cast(DecimalType(18, 4)))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double").as("running_spent"),
          lag(col("o_totalprice"), 1).over(w).as("prev_price"),
          lead(col("o_totalprice"), 1).over(w).as("next_price"))
        .orderBy("o_custkey", "o_orderkey")
    },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spent,
        |  lag(o_totalprice, 1) OVER w AS prev_price,
        |  lead(o_totalprice, 1) OVER w AS next_price
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin)),

    // ---- RANGE frame: cumulative including peers — deterministic
    // under ties by construction. A naive global `Window.orderBy`
    // funnels the whole table through ONE partition (WindowExec
    // warns); instead the BandedWindow kernel over approx-QUANTILE
    // bands of the order key (skew-proof: a hot value gets its own
    // band, the rest stay balanced — the round-5 value-uniform bands
    // degraded when the key mass concentrated). Equal keys share a
    // band, so no frame ever spans bands — identical semantics,
    // parallel window. See cumulativeRangeCount; skew balance is
    // asserted in RelationalSpec.
    QDef("window_range", (s, dir) =>
      cumulativeRangeCount(t(s, dir, "orders"), "o_totalprice")
        .select("o_orderkey", "o_totalprice", "n_cheaper_or_eq")
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey, o_totalprice,
        |  count(*) OVER (ORDER BY o_totalprice RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_cheaper_or_eq
        |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // ---- top-k per group via row_number.
    QDef("topk_per_group", (s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select("o_custkey", "rk", "o_orderkey", "o_totalprice")
        .orderBy("o_custkey", "rk")
    },
      Some("""SELECT o_custkey, rk, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rk
        |  FROM orders) WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin)),

    // ---- global sort + limit: Spark TakeOrderedAndProject — no full
    // sort materialization at scale.
    QDef("sort_limit", (s, dir) =>
      t(s, dir, "lineitem")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .limit(100),
      Some("""SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 100""".stripMargin)),

    // ---- UNION ALL + re-aggregation.
    QDef("set_union", (s, dir) => {
      val a = t(s, dir, "orders").filter(col("o_totalprice") > 400000)
        .select(col("o_orderkey").as("k"))
      val b = t(s, dir, "lineitem").filter(col("l_quantity") >= 50)
        .select(col("l_orderkey").as("k"))
      a.union(b).groupBy("k").agg(count(lit(1)).as("n")).orderBy("k")
    },
      Some("""SELECT k, count(*) AS n FROM (
        |  SELECT o_orderkey AS k FROM orders WHERE o_totalprice > 400000
        |  UNION ALL
        |  SELECT l_orderkey AS k FROM lineitem WHERE l_quantity >= 50
        |) GROUP BY k ORDER BY k""".stripMargin)),

    // ---- INTERSECT (distinct semantics both engines).
    QDef("set_intersect", (s, dir) =>
      t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        .select(col("l_suppkey"))
        .intersect(
          t(s, dir, "lineitem").filter(col("l_returnflag") === "A")
            .select(col("l_suppkey")))
        .orderBy("l_suppkey"),
      Some("""SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'R'
        |INTERSECT
        |SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'A'
        |ORDER BY l_suppkey""".stripMargin)),

    // ---- EXCEPT.
    QDef("set_except", (s, dir) =>
      t(s, dir, "supplier").select(col("s_suppkey"))
        .except(
          t(s, dir, "lineitem").filter(col("l_quantity") >= 49)
            .select(col("l_suppkey").as("s_suppkey")))
        .orderBy("s_suppkey"),
      Some("""SELECT s_suppkey FROM supplier
        |EXCEPT
        |SELECT l_suppkey AS s_suppkey FROM lineitem WHERE l_quantity >= 49
        |ORDER BY s_suppkey""".stripMargin)),

    // ---- DISTINCT / dropDuplicates.
    QDef("distinct_dedup", (s, dir) =>
      t(s, dir, "customer")
        .select("c_mktsegment", "c_nationkey")
        .dropDuplicates("c_mktsegment", "c_nationkey")
        .orderBy("c_mktsegment", "c_nationkey"),
      Some("""SELECT DISTINCT c_mktsegment, c_nationkey FROM customer
        |ORDER BY c_mktsegment, c_nationkey""".stripMargin)),

    // ---- string scalar functions (codegen'd built-ins, no UDFs).
    QDef("string_funcs", (s, dir) =>
      t(s, dir, "customer")
        .select(col("c_custkey"),
          upper(col("c_name")).as("uname"),
          lower(col("c_mktsegment")).as("lseg"),
          length(col("c_name")).as("name_len"),
          substring(col("c_name"), 1, 8).as("prefix"),
          concat(col("c_mktsegment"), lit("#"), col("c_custkey").cast("string")).as("tag"),
          regexp_replace(col("c_name"), "Customer#", "C").as("short_name"),
          lpad(col("c_custkey").cast("string"), 10, "0").as("padded"),
          reverse(col("c_mktsegment")).as("rseg"))
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey, upper(c_name) AS uname, lower(c_mktsegment) AS lseg,
        |  CAST(length(c_name) AS INT) AS name_len,
        |  substring(c_name, 1, 8) AS prefix,
        |  concat(c_mktsegment, '#', CAST(c_custkey AS VARCHAR)) AS tag,
        |  regexp_replace(c_name, 'Customer#', 'C') AS short_name,
        |  lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded,
        |  reverse(c_mktsegment) AS rseg
        |FROM customer ORDER BY c_custkey""".stripMargin)),

    // ---- date/time scalar functions.
    QDef("date_funcs", (s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          year(col("o_orderdate")).as("yr"),
          month(col("o_orderdate")).as("mo"),
          quarter(col("o_orderdate")).as("qtr"),
          dayofmonth(col("o_orderdate")).as("dom"),
          date_trunc("month", col("o_orderdate")).as("month_start"),
          col("o_orderdate").cast("date").as("odate"),
          last_day(col("o_orderdate")).as("month_end"))
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS INT) AS yr,
        |  CAST(month(o_orderdate) AS INT) AS mo,
        |  CAST(quarter(o_orderdate) AS INT) AS qtr,
        |  CAST(day(o_orderdate) AS INT) AS dom,
        |  date_trunc('month', o_orderdate) AS month_start,
        |  CAST(o_orderdate AS DATE) AS odate,
        |  last_day(CAST(o_orderdate AS DATE)) AS month_end
        |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // ---- math scalar functions (IEEE-exact set only; no round/ln).
    QDef("math_funcs", (s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          abs(col("l_discount") - lit(0.05)).as("disc_dev"),
          ceil(col("l_extendedprice")).as("price_ceil"),
          floor(col("l_extendedprice")).as("price_floor"),
          sqrt(col("l_quantity")).as("qty_sqrt"),
          (col("l_orderkey") % 7).as("key_mod"),
          greatest(col("l_tax"), col("l_discount")).as("max_rate"),
          least(col("l_tax"), col("l_discount")).as("min_rate"))
        .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber,
        |  abs(l_discount - 0.05) AS disc_dev,
        |  CAST(ceil(l_extendedprice) AS BIGINT) AS price_ceil,
        |  CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
        |  sqrt(l_quantity) AS qty_sqrt,
        |  l_orderkey % 7 AS key_mod,
        |  greatest(l_tax, l_discount) AS max_rate,
        |  least(l_tax, l_discount) AS min_rate
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // ---- JSON extraction over events.props.
    QDef("json_funcs", (s, dir) =>
      t(s, dir, "events")
        .select(get_json_object(col("props"), "$.k").cast("int").as("k_val"))
        .groupBy("k_val").agg(count(lit(1)).as("n"))
        .orderBy("k_val"),
      Some("""SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k_val, count(*) AS n
        |FROM events GROUP BY 1 ORDER BY k_val""".stripMargin)),

    // ---- null handling: NULLIF / COALESCE.
    QDef("conditional_null", (s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          coalesce(nullif(col("o_orderstatus"), lit("F")), lit("FILLED")).as("status2"),
          when(col("o_orderpriority").isNull, 0).otherwise(1).as("has_prio"))
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey,
        |  COALESCE(NULLIF(o_orderstatus, 'F'), 'FILLED') AS status2,
        |  CASE WHEN o_orderpriority IS NULL THEN 0 ELSE 1 END AS has_prio
        |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // ---- explode / UDTF-shaped generator (reference's df.explode,
    // ScalaSparkTest.java:276-278): wordcount over documents.
    QDef("explode_words", (s, dir) =>
      t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
        .groupBy("word").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word")),
      Some("""SELECT word, count(*) AS n FROM (
        |  SELECT unnest(string_split(text, ' ')) AS word FROM documents
        |) WHERE word <> '' GROUP BY word ORDER BY n DESC, word""".stripMargin)),

    // ---- pivot (conditional aggregation under the hood).
    QDef("pivot_status", (s, dir) =>
      t(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).as("order_year"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(sum(col("o_totalprice").cast(DecimalType(18, 4))).cast("double"))
        .orderBy("order_year"),
      Some("""SELECT CAST(year(o_orderdate) AS INT) AS order_year,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(18,4)) END) AS DOUBLE) AS "F",
        |  CAST(sum(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(18,4)) END) AS DOUBLE) AS "O",
        |  CAST(sum(CASE WHEN o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(18,4)) END) AS DOUBLE) AS "P"
        |FROM orders GROUP BY 1 ORDER BY order_year""".stripMargin)),

    // ---- scalar subquery (identical SQL text runs in both engines).
    QDef("subquery_scalar", (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice > (SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)/count(*) FROM orders)
        |ORDER BY o_orderkey""".stripMargin)
    },
      Some("""SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice > (SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)/count(*) FROM orders)
        |ORDER BY o_orderkey""".stripMargin)),

    // ---- correlated EXISTS subquery (decorrelated to semi-join by
    // Catalyst).
    QDef("subquery_exists", (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin)
    },
      Some("""SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin)),

    // ---- GROUPING SETS (identical SQL text both engines).
    QDef("grouping_sets", (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""SELECT l_returnflag, l_linestatus, count(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST, n""".stripMargin)
    },
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST, n""".stripMargin)),

    // ---- deterministic sampling (hash/mod-based so the oracle can
    // reproduce it; df.sample is seed-dependent across engines).
    QDef("hash_sample", (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 97 === 0)
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_orderkey % 97 = 0 ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // ---- as-of join (time-series): for each purchase, latest click
    // by the same user strictly before it in (ts, event_id) order.
    // Spark plan: ONE shuffle on user_id + in-partition sort — no
    // self-join; scales linearly with events per user.
    QDef("asof_join", (s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("ts_us", expr("ts div 1000")) // ns → µs (ts read as long)
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts_us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      ev.withColumn("last_click_ts",
          last(when(col("event_type") === "click", col("ts_us")), ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts_us", "last_click_ts")
        .orderBy("event_id")
    },
      Some("""SELECT p.event_id, p.user_id, epoch_us(CAST(p.ts AS TIMESTAMP)) AS ts_us,
        |  (SELECT max(epoch_us(CAST(c.ts AS TIMESTAMP))) FROM events c
        |   WHERE c.user_id = p.user_id AND c.event_type = 'click'
        |     AND (epoch_us(CAST(c.ts AS TIMESTAMP)) < epoch_us(CAST(p.ts AS TIMESTAMP))
        |          OR (epoch_us(CAST(c.ts AS TIMESTAMP)) = epoch_us(CAST(p.ts AS TIMESTAMP))
        |              AND c.event_id < p.event_id))) AS last_click_ts
        |FROM events p WHERE p.event_type = 'purchase' ORDER BY p.event_id""".stripMargin)),

    // ---- exact percentiles (interpolating; both engines implement
    // the same (1-f)·a + f·b definition over sorted values).
    QDef("agg_percentile", (s, dir) =>
      t(s, dir, "orders")
        .groupBy("o_orderstatus")
        .agg(expr("percentile(o_totalprice, 0.5)").as("p50"),
          expr("percentile(o_totalprice, 0.95)").as("p95"))
        .orderBy("o_orderstatus"),
      Some("""SELECT o_orderstatus,
        |  quantile_cont(o_totalprice, 0.5) AS p50,
        |  quantile_cont(o_totalprice, 0.95) AS p95
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // ---- edit distance (dedup-adjacent string similarity).
    QDef("string_distance", (s, dir) =>
      t(s, dir, "customer")
        .select(col("c_custkey"),
          levenshtein(col("c_name"), lit("Customer#000000000")).as("dist"))
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey,
        |  CAST(levenshtein(c_name, 'Customer#000000000') AS INT) AS dist
        |FROM customer ORDER BY c_custkey""".stripMargin)),

    // ---- typed Dataset[T] path (SURVEY §1.4: typed APIs where type
    // safety helps): case-class Encoder, typed filter + map, back to
    // DataFrame with named columns.
    QDef("typed_map", (s, dir) => {
      import s.implicits._
      t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .as[LineSlice]
        .filter(l => l.l_quantity >= 45.0)
        .map(l => (l.l_orderkey, l.l_linenumber, l.l_extendedprice / l.l_quantity))
        .toDF("l_orderkey", "l_linenumber", "unit_price")
        .orderBy("l_orderkey", "l_linenumber")
    },
      Some("""SELECT l_orderkey, l_linenumber, l_extendedprice / l_quantity AS unit_price
        |FROM lineitem WHERE l_quantity >= 45.0
        |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // ---- approx_count_distinct (HLL sketch). DuckDB's sketch
    // differs, so the raw estimate can't be oracle'd — instead the
    // query emits the exact count (hash-checked) plus the HLL
    // *error-bound verdict* as a column the oracle pins to 1: the
    // gate now fails if the sketch drifts outside its documented 5%
    // rsd. The raw estimate is asserted directly in RelationalSpec.
    QDef("agg_approx_distinct", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("exact_parts"),
          (abs(approx_count_distinct(col("l_partkey")).cast("double")
              - countDistinct(col("l_partkey")).cast("double"))
            <= countDistinct(col("l_partkey")).cast("double") * 0.05)
            .cast("int").as("approx_within_5pct"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS exact_parts,
        |  1 AS approx_within_5pct
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)),

    // ---- approximate percentile sketch (same oracle pattern as the
    // HLL query: the exact column is hash-checked; the sketch value is
    // pinned to an error-bound verdict column the oracle fixes at 1.
    // approx_percentile with accuracy a guarantees rank error ≤ n/a,
    // so the verdict checks the approx value lies between the exact
    // (p−ε) and (p+ε) quantiles with ε = 0.01 ≫ 1/a — and ε must stay
    // ≥ ~1.5 ranks at the SMALLEST gate scale too (the sketch returns
    // an actual element; `percentile` interpolates BETWEEN elements,
    // so a sub-element band can exclude every element).
    QDef("agg_approx_percentile", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          // one sort-buffer for all three exact quantiles (the 3
          // scalar-percentile form costs 3 buffers ≈ 2.5× the query)
          expr("percentile(l_extendedprice, array(0.49, 0.5, 0.51))").as("ps"),
          expr("approx_percentile(l_extendedprice, 0.5, 10000)").as("ap"))
        .select(col("l_returnflag"), col("ps")(1).as("exact_p50"),
          (col("ap") >= col("ps")(0) && col("ap") <= col("ps")(2))
            .cast("int").as("approx_in_band"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
        |  quantile_cont(l_extendedprice, 0.5) AS exact_p50,
        |  1 AS approx_in_band
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)),

    // ---- sessionization: 30-min-gap sessions per user — lag + running
    // flag sum; one shuffle on user_id.
    QDef("sessionize", (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
      t(s, dir, "events")
        .withColumn("ts_us", expr("ts div 1000")) // ns → µs (ts read as long)
        .withColumn("new_sess",
          when(col("ts_us") - lag(col("ts_us"), 1).over(w) > 1800000000L, 1)
            .when(lag(col("ts_us"), 1).over(w).isNull, 1)
            .otherwise(0))
        .groupBy("user_id")
        .agg(sum("new_sess").as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy("user_id")
    },
      Some("""WITH e AS (
        |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events
        |), g AS (
        |  SELECT user_id,
        |    CASE WHEN lag(ts_us) OVER w IS NULL THEN 1
        |         WHEN ts_us - lag(ts_us) OVER w > 1800000000 THEN 1
        |         ELSE 0 END AS new_sess
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
        |)
        |SELECT user_id, CAST(sum(new_sess) AS BIGINT) AS n_sessions, count(*) AS n_events
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // ---- distribution windows: percent_rank / cume_dist (exact
    // (rank-1)/(n-1) and rank/n integer divisions — bit-identical
    // across engines) + first/last/nth_value over an explicit
    // full-row frame on a unique order. One shuffle on the partition
    // key, same plan family as window_rank.
    QDef("window_pct", (s, dir) => {
      val byVal = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice"))
      val unique = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
          percent_rank().over(byVal).as("pct_rank"),
          cume_dist().over(byVal).as("cdist"),
          first(col("o_orderkey")).over(unique).as("cheapest_key"),
          last(col("o_orderkey")).over(unique).as("priciest_key"),
          nth_value(col("o_orderkey"), 2).over(unique).as("second_key"))
        .orderBy("o_orderkey")
    },
      Some("""SELECT o_orderkey, o_orderpriority, o_totalprice,
        |  percent_rank() OVER v AS pct_rank,
        |  cume_dist() OVER v AS cdist,
        |  first_value(o_orderkey) OVER u AS cheapest_key,
        |  last_value(o_orderkey) OVER u AS priciest_key,
        |  nth_value(o_orderkey, 2) OVER u AS second_key
        |FROM orders
        |WINDOW v AS (PARTITION BY o_orderpriority ORDER BY o_totalprice),
        |  u AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_orderkey""".stripMargin)),

    // ---- array aggregation (collect_list) — emitted as a sorted
    // joined string so the value-hash is order- and type-stable
    // across engines. One shuffle with map-side partial collect.
    QDef("agg_collect", (s, dir) =>
      t(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(concat_ws(",", sort_array(collect_list(col("o_orderkey"))))
          .as("order_keys"))
        .orderBy("o_custkey"),
      Some("""SELECT o_custkey,
        |  string_agg(o_orderkey, ',' ORDER BY o_orderkey) AS order_keys
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)),

    // ---- correlation / covariance / stddev via exact decimal moment
    // sums. Each FACTOR is cast to DECIMAL(18,2) first (o_totalprice
    // is 2dp, o_custkey integral — the per-factor double→decimal
    // round has ~7 orders of magnitude of margin), and the products
    // are formed in the decimal domain where multiplication is exact:
    // the five moments are then EXACT regardless of partial-agg merge
    // order. (Casting the double PRODUCT instead was measured to flip
    // a last-place digit at sf0.1: ulp(6e11) ≈ the scale-4 rounding
    // boundary.) Final double formulas share one parenthesization on
    // both sides; built-in corr()/covar_samp() stream engine-specific
    // summation orders and drift.
    QDef("agg_corr", (s, dir) => {
      def m(c: Column): Column = sum(c).cast("double")
      val x = col("o_totalprice").cast(DecimalType(18, 2))
      val y = col("o_custkey").cast(DecimalType(18, 2))
      t(s, dir, "orders")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).cast("double").as("n"),
          m(x).as("sx"), m(y).as("sy"), m(x * y).as("sxy"),
          m(x * x).as("sxx"), m(y * y).as("syy"))
        .select(col("o_orderstatus"), col("n").cast("long").as("n_rows"),
          ((col("n") * col("sxy") - col("sx") * col("sy"))
            / (sqrt(col("n") * col("sxx") - col("sx") * col("sx"))
              * sqrt(col("n") * col("syy") - col("sy") * col("sy"))))
            .as("corr_price_cust"),
          ((col("sxy") - col("sx") * col("sy") / col("n")) / (col("n") - 1))
            .as("covar_price_cust"),
          sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
            / (col("n") * (col("n") - 1))).as("stddev_price"))
        .orderBy("o_orderstatus")
    },
      Some("""WITH d AS (
        |  SELECT o_orderstatus,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS x,
        |    CAST(o_custkey AS DECIMAL(18,2)) AS y
        |  FROM orders),
        |mom AS (
        |  -- sums go double via VARCHAR: DuckDB's direct decimal→double
        |  -- cast divides two already-rounded doubles (unscaled > 2^53
        |  -- here), which double-rounds; the string path is correctly
        |  -- rounded, matching Java's BigDecimal.doubleValue()
        |  SELECT o_orderstatus, CAST(count(*) AS DOUBLE) AS n,
        |    CAST(CAST(sum(x) AS VARCHAR) AS DOUBLE) AS sx,
        |    CAST(CAST(sum(y) AS VARCHAR) AS DOUBLE) AS sy,
        |    CAST(CAST(sum(x * y) AS VARCHAR) AS DOUBLE) AS sxy,
        |    CAST(CAST(sum(x * x) AS VARCHAR) AS DOUBLE) AS sxx,
        |    CAST(CAST(sum(y * y) AS VARCHAR) AS DOUBLE) AS syy
        |  FROM d GROUP BY o_orderstatus)
        |SELECT o_orderstatus, CAST(n AS BIGINT) AS n_rows,
        |  (n * sxy - sx * sy)
        |    / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS corr_price_cust,
        |  (sxy - sx * sy / n) / (n - 1) AS covar_price_cust,
        |  sqrt((n * sxx - sx * sx) / (n * (n - 1))) AS stddev_price
        |FROM mom ORDER BY o_orderstatus""".stripMargin)),

    // ---- higher-order array functions (the lambda surface):
    // transform → aggregate fold (sequential in both engines →
    // bit-identical doubles), filter + size, array_max. Narrow
    // projection, scan speed, no shuffle.
    QDef("array_funcs", (s, dir) =>
      t(s, dir, "embeddings")
        .select(col("vec_id"),
          expr("aggregate(transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 0.0D, (a, b) -> a + b)").as("sumsq"),
          size(col("embedding")).as("dim"),
          expr("size(filter(embedding, x -> x > 0.0F))").as("n_pos"),
          array_max(col("embedding")).as("max_elem"))
        .orderBy("vec_id"),
      Some("""SELECT vec_id,
        |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
        |    (a, b) -> a + b) AS sumsq,
        |  CAST(len(embedding) AS INT) AS dim,
        |  CAST(len(list_filter(embedding, x -> x > 0.0)) AS INT) AS n_pos,
        |  list_max(embedding) AS max_elem
        |FROM embeddings ORDER BY vec_id""".stripMargin)),

    // ---- bounded ROWS frame: 4-row moving sum/avg per customer —
    // the moving-average shape. Decimal-exact sum; avg as exact
    // sum / frame count so both engines divide the same numbers.
    QDef("window_moving", (s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(-3, Window.currentRow)
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          sum(col("o_totalprice").cast(DecimalType(18, 4))).over(w)
            .cast("double").as("mov_sum"),
          (sum(col("o_totalprice").cast(DecimalType(18, 4))).over(w)
            .cast("double") / count(lit(1)).over(w)).as("mov_avg"))
        .orderBy("o_custkey", "o_orderkey")
    },
      Some("""SELECT o_custkey, o_orderkey,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) OVER w AS DOUBLE) AS mov_sum,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) OVER w AS DOUBLE)
        |    / count(*) OVER w AS mov_avg
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey""".stripMargin)),

    // ---- value-RANGE frame with a numeric offset: peers within
    // 1000 of the current price count into the frame regardless of
    // row distance — the frame type ROWS can't express.
    QDef("window_value_range", (s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice"))
        .rangeBetween(-1000L, Window.currentRow)
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          count(lit(1)).over(w).as("n_within_1k"))
        .orderBy("o_custkey", "o_orderkey")
    },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice,
        |  count(*) OVER (PARTITION BY o_custkey ORDER BY o_totalprice
        |    RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW) AS n_within_1k
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin)),

    // ---- unpivot / melt: wide measure columns → (measure, val) rows.
    // Narrow 1→4 projection, no shuffle — Spark's Expand node, the
    // same operator rollup/cube lower to; scan stays pruned to the 6
    // referenced columns.
    QDef("unpivot_melt", (s, dir) =>
      t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity",
          "l_extendedprice", "l_discount", "l_tax")
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"),
            col("l_discount"), col("l_tax")),
          "measure", "val")
        .orderBy("l_orderkey", "l_linenumber", "measure"),
      Some("""SELECT l_orderkey, l_linenumber, measure, val FROM (
        |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS val FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
        |) ORDER BY l_orderkey, l_linenumber, measure""".stripMargin)),

    // ---- time-series resample + gap fill: hourly grid per event
    // type, zero-filled where no events landed. The spine is
    // metadata-scale (hours × types — time-bounded no matter the data
    // volume), built with sequence+explode and broadcast against the
    // pre-aggregated (type, hour) rollup; the only data-sized shuffle
    // is the partial-agg groupBy.
    QDef("resample_gapfill", (s, dir) => {
      val e = t(s, dir, "events")
        .select(col("event_type"),
          expr("(ts div 1000) div 3600000000").as("h"), col("value"))
      val agg = e.groupBy("event_type", "h")
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("val_sum"))
      val hrs = e.agg(min("h").as("lo"), max("h").as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("h"))
      val types = e.select("event_type").distinct()
      hrs.crossJoin(broadcast(types))
        .join(agg, Seq("event_type", "h"), "left")
        .select(col("event_type"),
          timestamp_micros(col("h") * 3600000000L).as("hour_start"),
          coalesce(col("n"), lit(0L)).as("n"),
          coalesce(col("val_sum"), lit(0.0)).as("val_sum"))
        .orderBy("event_type", "hour_start")
    },
      Some("""WITH e AS (
        |  SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS h, value
        |  FROM events),
        |agg AS (
        |  SELECT event_type, h, count(*) AS n,
        |    CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS val_sum
        |  FROM e GROUP BY event_type, h),
        |hrs AS (
        |  SELECT unnest(generate_series((SELECT min(h) FROM e), (SELECT max(h) FROM e))) AS h),
        |ty AS (SELECT DISTINCT event_type FROM e)
        |SELECT ty.event_type AS event_type, make_timestamp(hrs.h * 3600000000) AS hour_start,
        |  coalesce(agg.n, 0) AS n, coalesce(agg.val_sum, 0.0) AS val_sum
        |FROM hrs CROSS JOIN ty
        |LEFT JOIN agg ON agg.event_type = ty.event_type AND agg.h = hrs.h
        |ORDER BY ty.event_type, hour_start""".stripMargin)),

    // ---- CDC upsert (merge latest-wins): apply a change stream to a
    // snapshot — latest change per key (window on the change side
    // only) full-outer-joined with the snapshot; kept / updated /
    // inserted all in one pass. Both sides shuffle once on the key;
    // the window runs on the (smaller) change side, never the
    // snapshot.
    QDef("cdc_upsert", (s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts_us").desc, col("event_id").desc)
      val latest = t(s, dir, "events")
        .filter(col("event_type").isin("purchase", "refund"))
        .withColumn("ts_us", expr("ts div 1000"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("value"))
      val snap = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_acctbal"))
      snap.join(latest, col("c_custkey") === col("user_id"), "full_outer")
        .select(
          coalesce(col("user_id"), col("c_custkey")).as("key"),
          coalesce(col("value"), col("c_acctbal")).as("bal"),
          when(col("user_id").isNull, "kept")
            .when(col("c_custkey").isNull, "inserted")
            .otherwise("updated").as("op"))
        .orderBy("key")
    },
      Some("""WITH ch AS (
        |  SELECT user_id, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(CAST(ts AS TIMESTAMP)) DESC, event_id DESC) AS rn
        |  FROM events WHERE event_type IN ('purchase', 'refund')),
        |u AS (SELECT user_id, value FROM ch WHERE rn = 1)
        |SELECT coalesce(u.user_id, c.c_custkey) AS key,
        |  coalesce(u.value, c.c_acctbal) AS bal,
        |  CASE WHEN u.user_id IS NULL THEN 'kept'
        |       WHEN c.c_custkey IS NULL THEN 'inserted'
        |       ELSE 'updated' END AS op
        |FROM customer c FULL OUTER JOIN u ON c.c_custkey = u.user_id
        |ORDER BY key""".stripMargin)),

    // ---- positional generator (posexplode): 1→N expansion that
    // keeps the element index — order-preserving flatMap. DuckDB has
    // no WITH ORDINALITY; the oracle explodes over generated
    // subscripts instead.
    QDef("explode_indexed", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(expr("filter(split(text, ' '), w -> w != '')"))
            .as(Seq("idx", "word")))
        .filter(col("idx") < 5)
        .orderBy("doc_id", "idx"),
      Some("""WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ws
        |  FROM documents)
        |SELECT doc_id, CAST(i - 1 AS INT) AS idx, ws[i] AS word
        |FROM t, unnest(generate_series(1, len(ws))) AS s(i)
        |WHERE i <= 5 ORDER BY doc_id, idx""".stripMargin)),

    // ---- native session_window aggregation: Spark's built-in
    // gap-session operator (one shuffle + in-partition merge —
    // the same plan family works unchanged on a stream). Equivalent
    // to the manual lag+cumsum `sessionize` but with window bounds
    // in the output: end = last event + gap.
    QDef("session_window_agg", (s, dir) =>
      t(s, dir, "events")
        .withColumn("ets", timestamp_micros(expr("ts div 1000")))
        .groupBy(col("user_id"), session_window(col("ets"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("start_us"),
          unix_micros(col("session_window.end")).as("end_us"),
          col("n_events"))
        .orderBy("user_id", "start_us"),
      Some("""WITH e AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t FROM events),
        |g AS (SELECT user_id, t,
        |    CASE WHEN lag(t) OVER w IS NULL
        |         OR t - lag(t) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)),
        |s AS (SELECT user_id, t,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY t
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM g)
        |SELECT user_id, min(t) AS start_us, max(t) + 1800000000 AS end_us,
        |  count(*) AS n_events
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, start_us""".stripMargin)),

    // ---- JSON struct path: from_json with an explicit schema →
    // typed field access → to_json re-serialization (the typed
    // counterpart of json_funcs' get_json_object string path).
    QDef("json_struct", (s, dir) =>
      t(s, dir, "events")
        .select(col("event_id"),
          from_json(col("props"), lit("k INT")).as("p"))
        .select(col("event_id"), col("p.k").as("k"),
          to_json(col("p")).as("rejson"))
        .orderBy("event_id"),
      // rejson guards the missing-key case: Spark's to_json drops null
      // struct fields ('{}'), while a naive NULL concat would yield
      // SQL NULL — the guard keeps the oracle honest if the data ever
      // grows rows without '$.k' (ADVICE r5).
      Some("""SELECT event_id,
        |  CAST(json_extract(props, '$.k') AS INT) AS k,
        |  CASE WHEN json_extract(props, '$.k') IS NULL THEN '{}'
        |       ELSE '{"k":' || CAST(json_extract(props, '$.k') AS VARCHAR) || '}'
        |  END AS rejson
        |FROM events ORDER BY event_id""".stripMargin)),

    // ---- SCD2 / temporal history: event-sourced attribute history
    // with validity intervals — valid_from = the event, valid_to =
    // lead(event) per key, open interval (null) = current. One
    // shuffle on the key; the interval assembly is a single window.
    QDef("scd2_history", (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
      t(s, dir, "events")
        .filter(col("event_type").isin("purchase", "refund"))
        .withColumn("ts_us", expr("ts div 1000"))
        .select(col("user_id"), col("event_id"), col("value").as("bal"),
          col("ts_us").as("valid_from_us"),
          lead(col("ts_us"), 1).over(w).as("valid_to_us"),
          lead(col("ts_us"), 1).over(w).isNull.cast("int").as("is_current"))
        .orderBy("user_id", "valid_from_us", "event_id")
    },
      Some("""WITH e AS (
        |  SELECT user_id, event_id, value AS bal,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
        |  FROM events WHERE event_type IN ('purchase', 'refund'))
        |SELECT user_id, event_id, bal, ts_us AS valid_from_us,
        |  lead(ts_us) OVER w AS valid_to_us,
        |  CAST(lead(ts_us) OVER w IS NULL AS INT) AS is_current
        |FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
        |ORDER BY user_id, valid_from_us, event_id""".stripMargin)),

    // ---- mergeable HLL sketches (DataSketches): per-day partial
    // sketches unioned to a per-type total — the pre-aggregate-once,
    // union-at-query-time pattern that makes distinct counts cheap
    // over 100 TB (daily sketch tables instead of re-scanning raw
    // events). Oracle pattern as agg_approx_distinct: exact count
    // hash-checked, sketch estimate pinned to an error-band verdict.
    QDef("sketch_hll_union", (s, dir) => {
      val ev = t(s, dir, "events")
      val daily = ev
        .groupBy(col("event_type"), expr("(ts div 1000) div 86400000000").as("day"))
        .agg(hll_sketch_agg(col("user_id")).as("sk"))
      val unioned = daily.groupBy("event_type")
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      val exact = ev.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("exact_users"))
      exact.join(unioned, Seq("event_type"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("est") - col("exact_users"))
            <= col("exact_users").cast("double") * 0.05).cast("int")
            .as("est_within_5pct"))
        .orderBy("event_type")
    },
      Some("""SELECT event_type,
        |  count(DISTINCT user_id) AS exact_users,
        |  1 AS est_within_5pct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // ---- regex group extraction (RE2-safe pattern subset so Java
    // regex and DuckDB agree); rlike/regexp_matches prefilter keeps
    // non-matching rows out of both engines' outputs rather than
    // relying on matching empty-string conventions.
    QDef("regex_extract", (s, dir) =>
      t(s, dir, "events")
        .filter(col("props").rlike("\"k\": \\d+"))
        .select(col("event_id"),
          regexp_extract(col("props"), "\"(k)\": (\\d+)", 1).as("key_name"),
          regexp_extract(col("props"), "\"(k)\": (\\d+)", 2)
            .cast("int").as("k"))
        .orderBy("event_id"),
      Some("""SELECT event_id,
        |  regexp_extract(props, '"(k)": (\d+)', 1) AS key_name,
        |  CAST(regexp_extract(props, '"(k)": (\d+)', 2) AS INT) AS k
        |FROM events WHERE regexp_matches(props, '"k": \d+')
        |ORDER BY event_id""".stripMargin)),

    // ---- Z-order clustering key (ZOrder.scala): Morton interleave of
    // customer × order-day, the write-time layout that lets parquet
    // min/max stats prune scans on EITHER dimension. The oracle SQL is
    // generated from the same bit loop as the Column expression, so
    // the two engines share one formula. The gate hashes the key; the
    // locality property (disjoint per-partition key ranges after
    // repartitionByRange) is asserted in RelationalSpec.
    QDef("zorder_cluster", (s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          (col("o_custkey") % 65536).as("x"),
          (expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000") % 65536).as("y"))
        .select(col("o_orderkey"),
          ZOrder.zkey(col("x"), col("y"), 16).as("zkey"))
        .orderBy("o_orderkey"),
      Some(s"""WITH d AS (
        |  SELECT o_orderkey, o_custkey % 65536 AS x,
        |    (epoch_us(o_orderdate) // 86400000000) % 65536 AS y
        |  FROM orders)
        |SELECT o_orderkey, CAST(${ZOrder.zkeySql("x", "y", 16)} AS BIGINT) AS zkey
        |FROM d ORDER BY o_orderkey""".stripMargin)),

    // ---- PageRank as iterative joins (Pregel-as-join) over the
    // customer↔supplier transaction graph — link-graph importance
    // scoring in exact integer nano-rank arithmetic, so the unrolled
    // oracle replays every iteration bit-for-bit ---------------------
    QDef("graph_pagerank", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      // Long-key relabeling (r17, guide §2.3 narrower types): the node
      // universe is C<custkey> ⊎ S<suppkey>; run every superstep on
      // the bijection custkey→2k, suppkey→2k+1 and render the C/S
      // strings once on the node-scale result. PageRank is invariant
      // under node relabeling (joins/aggs only use key equality, and
      // the relabeling is injective across the two families), so
      // rank_nano is bit-identical — the oracle SQL is unchanged. The
      // superstep join+agg keys drop from ~10-byte strings to 8-byte
      // longs (string hashing/compares dominated the iteration CPU in
      // the graft.Profile stage table).
      val pairs = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .select((col("o_custkey").cast("long") * 2).as("src"),
          (col("l_suppkey").cast("long") * 2 + 1).as("dst"))
      val edges = pairs
        .union(pairs.select(col("dst").as("src"), col("src").as("dst")))
      Graph.pageRank(edges, iters = 3)
        .select(concat(when(col("node") % 2 === 0, lit("C")).otherwise(lit("S")),
          expr("node div 2")).as("node"), col("rank_nano"))
        .orderBy("node")
    },
      Some {
        val S = "CAST(1000000000 AS BIGINT)"
        val nq = "(SELECT count(*) FROM n)"
        def iter(i: Int) =
          s"""c$i AS (SELECT ee.dst AS node, sum(r.rank_nano // d.outdeg) AS msum
             |  FROM r${i - 1} r JOIN deg d ON r.node = d.src
             |  JOIN ee ON ee.src = d.src GROUP BY ee.dst),
             |r$i AS (SELECT n.node,
             |  CAST((15 * $S) // (100 * $nq)
             |    + 85 * coalesce(c.msum, 0) // 100 AS BIGINT) AS rank_nano
             |  FROM n LEFT JOIN c$i c USING (node))""".stripMargin
        s"""WITH e AS (SELECT DISTINCT 'C' || CAST(o_custkey AS VARCHAR) AS src,
           |    'S' || CAST(l_suppkey AS VARCHAR) AS dst
           |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
           |ee AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
           |n AS (SELECT src AS node FROM ee UNION SELECT dst FROM ee),
           |deg AS (SELECT src, count(*) AS outdeg FROM ee GROUP BY src),
           |r0 AS (SELECT node, CAST($S // $nq AS BIGINT) AS rank_nano FROM n),
           |${(1 to 3).map(iter).mkString(",\n")}
           |SELECT node, rank_nano FROM r3 ORDER BY node""".stripMargin
      }),

    // ---- fuzzy join: edit-distance-1 entity matching via complete
    // deletion-neighborhood blocking (FastSS/SymSpell) — never
    // all-pairs. Oracle (r14): the same deletion-neighborhood
    // candidates replayed in DuckDB + levenshtein verify — provably
    // complete for ed<=1 (any substitution/indel pair shares a
    // deletion key) and identical to the retired all-pairs form
    // (tools/oracle_ab.py), which timed out DuckDB's 120 s bound at
    // sf0.1 under host load --------------------------------------
    QDef("fuzzy_join_ed1", (s, dir) =>
      FuzzyJoin.editDistance1Pairs(
        t(s, dir, "customer").select(col("c_custkey"), col("c_name")),
        "c_custkey", "c_name")
        .select(col("a_id"), col("b_id"), col("dist"))
        .orderBy("a_id", "b_id"),
      Some("""WITH nb AS (
        |  SELECT c_custkey AS id, c_name AS name,
        |    unnest(list_distinct(list_append(
        |      [name[:i-1] || name[i+1:] for i in range(1, length(name) + 1)],
        |      name))) AS k
        |  FROM customer),
        |cand AS (
        |  SELECT DISTINCT a.id AS a_id, b.id AS b_id, a.name AS an, b.name AS bn
        |  FROM nb a JOIN nb b ON a.k = b.k AND a.id < b.id)
        |SELECT a_id, b_id, CAST(levenshtein(an, bn) AS INT) AS dist
        |FROM cand WHERE levenshtein(an, bn) <= 1
        |ORDER BY a_id, b_id""".stripMargin)),

    // ---- sorted-neighborhood record linkage (Hernández–Stolfo
    // merge/purge): rank by blocking key WITHOUT a global window
    // (BandedWindow over prefix bands), pair ranks rn+1..rn+w via
    // an equi-join, levenshtein verify. The oracle replays the exact
    // same window semantics with a plain global row_number ----------
    QDef("snm_pairs", (s, dir) =>
      FuzzyJoin.snmPairs(
        t(s, dir, "part").select(col("p_partkey"), col("p_name")),
        "p_partkey", "p_name", w = 3, maxDist = 3)
        .select(col("a_id"), col("b_id"), col("dist"))
        .orderBy("a_id", "b_id"),
      Some("""WITH r AS (SELECT p_partkey AS id, p_name AS k,
        |    row_number() OVER (ORDER BY p_name, p_partkey) AS rn FROM part)
        |SELECT a.id AS a_id, b.id AS b_id,
        |  CAST(levenshtein(a.k, b.k) AS INT) AS dist
        |FROM r a JOIN r b ON b.rn > a.rn AND b.rn <= a.rn + 3
        |WHERE levenshtein(a.k, b.k) <= 3
        |ORDER BY a_id, b_id""".stripMargin)),

    // ---- funnel analysis: earliest-completion view→click→purchase
    // per user. Cascading first-times: each stage's timestamp is the
    // earliest qualifying event STRICTLY AFTER the previous stage.
    // Three user-key aggregations — same shuffle key throughout, all
    // map-combined, no window over the raw event stream ---------------
    QDef("funnel_conversion", (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          expr("ts div 1000").as("ts_us"))
      val s1 = ev.groupBy("user_id")
        .agg(min(when(col("event_type") === "view", col("ts_us"))).as("t_view"))
      val s2 = ev.join(s1, "user_id")
        .groupBy("user_id")
        .agg(first("t_view").as("t_view"),
          min(when(col("event_type") === "click" && col("ts_us") > col("t_view"),
            col("ts_us"))).as("t_click"))
      val s3 = ev.join(s2, "user_id")
        .groupBy("user_id")
        .agg(first("t_view").as("t_view"), first("t_click").as("t_click"),
          min(when(col("event_type") === "purchase" && col("ts_us") > col("t_click"),
            col("ts_us"))).as("t_purchase"))
      s3.select(col("user_id"), col("t_view"), col("t_click"), col("t_purchase"),
          (col("t_view").isNotNull.cast("int") + col("t_click").isNotNull.cast("int")
            + col("t_purchase").isNotNull.cast("int")).as("funnel_stage"))
        .orderBy("user_id")
    },
      Some("""WITH ev AS (SELECT user_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events),
        |s1 AS (SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN ts_us END) AS t_view
        |  FROM ev GROUP BY user_id),
        |s2 AS (SELECT ev.user_id, any_value(t_view) AS t_view,
        |    min(CASE WHEN event_type = 'click' AND ts_us > t_view THEN ts_us END) AS t_click
        |  FROM ev JOIN s1 USING (user_id) GROUP BY ev.user_id),
        |s3 AS (SELECT ev.user_id, any_value(t_view) AS t_view,
        |    any_value(t_click) AS t_click,
        |    min(CASE WHEN event_type = 'purchase' AND ts_us > t_click THEN ts_us END) AS t_purchase
        |  FROM ev JOIN s2 USING (user_id) GROUP BY ev.user_id)
        |SELECT user_id, t_view, t_click, t_purchase,
        |  CAST((t_view IS NOT NULL)::INT + (t_click IS NOT NULL)::INT
        |    + (t_purchase IS NOT NULL)::INT AS INT) AS funnel_stage
        |FROM s3 ORDER BY user_id""".stripMargin)),

    // ---- cohort retention: users grouped by first-activity week,
    // activity matrix by week offset. Two bounded aggregations (user
    // key, then cohort×offset key) — integer day/week arithmetic on
    // epoch-µs so both engines bucket identically --------------------
    QDef("cohort_retention", (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"),
          expr("(ts div 1000) div 604800000000").as("week"))
      val cohort = ev.groupBy("user_id").agg(min("week").as("cohort_week"))
      ev.join(cohort, "user_id")
        .groupBy(col("cohort_week"),
          (col("week") - col("cohort_week")).as("week_offset"))
        .agg(countDistinct("user_id").as("n_users"))
        .orderBy("cohort_week", "week_offset")
    },
      Some("""WITH ev AS (SELECT user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 604800000000 AS week FROM events),
        |c AS (SELECT user_id, min(week) AS cohort_week FROM ev GROUP BY user_id)
        |SELECT cohort_week, week - cohort_week AS week_offset,
        |  count(DISTINCT ev.user_id) AS n_users
        |FROM ev JOIN c USING (user_id)
        |GROUP BY cohort_week, week_offset
        |ORDER BY cohort_week, week_offset""".stripMargin)),

    // ---- triangle counting on the co-purchase graph (parts sharing
    // an order). Engine: degree-oriented wedge join, O(m^1.5) bound;
    // oracle: direct id-ordered 3-way join — same triangle set -------
    QDef("triangle_count", (s, dir) => {
      // co-purchase edges: two distincts around an order-key self-join.
      // No explicit repartition: each distinct and the self-join shuffle
      // through their own ENSURE_REQUIREMENTS exchange, sized by AQE.
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
        .distinct()
      val e = li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.p") < col("b.p"))
        .select(col("a.p").as("u"), col("b.p").as("v"))
        .distinct()
      Graph.triangleCounts(e).orderBy("node")
    },
      Some("""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
        |e AS (SELECT DISTINCT a.p AS u, b.p AS v FROM li a
        |  JOIN li b ON a.ok = b.ok AND a.p < b.p),
        |tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM e e1 JOIN e e2 ON e1.u = e2.u AND e1.v < e2.v
        |  JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v)
        |SELECT node, count(*) AS n_tri FROM (
        |  SELECT a AS node FROM tri
        |  UNION ALL SELECT b FROM tri
        |  UNION ALL SELECT c FROM tri)
        |GROUP BY node ORDER BY node""".stripMargin)),

    // ---- sketch set algebra: audience overlap (distinct users doing
    // BOTH event types) by inclusion–exclusion over mergeable HLL
    // sketches — |A∩B| ≈ est(A) + est(B) − est(A∪B). The raw user ids
    // never shuffle twice: one sketch per type, then a pair grid over
    // the handful of per-type sketch rows (metadata-scale). The exact
    // intersection (the verdict pin) comes from a distinct user×type
    // self-join — the gate harness, not the scale path. Datasketches
    // HLL is deterministic (hash-based, register max-merge is
    // order-insensitive), so the verdict is stable across runs.
    QDef("sketch_hll_intersect", (s, dir) => {
      val ev = t(s, dir, "events")
      val perType = ev.groupBy("event_type")
        .agg(hll_sketch_agg(col("user_id")).as("sk"),
          countDistinct(col("user_id")).as("exact_n"))
      val pairs = perType.as("a")
        .join(broadcast(perType.as("b")),
          col("a.event_type") < col("b.event_type"))
        .select(col("a.event_type").as("type_a"),
          col("b.event_type").as("type_b"),
          col("a.exact_n").as("exact_a"), col("b.exact_n").as("exact_b"),
          (hll_sketch_estimate(col("a.sk")) + hll_sketch_estimate(col("b.sk"))
            - hll_sketch_estimate(hll_union(col("a.sk"), col("b.sk"))))
            .as("est_both"))
      val du = ev.select("event_type", "user_id").distinct()
      val exact = du.as("x")
        .join(du.as("y"), col("x.user_id") === col("y.user_id")
          && col("x.event_type") < col("y.event_type"))
        .groupBy(col("x.event_type").as("type_a"),
          col("y.event_type").as("type_b"))
        .agg(count(lit(1)).as("exact_both"))
      exact.join(pairs, Seq("type_a", "type_b"))
        .select(col("type_a"), col("type_b"), col("exact_both"),
          (abs(col("est_both") - col("exact_both"))
            <= (col("exact_a") + col("exact_b")).cast("double") * 0.05)
            .cast("int").as("iex_within_5pct"))
        .orderBy("type_a", "type_b")
    },
      Some("""WITH du AS (SELECT DISTINCT event_type, user_id FROM events)
        |SELECT a.event_type AS type_a, b.event_type AS type_b,
        |  CAST(count(*) AS BIGINT) AS exact_both, 1 AS iex_within_5pct
        |FROM du a JOIN du b
        |  ON a.user_id = b.user_id AND a.event_type < b.event_type
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ---- 2-D Pareto front (skyline): parts not dominated on
    // (maximize p_size, minimize p_retailprice) — the multi-criteria
    // quality cut. Sort-based O(n log n) plan instead of the O(n²)
    // dominance test: per-size min price m(s) (one bounded shuffle),
    // then the running min over STRICTLY larger sizes M(s) via a
    // window over the ≤|distinct sizes| aggregated rows
    // (metadata-scale — the only global window, see PlanAuditSpec),
    // broadcast back. p survives iff p.price = m(p.size) AND
    // p.price < M(p.size) (vacuous at the max size): equal-size
    // domination needs strictly lower price, larger-size domination
    // needs less-or-equal price. Exact duplicates both survive
    // (neither strictly dominates). The oracle runs the O(n²)
    // NOT EXISTS definition — same set.
    QDef("pareto_front", (s, dir) => {
      val p = t(s, dir, "part")
      val m = p.groupBy("p_size").agg(min("p_retailprice").as("m"))
      val w = Window.orderBy(col("p_size").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val mm = m.withColumn("bigM", min(col("m")).over(w))
      p.join(broadcast(mm), "p_size")
        .filter(col("p_retailprice") === col("m")
          && (col("bigM").isNull || col("p_retailprice") < col("bigM")))
        .select("p_partkey", "p_size", "p_retailprice")
        .orderBy("p_partkey")
    },
      Some("""SELECT p_partkey, p_size, p_retailprice FROM part p
        |WHERE NOT EXISTS (SELECT 1 FROM part q
        |  WHERE q.p_size >= p.p_size AND q.p_retailprice <= p.p_retailprice
        |    AND (q.p_size > p.p_size OR q.p_retailprice < p.p_retailprice))
        |ORDER BY p_partkey""".stripMargin)),

    // ---- equi-depth histogram: exact decile boundaries (one
    // bounded-output aggregate — 9 doubles to the driver, AQE-stats
    // scale) folded into the codegen'd SortedBucket binary search;
    // bucket = count of boundaries strictly below the value, so
    // boundary ties bucket identically in both engines (percentile ≡
    // quantile_cont per the agg_percentile contract). Per-bucket
    // count + min/max = one partial+final aggregation. The profiling
    // companion to profile_table — distribution shape, not just
    // min/max.
    QDef("histogram_equidepth", (s, dir) => {
      val ev = t(s, dir, "events")
      val probs = (1 to 9).map(_ / 10.0)
      val bounds = ev
        .agg(expr(s"percentile(value, array(${probs.mkString(", ")}))"))
        .head().getSeq[Double](0).toArray
      ev.select(graft.functions.SortedBucket(col("value"), bounds)
          .as("bucket"), col("value"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          min("value").as("lo"), max("value").as("hi"))
        .orderBy("bucket")
    },
      Some("""WITH b AS (SELECT [quantile_cont(value, 0.1), quantile_cont(value, 0.2),
        |    quantile_cont(value, 0.3), quantile_cont(value, 0.4),
        |    quantile_cont(value, 0.5), quantile_cont(value, 0.6),
        |    quantile_cont(value, 0.7), quantile_cont(value, 0.8),
        |    quantile_cont(value, 0.9)] AS bl FROM events),
        |a AS (SELECT CAST(len(list_filter((SELECT bl FROM b), x -> x < value))
        |    AS INT) AS bucket, value FROM events)
        |SELECT bucket, CAST(count(*) AS BIGINT) AS n,
        |  min(value) AS lo, max(value) AS hi
        |FROM a GROUP BY bucket ORDER BY bucket""".stripMargin)),

    // ---- robust outlier detection: median absolute deviation per
    // event type (Hampel filter — the robust alternative to z-scores
    // when the tail itself corrupts mean/stddev). Two exact-percentile
    // passes (median, then MAD over |x − median|), both bounded by
    // the type key and broadcast back; flag |x − med| > 3·1.4826·MAD
    // (the Gaussian-consistency constant). percentile() and DuckDB's
    // quantile_cont interpolate identically (the agg_percentile
    // contract), and the flag formula is one fixed-order double
    // expression.
    QDef("mad_outliers", (s, dir) => {
      val ev = t(s, dir, "events")
      val med = ev.groupBy("event_type")
        .agg(expr("percentile(value, 0.5)").as("med"))
      val withMed = ev.join(broadcast(med), "event_type")
      val mad = withMed.groupBy("event_type")
        .agg(expr("percentile(abs(value - med), 0.5)").as("mad"))
      withMed.join(broadcast(mad), "event_type")
        .select(col("event_id"), col("event_type"), col("value"),
          col("med"), col("mad"),
          when(col("mad") === 0.0, lit(0))
            .otherwise((abs(col("value") - col("med"))
              > lit(3.0) * lit(1.4826) * col("mad")).cast("int"))
            .as("is_outlier"))
        .orderBy("event_id")
    },
      Some("""WITH m AS (SELECT event_type,
        |    quantile_cont(value, 0.5) AS med FROM events GROUP BY 1),
        |d AS (SELECT e.event_id, e.event_type, e.value, m.med
        |  FROM events e JOIN m USING (event_type)),
        |md AS (SELECT event_type,
        |    quantile_cont(abs(value - med), 0.5) AS mad
        |  FROM d GROUP BY 1)
        |SELECT event_id, d.event_type, value, med, mad,
        |  CASE WHEN mad = 0 THEN 0
        |    ELSE CAST(abs(value - med) > 3.0 * 1.4826 * mad AS INT) END
        |    AS is_outlier
        |FROM d JOIN md USING (event_type)
        |ORDER BY event_id""".stripMargin)),

    // ---- top user-journey paths: the ordered event-type string per
    // 30-min session ("view>view>purchase"), counted corpus-wide, top
    // 20 — the funnel-EXPLORATION query (funnel_conversion checks one
    // known path; this surfaces which paths exist). Sessions are NOT
    // bounded by the 30-min gap (a bot firing every <30 min keeps one
    // session alive forever), so the path is CAPPED at the first
    // PATH_CAP=20 events with a '...' truncation marker — the filter
    // runs BEFORE the group fold, so no unbounded per-session array is
    // ever materialized (the LSH bucket-cap precedent). Path assembly
    // uses the order-exact re-stitch discipline (sort structs BEFORE
    // transform — collect_list alone is merge-order-nondeterministic);
    // the per-session rank window shares the user-hash clustering (no
    // extra shuffle); the top-20 is a TakeOrdered heap with a total
    // (count DESC, path) order, never a global window.
    QDef("session_paths", (s, dir) => {
      val ev = t(s, dir, "events").withColumn("ts_us", expr("ts div 1000"))
      val wU = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
      val sess = ev
        .withColumn("new_sess", when(lag(col("ts_us"), 1).over(wU).isNull
          || col("ts_us") - lag(col("ts_us"), 1).over(wU) > 1800000000L, 1)
          .otherwise(0))
        .withColumn("sid", sum("new_sess").over(
          Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val wS = Window.partitionBy("user_id", "sid")
        .orderBy(col("ts_us"), col("event_id"))
      sess.withColumn("rk", row_number().over(wS))
        .filter(col("rk") <= PathCap + 1)
        .withColumn("tok", when(col("rk") === PathCap + 1, lit("..."))
          .otherwise(col("event_type")))
        .groupBy("user_id", "sid")
        .agg(concat_ws(">", expr(
          "transform(array_sort(collect_list(struct(rk, tok))), x -> x.tok)"))
          .as("path"))
        .groupBy("path").agg(count(lit(1)).as("n_sessions"))
        .orderBy(col("n_sessions").desc, col("path")).limit(20)
    },
      Some(s"""WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events),
        |g AS (SELECT user_id, ts_us, event_id, event_type,
        |    CASE WHEN lag(ts_us) OVER w IS NULL
        |         OR ts_us - lag(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |sfold AS (SELECT user_id, ts_us, event_id, event_type,
        |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |      ROWS UNBOUNDED PRECEDING) AS sid FROM g),
        |r AS (SELECT user_id, sid, event_type,
        |    row_number() OVER (PARTITION BY user_id, sid
        |      ORDER BY ts_us, event_id) AS rk FROM sfold),
        |p AS (SELECT user_id, sid, string_agg(
        |    CASE WHEN rk = ${PathCap + 1} THEN '...' ELSE event_type END, '>'
        |    ORDER BY rk) AS path
        |  FROM r WHERE rk <= ${PathCap + 1} GROUP BY user_id, sid),
        |c AS (SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
        |  FROM p GROUP BY path)
        |SELECT path, n_sessions FROM c
        |ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin)),

    // ---- linear multi-touch attribution: every view within 30 min
    // before a purchase shares the credit equally (1/n_touches), with
    // the last touch flagged — the marketing-attribution shape
    // (first/last/linear all fall out of the same touch relation).
    // Join discipline (the interval_overlap_join hour-band idiom): the
    // band length EQUALS the bucket width (30 min), so every purchase
    // window covers EXACTLY the 2 buckets {p div B - 1, p div B} and
    // every view sits in exactly 1 bucket — pairing on
    // (user_id, bucket) emits each candidate at most once (no dedup)
    // and bounds the pre-filter fan-out per key by one bucket's
    // traffic, not the user's whole history (a bare user-keyed equi
    // join is skew-quadratic: |V_u|·|P_u| candidates for a bot user
    // BEFORE the band predicate rejects them). Both windows ride ONE
    // purchase-keyed shuffle; the credit is one IEEE division;
    // last-touch ties break on view_id. The oracle keeps the direct
    // user-equi + band formulation — algorithm-independent.
    QDef("attribution_linear", (s, dir) => {
      val ev = t(s, dir, "events").withColumn("ts_us", expr("ts div 1000"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("view_id"),
          col("ts_us").as("v_us"))
        .withColumn("bkt", expr(s"v_us div $AttrBandUs"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("ts_us").as("p_us"))
        .withColumn("bkt", explode(array(
          expr(s"p_us div $AttrBandUs - 1"), expr(s"p_us div $AttrBandUs"))))
      val w = Window.partitionBy("purchase_id")
      val wOrd = Window.partitionBy("purchase_id")
        .orderBy(col("v_us").desc, col("view_id").desc)
      purchases.join(views, Seq("user_id", "bkt"))
        .filter(col("v_us") <= col("p_us")
          && col("v_us") >= col("p_us") - AttrBandUs)
        .withColumn("n_touches", count(lit(1)).over(w))
        .withColumn("credit", lit(1.0) / col("n_touches"))
        .withColumn("last_touch",
          (row_number().over(wOrd) === 1).cast("int"))
        .select("user_id", "purchase_id", "view_id", "n_touches",
          "credit", "last_touch")
        .orderBy("purchase_id", "view_id")
    },
      Some(s"""WITH v AS (SELECT user_id, event_id AS view_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS v_us
        |  FROM events WHERE event_type = 'view'),
        |p AS (SELECT user_id, event_id AS purchase_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS p_us
        |  FROM events WHERE event_type = 'purchase'),
        |t AS (SELECT p.user_id, purchase_id, view_id, v_us, p_us
        |  FROM p JOIN v USING (user_id)
        |  WHERE v_us <= p_us AND v_us >= p_us - $AttrBandUs),
        |c AS (SELECT user_id, purchase_id, view_id,
        |    CAST(count(*) OVER (PARTITION BY purchase_id) AS BIGINT)
        |      AS n_touches,
        |    CAST(row_number() OVER (PARTITION BY purchase_id
        |      ORDER BY v_us DESC, view_id DESC) = 1 AS INT) AS last_touch
        |  FROM t)
        |SELECT user_id, purchase_id, view_id, n_touches,
        |  CAST(1.0 AS DOUBLE) / n_touches AS credit, last_touch
        |FROM c ORDER BY purchase_id, view_id""".stripMargin)),

    // ---- interval×interval overlap join — the general two-sided
    // interval join (Trino/kdb "overlaps", maintenance-window
    // attribution) that a bare pair of inequality predicates plans as
    // a nested loop. Sides are data-derived: 30-min-gap user SESSIONS
    // (the sessionize fold emitted as intervals) × per-type BUSY
    // PERIODS (hours with above-corpus-mean traffic, adjacent hours
    // merged via the island trick). Engine shape: both sides explode
    // over their covered hours — bounded fan-out (interval length in
    // hours) — and pair on the hour EQUI-key, dedup, then one exact
    // closed-interval overlap formula; the shuffle is keyed, never a
    // nested loop. The oracle intentionally uses the direct
    // inequality join (DuckDB's IEJoin) — algorithm-independent
    // cross-check. Busy threshold is self-scaling (cnt·n_hours >
    // total, integer-exact — no SF-sensitive constant).
    QDef("interval_overlap_join", (s, dir) => {
      val ev = t(s, dir, "events").withColumn("ts_us", expr("ts div 1000"))
      val wU = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
      val sess = ev
        .withColumn("new_sess", when(lag(col("ts_us"), 1).over(wU).isNull
          || col("ts_us") - lag(col("ts_us"), 1).over(wU) > 1800000000L, 1)
          .otherwise(0))
        .withColumn("sid", sum("new_sess").over(
          Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "sid")
        .agg(min("ts_us").as("s_start"), max("ts_us").as("s_end"))
      val hourly = ev
        .groupBy(col("event_type"), expr("ts_us div 3600000000").as("h"))
        .agg(count(lit(1)).as("cnt"))
      val tot = hourly.agg(sum("cnt").as("total"), count(lit(1)).as("n_hours"))
      val wT = Window.partitionBy("event_type").orderBy("h")
      val busy = hourly.crossJoin(broadcast(tot))
        .filter(col("cnt") * col("n_hours") > col("total"))
        .withColumn("island", col("h") - row_number().over(wT))
        .groupBy("event_type", "island")
        .agg(min("h").as("bh0"), max("h").as("bh1"))
      val sessH = sess.select(col("user_id"), col("s_start"), col("s_end"),
        explode(sequence(expr("s_start div 3600000000"),
          expr("s_end div 3600000000"))).as("h"))
      val busyH = busy.select(col("event_type"),
        (col("bh0") * 3600000000L).as("b_start"),
        ((col("bh1") + 1L) * 3600000000L - 1L).as("b_end"),
        explode(sequence(col("bh0"), col("bh1"))).as("h"))
      sessH.join(busyH, "h")
        .select("user_id", "s_start", "s_end", "event_type", "b_start", "b_end")
        .distinct()
        .withColumn("overlap_us",
          least(col("s_end"), col("b_end")) - greatest(col("s_start"), col("b_start")))
        .orderBy("user_id", "s_start", "event_type", "b_start")
    },
      Some("""WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events),
        |g AS (SELECT user_id, ts_us, event_id,
        |    CASE WHEN lag(ts_us) OVER w IS NULL
        |         OR ts_us - lag(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |sfold AS (SELECT user_id, ts_us, sum(new_sess) OVER (
        |    PARTITION BY user_id ORDER BY ts_us, event_id
        |    ROWS UNBOUNDED PRECEDING) AS sid FROM g),
        |sess AS (SELECT user_id, min(ts_us) AS s_start, max(ts_us) AS s_end
        |  FROM sfold GROUP BY user_id, sid),
        |hr AS (SELECT event_type, ts_us // 3600000000 AS h,
        |    CAST(count(*) AS BIGINT) AS cnt FROM e GROUP BY 1, 2),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total,
        |    CAST(count(*) AS BIGINT) AS n_hours FROM hr),
        |bh AS (SELECT event_type, h FROM hr, tot WHERE cnt * n_hours > total),
        |isl AS (SELECT event_type, h, h - row_number() OVER (
        |    PARTITION BY event_type ORDER BY h) AS island FROM bh),
        |busy AS (SELECT event_type, min(h) AS bh0, max(h) AS bh1
        |  FROM isl GROUP BY event_type, island)
        |SELECT s.user_id, s.s_start, s.s_end, b.event_type,
        |  bh0 * 3600000000 AS b_start,
        |  (bh1 + 1) * 3600000000 - 1 AS b_end,
        |  least(s.s_end, (bh1 + 1) * 3600000000 - 1)
        |    - greatest(s.s_start, bh0 * 3600000000) AS overlap_us
        |FROM sess s JOIN busy b
        |  ON s.s_start <= (bh1 + 1) * 3600000000 - 1
        | AND bh0 * 3600000000 <= s.s_end
        |ORDER BY user_id, s_start, event_type, b_start""".stripMargin)),

    // ---- truncated EWMA smoothing: 8-lag exponential weights
    // (α = 0.5 — every weight an exact power of two) per event type,
    // normalized over the lags that EXIST so early rows smooth over
    // their available history. The weighted sum is written as ONE
    // fixed left-to-right addition chain mirrored textually in the
    // oracle — IEEE-exact, no quantization needed. One per-key window
    // (8 lags ride a single sort), never global.
    QDef("ewma_smooth", (s, dir) => {
      val ev = t(s, dir, "events")
      val w = Window.partitionBy("event_type").orderBy(col("ts"), col("event_id"))
      val wks = (0 to 7).map(k => 0.5 * math.pow(0.5, k))
      val lags = (1 to 7).map(k => lag("value", k).over(w))
      val num = lags.zip(wks.tail).foldLeft(lit(wks.head) * col("value")) {
        case (acc, (l, wk)) => acc + coalesce(lit(wk) * l, lit(0.0))
      }
      val den = lags.zip(wks.tail).foldLeft(lit(wks.head)) {
        case (acc, (l, wk)) => acc + when(l.isNotNull, lit(wk)).otherwise(lit(0.0))
      }
      ev.select(col("event_id"), col("event_type"), col("value"),
        (num / den).as("ewma")).orderBy("event_id")
    },
      Some("""WITH e AS (SELECT event_id, event_type, value,
        |  lag(value, 1) OVER w AS l1, lag(value, 2) OVER w AS l2,
        |  lag(value, 3) OVER w AS l3, lag(value, 4) OVER w AS l4,
        |  lag(value, 5) OVER w AS l5, lag(value, 6) OVER w AS l6,
        |  lag(value, 7) OVER w AS l7
        |  FROM events
        |  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id))
        |SELECT event_id, event_type, value,
        |  (CAST(0.5 AS DOUBLE) * value
        |   + coalesce(CAST(0.25 AS DOUBLE) * l1, 0.0)
        |   + coalesce(CAST(0.125 AS DOUBLE) * l2, 0.0)
        |   + coalesce(CAST(0.0625 AS DOUBLE) * l3, 0.0)
        |   + coalesce(CAST(0.03125 AS DOUBLE) * l4, 0.0)
        |   + coalesce(CAST(0.015625 AS DOUBLE) * l5, 0.0)
        |   + coalesce(CAST(0.0078125 AS DOUBLE) * l6, 0.0)
        |   + coalesce(CAST(0.00390625 AS DOUBLE) * l7, 0.0))
        |  / (CAST(0.5 AS DOUBLE)
        |   + CASE WHEN l1 IS NULL THEN 0.0 ELSE CAST(0.25 AS DOUBLE) END
        |   + CASE WHEN l2 IS NULL THEN 0.0 ELSE CAST(0.125 AS DOUBLE) END
        |   + CASE WHEN l3 IS NULL THEN 0.0 ELSE CAST(0.0625 AS DOUBLE) END
        |   + CASE WHEN l4 IS NULL THEN 0.0 ELSE CAST(0.03125 AS DOUBLE) END
        |   + CASE WHEN l5 IS NULL THEN 0.0 ELSE CAST(0.015625 AS DOUBLE) END
        |   + CASE WHEN l6 IS NULL THEN 0.0 ELSE CAST(0.0078125 AS DOUBLE) END
        |   + CASE WHEN l7 IS NULL THEN 0.0 ELSE CAST(0.00390625 AS DOUBLE) END)
        |  AS ewma
        |FROM e ORDER BY event_id""".stripMargin)),

    // ---- robust winsorization: clamp a measure to its per-group
    // [p05, p95] band (the clipping companion to mad_outliers — fix
    // the tail instead of flagging it; what a feature-cleaning stage
    // does before aggregates that aren't robust). Exact percentiles
    // (the agg_percentile interpolation contract) on the bounded
    // per-type aggregate, broadcast back; clamp is two IEEE
    // comparisons — hash-exact.
    QDef("winsorize", (s, dir) => {
      val ev = t(s, dir, "events")
      val bounds = ev.groupBy("event_type")
        .agg(expr("percentile(value, 0.05)").as("lo"),
          expr("percentile(value, 0.95)").as("hi"))
      ev.join(broadcast(bounds), "event_type")
        .select(col("event_id"), col("event_type"), col("value"),
          greatest(col("lo"), least(col("hi"), col("value"))).as("v_winsor"),
          (col("value") < col("lo") || col("value") > col("hi"))
            .cast("int").as("clipped"))
        .orderBy("event_id")
    },
      Some("""WITH b AS (SELECT event_type,
        |    quantile_cont(value, 0.05) AS lo,
        |    quantile_cont(value, 0.95) AS hi
        |  FROM events GROUP BY 1)
        |SELECT event_id, e.event_type, value,
        |  greatest(lo, least(hi, value)) AS v_winsor,
        |  CAST(value < lo OR value > hi AS INT) AS clipped
        |FROM events e JOIN b USING (event_type)
        |ORDER BY event_id""".stripMargin)),

    // ---- 24-hour rolling reach: distinct users in the trailing 24h
    // at every active hour. Distinct counts can't ride a running
    // window (no mergeable running state), so the exact shape is the
    // bounded 24× hour-spread explode + one distinct aggregation —
    // partial+final on the (hour, user) key, never a global window.
    // The sketch path for 100 TB is per-hour HLL + 24-sketch union
    // (see sketch_hll_union — same machinery).
    QDef("rolling_distinct", (s, dir) =>
      rollingReachExact(t(s, dir, "events")).orderBy("hour"),
      Some(s"""$RollingReachCtes
        |SELECT hour, CAST(count(DISTINCT user_id) AS BIGINT) AS reach_24h
        |FROM sp JOIN hrs USING (hour)
        |GROUP BY hour ORDER BY hour""".stripMargin)),

    // ---- first-order Markov transition matrix over the event
    // stream: per-user next-event pairs via a lead window (partitioned
    // by user — never global), transition counts + row-normalized
    // probabilities. Exact bigint counts; p is ONE IEEE division.
    // The behavior-model companion to funnel/cohort/sessionize.
    QDef("event_transitions", (s, dir) => {
      val ev = t(s, dir, "events")
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val steps = ev
        .select(col("user_id"), col("event_type").as("from_type"),
          lead(col("event_type"), 1).over(w).as("to_type"))
        .filter(col("to_type").isNotNull)
      val counts = steps.groupBy("from_type", "to_type")
        .agg(count(lit(1)).as("n_trans"))
      val fromTotals = counts.groupBy("from_type")
        .agg(sum("n_trans").as("n_from"))
      counts.join(broadcast(fromTotals), "from_type")
        .select(col("from_type"), col("to_type"), col("n_trans"),
          (col("n_trans").cast("double") / col("n_from")).as("p"))
        .orderBy("from_type", "to_type")
    },
      Some("""WITH s AS (SELECT user_id, event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS to_type
        |  FROM events),
        |c AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n_trans
        |  FROM s WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |f AS (SELECT from_type, CAST(sum(n_trans) AS BIGINT) AS n_from
        |  FROM c GROUP BY 1)
        |SELECT from_type, to_type, n_trans,
        |  CAST(n_trans AS DOUBLE) / n_from AS p
        |FROM c JOIN f USING (from_type)
        |ORDER BY from_type, to_type""".stripMargin)),

    // ---- association mining: event-type co-occurrence lift
    // (market-basket analytics over the behavior log). Support and
    // lift are exact-integer counts with ONE final IEEE division
    // (numerator/denominator are bigint products < 2^53, so the
    // doubles are bit-identical across engines — no logs, no floats
    // in the pipeline). Shape: distinct (user, type) once, pair
    // counts via the user-key equi-self-join (never all-pairs on
    // types × types), per-type counts + 1-row total broadcast back.
    QDef("assoc_lift", (s, dir) => {
      val ev = t(s, dir, "events")
      val du = ev.select("user_id", "event_type").distinct()
      val totals = du.agg(countDistinct("user_id").as("n_users"))
      val per = du.groupBy("event_type").agg(count(lit(1)).as("n_t"))
      val pairs = du.as("x")
        .join(du.as("y"), col("x.user_id") === col("y.user_id")
          && col("x.event_type") < col("y.event_type"))
        .groupBy(col("x.event_type").as("type_a"),
          col("y.event_type").as("type_b"))
        .agg(count(lit(1)).as("n_ab"))
      pairs
        .join(broadcast(per.select(col("event_type").as("type_a"),
          col("n_t").as("n_a"))), "type_a")
        .join(broadcast(per.select(col("event_type").as("type_b"),
          col("n_t").as("n_b"))), "type_b")
        .crossJoin(broadcast(totals))
        .select(col("type_a"), col("type_b"), col("n_ab"),
          ((col("n_ab") * col("n_users")).cast("double")
            / (col("n_a") * col("n_b"))).as("lift"))
        .orderBy("type_a", "type_b")
    },
      Some("""WITH du AS (SELECT DISTINCT user_id, event_type FROM events),
        |n AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM du),
        |c AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_t FROM du GROUP BY 1),
        |p AS (SELECT x.event_type AS type_a, y.event_type AS type_b,
        |    CAST(count(*) AS BIGINT) AS n_ab
        |  FROM du x JOIN du y
        |    ON x.user_id = y.user_id AND x.event_type < y.event_type
        |  GROUP BY 1, 2)
        |SELECT type_a, type_b, n_ab,
        |  CAST(n_ab * n_users AS DOUBLE) / (ca.n_t * cb.n_t) AS lift
        |FROM p JOIN c ca ON ca.event_type = p.type_a
        |  JOIN c cb ON cb.event_type = p.type_b, n
        |ORDER BY type_a, type_b""".stripMargin)),

    // ---- rolling z-score anomaly detection on the event stream:
    // per-type 20-row trailing window, flag |z| > 3. Window moments
    // go through exact decimal sums (the agg_corr discipline — the
    // frame aggregation is merge/traversal-order-proof) and the final
    // z is one fixed-order double formula both engines replay
    // bit-identically; zero-variance frames yield NULL z, flag 0.
    // Per-type partitioned window — never global.
    QDef("anomaly_zscore", (s, dir) => {
      val ev = t(s, dir, "events")
      val x = col("value").cast(DecimalType(18, 4))
      val w = Window.partitionBy("event_type")
        .orderBy(col("ts"), col("event_id")).rowsBetween(-19, 0)
      val base = ev.select(col("event_id"), col("event_type"), col("value"),
        count(lit(1)).over(w).cast("double").as("n"),
        sum(x).over(w).cast("double").as("sx"),
        sum(x * x).over(w).cast("double").as("sxx"))
      val varNum = col("n") * col("sxx") - col("sx") * col("sx")
      val z = (col("value") - col("sx") / col("n")) /
        sqrt(varNum / (col("n") * (col("n") - 1)))
      base.filter(col("n") === 20)
        .select(col("event_id"), col("event_type"), col("value"),
          when(varNum <= 0, lit(null)).otherwise(z).as("zscore"),
          when(varNum <= 0, lit(0))
            .otherwise((abs(z) > 3.0).cast("int")).as("is_anomaly"))
        .orderBy("event_id")
    },
      Some("""WITH b AS (
        |  SELECT event_id, event_type, value,
        |    CAST(count(*) OVER w AS DOUBLE) AS n,
        |    CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) OVER w AS VARCHAR) AS DOUBLE) AS sx,
        |    CAST(CAST(sum(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4))) OVER w AS VARCHAR) AS DOUBLE) AS sxx
        |  FROM events
        |  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
        |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
        |SELECT event_id, event_type, value,
        |  CASE WHEN n * sxx - sx * sx <= 0 THEN NULL
        |    ELSE (value - sx / n)
        |      / sqrt((n * sxx - sx * sx) / (n * (n - 1))) END AS zscore,
        |  CASE WHEN n * sxx - sx * sx <= 0 THEN 0
        |    ELSE CAST(abs((value - sx / n)
        |      / sqrt((n * sxx - sx * sx) / (n * (n - 1)))) > 3.0 AS INT) END
        |    AS is_anomaly
        |FROM b WHERE n = 20 ORDER BY event_id""".stripMargin)),

    // ---- one-pass table profiling: per-column row/null/distinct
    // counts + min/max, the data-quality summary every ingest job
    // emits. One aggregation over one scan (the multi-countDistinct
    // Expand multiplies rows by #profiled columns — at 100 TB swap
    // exact distincts for approx_count_distinct, same shape); min/max
    // normalize to strings via type-stable casts (doubles through
    // DECIMAL so both engines round identically, timestamps through
    // DATE). Output: one row per profiled column.
    QDef("profile_table", (s, dir) => {
      val o = t(s, dir, "orders")
      def minMaxS(c: Column): (Column, Column) = (min(c).cast("string"), max(c).cast("string"))
      val specs = ProfileSpecs
      val aggs = specs.flatMap { case (n, c) =>
        val (mn, mx) = minMaxS(c)
        Seq(count(c).as(s"nn_$n"), countDistinct(c).as(s"nd_$n"),
          mn.as(s"mn_$n"), mx.as(s"mx_$n"))
      }
      val one = o.agg(count(lit(1)).as("n_rows"), aggs: _*)
      val rows = specs.map { case (n, _) =>
        struct(lit(n).as("col_name"), col("n_rows"),
          (col("n_rows") - col(s"nn_$n")).as("n_null"),
          col(s"nd_$n").as("n_distinct"),
          col(s"mn_$n").as("min_s"), col(s"mx_$n").as("max_s"))
      }
      one.select(explode(array(rows: _*)).as("p")).select("p.*")
        .orderBy("col_name")
    },
      Some("""SELECT * FROM (
        |SELECT 'o_orderkey' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(*) - count(o_orderkey) AS BIGINT) AS n_null,
        |  CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
        |  CAST(min(o_orderkey) AS VARCHAR) AS min_s,
        |  CAST(max(o_orderkey) AS VARCHAR) AS max_s FROM orders
        |UNION ALL
        |SELECT 'o_custkey', count(*), count(*) - count(o_custkey),
        |  count(DISTINCT o_custkey),
        |  CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
        |  count(DISTINCT o_orderstatus),
        |  min(o_orderstatus), max(o_orderstatus) FROM orders
        |UNION ALL
        |SELECT 'o_totalprice', count(*), count(*) - count(o_totalprice),
        |  count(DISTINCT CAST(o_totalprice AS DECIMAL(18,2))),
        |  CAST(min(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR),
        |  CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) FROM orders
        |UNION ALL
        |SELECT 'o_orderdate', count(*), count(*) - count(o_orderdate),
        |  count(DISTINCT CAST(o_orderdate AS DATE)),
        |  CAST(min(CAST(o_orderdate AS DATE)) AS VARCHAR),
        |  CAST(max(CAST(o_orderdate AS DATE)) AS VARCHAR) FROM orders
        |UNION ALL
        |SELECT 'o_orderpriority', count(*), count(*) - count(o_orderpriority),
        |  count(DISTINCT o_orderpriority),
        |  min(o_orderpriority), max(o_orderpriority) FROM orders
        |) ORDER BY col_name""".stripMargin)),

    // ---- the GATED 100 TB swap for profile_table (VERDICT r7 #1a):
    // per-column approx_count_distinct in ONE aggregation — mergeable
    // HLL++ sketches, NO Expand (exact multi-countDistinct multiplies
    // scan rows by #profiled columns and shuffles the whole table on
    // distinct values). The exact distincts here are the verdict
    // baseline only (the ann_ivf harness discipline: the Expand lives
    // in the in-gate baseline, never the production path —
    // RelationalSpec asserts [[profileApproxAgg]] alone plans no
    // Expand). rsd 0.01 against the 5% verdict band = 5σ, and the
    // sketch is deterministic per fixed data — hash-stable.
    QDef("profile_table_approx", (s, dir) => {
      val o = t(s, dir, "orders")
      val approx = profileApproxAgg(o)
      val exactAggs = ProfileSpecs.map { case (n, c) =>
        countDistinct(c).as(s"nd_$n") }
      val exact = o.agg(exactAggs.head, exactAggs.tail: _*)
      val rows = ProfileSpecs.map { case (n, _) =>
        struct(lit(n).as("col_name"), col(s"nd_$n").as("n_distinct"),
          (abs(col(s"ad_$n").cast("double") - col(s"nd_$n").cast("double"))
            <= col(s"nd_$n").cast("double") * 0.05).cast("int")
            .as("approx_within_5pct"))
      }
      exact.crossJoin(approx) // 1 row × 1 row, both broadcast
        .select(explode(array(rows: _*)).as("p")).select("p.*")
        .orderBy("col_name")
    },
      Some("""SELECT * FROM (
        |SELECT 'o_orderkey' AS col_name,
        |  CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
        |  1 AS approx_within_5pct FROM orders
        |UNION ALL
        |SELECT 'o_custkey', count(DISTINCT o_custkey), 1 FROM orders
        |UNION ALL
        |SELECT 'o_orderstatus', count(DISTINCT o_orderstatus), 1 FROM orders
        |UNION ALL
        |SELECT 'o_totalprice',
        |  count(DISTINCT CAST(o_totalprice AS DECIMAL(18,2))), 1 FROM orders
        |UNION ALL
        |SELECT 'o_orderdate',
        |  count(DISTINCT CAST(o_orderdate AS DATE)), 1 FROM orders
        |UNION ALL
        |SELECT 'o_orderpriority', count(DISTINCT o_orderpriority), 1 FROM orders
        |) ORDER BY col_name""".stripMargin)),

    // ---- the GATED 100 TB swap for rolling_distinct (VERDICT r7
    // #1b): per-hour HLL sketches + trailing-24 sketch union — the
    // sketch_hll_union machinery on a RANGE window. State is one KB
    // sketch per hour instead of 24× exploded (hour, user) rows: the
    // hourly aggregate is a linear partial+final pass over events,
    // and the union window runs on the ≤|hours|-row metadata frame
    // (8760 rows/year — the waterfill discipline). The exact explode
    // (rolling_distinct's shape) feeds the verdict only. lgConfigK 14
    // → rsd ≈0.8%; 5% band ≈ 6σ, deterministic per fixed data.
    QDef("rolling_distinct_hll", (s, dir) => {
      val ev = t(s, dir, "events")
      val exact = rollingReachExact(ev)
      val hourly = ev
        .select(col("user_id"), expr("(ts div 1000) div 3600000000").as("hour"))
        .groupBy("hour")
        .agg(hll_sketch_agg(col("user_id"), 14).as("sk"))
      val w = Window.orderBy("hour").rangeBetween(-23, 0)
      val est = hourly
        .withColumn("est", hll_sketch_estimate(hll_union_agg(col("sk")).over(w)))
        .select("hour", "est")
      exact.join(est, "hour")
        .select(col("hour"), col("reach_24h"),
          (abs(col("est") - col("reach_24h"))
            <= col("reach_24h").cast("double") * 0.05).cast("int")
            .as("est_within_5pct"))
        .orderBy("hour")
    },
      Some(s"""$RollingReachCtes
        |SELECT hour, CAST(count(DISTINCT user_id) AS BIGINT) AS reach_24h,
        |  1 AS est_within_5pct
        |FROM sp JOIN hrs USING (hour)
        |GROUP BY hour ORDER BY hour""".stripMargin))
  )

  val queries: Map[String, Q] = defs.map(d => d.name -> d.fn).toMap
  val oracleSql: Map[String, String] =
    defs.flatMap(d => d.sql.map(d.name -> _)).toMap
}

/** Typed row for the Dataset[T] inventory entry. */
final case class LineSlice(l_orderkey: Long, l_linenumber: Int,
    l_quantity: Double, l_extendedprice: Double)
