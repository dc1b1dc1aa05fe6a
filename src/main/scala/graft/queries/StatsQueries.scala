package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.Profiling
import graft.model.Tables
import graft.ops.Scalar.dsum

/** Statistics + SQL-API surface: exact percentiles, deterministic
  * variance/stddev, GROUPING SETS via the SQL entry point, correlated
  * per-group comparisons.
  *
  * Variance note: Spark's `var_samp` merges per-partition Welford
  * states, so its last bits depend on partitioning — not oracle-safe.
  * `q_variance_stats` instead derives var/stddev from DECIMAL-exact
  * Σx and Σx² (identical doubles in any engine, any partitioning):
  * var = (s2 − s1²/n)/(n−1).
  */
object StatsQueries {

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    // typed Aggregator in the verified set: exact integer-cents mean
    // (udaf-wrapped Aggregator[Double,(Long,Long),Double] — merge is
    // associative/commutative, so any partitioning gives these bits).
    "q_typed_agg" -> ((s, d) => {
      val emm = udaf(graft.functions.Aggregators.ExactMoneyMean,
        org.apache.spark.sql.Encoders.scalaDouble)
      Tables.orders(s, d)
        .groupBy(col("o_orderstatus"))
        .agg(emm(col("o_totalprice")).as("exact_mean"), count(lit(1)).as("n"))
        .orderBy(col("o_orderstatus"))
    }),

    // exact interpolated percentiles (Spark `percentile` ==
    // DuckDB `quantile_cont`, verified bit-exact).
    "q_percentiles" -> ((s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderstatus"))
        .agg(expr("percentile(o_totalprice, 0.5)").as("p50"),
          expr("percentile(o_totalprice, 0.9)").as("p90"),
          min(col("o_totalprice")).as("lo"),
          max(col("o_totalprice")).as("hi"))
        .orderBy(col("o_orderstatus"))),

    // partitioning-independent variance/stddev from exact moments:
    // money as integer cents, Σcents² as two exact int64 sums
    // (Profiling.withCents says why)
    "q_variance_stats" -> ((s, d) => {
      val variance = Profiling.sampleVariance(col("n"), col("s1"), col("s2"))
      Profiling.centsMoments(Tables.orders(s, d), "o_orderstatus",
          col("o_totalprice"))
        .select(col("o_orderstatus"), col("n"),
          (col("s1") / col("n")).as("mean"),
          variance.as("variance"), sqrt(variance).as("stddev"))
        .orderBy(col("o_orderstatus"))
    }),

    // A5: explicit GROUPING SETS through the SQL entry point.
    "q_grouping_sets" -> ((s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_v")
      s.sql(
        """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
          |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
          |FROM lineitem_v
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
          |ORDER BY l_returnflag ASC NULLS FIRST,
          |  l_linestatus ASC NULLS FIRST""".stripMargin)
    }),

    // correlated per-group comparison ("orders 1.5x above their
    // customer's average") as ONE scan of orders: the per-customer
    // average is a window aggregate, not a groupBy + self-join —
    // halves the fact-table reads, same single shuffle by custkey.
    "q_above_avg_orders" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("o_custkey"))
      val c = Tables.customer(s, d)
      Tables.orders(s, d)
        .withColumn("cust_avg",
          sum(col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double") /
            count(lit(1)).over(w))
        .filter(col("o_totalprice") > col("cust_avg") * 1.5)
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice"), 2).as("total"))
        .orderBy(col("c_mktsegment"))
    }),

    // EWMA smoothing per device over the IoT event stream: a 10-row
    // sliding frame collects values in order, exponential weights
    // 0.8^age apply map-side (array HOFs — no UDF), and the output is
    // rounded to 9dp (pow is libm-dependent in its last bit; the
    // 9dp round absorbs it, same policy as every log-derived output).
    // One (device_id) window shuffle — the frame never leaves the task.
    "q_ewma_events" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("device_id"))
        .orderBy(col("timestamp"), col("id"))
        .rowsBetween(-9, 0)
      val arr = collect_list(col("value")).over(w)
      val n = size(col("arr"))
      val weighted = aggregate(
        transform(sequence(lit(0), n - 1),
          i => element_at(col("arr"), i + 1) *
            pow(lit(0.8), (n - 1 - i).cast("double"))),
        lit(0.0), (acc, x) => acc + x)
      val wsum = aggregate(
        transform(sequence(lit(0), n - 1),
          i => pow(lit(0.8), i.cast("double"))),
        lit(0.0), (acc, x) => acc + x)
      RefQueries.eventsAsIot(s, d)
        .withColumn("arr", arr)
        .select(col("id"), col("device_id"),
          // round-6: the pow(0.8, k) weights are libm calls whose last
          // bit can differ per engine; 6 digits absorbs that AND the
          // engine-round-at-9 divergence the r11 gate exposed
          round(weighted / wsum, 6).as("ewma"))
        .orderBy(col("id"))
    }),

    // Market-basket frequent pairs (round 11): the A-Priori level-2
    // support count — top-20 part pairs co-occurring in an order,
    // with lift = support·n_baskets / (n(p1)·n(p2)). The per-basket
    // pair fan is bounded by basket size squared (≈7² lines, never
    // the corpus); item counts and the basket total broadcast back;
    // top-k fuses to TakeOrderedAndProject. The basket-item frame
    // feeds BOTH self-join sides — AQE does not dedupe the subtree,
    // hence the localCheckpoint. Lift's single double division over
    // exact integers is engine-identical.
    "q_basket_pairs" -> ((s, d) => {
      val items = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
        .localCheckpoint()
      val itemN = items.groupBy(col("pk")).agg(count(lit(1)).as("n_item"))
      val baskets = items.agg(countDistinct(col("ok")).as("n_baskets"))
      items.as("a")
        .join(items.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .groupBy(col("a.pk").as("p1"), col("b.pk").as("p2"))
        .agg(count(lit(1)).as("support"))
        .join(broadcast(itemN.select(col("pk").as("p1"),
          col("n_item").as("n1"))), Seq("p1"))
        .join(broadcast(itemN.select(col("pk").as("p2"),
          col("n_item").as("n2"))), Seq("p2"))
        .crossJoin(broadcast(baskets))
        .select(col("p1"), col("p2"), col("support"),
          // lift in doubles end-to-end: every count is < 2^53 so each
          // cast is exact and the multiply/divide round identically on
          // any engine (an integer n1·n2 product would overflow BIGINT
          // at extreme item frequencies; doubles degrade gracefully)
          (col("support").cast("double") * col("n_baskets").cast("double") /
            (col("n1").cast("double") * col("n2").cast("double"))).as("lift"))
        .orderBy(col("support").desc, col("p1"), col("p2"))
        .limit(20)
    })
  )

  def oracles: Map[String, String] = Map(
    "q_typed_agg" ->
      """SELECT o_orderstatus,
        |CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS DOUBLE)
        |  / 100.0 / COUNT(*) AS exact_mean,
        |COUNT(*) AS n
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q_percentiles" ->
      """SELECT o_orderstatus,
        |quantile_cont(o_totalprice, 0.5) AS p50,
        |quantile_cont(o_totalprice, 0.9) AS p90,
        |MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_variance_stats" ->
      """WITH c AS (SELECT o_orderstatus, o_totalprice,
        |  CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents FROM orders),
        |m AS (SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s1,
        |  CAST(SUM((cents * cents) // 1000000) AS BIGINT) AS hi,
        |  CAST(SUM((cents * cents) % 1000000) AS BIGINT) AS lo
        |  FROM c GROUP BY o_orderstatus),
        |m2 AS (SELECT o_orderstatus, n, s1,
        |  (CAST(hi AS DOUBLE) * 1000000.0 + CAST(lo AS DOUBLE)) / 10000.0 AS s2
        |  FROM m)
        |SELECT o_orderstatus, n, s1 / n AS mean,
        |(s2 - s1 * s1 / n) / (n - 1) AS variance,
        |sqrt((s2 - s1 * s1 / n) / (n - 1)) AS stddev
        |FROM m2 ORDER BY o_orderstatus""".stripMargin,

    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY l_returnflag ASC NULLS FIRST,
        |  l_linestatus ASC NULLS FIRST""".stripMargin,

    "q_above_avg_orders" ->
      """WITH ca AS (SELECT o_custkey AS ck,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS cust_avg
        |  FROM orders GROUP BY o_custkey)
        |SELECT c_mktsegment, COUNT(*) AS n,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders JOIN ca ON o_custkey = ck
        |JOIN customer ON o_custkey = c_custkey
        |WHERE o_totalprice > cust_avg * 1.5
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    // list_reduce (not list_sum) mirrors Spark's left-to-right fold
    // bit-for-bit; the final 9dp round absorbs libm pow drift.
    "q_ewma_events" ->
      s"""${RefQueries.IotCte}, t AS (SELECT id, device_id,
         |  list(value) OVER (PARTITION BY device_id ORDER BY timestamp, id
         |    ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS l
         |  FROM iot)
         |SELECT id, device_id,
         |  round(
         |    list_reduce(list_transform(generate_series(1, len(l)),
         |      i -> l[i] * pow(0.8, len(l) - i)), (a, b) -> a + b) /
         |    list_reduce(list_transform(generate_series(1, len(l)),
         |      i -> pow(0.8, i - 1)), (a, b) -> a + b), 6) AS ewma
         |FROM t ORDER BY id""".stripMargin,

    "q_basket_pairs" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |    FROM lineitem),
        |n_i AS (SELECT pk, COUNT(*) AS n_item FROM items GROUP BY pk),
        |nb AS (SELECT COUNT(DISTINCT ok) AS n_baskets FROM items),
        |p AS (SELECT a.pk AS p1, b.pk AS p2, COUNT(*) AS support
        |  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2)
        |SELECT p1, p2, CAST(support AS BIGINT) AS support,
        |  CAST(support AS DOUBLE) * CAST(n_baskets AS DOUBLE) /
        |    (CAST(i1.n_item AS DOUBLE) * CAST(i2.n_item AS DOUBLE)) AS lift
        |FROM p JOIN n_i i1 ON i1.pk = p.p1
        |JOIN n_i i2 ON i2.pk = p.p2, nb
        |ORDER BY support DESC, p1, p2 LIMIT 20""".stripMargin
  )
}
