package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.io.Tables
import graft.ops.{CleanText, Reshape, Tidy}
import graft.agg.{Charts, Profile, Robust}

/** The 26 reference-parity queries and their DuckDB oracles
  * (SURVEY.md §7), dumped by [[Verify]].
  *
  * Query-name → SURVEY §2 row mapping is in each entry's comment. Every
  * query is deterministic (total ordering, ties broken by key) and
  * hash-parity-safe vs the DuckDB oracle:
  *   - money sums go through exact DECIMAL(18,2) accumulation (order-
  *     independent) and are cast back to double at the end, so Spark and
  *     DuckDB produce bit-identical doubles regardless of row order;
  *   - years/counts are cast to the same integer width on both sides;
  *   - ORDER BY on nullable columns pins NULLS FIRST on the DuckDB side
  *     (Spark's asc default).
  */
object SparkEntry {

  // ---- helpers ---------------------------------------------------------

  private def T(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Order-independent exact sum of a money-like double column. */
  private def dsum(c: Column): Column =
    sum(c.cast(DecimalType(18, 2))).cast("double")

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's core pipeline: tidy build (R1 melt ≈ unpivot of
    * lineitem measures) → clean aggregate (A1) → top state (T1).
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val li = T(spark, dir, "lineitem")
    val tidy = Reshape.melt(
      li.withColumn("year", year(col("l_shipdate"))),
      ids = Seq("year", "l_returnflag"),
      values = Seq("l_quantity", "l_extendedprice"),
      varName = "measure", valueName = "separations")
      .withColumnRenamed("l_returnflag", "state")
    Tidy.cleanAggregate(tidy, dims = Seq("measure"))
      .orderBy(desc("separations")).limit(10)
  }

  // ---- queries ---------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // A1 (+P8 path exercised in p8_nullfill_group): the clean_admissions
    // group-sum — dims × SUM(measure), one shuffle, partial agg map-side.
    "a1_clean_aggregate" -> ((s, dir) => {
      T(s, dir, "orders")
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(dsum(col("o_totalprice")).as("total_price"),
             count(lit(1)).as("n_orders"))
        .orderBy(col("o_orderstatus"), col("o_orderpriority"))
    }),

    // A2: totals by one dimension (bar chart / top-state input).
    "a2_by_state" -> ((s, dir) => {
      T(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("l_returnflag"))
    }),

    // A3: totals by year × dimension (trend lines).
    "a3_by_year_state" -> ((s, dir) => {
      T(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).as("year"), col("o_orderstatus"))
        .agg(dsum(col("o_totalprice")).as("total_price"))
        .orderBy(col("year"), col("o_orderstatus"))
    }),

    // A4: totals by category and category×sub (pie / treemap inputs).
    "a4_by_category_diag" -> ((s, dir) => {
      T(s, dir, "orders")
        .groupBy(col("o_orderpriority"), col("o_orderstatus"))
        .agg(dsum(col("o_totalprice")).as("total_price"))
        .orderBy(col("o_orderpriority"), col("o_orderstatus"))
    }),

    // A5: category × state pre-pivot long form (heatmap input).
    "a5_heatmap_pre" -> ((s, dir) => {
      Charts.totalsBy2(
        T(s, dir, "lineitem")
          .withColumn("separations", col("l_quantity").cast(DecimalType(18, 2))),
        "l_returnflag", "l_linestatus", "separations")
        .withColumn("separations", col("separations").cast("double"))
    }),

    // A6: totals by year (YoY insight input).
    "a6_by_year" -> ((s, dir) => {
      T(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).as("year"))
        .agg(dsum(col("o_totalprice")).as("total_price"))
        .orderBy(col("year"))
    }),

    // A7: sorted distinct non-null domain of a column (sidebar filters).
    "a7_distinct_values" -> ((s, dir) =>
      Charts.distinctDomain(T(s, dir, "customer"), "c_mktsegment")),

    // A8: distinct-count gate (1 < n < 50 shows the filter widget).
    "a8_distinct_count_gate" -> ((s, dir) => {
      T(s, dir, "customer").agg(
        countDistinct(col("c_mktsegment")).as("n_distinct"))
        .select(col("n_distinct"),
          (col("n_distinct") > 1 && col("n_distinct") < 50).as("show_filter"))
    }),

    // A9: per-column non-null counts in ONE aggregate pass (dim selection).
    "a9_nonnull_dims" -> ((s, dir) => {
      T(s, dir, "lineitem").agg(
        count(col("l_returnflag")).as("n_returnflag"),
        count(col("l_linestatus")).as("n_linestatus"),
        count(col("l_shipdate")).as("n_shipdate"))
    }),

    // A10: total row count.
    "a10_count" -> ((s, dir) =>
      T(s, dir, "lineitem").agg(count(lit(1)).as("n_rows"))),

    // A11: one-pass column profiler (ydata-profiling minimal=True).
    "a11_profile" -> ((s, dir) =>
      Profile.profile(T(s, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_returnflag"))),

    // A11 depth: the minimal report's per-column histogram (10 bins).
    "a11_histogram" -> ((s, dir) =>
      Profile.histogram(T(s, dir, "lineitem"), "l_extendedprice", 10)),

    // A12 (README.md:15's box-plot visual): per-state Tukey box-plot
    // stats — quartiles, in-fence whiskers, outlier count. Grouped over
    // the 50-distinct quantity measure (exact percentile's agg-buffer
    // cost is the value domain — the x_percentiles lesson).
    "a12_boxplot" -> ((s, dir) =>
      Robust.boxplotStats(
        T(s, dir, "lineitem").select(col("l_returnflag"), col("l_quantity")),
        "l_returnflag", "l_quantity")),

    // A13 (README.md:15's choropleth visual): per-state totals joined
    // to a broadcast state→(geo, population) dim, per-capita rate.
    "a13_choropleth" -> ((s, dir) => {
      import s.implicits._
      val geo = Seq(
        ("A", -33.87, 151.21, 8166000L),
        ("N", -37.81, 144.96, 6681000L),
        ("R", -27.47, 153.03, 5185000L))
        .toDF("l_returnflag", "lat", "lon", "population")
      Charts.choroplethPrep(
        T(s, dir, "lineitem")
          .withColumn("separations",
            col("l_quantity").cast(DecimalType(18, 2))),
        "l_returnflag", "separations", geo)
        .withColumn("separations", col("separations").cast("double"))
    }),

    // R1: melt/unpivot — wide measure columns to long form, null-dropping.
    "r1_unpivot" -> ((s, dir) => {
      Reshape.melt(T(s, dir, "lineitem"),
        ids = Seq("l_orderkey", "l_linenumber"),
        values = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"),
        varName = "measure", valueName = "value")
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("measure"))
    }),

    // R2: pivot long→wide with explicit value list (no distinct pre-job).
    "r2_pivot_heatmap" -> ((s, dir) => {
      Reshape.pivotSum(
        T(s, dir, "lineitem")
          .withColumn("q", col("l_quantity").cast(DecimalType(18, 2))),
        index = Seq("l_linestatus"), pivotCol = "l_returnflag",
        pivotValues = Seq("A", "N", "R"), valueCol = "q")
        .toDF("l_linestatus", "A", "N", "R")
        .select(col("l_linestatus"), col("A").cast("double").as("A"),
          col("N").cast("double").as("N"), col("R").cast("double").as("R"))
        .orderBy(col("l_linestatus"))
    }),

    // T1: top-1 group by measure (top state insight).
    "t1_top_state" -> ((s, dir) => {
      T(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("sum_qty").desc, col("l_returnflag"))
        .limit(1)
    }),

    // T2: top-k by measure (pie top-10) — TakeOrderedAndProject, no
    // global sort at scale.
    "t2_topk" -> ((s, dir) => {
      T(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(dsum(col("o_totalprice")).as("total_price"))
        .orderBy(col("total_price").desc, col("o_custkey"))
        .limit(10)
    }),

    // T4: first-vs-last-year percent change, re-expressed as one
    // min_by/max_by aggregate (no sort, no positional indexing).
    "t4_yoy_change" -> ((s, dir) => {
      val byYear = T(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).as("year"))
        .agg(dsum(col("o_totalprice")).as("total"))
      byYear.agg(
        min(col("year")).as("first_year"),
        max(col("year")).as("last_year"),
        min_by(col("total"), col("year")).as("first_total"),
        max_by(col("total"), col("year")).as("last_total"))
      .select(col("first_year"), col("last_year"),
        ((col("last_total") - col("first_total")) / col("first_total") * 100)
          .as("pct_change"))
    }),

    // T5: deterministic head/preview.
    "t5_preview" -> ((s, dir) =>
      Charts.preview(T(s, dir, "customer"), Seq("c_custkey"), 5)),

    // U1: schema-aligning union-by-name with null-fill.
    "u1_union_by_name" -> ((s, dir) => {
      val o = T(s, dir, "orders")
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("amount"))
      val c = T(s, dir, "customer")
        .select(col("c_custkey").as("k"), col("c_name").as("name"))
      Reshape.unionAligned(Seq(o, c))
        .orderBy(col("k"), col("amount").asc_nulls_first,
          col("name").asc_nulls_first)
    }),

    // P9: IN-list predicate conjunction (sidebar filter application).
    "p9_inlist_filter" -> ((s, dir) => {
      Tidy.applyFilters(T(s, dir, "customer"), Map(
        "c_mktsegment" -> Seq("BUILDING", "AUTOMOBILE"),
        "c_nationkey" -> Seq(1, 2, 3)))
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
          col("c_nationkey"))
        .orderBy(col("c_custkey"))
    }),

    // P12: numeric coercion with null-on-error (to_numeric coerce).
    "p12_coerce" -> ((s, dir) => {
      T(s, dir, "orders").select(
        col("o_orderkey"),
        CleanText.coerceInt(substring_index(col("o_orderpriority"), "-", 1))
          .as("prio_num"),
        CleanText.coerceDouble(col("o_orderstatus")).as("status_num"))
        .orderBy(col("o_orderkey"))
    }),

    // F1+F2: the _clean_text pipeline over deterministically-messied
    // strings (Excel tuple artifacts), plus upper-alpha strip. Uses the
    // fused native expression (graft.functions.native_fns.clean_text,
    // single-pass codegen); bit-parity with the composed built-ins is
    // pinned by CleanTextExprSpec and by this query's DuckDB oracle.
    "f1_clean_text" -> ((s, dir) => {
      val messy = concat(lit("(\""), col("p_name"), lit("\", 1.0)"))
      T(s, dir, "part").select(
        col("p_partkey"),
        graft.functions.native_fns.clean_text(messy).as("cleaned"),
        CleanText.upperAlpha(col("p_brand")).as("brand_alpha"))
        .orderBy(col("p_partkey"))
    }),

    // P10: membership-validated normalization (canonical code or null).
    "p10_norm_segment" -> ((s, dir) => {
      val members = Seq("BUILDING", "MACHINERY")
      val norm = CleanText.upperAlpha(col("c_mktsegment"))
      T(s, dir, "customer").select(
        col("c_custkey"),
        when(norm.isin(members: _*), norm).as("segment_norm"))
        .orderBy(col("c_custkey"))
    }),

    // P5-P8: null-injection → not-null drop on one col → fill remaining
    // nulls with "" → group (null dims participate as "").
    "p8_nullfill_group" -> ((s, dir) => {
      val withNulls = T(s, dir, "orders").select(
        when(col("o_orderstatus") === "O", lit(null).cast("string"))
          .otherwise(col("o_orderstatus")).as("status_dim"),
        when(col("o_orderpriority") === "3-MEDIUM", lit(null).cast("string"))
          .otherwise(col("o_orderpriority")).as("prio_dim"),
        col("o_totalprice"))
        .na.drop(Seq("prio_dim"))           // P6: dropna on one column
        .na.fill("", Seq("status_dim"))     // P8: null → "" in group keys
      withNulls.groupBy(col("status_dim"), col("prio_dim"))
        .agg(dsum(col("o_totalprice")).as("total_price"))
        .orderBy(col("status_dim"), col("prio_dim"))
    })
  )

  // ---- oracles ---------------------------------------------------------

  def oracleSql: Map[String, String] = Map(

    "a1_clean_aggregate" ->
      """SELECT o_orderstatus, o_orderpriority,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
         COUNT(*) AS n_orders
         FROM orders GROUP BY 1, 2 ORDER BY 1, 2""",

    "a2_by_state" ->
      """SELECT l_returnflag,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         FROM lineitem GROUP BY 1 ORDER BY 1""",

    "a3_by_year_state" ->
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS year, o_orderstatus,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
         FROM orders GROUP BY 1, 2 ORDER BY 1, 2""",

    "a4_by_category_diag" ->
      """SELECT o_orderpriority, o_orderstatus,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
         FROM orders GROUP BY 1, 2 ORDER BY 1, 2""",

    "a5_heatmap_pre" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS separations
         FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""",

    "a6_by_year" ->
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS year,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
         FROM orders GROUP BY 1 ORDER BY 1""",

    "a7_distinct_values" ->
      """SELECT DISTINCT c_mktsegment FROM customer
         WHERE c_mktsegment IS NOT NULL ORDER BY 1""",

    "a8_distinct_count_gate" ->
      """SELECT CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS n_distinct,
         (COUNT(DISTINCT c_mktsegment) > 1 AND COUNT(DISTINCT c_mktsegment) < 50)
           AS show_filter
         FROM customer""",

    "a9_nonnull_dims" ->
      """SELECT CAST(COUNT(l_returnflag) AS BIGINT) AS n_returnflag,
         CAST(COUNT(l_linestatus) AS BIGINT) AS n_linestatus,
         CAST(COUNT(l_shipdate) AS BIGINT) AS n_shipdate
         FROM lineitem""",

    "a10_count" ->
      "SELECT COUNT(*) AS n_rows FROM lineitem",

    "a11_profile" ->
      """WITH agg AS (SELECT COUNT(*) AS n,
           COUNT(l_quantity) AS q_cnt,
           CAST(COUNT(DISTINCT l_quantity) AS BIGINT) AS q_distinct,
           CAST(MIN(l_quantity) AS VARCHAR) AS q_min,
           CAST(MAX(l_quantity) AS VARCHAR) AS q_max,
           CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS q_sum,
           CAST(SUM(CAST(l_quantity AS DECIMAL(19,6))*CAST(l_quantity AS DECIMAL(19,6))) AS DOUBLE) AS q_sumsq,
           COUNT(l_extendedprice) AS e_cnt,
           CAST(COUNT(DISTINCT l_extendedprice) AS BIGINT) AS e_distinct,
           CAST(MIN(l_extendedprice) AS VARCHAR) AS e_min,
           CAST(MAX(l_extendedprice) AS VARCHAR) AS e_max,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS e_sum,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,6))*CAST(l_extendedprice AS DECIMAL(19,6))) AS DOUBLE) AS e_sumsq,
           COUNT(l_returnflag) AS r_cnt,
           CAST(COUNT(DISTINCT l_returnflag) AS BIGINT) AS r_distinct,
           MIN(l_returnflag) AS r_min, MAX(l_returnflag) AS r_max
         FROM lineitem)
         SELECT 'l_quantity' AS column, n, n - q_cnt AS nulls,
           q_distinct AS n_distinct, q_min AS min_value, q_max AS max_value,
           round(q_sum / q_cnt, 6) AS mean_value,
           CASE WHEN q_cnt > 1 THEN
             round(sqrt(GREATEST(0.0, (q_sumsq - q_sum*q_sum/q_cnt)/(q_cnt-1))), 6)
           END AS stddev_value
         FROM agg
         UNION ALL
         SELECT 'l_extendedprice', n, n - e_cnt, e_distinct, e_min, e_max,
           round(e_sum / e_cnt, 6),
           CASE WHEN e_cnt > 1 THEN
             round(sqrt(GREATEST(0.0, (e_sumsq - e_sum*e_sum/e_cnt)/(e_cnt-1))), 6)
           END
         FROM agg
         UNION ALL
         SELECT 'l_returnflag', n, n - r_cnt, r_distinct, r_min, r_max,
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
         FROM agg
         ORDER BY 1""",

    "a11_histogram" ->
      """WITH mm AS (SELECT CAST(MIN(l_extendedprice) AS DOUBLE) AS mn,
                            CAST(MAX(l_extendedprice) AS DOUBLE) AS mx
                     FROM lineitem),
         b AS (SELECT CAST(CASE WHEN mx = mn THEN 0
                 ELSE LEAST(FLOOR((CAST(l_extendedprice AS DOUBLE) - mn)
                                  / ((mx - mn) / 10)), 9)
                 END AS INTEGER) AS bin, mn, mx
               FROM lineitem, mm WHERE l_extendedprice IS NOT NULL)
         SELECT bin, mn + bin * ((mx - mn) / 10) AS lo,
                mn + (bin + 1) * ((mx - mn) / 10) AS hi,
                COUNT(*) AS n_rows
         FROM b GROUP BY bin, mn, mx ORDER BY bin""",

    "a12_boxplot" ->
      """WITH b AS (
           SELECT l_returnflag,
             quantile_cont(l_quantity, 0.25) AS q1,
             quantile_cont(l_quantity, 0.5) AS median,
             quantile_cont(l_quantity, 0.75) AS q3
           FROM lineitem GROUP BY 1),
         f AS (
           SELECT l_returnflag, q1, median, q3,
             q1 - (q3 - q1) * 1.5 AS fence_lo,
             q3 + (q3 - q1) * 1.5 AS fence_hi
           FROM b)
         SELECT l.l_returnflag,
           CAST(COUNT(l.l_quantity) AS BIGINT) AS n_rows,
           MIN(f.q1) AS q1, MIN(f.median) AS median, MIN(f.q3) AS q3,
           MIN(CASE WHEN l.l_quantity >= f.fence_lo
                 THEN l.l_quantity END) AS whisker_lo,
           MAX(CASE WHEN l.l_quantity <= f.fence_hi
                 THEN l.l_quantity END) AS whisker_hi,
           CAST(SUM(CASE WHEN l.l_quantity < f.fence_lo
                      OR l.l_quantity > f.fence_hi
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
         FROM lineitem l JOIN f USING (l_returnflag)
         GROUP BY 1 ORDER BY 1""",

    "a13_choropleth" ->
      """WITH geo(l_returnflag, lat, lon, population) AS (
           VALUES ('A', CAST(-33.87 AS DOUBLE), CAST(151.21 AS DOUBLE),
                   CAST(8166000 AS BIGINT)),
                  ('N', CAST(-37.81 AS DOUBLE), CAST(144.96 AS DOUBLE),
                   CAST(6681000 AS BIGINT)),
                  ('R', CAST(-27.47 AS DOUBLE), CAST(153.03 AS DOUBLE),
                   CAST(5185000 AS BIGINT))),
         t AS (
           SELECT l_returnflag,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
               AS separations
           FROM lineitem GROUP BY 1)
         SELECT t.l_returnflag, t.separations, geo.lat, geo.lon,
                geo.population,
                t.separations * 1000.0 / geo.population AS rate_per_1000
         FROM t JOIN geo USING (l_returnflag) ORDER BY 1""",

    "r1_unpivot" ->
      """SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,
                l_quantity AS value FROM lineitem WHERE l_quantity IS NOT NULL
         UNION ALL
         SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
           FROM lineitem WHERE l_extendedprice IS NOT NULL
         UNION ALL
         SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
           FROM lineitem WHERE l_discount IS NOT NULL
         UNION ALL
         SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
           FROM lineitem WHERE l_tax IS NOT NULL
         ORDER BY 1, 2, 3""",

    "r2_pivot_heatmap" ->
      """SELECT l_linestatus,
         CAST(SUM(CASE WHEN l_returnflag = 'A'
              THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS "A",
         CAST(SUM(CASE WHEN l_returnflag = 'N'
              THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS "N",
         CAST(SUM(CASE WHEN l_returnflag = 'R'
              THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS "R"
         FROM lineitem GROUP BY 1 ORDER BY 1""",

    "t1_top_state" ->
      """SELECT l_returnflag,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         FROM lineitem GROUP BY 1
         ORDER BY sum_qty DESC, l_returnflag LIMIT 1""",

    "t2_topk" ->
      """SELECT o_custkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
         FROM orders GROUP BY 1
         ORDER BY total_price DESC, o_custkey LIMIT 10""",

    "t4_yoy_change" ->
      """WITH by_year AS (
           SELECT CAST(year(o_orderdate) AS INTEGER) AS year,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           FROM orders GROUP BY 1)
         SELECT MIN(year) AS first_year, MAX(year) AS last_year,
           (arg_max(total, year) - arg_min(total, year)) / arg_min(total, year)
             * 100 AS pct_change
         FROM by_year""",

    "t5_preview" ->
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
         FROM customer ORDER BY c_custkey LIMIT 5""",

    "u1_union_by_name" ->
      """SELECT o_orderkey AS k, o_totalprice AS amount,
                CAST(NULL AS VARCHAR) AS name FROM orders
         UNION ALL
         SELECT c_custkey, CAST(NULL AS DOUBLE), c_name FROM customer
         ORDER BY k, amount NULLS FIRST, name NULLS FIRST""",

    "p9_inlist_filter" ->
      """SELECT c_custkey, c_name, c_mktsegment, c_nationkey FROM customer
         WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
           AND c_nationkey IN (1, 2, 3)
         ORDER BY c_custkey""",

    "p12_coerce" ->
      """SELECT o_orderkey,
         TRY_CAST(split_part(o_orderpriority, '-', 1) AS INTEGER) AS prio_num,
         TRY_CAST(o_orderstatus AS DOUBLE) AS status_num
         FROM orders ORDER BY o_orderkey""",

    "f1_clean_text" ->
      """SELECT p_partkey,
         trim(regexp_replace(regexp_replace(
           regexp_replace(regexp_replace(regexp_replace(
             '("' || p_name || '", 1.0)',
             '^\("?[ \t\n\x0B\f\r]*', ''), '"?\)$', ''),
             ',[ \t\n\x0B\f\r]*[-+]?[0-9]*\.?[0-9]+$', ''),
           '^[ \t\n\x0B\f\r]+', ''), '[ \t\n\x0B\f\r]+$', ''),
           '"') AS cleaned,
         regexp_replace(upper(p_brand), '[^A-Z]', '', 'g') AS brand_alpha
         FROM part ORDER BY p_partkey""",

    "p10_norm_segment" ->
      """SELECT c_custkey,
         CASE WHEN regexp_replace(upper(c_mktsegment), '[^A-Z]', '', 'g')
                   IN ('BUILDING', 'MACHINERY')
              THEN regexp_replace(upper(c_mktsegment), '[^A-Z]', '', 'g')
         END AS segment_norm
         FROM customer ORDER BY c_custkey""",

    "p8_nullfill_group" ->
      """WITH injected AS (
           SELECT CASE WHEN o_orderstatus = 'O' THEN NULL
                       ELSE o_orderstatus END AS status_dim,
                  CASE WHEN o_orderpriority = '3-MEDIUM' THEN NULL
                       ELSE o_orderpriority END AS prio_dim,
                  o_totalprice
           FROM orders),
         filled AS (
           SELECT COALESCE(status_dim, '') AS status_dim, prio_dim, o_totalprice
           FROM injected WHERE prio_dim IS NOT NULL)
         SELECT status_dim, prio_dim,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
         FROM filled GROUP BY 1, 2 ORDER BY 1, 2"""
  )
}
