package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.ref
import graft.operators.{LatestPerKey, Quality, Scratch}
import graft.reports.ReportingLayer
import graft.sources.Tables
import graft.staging.{StagingLayer, StagingViews}

/** Spark-side implementations of the driver-gated queries: one per operator
  * of SURVEY.md §2 plus the full reference pipeline over the [[Derive]]d
  * inputs, plus analytics/bench queries. Determinism discipline for the
  * DuckDB hash-match (SURVEY.md §7.4): explicit null ordering, explicit
  * tie-breakers, decimal casts around double aggregation, timestamps
  * formatted to strings.
  */
object Queries {

  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables.load(s, dir, n)

  /** Staged views over the derived reference-shaped inputs. */
  def stagedViews(s: SparkSession, dir: String): StagingViews = {
    val acc = Derive.stgAccounts(s, dir)
    val act = Derive.stgActivities(s, dir)
    StagingViews(
      cleanAccounts = StagingLayer.cleanAccounts(acc),
      primary = StagingLayer.cleanContactsPrimary(act, Seq("src_seq")),
      field = StagingLayer.cleanContactsField(act, Seq("src_seq")),
      promise = StagingLayer.cleanContactsPromise(act, Seq("src_seq")),
      restructure = StagingLayer.cleanContactsRestructure(act, Seq("src_seq")))
  }

  // ===== §2.1/2.2 scans & expressions =====

  /** S1/P1/P2 — scan + projection + alias + row-level arithmetic. */
  def s1ScanProject(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").select(
      col("l_orderkey").as("order_key"),
      col("l_linenumber").as("line_no"),
      col("l_quantity").as("qty"),
      (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("net_price"))

  /** P3 — literal column injection. */
  def p3Literal(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "region").select(
      lit("COMPANY_NAME").as("company"),
      col("r_regionkey").as("region_key"),
      col("r_name").as("region_name"))

  /** P4 — searched CASE classification with priority prefix (the
    * reference's channel-classifier pattern, `01_staging_layer.sql:76-83`).
    */
  def p4CaseClassification(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").select(
      col("o_orderkey").as("order_key"),
      when(col("o_orderpriority") === "1-URGENT", "01.URGENT")
        .when(col("o_orderpriority") === "2-HIGH", "02.HIGH")
        .when(col("o_orderpriority") === "3-MEDIUM", "03.MEDIUM")
        .otherwise("UNCLASSIFIED_PRIORITY").as("priority_class"))

  /** P6–P8 — DD/MM/YYYY substring parse incl. malformed → NULL. */
  def p6DateParse(s: SparkSession, dir: String): DataFrame =
    Derive.stgActivities(s, dir).select(
      col("src_seq").as("event_id"),
      col("activity_date").as("raw_date"),
      ref.parseDdMmYyyy(col("activity_date")).as("parsed_date"))

  /** P9 — date → ISO string formatting. */
  def p9DateFormat(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").select(
      col("o_orderkey").as("order_key"),
      date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date_iso"))

  // ===== §2.3 filters =====

  def f1FilterEq(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey").as("order_key"),
        col("l_linenumber").as("line_no"),
        col("l_returnflag").as("return_flag"))

  def f2Conjunctive(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .filter(col("o_orderstatus") === "O" &&
        col("o_totalprice") > 100000 &&
        col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey").as("order_key"),
        col("o_totalprice").as("total_price"))

  def f4InList(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .filter(col("c_mktsegment").isin("BUILDING", "AUTOMOBILE"))
      .select(col("c_custkey").as("cust_key"), col("c_mktsegment").as("segment"))

  /** F5 — IS NULL filter over the derived activities (NULL phones). */
  def f5IsNullFilter(s: SparkSession, dir: String): DataFrame =
    Derive.stgActivities(s, dir)
      .filter(col("phone_number").isNull)
      .select(col("src_seq").as("event_id"), col("account_id"))

  // ===== §2.4 joins =====

  /** J1+P5+J4 — LEFT join, COALESCE sentinel, existence flag. */
  def j1LeftJoinSentinel(s: SparkSession, dir: String): DataFrame = {
    val rich = t(s, dir, "customer").filter(col("c_acctbal") > 5000)
      .select(col("c_custkey"), col("c_mktsegment"))
    t(s, dir, "orders")
      .join(rich, col("o_custkey") === col("c_custkey"), "left")
      .select(
        col("o_orderkey").as("order_key"),
        col("o_custkey").as("account"),
        ref.sentinel(col("c_mktsegment"), "NO_SEGMENT").as("segment"),
        ref.existenceFlag(col("c_custkey")).as("has_rich_customer"))
  }

  /** Semi join — EXISTS (idiomatic form of the reference's F7 rewrite). */
  def j2SemiJoin(s: SparkSession, dir: String): DataFrame = {
    val big = t(s, dir, "lineitem").filter(col("l_quantity") >= 49).select("l_orderkey")
    t(s, dir, "orders")
      .join(big, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .select(col("o_orderkey").as("order_key"), col("o_totalprice").as("total_price"))
  }

  /** Bloom-pruned semi-join (operators.BloomPrune): lineitem rows whose
    * order is URGENT and high-value, with the big side pre-filtered by
    * a deterministic Bloom bitmap built over the small side's keys in
    * ONE aggregate. Gated against the PLAIN semi-join oracle — Bloom
    * false positives are removed by the exact join, so the hash match
    * proves the pruned plan is exact, not just plausible.
    */
  def j7BloomPrune(s: SparkSession, dir: String): DataFrame = {
    val urgent = t(s, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 150000.0)
      .select("o_orderkey")
    graft.operators.BloomPrune.semiJoin(
        t(s, dir, "lineitem"), urgent, "l_orderkey", "o_orderkey")
      .select(col("l_orderkey").as("order_key"),
        col("l_linenumber").cast("long").as("line_number"),
        col("l_quantity").as("quantity"))
  }

  /** Anti join — NOT EXISTS. */
  def j3AntiJoin(s: SparkSession, dir: String): DataFrame = {
    val big = t(s, dir, "lineitem").filter(col("l_quantity") >= 49).select("l_orderkey")
    t(s, dir, "orders")
      .join(big, col("o_orderkey") === col("l_orderkey"), "left_anti")
      .select(col("o_orderkey").as("order_key"), col("o_totalprice").as("total_price"))
  }

  // ===== §2.5/2.7 windows, sort, limit =====

  /** W1/F6 — latest row per key with pinned tie-break. */
  def w1LatestPerKey(s: SparkSession, dir: String): DataFrame =
    LatestPerKey(
      t(s, dir, "orders"),
      Seq(col("o_custkey")),
      Seq(col("o_orderdate").desc_nulls_last, col("o_orderkey").asc_nulls_first))
      .select(
        col("o_custkey").as("account"),
        col("o_orderkey").as("order_key"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        col("o_totalprice").as("total_price"))

  /** W1 through the hot-key escape hatch (LatestPerKey.salted): gated
    * against the SAME oracle SQL as w1 — the driver gate itself proves
    * the two-phase salted form is row-identical to the single window.
    */
  def w1LatestPerKeySalted(s: SparkSession, dir: String): DataFrame =
    LatestPerKey.salted(
      t(s, dir, "orders"),
      Seq(col("o_custkey")),
      Seq(col("o_orderdate").desc_nulls_last, col("o_orderkey").asc_nulls_first),
      numSalts = 8)
      .select(
        col("o_custkey").as("account"),
        col("o_orderkey").as("order_key"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        col("o_totalprice").as("total_price"))

  /** W1 through the sampled-histogram auto-router (LatestPerKey
    * .adaptive, default 25% hot-key threshold): orders' custkey
    * distribution is uniform, so the histogram routes the STOCK
    * single-window plan — gated with w1's own oracle, proving the
    * routing job cannot perturb results (the hot route is property-
    * tested in LatestPerKeySpec; salted ≡ unsalted by associativity
    * either way).
    */
  def w1LatestPerKeyAdaptive(s: SparkSession, dir: String): DataFrame =
    LatestPerKey.adaptive(
      t(s, dir, "orders"),
      Seq(col("o_custkey")),
      Seq(col("o_orderdate").desc_nulls_last, col("o_orderkey").asc_nulls_first))
      .select(
        col("o_custkey").as("account"),
        col("o_orderkey").as("order_key"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        col("o_totalprice").as("total_price"))

  /** Top-k per key (k=3) — generalization of the reference's k=1. */
  def w2TopKPerKey(s: SparkSession, dir: String): DataFrame =
    LatestPerKey.topK(
      t(s, dir, "orders"), 3,
      Seq(col("o_custkey")),
      Seq(col("o_totalprice").desc_nulls_last, col("o_orderkey").asc_nulls_first))
      .select(
        col("o_custkey").as("account"),
        col("o_orderkey").as("order_key"),
        col("o_totalprice").as("total_price"))

  /** Window aggregate — running total per key (decimal-exact). */
  def w3RunningTotal(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc_nulls_first, col("o_orderkey").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "orders").select(
      col("o_custkey").as("account"),
      col("o_orderkey").as("order_key"),
      date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
      (sum(round(col("o_totalprice") * 100).cast("long")).over(w)
        .cast("double") / 100).as("running_total"))
  }

  /** Window-function suite beyond the reference's ROW_NUMBER: rank,
    * dense_rank, lag/lead, ntile, percent_rank over a pinned total order.
    */
  def wWindowSuite(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc_nulls_first, col("o_orderkey").asc_nulls_first)
    t(s, dir, "orders").select(
      col("o_custkey").as("account"),
      col("o_orderkey").as("order_key"),
      rank().over(w).cast("long").as("rnk"),
      dense_rank().over(w).cast("long").as("drnk"),
      lag(col("o_totalprice"), 1).over(w).as("prev_price"),
      lead(col("o_totalprice"), 1).over(w).as("next_price"),
      ntile(4).over(w).cast("long").as("quartile"),
      percent_rank().over(w).as("pct_rank"))
  }

  /** Stats aggregates per group (min/max exact; avg via fixed-point). */
  def aggStats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"),
        (sum(round(col("o_totalprice") * 100).cast("long")).cast("double") / 100 /
          count(lit(1)).cast("double")).as("avg_price"),
        count_distinct(col("o_custkey")).as("n_customers"))

  /** Array aggregation + higher-order ops (deterministic via sort;
    * array output serialized to string for cross-engine comparison).
    */
  def qArrayAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(col("o_custkey").as("account"))
      .agg(
        array_join(sort_array(collect_list(col("o_orderkey"))), ",").as("order_keys"),
        count(lit(1)).as("n_orders"))

  /** Date/time function surface over the order dates. */
  def qDatetimeFns(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").select(
      col("o_orderkey").as("order_key"),
      year(col("o_orderdate")).cast("long").as("y"),
      quarter(col("o_orderdate")).cast("long").as("q"),
      month(col("o_orderdate")).cast("long").as("m"),
      dayofmonth(col("o_orderdate")).cast("long").as("d"),
      date_format(date_add(col("o_orderdate"), 7), "yyyy-MM-dd").as("plus7"),
      date_format(last_day(col("o_orderdate")), "yyyy-MM-dd").as("month_end"),
      datediff(col("o_orderdate"), to_date(lit("1995-01-01"))).cast("long").as("days_since_95"))

  /** String function surface over customer names/segments. */
  def qStringFns(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").select(
      col("c_custkey").as("cust_key"),
      upper(col("c_name")).as("name_upper"),
      length(trim(col("c_name"))).cast("long").as("name_len"),
      lpad(col("c_custkey").cast("string"), 10, "0").as("padded_key"),
      regexp_replace(col("c_mktsegment"), "[AEIOU]", "_").as("segment_masked"),
      levenshtein(col("c_mktsegment"), lit("BUILDING")).cast("long").as("seg_dist"),
      substring(col("c_name"), 1, 8).as("name_prefix"))

  /** Pivot: order counts and fixed-point sales per nation, one column
    * per order priority (explicit value list keeps the schema static —
    * the scalable form; dynamic pivot would need a values scan first).
    */
  def qPivotSales(s: SparkSession, dir: String): DataFrame = {
    val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    t(s, dir, "nation")
      .join(t(s, dir, "customer"), col("n_nationkey") === col("c_nationkey"))
      .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
      .groupBy(col("n_name").as("nation_name"))
      .pivot("o_orderpriority", priorities)
      .agg(fixedPointSum(col("o_totalprice"), 2))
      .select(col("nation_name") +: priorities.map(p =>
        coalesce(col(s"`$p`"), lit(0.0)).as("p_" + p.takeWhile(_ != '-'))): _*)
  }

  /** Unpivot (melt): wide per-priority metrics → long (priority, metric,
    * value) form — the inverse of [[qPivotSales]].
    */
  def qUnpivotMetrics(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(
        count(lit(1)).cast("double").as("n_orders"),
        fixedPointSum(col("o_totalprice"), 2).as("total_sales"),
        min(col("o_totalprice")).as("min_price"))
      .unpivot(
        Array(col("priority")),
        Array(col("n_orders"), col("total_sales"), col("min_price")),
        "metric", "value")

  /** Correlated scalar subquery (the construct the reference's README
    * brags about avoiding — supported regardless): orders above twice
    * their customer's average, with a fixed-point-exact average so the
    * threshold comparison is engine-independent. Catalyst rewrites the
    * subquery to an aggregate + join (`RewriteCorrelatedScalarSubquery`).
    */
  def qCorrelatedSubquery(s: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(s, dir)
    s.sql(
      """SELECT o.o_orderkey AS order_key, o.o_custkey AS account,
        |       o.o_totalprice AS total_price
        |FROM orders o
        |WHERE o.o_totalprice > 2.0 * (
        |  SELECT (CAST(SUM(CAST(round(o2.o_totalprice * 100.0) AS BIGINT)) AS DOUBLE) / 100.0)
        |           / CAST(COUNT(*) AS DOUBLE)
        |  FROM orders o2 WHERE o2.o_custkey = o.o_custkey)""".stripMargin)
  }

  /** O1 — deterministic global top-N (sort + limit). */
  def o1LimitTopK(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .orderBy(col("o_totalprice").desc_nulls_last, col("o_orderkey").asc_nulls_first)
      .limit(10)
      .select(col("o_orderkey").as("order_key"), col("o_totalprice").as("total_price"))

  // ===== §2.6 aggregations & QA =====

  def a1CountStar(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").agg(count(lit(1)).as("n"))

  /** A2 — literal `SELECT DISTINCT(COUNT(*))` (no-op DISTINCT, SURVEY §2 A2). */
  def a2DistinctCountLiteral(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").agg(count(lit(1)).as("n")).distinct()

  /** A3 — GROUP BY + HAVING duplicate detector over derived accounts. */
  def a3GroupHavingDuplicates(s: SparkSession, dir: String): DataFrame =
    Quality.duplicateKeys(Derive.stgAccounts(s, dir), col("account_id"))

  /** A4 — filtered count: date-parse failures (reference `README.md:132-136`). */
  def a4ParseFailureCount(s: SparkSession, dir: String): DataFrame =
    Derive.stgActivities(s, dir)
      .filter(ref.parseDdMmYyyy(col("activity_date")).isNull)
      .agg(count(lit(1)).as("n"))

  /** QA sample of failed date parses surviving into the staged view —
    * the reference's exact debugging query (`README.md:132-136`:
    * `SELECT activity_date FROM clean_contacts_primary WHERE
    * activity_date IS NULL LIMIT 10`), made deterministic by a total
    * order on the view's unique key before the LIMIT, and carrying
    * account_id so the sample is actionable.
    */
  def qaParseFailureSample(s: SparkSession, dir: String): DataFrame =
    stagedViews(s, dir).primary
      .filter(col("activity_date").isNull)
      .orderBy(col("account_id").asc_nulls_first)
      .limit(10)
      .select(col("account_id"), col("activity_date"))

  /** A1/A2-intent over every staged view in one result. */
  def qaUniquenessViews(s: SparkSession, dir: String): DataFrame = {
    val v = stagedViews(s, dir)
    Seq(
      "clean_accounts" -> v.cleanAccounts,
      "clean_contacts_primary" -> v.primary,
      "clean_contacts_field" -> v.field,
      "clean_contacts_promise" -> v.promise,
      "clean_contacts_restructure" -> v.restructure
    ).map { case (name, df) =>
      df.agg(count(lit(1)).as("n_rows"), count_distinct(col("account_id")).as("n_accounts"))
        .select(lit(name).as("view_name"), col("n_rows"), col("n_accounts"))
    }.reduce(_.unionByName(_))
  }

  // ===== full pipeline =====

  def pipelineCleanAccounts(s: SparkSession, dir: String): DataFrame =
    StagingLayer.cleanAccounts(Derive.stgAccounts(s, dir))

  def pipelineContactsPrimary(s: SparkSession, dir: String): DataFrame =
    StagingLayer.cleanContactsPrimary(Derive.stgActivities(s, dir), Seq("src_seq"))

  /** SCD2-style contact history: every activity row becomes a versioned
    * record with a validity range derived from the NEXT activity of the
    * same account (lead window) and a current-row flag — the
    * slowly-changing-dimension companion to the latest-row views (which
    * are exactly the `is_current` slice). One key shuffle, no self-join.
    */
  def pipelineContactHistoryScd2(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("account_id"))
      .orderBy(ref.parseDdMmYyyy(col("activity_date")).asc_nulls_first,
        col("src_seq").asc_nulls_first)
    Derive.stgActivities(s, dir)
      .withColumn("next_seq", lead(col("src_seq"), 1).over(w))
      .select(
        col("account_id"),
        col("src_seq").as("valid_from_seq"),
        col("next_seq").as("valid_to_seq"),
        ref.parseDdMmYyyy(col("activity_date")).as("activity_date"),
        col("contact_outcome"),
        col("next_seq").isNull.as("is_current"))
  }

  /** Incremental batch staging: split the activity log into a "history"
    * and a "new batch" (deterministically, on src_seq), build state from
    * history, fold the batch in, publish — must equal the one-shot batch
    * view exactly (the oracle twin IS the batch view's SQL).
    */
  def pipelineIncrementalPrimary(s: SparkSession, dir: String): DataFrame = {
    val acts = Derive.stgActivities(s, dir)
    val state0 = StagingLayer.primaryState(
      acts.filter(col("src_seq") % 3 =!= 0), Seq("src_seq"))
    StagingLayer.stateToView(
      StagingLayer.incrementPrimary(state0,
        acts.filter(col("src_seq") % 3 === 0), Seq("src_seq")))
  }

  def pipelineContactsField(s: SparkSession, dir: String): DataFrame =
    StagingLayer.cleanContactsField(Derive.stgActivities(s, dir), Seq("src_seq"))

  def pipelineContactsPromise(s: SparkSession, dir: String): DataFrame =
    StagingLayer.cleanContactsPromise(Derive.stgActivities(s, dir), Seq("src_seq"))

  def pipelineContactsRestructure(s: SparkSession, dir: String): DataFrame =
    StagingLayer.cleanContactsRestructure(Derive.stgActivities(s, dir), Seq("src_seq"))

  def report1(s: SparkSession, dir: String): DataFrame =
    ReportingLayer.mortgagePortfolio(stagedViews(s, dir), Seq("operation_number"))

  def report2(s: SparkSession, dir: String): DataFrame =
    ReportingLayer.restructuringPipeline(stagedViews(s, dir), Seq("operation_number"))

  def report3(s: SparkSession, dir: String): DataFrame =
    ReportingLayer.commercialPromises(stagedViews(s, dir), Seq("operation_number"))

  // ===== analytics / bench =====

  /** Portable exact money aggregation: round to fixed-point integer per
    * row (the same IEEE double op in Spark and DuckDB), sum exactly as
    * longs, divide once at the end. Engine-native double→decimal casts
    * disagree by 1 ulp per row and drift over large sums — this pattern
    * is bit-reproducible on any cluster size AND associative (safe under
    * any partitioning), which is exactly what a 100 TB sum needs.
    */
  private def fixedPointSum(c: org.apache.spark.sql.Column, scale: Int): org.apache.spark.sql.Column = {
    val f = math.pow(10, scale)
    sum(round(c * f).cast("long")).cast("double") / f
  }

  /** TPC-H Q1-flavor pricing summary (fixed-point-exact sums). */
  def q1PricingSummary(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02 00:00:00")))
      .groupBy(col("l_returnflag").as("return_flag"), col("l_linestatus").as("line_status"))
      .agg(
        fixedPointSum(col("l_quantity"), 2).as("sum_qty"),
        fixedPointSum(col("l_extendedprice"), 2).as("sum_base_price"),
        fixedPointSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("sum_disc_price"),
        fixedPointSum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")), 4)
          .as("sum_charge"),
        count(lit(1)).as("count_order"))

  /** TPC-H Q3-flavor: 3-way join + group + deterministic top-10. */
  def q3TopkRevenue(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val o = t(s, dir, "orders").filter(col("o_orderdate") < to_timestamp(lit("1998-01-01 00:00:00")))
    val l = t(s, dir, "lineitem").filter(col("l_shipdate") > to_timestamp(lit("1998-01-01 00:00:00")))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(fixedPointSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue"))
      .orderBy(col("revenue").desc_nulls_last, col("l_orderkey").asc_nulls_first)
      .limit(10)
      .select(
        col("l_orderkey").as("order_key"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        col("o_orderpriority").as("priority"),
        col("revenue"))
  }

  /** Multi-join rollup through the dimension chain (broadcast-friendly). */
  def q5MultijoinAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "region")
      .join(t(s, dir, "nation"), col("r_regionkey") === col("n_regionkey"))
      .join(t(s, dir, "customer"), col("n_nationkey") === col("c_nationkey"))
      .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
      .groupBy(col("r_name").as("region_name"), col("n_name").as("nation_name"))
      .agg(
        fixedPointSum(col("o_totalprice"), 2).as("total_sales"),
        count(lit(1)).as("n_orders"))

  /** Hierarchical ROLLUP totals through the region→nation dimension
    * chain (subtotal + grand-total rows with NULL markers).
    */
  def qRollupSales(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "region")
      .join(t(s, dir, "nation"), col("r_regionkey") === col("n_regionkey"))
      .join(t(s, dir, "customer"), col("n_nationkey") === col("c_nationkey"))
      .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
      .select(col("r_name").as("region_name"), col("n_name").as("nation_name"),
        col("o_totalprice"))
      .rollup(col("region_name"), col("nation_name"))
      .agg(
        fixedPointSum(col("o_totalprice"), 2).as("total_sales"),
        count(lit(1)).as("n_orders"))

  /** W2 through the NATIVE whole-operator top-k (plans.TopKPerKey:
    * LogicalPlan + Strategy + SparkPlan, bounded per-key heaps, partial
    * pass before the shuffle, no sort) — gated with w2's own oracle, so
    * the driver proves the custom physical operator is row-identical to
    * the window form.
    */
  def w2TopKPerKeyNative(s: SparkSession, dir: String): DataFrame =
    plans.TopKPerKey(
      t(s, dir, "orders"),
      Seq(col("o_custkey")),
      Seq(col("o_totalprice").desc_nulls_last, col("o_orderkey").asc_nulls_first),
      k = 3)
      .select(
        col("o_custkey").as("account"),
        col("o_orderkey").as("order_key"),
        col("o_totalprice").as("total_price"))

  /** Exact quartiles per group WITHOUT interpolation: the value at rank
    * ceil(p·n) under a total order — the discrete-percentile definition
    * both engines can compute bit-identically (percentile_cont
    * interpolation arithmetic differs across engines; this doesn't).
    * Scale note: exact quantiles cost one full per-group sort; at 100 TB
    * prefer approx_percentile unless exactness is contractual.
    */
  /** Shared discrete-percentile scaffold (aggQuartilesManual,
    * qaProfileNumeric): adds `rn`/`n` over (part, order), and the
    * value-at-rank `ceil(p·n)` quartile aggregates — the percentile
    * DEFINITION lives here once, so both gated queries (and their
    * oracle twins) cannot silently diverge.
    */
  private def withQuartileRanks(df: DataFrame, part: Column,
                                order: Seq[Column]): DataFrame = {
    val byP = Window.partitionBy(part)
    df.withColumn("rn", row_number().over(byP.orderBy(order: _*)))
      .withColumn("n", count(lit(1)).over(byP))
  }

  private def quartileAggs(value: Column): Seq[Column] = {
    def at(p: Double) = col("rn") === ceil(col("n") * lit(p))
    Seq(max(when(at(0.25), value)).as("q1"),
      max(when(at(0.50), value)).as("median"),
      max(when(at(0.75), value)).as("q3"))
  }

  def aggQuartilesManual(s: SparkSession, dir: String): DataFrame = {
    val qs = quartileAggs(col("o_totalprice"))
    withQuartileRanks(
      t(s, dir, "orders")
        .select(col("o_orderpriority").as("priority"), col("o_totalprice"), col("o_orderkey")),
      col("priority"),
      Seq(col("o_totalprice").asc_nulls_first, col("o_orderkey").asc_nulls_first))
      .groupBy(col("priority"))
      .agg(qs.head, qs.tail: _*)
  }

  /** Long-form EXACT numeric profile (n/min/max/fixed-point mean/
    * discrete quartiles per column) — the numeric half of the QA surface
    * next to qa_profile_activities' null/distinct stats. One `stack`
    * melt + ONE window keyed by column_name: a per-column loop would run
    * a job per column. Scale note: exact quantiles sort each column's
    * values inside its single column_name partition — the right QA shape
    * for contractual exactness on a sampled/filtered slice; at 100 TB
    * full-table width, swap in approx_percentile (same long form, rows-
    * only gate) exactly as profiling does for distincts.
    */
  def qaProfileNumeric(s: SparkSession, dir: String): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val stacked = t(s, dir, "lineitem").select(
      col("l_orderkey"), col("l_linenumber"),
      expr(s"stack(${cols.length}, ${cols.map(c => s"'$c', $c").mkString(", ")})")
        .as(Seq("column_name", "value")))
    val aggs = Seq(
      count(lit(1)).as("n_rows"),
      min(col("value")).as("min_v"),
      max(col("value")).as("max_v"),
      (sum(round(col("value") * 1000000).cast("long")).cast("double")
        / lit(1000000.0) / count(lit(1))).as("mean_v")) ++
      quartileAggs(col("value"))
    withQuartileRanks(stacked, col("column_name"),
      Seq(col("value").asc_nulls_first,
        col("l_orderkey").asc_nulls_first, col("l_linenumber").asc_nulls_first))
      .groupBy(col("column_name"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** FULL OUTER join: per-customer order counts against the rich-customer
    * subset — unmatched rows survive on BOTH sides with COALESCE
    * sentinels (completes the join surface next to left/semi/anti).
    */
  def j5FullOuter(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"))
    val c = t(s, dir, "customer").filter(col("c_acctbal") > 9000)
      .select(col("c_custkey"), col("c_mktsegment"))
    o.join(c, col("o_custkey") === col("c_custkey"), "full_outer")
      .select(
        coalesce(col("o_custkey"), col("c_custkey")).as("cust_key"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("c_mktsegment"), lit("NO_SEGMENT")).as("segment"),
        when(col("o_custkey").isNull, "customer_only")
          .when(col("c_custkey").isNull, "orders_only")
          .otherwise("both").as("side"))
  }

  /** CUBE over (priority, status) with grouping_id so every subtotal
    * level is distinguishable — completes the grouping-set surface next
    * to ROLLUP (same partial-agg scale shape: one shuffle, grouping-set
    * expansion map-side).
    */
  def qCubeSales(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(col("o_orderpriority").as("priority"),
        col("o_orderstatus").as("status"), col("o_totalprice"))
      .cube(col("priority"), col("status"))
      .agg(
        grouping_id().cast("long").as("gid"),
        fixedPointSum(col("o_totalprice"), 2).as("total_sales"),
        count(lit(1)).as("n_orders"))

  /** The full reference report 1 executed against the durable BUCKETED
    * staging artifact (write → catalog reread → report), gated with the
    * same oracle as report1: proves the bucketed path is semantics-
    * preserving end-to-end, not just exchange-free.
    */
  def report1FromBucketed(s: SparkSession, dir: String): DataFrame = {
    val v = stagedViews(s, dir)
    val base = Scratch.dir("graft_r1b")
    Pipeline.writeStagedBucketed(v, base, nBuckets = 8, prefix = "vr1b")
    ReportingLayer.mortgagePortfolio(
      Pipeline.readStagedBucketed(s, prefix = "vr1b"), Seq("operation_number"))
  }

  /** Explicit GROUPING SETS — the general form rollup/cube specialize:
    * exactly (priority), (status), and () subtotals, nothing else, with
    * grouping_id disambiguating levels. Same one-shuffle partial-agg
    * scale shape as ROLLUP.
    */
  def qGroupingSets(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").select(
      col("o_orderpriority").as("priority"),
      col("o_orderstatus").as("status"), col("o_totalprice"))
      .createOrReplaceTempView("orders_gs")
    s.sql(
      """SELECT priority, status,
        |  CAST(grouping_id() AS BIGINT) AS gid,
        |  CAST(SUM(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS DOUBLE) / 100.0 AS total_sales,
        |  COUNT(*) AS n_orders
        |FROM orders_gs
        |GROUP BY GROUPING SETS ((priority), (status), ())""".stripMargin)
  }

  /** Sliding-window aggregation (2 h window, 1 h slide): each event
    * contributes to TWO overlapping windows — the built-in `window()`
    * generator, scale shape = explode×(window/slide) then one partial-agg
    * shuffle on (window_start, type).
    */
  def eventsSlidingAgg(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(
        window(col("ts"), "2 hours", "1 hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        fixedPointSum(col("value"), 6).as("sum_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Calendar gap-fill + forward-fill: hourly counts per event_type over
    * a COMPLETE generated hour spine (missing hours emit 0 events and
    * carry the last observed sum_value forward) — the time-series
    * regularization step reporting/feature pipelines need before
    * windowed models. Scale notes: the spine is generated (hours ×
    * types, tiny vs events); the fill window partitions by event_type —
    * at production cardinalities partition by (type, calendar chunk) so
    * one type's history never serializes into a single task.
    */
  /** Complete (hour_ts, event_type) spine with per-hour aggregates left-
    * joined on — n_events/sum_value are NULL for silent hours. Shared by
    * [[eventsGapFill]] and [[eventsAnomalyZscore]].
    */
  private def hourlySpine(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val hourly = ev
      .groupBy(date_trunc("hour", col("ts")).as("hour_ts"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), fixedPointSum(col("value"), 6).as("sum_value"))
    val bounds = ev.agg(
      date_trunc("hour", min(col("ts"))).as("lo"),
      date_trunc("hour", max(col("ts"))).as("hi"))
    bounds
      .select(explode(sequence(col("lo"), col("hi"), expr("INTERVAL 1 HOUR"))).as("hour_ts"))
      .crossJoin(ev.select("event_type").distinct())
      .join(hourly, Seq("hour_ts", "event_type"), "left")
  }

  def eventsGapFill(s: SparkSession, dir: String): DataFrame = {
    val fill = Window.partitionBy(col("event_type"))
      .orderBy(col("hour_ts").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hourlySpine(s, dir)
      .select(col("event_type"),
        date_format(col("hour_ts"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        last(col("sum_value"), ignoreNulls = true).over(fill).as("filled_value"))
  }

  /** Trailing-window anomaly score: each hour's event count against the
    * mean/σ of the PREVIOUS 24 spine hours (per event_type) — the
    * monitoring pass that flags traffic anomalies. Emits a z-score only
    * for hours with a full trailing window and non-zero variance. All
    * window sums are exact longs; mean/variance/σ are a pinned sequence
    * of IEEE ops (two divides, multiply, subtract, sqrt — sqrt is
    * correctly rounded, so the oracle reproduces the score bit-exactly).
    */
  def eventsAnomalyZscore(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("hour_ts").asc_nulls_first)
      .rowsBetween(-24, -1)
    val n = coalesce(col("n_events"), lit(0L))
    val base = hourlySpine(s, dir)
      .select(col("event_type"), col("hour_ts"), n.as("n"))
    val sumN = sum(col("n")).over(w)
    val sumSq = sum(col("n") * col("n")).over(w)
    val cnt = count(lit(1)).over(w)
    val mean = sumN.cast("double") / cnt
    val m2 = sumSq.cast("double") / cnt
    val variance = m2 - mean * mean
    base
      .withColumn("mean24", mean)
      .withColumn("var24", variance)
      .withColumn("win_n", cnt)
      .select(col("event_type"),
        date_format(col("hour_ts"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("n").as("n_events"),
        round(when(col("win_n") === 24 && col("var24") > 0,
          (col("n").cast("double") - col("mean24")) / sqrt(col("var24"))), 6).as("zscore"))
  }

  /** User-growth accounting: per day, distinct active users, NEW users
    * (first-ever event that day, via the latest-per-key operator run
    * backwards), and the cumulative user base — the standard
    * growth-dashboard triple, all exact. The cumulative sum's global
    * window runs over day-grain rows only (the spine is tiny by
    * construction; the heavy work — first-seen per user — shuffles by
    * user like any dedup).
    */
  def eventsUserGrowth(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val day = date_format(date_trunc("day", col("ts")), "yyyy-MM-dd")
    val firstSeen = graft.operators.LatestPerKey(
      ev.select(col("user_id"), col("ts"), col("event_id")),
      Seq(col("user_id")),
      Seq(col("ts").asc_nulls_first, col("event_id").asc_nulls_first))
    val news = firstSeen.groupBy(day.as("day"))
      .agg(count(lit(1)).as("new_users"))
    val daily = ev.groupBy(day.as("day"))
      .agg(count_distinct(col("user_id")).as("dau"))
    val cum = Window.orderBy(col("day").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.join(news, Seq("day"), "left")
      .select(col("day"), col("dau"),
        coalesce(col("new_users"), lit(0L)).as("new_users"))
      .withColumn("cum_users", sum(col("new_users")).over(cum))
  }

  /** Salted-join skew escape hatch, gated end-to-end: a deliberately
    * skewed event stream (a third of all traffic collapses onto one
    * user — the planted-hot-key fixture pattern) LEFT-joins the
    * customer dimension through operators.SaltedJoin, then aggregates
    * per segment; the oracle is the PLAIN join, so the gate proves
    * replicate-and-salt is row-exact, not just balanced.
    */
  def j6SaltedJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(
      when(col("user_id") % 3 === 0, 1L).otherwise(col("user_id")).as("user_id"),
      col("value"))
    val cust = t(s, dir, "customer")
      .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment"))
    graft.operators.SaltedJoin(ev, cust, Seq("user_id"), numSalts = 8, "left")
      .groupBy(coalesce(col("segment"), lit("NO_SEGMENT")).as("segment"))
      .agg(count(lit(1)).as("n_events"),
        fixedPointSum(col("value"), 6).as("sum_value"))
  }

  /** [[j6SaltedJoin]] through the CLOSED-LOOP router
    * (SaltedJoin.adaptive): the sampled key histogram decides whether
    * the salted form engages (here it does — a third of all events
    * collapse onto user 1), and the oracle is j6's verbatim because
    * both routes are row-identical by the salting exactness contract.
    */
  def j6SaltedJoinAdaptive(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(
      when(col("user_id") % 3 === 0, 1L).otherwise(col("user_id")).as("user_id"),
      col("value"))
    val cust = t(s, dir, "customer")
      .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment"))
    graft.operators.SaltedJoin.adaptive(ev, cust, Seq("user_id"), "left", numSalts = 8)
      .groupBy(coalesce(col("segment"), lit("NO_SEGMENT")).as("segment"))
      .agg(count(lit(1)).as("n_events"),
        fixedPointSum(col("value"), 6).as("sum_value"))
  }

  /** Cohort retention matrix: users grouped by first-seen day, counted
    * per 7-day offset in which they were active again — the standard
    * growth-analytics retention triangle, exact. Shapes: first-seen =
    * one user-keyed agg; activity de-dups to (user, day) before the
    * cohort join, so the join input is bounded by users × active days.
    */
  def eventsCohortRetention(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
    val first = ev.groupBy("user_id").agg(min(col("day")).as("d0"))
    ev.distinct()
      .join(first, "user_id")
      .groupBy(
        date_format(col("d0"), "yyyy-MM-dd").as("cohort_day"),
        expr("CAST(datediff(day, d0) DIV 7 AS BIGINT)").as("week_offset"))
      .agg(count_distinct(col("user_id")).as("n_active_users"))
  }

  /** Ordered funnel: view → click-after-view → purchase-after-click per
    * user, within the whole horizon — stage timestamps must strictly
    * follow the previous stage's FIRST occurrence (the standard funnel
    * rule). Two user-keyed joins; all three stages reuse the same
    * hash-partitioning, and the output is one row of stage counts.
    */
  def eventsFunnel(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), expr("ts_ns DIV 1000").as("us"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("us")).as("v_us"))
    val c = ev.filter(col("event_type") === "click").join(v, "user_id")
      .filter(col("us") > col("v_us"))
      .groupBy("user_id").agg(min(col("us")).as("c_us"))
    val p = ev.filter(col("event_type") === "purchase").join(c, "user_id")
      .filter(col("us") > col("c_us"))
      .groupBy("user_id").agg(min(col("us")).as("p_us"))
    v.agg(count(lit(1)).as("n_viewed"))
      .crossJoin(c.agg(count(lit(1)).as("n_clicked_after_view")))
      .crossJoin(p.agg(count(lit(1)).as("n_purchased_after_click")))
  }

  /** Set operations: customers partitioned by open-orders membership vs
    * big-order membership (INTERSECT / EXCEPT both ways, tagged).
    */
  def qSetOps(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val a = o.filter(col("o_orderstatus") === "O").select(col("o_custkey").as("cust_key"))
    val b = o.filter(col("o_totalprice") > 150000).select(col("o_custkey").as("cust_key"))
    a.intersect(b).withColumn("tag", lit("both"))
      .unionByName(a.except(b).withColumn("tag", lit("open_only")))
      .unionByName(b.except(a).withColumn("tag", lit("big_only")))
  }

  /** Tumbling-window (hourly) aggregation over the event stream table —
    * the batch shape of the §7 streaming extension.
    */
  def eventsHourlyAgg(s: SparkSession, dir: String): DataFrame =
    hourlyAgg(Tables.events(s, dir))

  /** Per-group OLS trend: regress hourly event count (y) on the
    * absolute hour index (x = ts_ns div 1h) per event_type — slope,
    * intercept, r² from the classic sum formulation. Every sum term
    * (n, Σx, Σy, Σxy, Σx², Σy²) is an EXACT int64 (counts × hour
    * indexes — magnitudes bounded well under 2^63), so the only
    * floating-point ops are the final divides/multiplies in a pinned
    * order — the regression hash-gates bit-exactly, no epsilon. Scale:
    * two shuffles (hourly pre-agg keyed by (type, hour) with map-side
    * combine, then the 6-sum rollup per type); nothing row-sized
    * reaches the second stage.
    */
  def eventsRegression(s: SparkSession, dir: String): DataFrame =
    olsTrend(Tables.events(s, dir)
      .groupBy(col("event_type"), expr("ts_ns div 3600000000000").as("x"))
      .agg(count(lit(1)).as("y")))

  /** Core of [[eventsRegression]]: OLS over any (event_type, x, y)
    * long-typed frame.
    */
  def olsTrend(hourly: DataFrame): DataFrame = {
    val sums = hourly.groupBy("event_type").agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    val num = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
    val den = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
    val slope = num / den
    sums.select(
      col("event_type"), col("n"),
      slope.as("slope"),
      ((col("sy").cast("double") - slope * col("sx").cast("double"))
        / col("n").cast("double")).as("intercept"),
      ((num * num) / (den * (col("n") * col("syy") - col("sy") * col("sy")).cast("double")))
        .as("r2"))
  }

  /** Point-in-interval join through the bin-bucketed range join
    * (operators.RangeJoin) — 100 deterministic "maintenance window"
    * intervals (7h stride, 1-7h lengths, derived from min(ts) so both
    * engines construct the identical set), each aggregating the events
    * it contains. The naive formulation is a nested-loop join on the
    * BETWEEN predicate; binning makes it an equi-join on the hour bin
    * (see RangeJoin scaladoc). Oracle states the plain BETWEEN join.
    */
  def eventsIntervalJoin(s: SparkSession, dir: String): DataFrame = {
    val H = 3600L * 1000000000L
    val ev = Tables.events(s, dir).select(col("event_id"), col("ts_ns"), col("value"))
    val minNs = ev.agg(min(col("ts_ns"))).head().getLong(0)
    val iv = s.range(0, 100).select(
      col("id").as("interval_id"),
      (lit(minNs) + col("id") * lit(7 * H) + (col("id") % 5) * lit(H)).as("iv_start"))
      .withColumn("iv_end", col("iv_start") + ((col("interval_id") % 7) + 1) * lit(H))
    graft.operators.RangeJoin.pointInInterval(ev, "ts_ns", iv, "iv_start", "iv_end", H)
      .groupBy("interval_id")
      .agg(count(lit(1)).as("n_events"), fixedPointSum(col("value"), 6).as("sum_value"))
  }

  private def hourlyAgg(ev: DataFrame): DataFrame =
    ev.groupBy(
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        fixedPointSum(col("value"), 6).as("sum_value"))

  // ===== source/sink fidelity roundtrips =====

  private val eventsRtSchema =
    "event_id BIGINT, user_id BIGINT, event_type STRING, ts_ns BIGINT, value DOUBLE, props STRING"

  /** JSON-lines sink → schema-on-read source → hourly agg, gated against
    * the PARQUET-based oracle: any drift in the JSON writer/reader
    * (double formatting, null encoding, escaping of the nested JSON
    * `props` payload) breaks the hash. ns epochs ride as BIGINT — JSON
    * has no timestamp type — and convert to µs timestamps after the trip
    * exactly like the parquet reader does.
    */
  def sourceJsonRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = Scratch.dir("graft_json_rt")
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts_ns"), col("value"), col("props"))
      .write.mode("overwrite").json(out)
    hourlyAgg(s.read.schema(eventsRtSchema).json(out)
      .withColumn("ts", timestamp_micros(expr("ts_ns DIV 1000"))))
  }

  /** Same fidelity gate through the ORC sink/source — Spark's second
    * native columnar format (type-preserving, so unlike JSON/CSV this
    * checks the binary encoder path: BIGINT/DOUBLE pass through without
    * text formatting, and the nested-JSON `props` string must survive
    * ORC string encoding byte-for-byte).
    */
  def sourceOrcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = Scratch.dir("graft_orc_rt")
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts_ns"), col("value"), col("props"))
      .write.mode("overwrite").orc(out)
    hourlyAgg(s.read.schema(eventsRtSchema).orc(out)
      .withColumn("ts", timestamp_micros(expr("ts_ns DIV 1000"))))
  }

  /** Same fidelity gate through the CSV sink/source (the reference's
    * export format): quoting/escaping of the comma-and-quote-laden
    * `props` column and double round-tripping must be lossless.
    */
  def sourceCsvRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = Scratch.dir("graft_csv_rt")
    Tables.writeCsv(
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("ts_ns"), col("value"), col("props")),
      out)
    hourlyAgg(s.read.option("header", "true").schema(eventsRtSchema).csv(out)
      .withColumn("ts", timestamp_micros(expr("ts_ns DIV 1000"))))
  }

  /** Partitioned-layout roundtrip: documents written `partitionBy(lang)`
    * with in-file digest sort (Tables.writePartitioned — the 100 TB
    * table-layout op), read back filtered to ONE partition and
    * aggregated, gated against the original-parquet oracle. The
    * read-back filter must prune at the DIRECTORY level — the plan
    * shows it under `PartitionFilters`, with only the matching
    * partition's files listed as input (asserted in
    * PlanRegressionSpec), where an unpartitioned layout would scan
    * everything and row-filter.
    */
  def sourcePartitionedRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = Scratch.dir("graft_part_rt")
    Tables.writePartitioned(
      Tables.load(s, dir, "documents")
        .withColumn("digest", md5(col("text").cast("binary"))),
      out, partCol = "lang", sortCol = "digest")
    s.read.parquet(out).filter(col("lang") === "en")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("digest")).as("min_digest"))
  }

  /** Schema-evolution roundtrip (`source_schema_evolution`): a table
    * whose writer gained a column mid-life — generation 1 files carry
    * the narrow schema, generation 2 adds `event_type` — read back as
    * ONE table via `mergeSchema` (the Parquet/Delta/Iceberg
    * add-column evolution path: old files are NEVER rewritten, the
    * scan fills the missing column with null) and aggregated with an
    * explicit null-fill default. The gate proves the merge-read
    * semantics end to end: write two generations → merged scan →
    * normalize → aggregate must equal computing directly off the
    * source table.
    *
    * Scale shape (100 TB): add-column evolution is METADATA-ONLY —
    * zero bytes of the old generation are rewritten; the fill is a
    * per-file constant the scan synthesizes. The footer-schema merge
    * is per-file work at planning time (Spark samples footers in
    * parallel); the aggregate is the usual one-scan
    * map-side-combined groupBy.
    */
  def sourceSchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val out = Scratch.dir("graft_schema_evo")
    val ev = Tables.events(s, dir)
    ev.filter(col("event_id") % 2 === 0)
      .select(col("event_id"), col("user_id"), col("value"))
      .write.parquet(s"$out/g1")
    ev.filter(col("event_id") % 2 === 1)
      .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
      .write.parquet(s"$out/g2")
    s.read.option("mergeSchema", "true").parquet(s"$out/g1", s"$out/g2")
      .groupBy(coalesce(col("event_type"), lit("unknown")).as("event_type_norm"))
      .agg(count(lit(1)).as("n_events"),
        fixedPointSum(col("value"), 6).as("sum_value"))
  }

  /** As-of join: each purchase event picks up the latest prior (or
    * simultaneous) view event of the same user — union+window operator
    * (see operators.AsofJoin), oracled against DuckDB's native ASOF JOIN.
    */
  def eventsAsofJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    // µs granularity at the interface: DuckDB loads TIMESTAMP(NANOS)
    // parquet as µs, and µs epochs (~1.7e15) stay exact through the
    // gate's float64 normalization where ns (~1.7e18 > 2^53) would not.
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        expr("ts_ns DIV 1000").as("ts_us"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_str"))
    // AsofJoin's determinism contract: right (key, time) pairs must be
    // unique. Two 'view' events of one user can share a µs, so keep only
    // the max-event_id row per (user, µs) — the same dedup the oracle
    // applies — making the matched view engine-independent.
    val views = operators.LatestPerKey(
      ev.filter(col("event_type") === "view")
        .select(col("user_id"), expr("ts_ns DIV 1000").as("ts_us"),
          col("event_id"), col("value")),
      Seq(col("user_id"), col("ts_us")),
      Seq(col("event_id").desc_nulls_last))
      .select(col("user_id"), col("ts_us"),
        col("ts_us").as("view_ts_us"), col("value").as("view_value"))
    operators.AsofJoin.backward(
      purchases, views,
      keyCols = Seq("user_id"), timeCol = "ts_us",
      valueCols = Seq("view_ts_us", "view_value"))
  }

  /** JSON extraction from the event props payload (schema-on-read for
    * semi-structured columns — get_json_object stays codegen'd).
    */
  def eventsJsonExtract(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(
      col("event_id"),
      get_json_object(col("props"), "$.k").cast("long").as("k"),
      (get_json_object(col("props"), "$.k").cast("long") % 10).as("k_bucket"))

  /** Gap-based sessionization (30 min) — lag + cumulative flag-sum. */
  def eventsSessionize(s: SparkSession, dir: String): DataFrame = {
    // order by exact ns (matches DuckDB's native TIMESTAMP_NS ordering)
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ns").asc_nulls_first, col("event_id").asc_nulls_first)
    val run = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir)
      .withColumn("prev_ns", lag(col("ts_ns"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_ns").isNull ||
          (expr("ts_ns DIV 1000000000") - expr("prev_ns DIV 1000000000")) > 1800, 1).otherwise(0))
      .withColumn("session_id", sum(col("new_sess")).over(run))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_end"))
  }
}
