package graft.operators

import java.time.LocalDate

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.Tables
import graft.sources.{ArtifactFamily, ContentMemo}
import graft.sources.ArtifactFamily.Append

/** Reference-parity analytics re-expressed on the synthetic star schema.
  *
  * Role mapping (FIXTURES.md §B): `orders` = cart header (abandoned ≡
  * `o_orderstatus = 'O'`, the reference's `p_paymentinfo IS NULL`,
  * `TyreStore Challenge.py:171`), `lineitem` = cart lines
  * (`l_orderkey`→orders, `l_partkey` = product), `customer`/`nation`/
  * `region` = user/region dims, `part`/`supplier` = small broadcast dims.
  *
  * Every query is a declarative DataFrame build — Catalyst does predicate
  * pushdown, column pruning, join-strategy selection (broadcast for the
  * small dims), and AQE re-planning. Scale notes per query inline: each
  * query states why its plan survives a 1000-executor / 100 TB run.
  *
  * Determinism rules (shared with the DuckDB oracles in `oracleSql`):
  *  - money sums go through DECIMAL(18,2) (exact, order-independent) and
  *    are cast to double once at the end — results cannot depend on the
  *    shuffle/partition layout;
  *  - every result has a total ORDER BY with a unique tiebreaker;
  *  - Spark's null ordering (ASC→nulls first, DESC→nulls last) is spelled
  *    out explicitly in the oracle SQL.
  */
object CartAnalytics {

  /** Abandonment predicate — reference: `carts.p_paymentinfo IS NULL` (py:171). */
  private val abandoned: Column = col("o_orderstatus") === "O"

  /** Exact money sum: DECIMAL(18,2) accumulate, one double cast at the end. */
  private def moneySum(c: Column): Column =
    coalesce(sum(c.cast(DecimalType(18, 2))).cast(DoubleType), lit(0.0))

  /** Scalar-param capture (reference S8/S9, py:78-82): fetch
    * (MIN, MAX)(o_orderdate) to the driver and splice them into later
    * plans as foldable literals — the reference's `spark.conf.set` +
    * `${var}` pattern, minus string substitution. Turns would-be scalar
    * subqueries into constants Catalyst folds at plan time. One probe
    * serves the anchor date (MAX: q03/q04/q11), q09's first year and the
    * q10/q16 calendar bounds, once per content state of `orders`
    * ([[ContentMemo]]): an in-place rewrite of the table re-probes.
    * Extracted via date_format (session-TZ-aware) to avoid JVM-default-TZ
    * skew when converting java.sql.Timestamp.
    */
  private def orderDateRange(spark: SparkSession, dir: String): (LocalDate, LocalDate) =
    orderDateMemo(spark, dir, "order_dates", Seq("orders")) {
      val r = ord(spark, dir).agg(
        date_format(min(col("o_orderdate")), "yyyy-MM-dd"),
        date_format(max(col("o_orderdate")), "yyyy-MM-dd")).first()
      (LocalDate.parse(r.getString(0)), LocalDate.parse(r.getString(1)))
    }

  private val orderDateMemo = new ContentMemo[(LocalDate, LocalDate)]

  private def anchorDate(spark: SparkSession, dir: String): LocalDate =
    orderDateRange(spark, dir)._2

  private def dlit(d: LocalDate): Column = lit(java.sql.Date.valueOf(d))

  private def li(spark: SparkSession, dir: String) = Tables.load(spark, dir, "lineitem")
  private def ord(spark: SparkSession, dir: String) = Tables.load(spark, dir, "orders")

  // ---------------------------------------------------------------------
  // Q1 — top-100 parts by abandoned-order count (reference py:180-188).
  // RIGHT OUTER join preserves line-less orders; IS-abandoned filter sits
  // on the preserved side so EliminateOuterJoin must keep the join type.
  // Scale: status filter pushes into the orders parquet scan; ORDER
  // BY+LIMIT plans as TakeOrderedAndProject (no global sort); distinct agg
  // is two-phase partial/final hashed on l_partkey.
  // topKFirst applicability (r15 verdict task 5): NO — the sort key
  // `abandoned_orders` is a post-aggregate countDistinct over the join,
  // not a pre-join anchor column (precondition 1 fails); the aggregate
  // must run over ALL abandoned lines before any top-k is knowable.
  // ---------------------------------------------------------------------
  def q01TopAbandonedParts(spark: SparkSession, dir: String): DataFrame =
    li(spark, dir).join(ord(spark, dir), col("l_orderkey") === col("o_orderkey"), "right_outer")
      .where(abandoned)
      .groupBy(col("l_partkey"))
      .agg(
        countDistinct(col("o_orderkey")).as("abandoned_orders"),
        moneySum(col("l_extendedprice")).as("abandoned_value"))
      .orderBy(col("abandoned_orders").desc, col("l_partkey").asc)
      .limit(100)

  // ---------------------------------------------------------------------
  // Q2 — co-abandoned part pairs (reference py:197-213: comma-join theta
  // self-join J4). The reference deduplicates unordered (a,b)/(b,a) rows
  // with a CASE-built canonical key + row_number; least/greatest +
  // groupBy is the algebraic equivalent with one less shuffle (the
  // row_number partition-sort disappears; the pair groupBy dedups).
  // Scale: the abandoned filter is applied to lines BEFORE pairing (the
  // reference's plan pairs every order and filters after the self-join —
  // quadratic work on rows that are then discarded). The right-outer's
  // null-extension bucket (abandoned orders with <2 distinct parts) is
  // reconstructed from per-order part counts, which reuses the same
  // l_orderkey partitioning as the pair join (no extra shuffle).
  // topKFirst applicability: NO — the top-100 is by the pair-level
  // countDistinct(order) computed BY the self-join; no anchor table
  // carries the sort key pre-join (precondition 1 fails).
  // ---------------------------------------------------------------------
  /** Lines of abandoned orders — q02's pair-stage input (shared with the
    * SQL-text parity lock in SqlParitySpec). The join rides
    * [[graft.plans.Scale.skewAwareJoin]]: a hot order (one key holding
    * ≥1M line rows) would concentrate the subsequent pair blowup on one
    * reducer, so the big side salts when the deterministic skew probe
    * says so — and stays a plain equi-join otherwise (TPC-H-shaped data
    * tops out at ~7 lines/order, so the bench path never pays the salt
    * fan-out). Result is branch-independent; the oracle is unchanged. */
  private[graft] def q02AbandonedLines(spark: SparkSession, dir: String): DataFrame =
    graft.plans.Scale.skewAwareJoin(
      li(spark, dir).select(col("l_orderkey"), col("l_partkey")),
      ord(spark, dir).where(abandoned).select(col("o_orderkey").as("l_orderkey")),
      "l_orderkey")
      .select(col("l_orderkey"), col("l_partkey"))

  /** Canonical co-abandonment pair stage: unordered (a,b) pairs via
    * least/greatest + groupBy — the algebraic equivalent of the
    * reference's CASE-key + row_number dedup (SqlParitySpec proves the
    * equivalence against `CartSql.q02PairsRefShapeSql` row-for-row).
    *
    * Count-bound prune audit (r16 verdict task 5): pairs(a,b) ≤
    * min(orders(a), orders(b)) suggests a per-part admission floor
    * before the self-join. Measured at sf10full: the 100th-best pair
    * holds T = 2 co-abandoned orders while per-part counts sit at
    * 10 ± small (max 28), so `orders(p) < T` prunes 929 of 1,999,898
    * parts — 0.005% of the pair input — and the extra count pass +
    * semi-join would cost more than it saves. NO: the bound admits too
    * much on near-uniform part popularity; it only pays on skewed
    * co-occurrence (hot-part corpora), which [[graft.plans.Scale
    * .skewAwareJoin]] already handles from the blow-up side. */
  private[graft] def q02CanonicalPairs(abLines: DataFrame): DataFrame =
    abLines.as("c1")
      .join(abLines.as("c2"),
        col("c1.l_orderkey") === col("c2.l_orderkey") &&
          col("c1.l_partkey") =!= col("c2.l_partkey"))
      .select(
        least(col("c1.l_partkey"), col("c2.l_partkey")).as("part_a"),
        greatest(col("c1.l_partkey"), col("c2.l_partkey")).as("part_b"),
        col("c1.l_orderkey").as("ok"))
      .groupBy(col("part_a"), col("part_b"))
      .agg(countDistinct(col("ok")).as("abandoned_orders"))

  def q02CoAbandonedPairs(spark: SparkSession, dir: String): DataFrame = {
    val abOrders = ord(spark, dir).where(abandoned).select(col("o_orderkey"))
    val abLines = q02AbandonedLines(spark, dir)
    val paired = q02CanonicalPairs(abLines)
    // abandoned orders contributing no pair: none or a single distinct part
    val perOrder = abLines.groupBy(col("l_orderkey"))
      .agg(countDistinct(col("l_partkey")).as("np"))
    val unpaired = abOrders
      .join(perOrder, col("o_orderkey") === col("l_orderkey"), "left_outer")
      .where(col("np").isNull || col("np") < 2)
      .agg(countDistinct(col("o_orderkey")).as("abandoned_orders"))
      .select(lit(null).cast("long").as("part_a"),
        lit(null).cast("long").as("part_b"), col("abandoned_orders"))
    paired.unionAll(unpaired)
      .where(col("abandoned_orders") > 0)
      .orderBy(col("abandoned_orders").desc, col("part_a").asc, col("part_b").asc)
      .limit(100)
  }

  // ---------------------------------------------------------------------
  // Q3/Q4 — period-over-period abandonment increase per part (reference
  // py:222-277): two aggregated subqueries joined on part, HAVING
  // increase > 0. The anchor month/year comes from the driver-side scalar
  // param (S8/S9) so both period filters are foldable constants that push
  // into the scan.
  // ---------------------------------------------------------------------
  /** Both periods in ONE fact scan: the reference builds two aggregated
    * subqueries and joins them (J7) — semantically that is a conditional
    * aggregation, so the engine scans lineitem⋈orders once, filtered to
    * the union of both periods (pushed down), and counts each period's
    * distinct orders per part by summing per-(part, order) period flags
    * — no distinct aggregate, whose Expand Spark orders anew on every
    * construction. Halves the scans AND replaces the subquery join with
    * a second aggregate. cur-side membership (the reference's inner
    * `cur` relation) becomes `last > 0`.
    */
  private def periodIncrease(spark: SparkSession, dir: String,
      curPeriod: Column, prePeriod: Column,
      curAlias: String, preAlias: String): DataFrame =
    li(spark, dir)
      .join(ord(spark, dir), col("l_orderkey") === col("o_orderkey"), "right_outer")
      .where(abandoned && (curPeriod || prePeriod) && col("o_orderkey").isNotNull)
      .groupBy(col("l_partkey"), col("o_orderkey"))
      .agg(max(when(curPeriod, 1L).otherwise(0L)).as(curAlias),
        max(when(prePeriod, 1L).otherwise(0L)).as(preAlias))
      .groupBy(col("l_partkey"))
      .agg(sum(col(curAlias)).as(curAlias),
        // join-parity for the NULL part bucket: an equi-join on l_partkey
        // never matches NULL, so the reference's prev for that bucket is
        // the coalesced 0, not the real previous-period count
        when(col("l_partkey").isNull, lit(0L)).otherwise(sum(col(preAlias))).as(preAlias))
      .where(col(curAlias) > 0)
      .select(
        col("l_partkey"),
        col(preAlias),
        col(curAlias),
        (col(curAlias) - col(preAlias)).as("increase"))
      .where(col("increase") > 0) // HAVING-on-alias (reference A8, py:242)
      .orderBy(col("increase").desc, col("l_partkey").asc)
      .limit(100)

  def q03MomIncrease(spark: SparkSession, dir: String): DataFrame = {
    // Compare the last two COMPLETE months: the anchor month only contains
    // data up to the max order date, so month-over-month vs a full month
    // would be systematically negative (and usually empty).
    val a = anchorDate(spark, dir).minusMonths(1)
    val p = a.minusMonths(1)
    def in(d: LocalDate) =
      year(col("o_orderdate")) === lit(d.getYear) &&
        month(col("o_orderdate")) === lit(d.getMonthValue)
    periodIncrease(spark, dir, in(a), in(p), "last_month_orders", "prev_month_orders")
      .select(col("l_partkey"), col("prev_month_orders"),
        col("last_month_orders"), col("increase"))
  }

  def q04YoyIncrease(spark: SparkSession, dir: String): DataFrame = {
    val a = anchorDate(spark, dir)
    def in(y: Int) = year(col("o_orderdate")) === lit(y)
    periodIncrease(spark, dir, in(a.getYear), in(a.getYear - 1),
      "last_year_orders", "prev_year_orders")
      .select(col("l_partkey"), col("prev_year_orders"),
        col("last_year_orders"), col("increase"))
  }

  // ---------------------------------------------------------------------
  // Q5/Q6 — abandonment by nation (reference py:296-329: agg subquery +
  // FULL OUTER join to the region dim, NULL-keyed bucket preserved).
  // Scale: the fact-side agg shuffles once on the (tiny-cardinality)
  // nation key; the FULL join against the 25-row nation dim is a
  // broadcast; zero-abandonment nations survive via the outer side.
  // ---------------------------------------------------------------------
  def q05AbandonedByCustomerNation(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.load(spark, dir, "customer")
    val agg = ord(spark, dir).where(abandoned)
      .join(cust, col("o_custkey") === col("c_custkey"), "left_outer")
      .groupBy(col("c_nationkey"))
      .agg(
        countDistinct(col("o_orderkey")).as("total_abandoned_orders"),
        moneySum(col("o_totalprice")).as("total_abandoned_value"))
    agg.join(Tables.load(spark, dir, "nation"),
        col("c_nationkey") === col("n_nationkey"), "full_outer")
      .select(
        col("n_name"),
        coalesce(col("total_abandoned_orders"), lit(0L)).as("total_abandoned_orders"),
        coalesce(col("total_abandoned_value"), lit(0.0)).as("total_abandoned_value"))
      .orderBy(col("total_abandoned_orders").desc, col("n_name").asc)
  }

  def q06AbandonedBySupplierNation(spark: SparkSession, dir: String): DataFrame = {
    val supp = Tables.load(spark, dir, "supplier")
    val agg = li(spark, dir)
      .join(supp, col("l_suppkey") === col("s_suppkey"), "left_outer")
      .join(ord(spark, dir), col("l_orderkey") === col("o_orderkey"), "right_outer")
      .where(abandoned)
      .groupBy(col("s_nationkey"))
      .agg(
        countDistinct(col("o_orderkey")).as("total_abandoned_orders"),
        moneySum(col("l_extendedprice")).as("total_abandoned_value"))
    agg.join(Tables.load(spark, dir, "nation"),
        col("s_nationkey") === col("n_nationkey"), "full_outer")
      .select(
        col("n_name"),
        coalesce(col("total_abandoned_orders"), lit(0L)).as("total_abandoned_orders"),
        coalesce(col("total_abandoned_value"), lit(0.0)).as("total_abandoned_value"))
      .orderBy(col("total_abandoned_orders").desc, col("n_name").asc)
  }

  // ---------------------------------------------------------------------
  // Q7 — equi-join on a computed key (reference J5, py:343: the zip-code
  // CONCAT(LEFT...,RIGHT...) join). Here: rebuild the customer name from
  // o_custkey and join on it. Catalyst hashes the computed key like any
  // equi-key; the small side broadcasts.
  // ---------------------------------------------------------------------
  def q07ComputedKeyJoin(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.load(spark, dir, "customer")
    val key = concat(lit("Customer#"), lpad(col("o_custkey").cast("string"), 9, "0"))
    ord(spark, dir).where(abandoned)
      .join(cust, key === col("c_name"), "left_outer")
      .groupBy(col("c_mktsegment"))
      .agg(
        countDistinct(col("o_orderkey")).as("abandoned_orders"),
        moneySum(col("o_totalprice")).as("abandoned_value"))
      .orderBy(col("abandoned_orders").desc, col("c_mktsegment").asc)
  }

  // ---------------------------------------------------------------------
  // Q8/Q9 — launch cohorts (reference py:364-439: nested agg subqueries,
  // YEAR(MIN(...)) launch derivation, HAVING on the derived launch year).
  // ---------------------------------------------------------------------
  /** Launch date AND abandonment count per part in ONE join + ONE
    * aggregation. The reference builds two aggregated subqueries over the
    * same fact join (launch via LEFT, abandonment via RIGHT + filter) and
    * joins them; per part both reduce to conditional aggregates over the
    * plain inner match set, so one pass computes both. Parts with no
    * abandoned orders get 0 via the conditional count — identical to the
    * reference's LEFT JOIN + COALESCE. */
  private def launchAndAbandoned(spark: SparkSession, dir: String): DataFrame =
    li(spark, dir)
      .join(ord(spark, dir), col("l_orderkey") === col("o_orderkey"), "left_outer")
      .groupBy(col("l_partkey"))
      .agg(
        min(col("o_orderdate")).as("launch_ts"),
        // join-parity for a NULL part bucket (same rule as periodIncrease):
        // the oracle's launch⋈ab equi-join never matches NULL, so its
        // coalesced count is 0 — not the real conditional count
        when(col("l_partkey").isNull, lit(0L))
          .otherwise(countDistinct(when(abandoned, col("o_orderkey"))))
          .as("abandoned_orders"))

  /** Q8 — parts grouped into launch-month cohorts with abandonment totals.
    * The year_month label uses the reference's zero-pad idiom
    * RIGHT(CONCAT('0', month), 2) (py:450). */
  def q08LaunchCohorts(spark: SparkSession, dir: String): DataFrame = {
    launchAndAbandoned(spark, dir)
      .groupBy(concat(
        year(col("launch_ts")).cast("string"), lit("-"),
        expr("right(concat('0', cast(month(launch_ts) as string)), 2)")).as("launch_month"))
      .agg(
        count(lit(1)).as("n_parts"),
        sum(coalesce(col("abandoned_orders"), lit(0L))).as("total_abandoned_orders"))
      .orderBy(col("launch_month").asc)
  }

  /** Q9 — per-part launch table filtered to first-year launches (HAVING on
    * YEAR(MIN(...))), top-100 by abandonment.
    * topKFirst applicability: NO — both the filter (YEAR(MIN(launch_ts)),
    * an aggregate of the join) and the sort key (abandoned_orders, a
    * post-aggregate count) only exist after the full aggregation
    * (preconditions 1 and 3 fail). */
  def q09LaunchYearTopParts(spark: SparkSession, dir: String): DataFrame = {
    val firstYear = orderDateRange(spark, dir)._1.getYear
    launchAndAbandoned(spark, dir)
      .select(
        col("l_partkey"),
        year(col("launch_ts")).as("launch_year"),
        coalesce(col("abandoned_orders"), lit(0L)).as("abandoned_orders"))
      .where(col("launch_year") === lit(firstYear))
      .orderBy(col("abandoned_orders").desc, col("l_partkey").asc)
      .limit(100)
  }

  // ---------------------------------------------------------------------
  // Q10/Q11 — calendar gap-fill analytics (reference py:449-515): a
  // sequence/explode date spine LEFT JOINed to aggregated facts, zero-
  // filling empty periods. Two fact grains: order-level (header prices)
  // and item-level (line prices) — the reference's two agg subqueries.
  // Scale: the spine is tiny (months/days) and broadcast; facts aggregate
  // before the join so the shuffle carries one row per period.
  // ---------------------------------------------------------------------
  def q10MonthlyGapfill(spark: SparkSession, dir: String): DataFrame = {
    val o = ord(spark, dir)
    val (lo, hi) = orderDateRange(spark, dir)
    val spine = spark.range(1).select(explode(sequence(
      dlit(lo.withDayOfMonth(1)), dlit(hi.withDayOfMonth(1)),
      expr("interval 1 month"))).as("month_start"))
    val ordersAgg = o.where(abandoned)
      .groupBy(date_trunc("MONTH", col("o_orderdate")).cast("date").as("month_start"))
      .agg(
        countDistinct(col("o_orderkey")).as("o_cnt"),
        moneySum(col("o_totalprice")).as("o_val"))
    val itemsAgg = li(spark, dir)
      .join(o, col("l_orderkey") === col("o_orderkey"), "right_outer")
      .where(abandoned)
      .groupBy(date_trunc("MONTH", col("o_orderdate")).cast("date").as("month_start"))
      .agg(
        moneySum(col("l_quantity")).as("i_cnt"),
        moneySum(col("l_extendedprice")).as("i_val"))
    spine.join(ordersAgg, Seq("month_start"), "left_outer")
      .join(itemsAgg, Seq("month_start"), "left_outer")
      .select(
        concat(year(col("month_start")).cast("string"), lit("-"),
          expr("right(concat('0', cast(month(month_start) as string)), 2)")).as("year_month"),
        coalesce(col("o_cnt"), lit(0L)).as("total_abandoned_orders"),
        coalesce(col("o_val"), lit(0.0)).as("total_value_orders"),
        coalesce(col("i_cnt"), lit(0.0)).as("total_abandoned_items"),
        coalesce(col("i_val"), lit(0.0)).as("total_value_items"))
      .orderBy(col("year_month").asc)
  }

  def q11DailyGapfill(spark: SparkSession, dir: String): DataFrame = {
    val a = anchorDate(spark, dir)
    val o = ord(spark, dir)
    val spine = spark.range(1).select(explode(sequence(
      dlit(a.minusDays(89)), dlit(a), expr("interval 1 day"))).as("date"))
    val ordersAgg = o.where(abandoned)
      .groupBy(col("o_orderdate").cast("date").as("date"))
      .agg(
        countDistinct(col("o_orderkey")).as("o_cnt"),
        moneySum(col("o_totalprice")).as("o_val"))
    val itemsAgg = li(spark, dir)
      .join(o, col("l_orderkey") === col("o_orderkey"), "right_outer")
      .where(abandoned)
      .groupBy(col("o_orderdate").cast("date").as("date"))
      .agg(
        moneySum(col("l_quantity")).as("i_cnt"),
        moneySum(col("l_extendedprice")).as("i_val"))
    spine.join(ordersAgg, Seq("date"), "left_outer")
      .join(itemsAgg, Seq("date"), "left_outer")
      .select(
        col("date"),
        coalesce(col("o_cnt"), lit(0L)).as("total_abandoned_orders"),
        coalesce(col("o_val"), lit(0.0)).as("total_value_orders"),
        coalesce(col("i_cnt"), lit(0.0)).as("total_abandoned_items"),
        coalesce(col("i_val"), lit(0.0)).as("total_value_items"))
      .orderBy(col("date").asc)
  }

  // ---------------------------------------------------------------------
  // Q12 — the export join (reference py:531-546): 6-way mixed outer join
  // fanning out from the fact pair to every dimension, 8-col GROUP BY,
  // top-50.
  //
  // Scale shape (r15): the TOP-50 IS DECIDED BY THE ORDERS SCAN ALONE.
  // The final sort keys (o_totalprice DESC, o_orderkey ASC) are GROUP
  // keys that exist before any join, the abandonment filter is a pure
  // orders predicate, and every join key is unique on its far side
  // (orders PK; dim PKs), so each abandoned order yields EXACTLY one
  // output group — top-50 groups ≡ top-50 abandoned orders, a rewrite
  // Catalyst cannot derive itself (it has no functional-dependency
  // reasoning to push a LIMIT through an aggregate). The plan is then:
  // TakeOrdered(50) over the orders scan (partial top-k per partition,
  // no shuffle) → broadcast SEMI join reduces lineitem to the 50
  // orders' lines map-only → the outer join, dims, and aggregate all
  // run on ≤50-order rows. ZERO fact shuffles at any scale.
  //
  // Why not join-then-aggregate (the r14 shape): at sf100star the
  // default 10 MB ceiling stopped the dims broadcasting and the five
  // fact-sized joins DISK-FULLed this host twice — as chained sort-
  // merge spills (>56 GB, PERF 14d) and, with the r15 shuffle-hash
  // fallback, as five accreting full-fact shuffle writes (PERF 15f).
  // Past the broadcast ceiling there IS no fact-shuffling plan that
  // fits a bounded scratch disk; the top-k-first shape removes the
  // fact from the join entirely. Scale.dimJoin still guards the dim
  // attachment (broadcast under the ceiling, SHUFFLE_HASH above it —
  // now over a 50-row probe side, so either branch is trivial);
  // PlanSpec pins both regimes plus the TakeOrdered + semi-join shape.
  // ---------------------------------------------------------------------
  def q12ExportJoin(spark: SparkSession, dir: String): DataFrame = {
    import graft.plans.Scale.dimJoin
    val o = ord(spark, dir)
    val cust = Tables.load(spark, dir, "customer")
    val nat = Tables.load(spark, dir, "nation")
    val reg = Tables.load(spark, dir, "region")
    val prt = Tables.load(spark, dir, "part")
    val sup = Tables.load(spark, dir, "supplier")
    // the shared topKFirst harness (Scale) — q12 satisfies all four
    // preconditions: sort keys (o_totalprice, o_orderkey) are orders
    // columns; the group keys are functionally determined by o_orderkey
    // (orders PK + unique dim PKs); `abandoned` is a pure orders
    // predicate; o_orderkey asc is the unique tiebreaker.
    // Then LEFT OUTER from the orders side — preserves line-less orders
    // exactly like the original right_outer.
    val (top50, lines) = graft.plans.Scale.topKFirst(
      o.where(abandoned),
      Seq(col("o_totalprice").desc, col("o_orderkey").asc), 50,
      li(spark, dir), col("l_orderkey"), col("o_orderkey"))
    val fact = top50.join(lines, col("o_orderkey") === col("l_orderkey"), "left_outer")
    val withDims = Seq(
      (cust, col("o_custkey") === col("c_custkey")),
      (nat, col("c_nationkey") === col("n_nationkey")),
      (reg, col("n_regionkey") === col("r_regionkey")),
      (prt, col("l_partkey") === col("p_partkey")),
      (sup, col("l_suppkey") === col("s_suppkey"))
    ).foldLeft(fact) { case (acc, (dim, cond)) => dimJoin(acc, dim, cond, "left_outer") }
    withDims
      .groupBy(
        col("o_orderkey"), col("o_orderdate").cast("date").as("order_date"),
        col("o_totalprice"), col("o_orderpriority"),
        col("c_name"), col("c_mktsegment"), col("n_name"), col("r_name"))
      .agg(
        count(col("l_linenumber")).as("n_items"), // COUNT(col): non-null after outer join (A2)
        moneySum(col("l_extendedprice")).as("items_value"),
        moneySum(col("l_quantity")).as("total_quantity"),
        countDistinct(col("s_name")).as("n_suppliers"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(50)
  }

  // ---------------------------------------------------------------------
  // Q13 — window dedup (reference W1, py:201-210): row_number over a
  // partition, keep rank 1. Latest shipped line per order. The testdata's
  // (l_orderkey, l_linenumber) is NOT unique, so the full tiebreaker chain
  // (shipdate, linenumber, partkey, price) pins a deterministic winner.
  // ---------------------------------------------------------------------
  def q13LatestLineitemPerOrder(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("l_shipdate").desc, col("l_linenumber").desc,
        col("l_partkey").desc, col("l_extendedprice").desc)
    li(spark, dir)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("l_orderkey"), col("l_partkey"), col("l_linenumber"),
        col("l_shipdate"), col("l_extendedprice"))
      .orderBy(col("l_orderkey").asc)
  }

  // ---------------------------------------------------------------------
  // Q14 — CTE + quoted-identifier pivot shape (reference §2.11 hidden
  // dashboard cells). Exercises the SQL-text entry point (3.1): views are
  // registered and the query is parsed from SQL, including a reserved
  // word (`date`) as a column name.
  // ---------------------------------------------------------------------
  def q14CtePivot(spark: SparkSession, dir: String): DataFrame = {
    val sql =
      """WITH q AS (
        |  SELECT CAST(o_orderdate AS DATE) AS `date`, o_totalprice
        |  FROM orders WHERE o_orderstatus = 'O')
        |SELECT `date`,
        |       count(*) AS n_orders,
        |       coalesce(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 0.0) AS total_value
        |FROM q GROUP BY `date` ORDER BY `date`""".stripMargin
    Tables.registerFor(spark, dir, sql) // orders only — a broken events file can't block this
    spark.sql(sql)
  }

  // ---------------------------------------------------------------------
  // Q15 — column profile (reference A11, dbutils.data.summarize): per-
  // column stats over the orders fact in one pass (count / non-null /
  // distinct / zeros / min / max / exact mean / stddev / exact median).
  // One aggregate job, then a tiny union of literal-labeled rows — no
  // per-column scans. Exact `percentile` matches DuckDB quantile_cont
  // (both linear-interpolated over the sorted column). Population stddev
  // uses the sum-of-squares algebra with DECIMAL accumulators (exact,
  // partition-order-independent) and the SAME final double expression
  // sqrt(sum2/n − mean²) spelled out in the oracle, so both engines build
  // the identical IEEE tree. Implementation: [[Profile.summarize]] (the
  // reusable library surface); this query pins it to the oracle.
  // ---------------------------------------------------------------------
  /** Column statistics are PERSISTED CATALOG STATE — the ANALYZE TABLE
    * idiom (r16): the exact-median profile costs a full sort-aggregate
    * of the fact (1,237 executor-CPU-s / a 267 s first run at sf10full,
    * hidden by min-of-3 accounting — r15 sweep cpu_runs), and statistics
    * change exactly when the table does, which is what the artifact key
    * (corpus fingerprint + defining plan) already tracks. Values are
    * deterministic doubles/longs → the parquet round trip is
    * bit-identical to recompute; the oracle still recomputes from raw.
    * The [[Profile]] cores stay artifact-free for arbitrary frames. */
  /** q15's numeric columns and q17's string columns — the profile
    * family's fixed surface over the orders fact. */
  private[graft] val ProfileNumCols = Seq("o_orderkey", "o_custkey", "o_totalprice")
  private[graft] val ProfileStrCols = Seq("o_orderstatus", "o_orderpriority")
  private val Orders = Seq("orders")

  /** The per-value histogram of the orders numeric columns as a
    * PERSISTED CATALOG ARTIFACT (r18, r17 verdict task 4): the mergeable
    * INTERMEDIATE the final statistics derive from. Like every family it
    * keys on the content of the tables it reads — here ORDERS only — so
    * the key moves exactly when orders bytes move, and an orders APPEND
    * folds in at O(batch) (file-level link + batch histogram — the multiset
    * contract in [[Profile.histogram]]: per-value counts are additive
    * under append, so consumers re-aggregate by value). */
  private[graft] lazy val ProfHist: ArtifactFamily = new ArtifactFamily("profhist",
    Orders,
    defining = (spark, dir) => Profile.histogram(ord(spark, dir), ProfileNumCols))(
    refresh = Some(Append((_, _, batch) => Profile.histogram(batch, ProfileNumCols))),
    multisetCount = Some("c"))

  /** q17's string-histogram twin (profstrh_). */
  private[graft] lazy val ProfStrHist: ArtifactFamily = new ArtifactFamily("profstrh",
    Orders,
    defining = (spark, dir) => Profile.stringHistogram(ord(spark, dir), ProfileStrCols))(
    refresh = Some(Append((_, _, batch) => Profile.stringHistogram(batch, ProfileStrCols))),
    multisetCount = Some("c"))

  /** q15's statistics. Key: the full (histogram → statistics) derivation
    * as a LAZY plan (materialize = false: no cache entries minted during
    * name derivation). Build: the DECLARED statistics from the served histogram — the raw
    * fact is scanned only by the histogram build itself; ProfileHistSpec
    * pins bit-identity to Profile.summarize. It has no append refresh:
    * on an appended state its first serve reads the refreshed histogram,
    * never the full raw fact. */
  private[graft] lazy val ProfileStats: ArtifactFamily = new ArtifactFamily("profile",
    Orders,
    defining = (spark, dir) => {
      val o = ord(spark, dir)
      Profile.summarizeFromHistogram(Profile.histogram(o, ProfileNumCols),
        Profile.columnKinds(o, ProfileNumCols), materialize = false)
    })(
    build = (spark, dir) => Profile.summarizeFromHistogram(ProfHist.serve(spark, dir),
      Profile.columnKinds(ord(spark, dir), ProfileNumCols)))

  /** q17's statistics, derived from the served string histogram
    * (identical rows: the re-aggregated counts frame IS
    * summarizeStrings's counts frame). */
  private[graft] lazy val ProfileStrStats: ArtifactFamily = new ArtifactFamily("profstr",
    Orders,
    defining = (spark, dir) => Profile.summarizeStringsFromHistogram(
      Profile.stringHistogram(ord(spark, dir), ProfileStrCols), ProfileStrCols))(
    build = (spark, dir) => Profile.summarizeStringsFromHistogram(
      ProfStrHist.serve(spark, dir), ProfileStrCols))

  def q15ProfileOrders(spark: SparkSession, dir: String): DataFrame =
    ProfileStats.serve(spark, dir).orderBy(col("column_name").asc)

  // ---------------------------------------------------------------------
  // Q17 — string-column profile (the top/freq half of summarize): per
  // string column, distinct count and the modal value with its frequency.
  // One groupBy per column over a pruned scan; modal pick via max_by with
  // a deterministic (count, value) tiebreak.
  // ---------------------------------------------------------------------
  def q17ProfileOrdersStrings(spark: SparkSession, dir: String): DataFrame =
    ProfileStrStats.serve(spark, dir).orderBy(col("column_name").asc)

  // ---------------------------------------------------------------------
  // Q16 — calendar dimension (reference py:74-76: sequence + explode, the
  // only generator in the reference). Derived attributes use portable
  // date parts (ISO weekday).
  // ---------------------------------------------------------------------
  def q16Calendar(spark: SparkSession, dir: String): DataFrame = {
    val (lo, hi) = orderDateRange(spark, dir)
    spark.range(1).select(explode(sequence(dlit(lo), dlit(hi),
        expr("interval 1 day"))).as("calendar_date"))
      .select(
        col("calendar_date"),
        year(col("calendar_date")).as("y"),
        month(col("calendar_date")).as("m"),
        dayofmonth(col("calendar_date")).as("d"),
        (expr("weekday(calendar_date)") + 1).as("dow_iso"))
      .orderBy(col("calendar_date").asc)
  }

  // ---------------------------------------------------------------------
  // Q18 — ROLLUP subtotals (beyond the reference: §2.4 notes the engine
  // gets grouping sets free from Spark). Priority × status counts with
  // per-priority subtotals and a grand total; grouping_id disambiguates
  // subtotal rows from genuine NULL groups.
  // ---------------------------------------------------------------------
  def q18Rollup(spark: SparkSession, dir: String): DataFrame =
    ord(spark, dir)
      .rollup(col("o_orderpriority"), col("o_orderstatus"))
      .agg(
        grouping_id(col("o_orderpriority"), col("o_orderstatus")).as("gid"),
        count(lit(1)).as("n_orders"),
        moneySum(col("o_totalprice")).as("total_value"))
      .select(col("o_orderpriority"), col("o_orderstatus"), col("gid"),
        col("n_orders"), col("total_value"))
      .orderBy(col("gid").asc, col("o_orderpriority").asc, col("o_orderstatus").asc)

  // ---------------------------------------------------------------------
  // Q19 — set operations (§2.7: absent in the reference, exposed by the
  // engine): customers split by relationship to abandonment — INTERSECT
  // (both abandoned and completed), EXCEPT (abandoned only). Spark plans
  // both as aggregates/joins, not row-by-row comparisons.
  // ---------------------------------------------------------------------
  def q19SetOps(spark: SparkSession, dir: String): DataFrame = {
    val o = ord(spark, dir)
    val ab = o.where(abandoned).select(col("o_custkey"))
    val done = o.where(col("o_orderstatus") === "F").select(col("o_custkey"))
    val both = ab.intersect(done).withColumn("segment", lit("abandoned_and_completed"))
    val only = ab.except(done).withColumn("segment", lit("abandoned_only"))
    both.unionAll(only)
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("segment").asc)
  }

  // ---------------------------------------------------------------------
  // Q20 — pivot (the dashboards' matrix shape, §2.11): order counts as a
  // month × status matrix. Fixed pivot values keep the schema static —
  // the only form that scales (dynamic pivot needs a driver-side distinct
  // first).
  // ---------------------------------------------------------------------
  /** The ANSI order-status domain — q20's default pivot column set. */
  val OrderStatusValues: Seq[String] = Seq("F", "O", "P")

  /** Pivot values are an explicit PARAMETER, deliberately with a static
    * default and no "discover the values" overload: dynamic pivot needs
    * a driver-side distinct over the fact table before planning can even
    * start — a scale footgun this engine refuses to offer. A caller who
    * wants other columns states them (and thereby fixes the output
    * schema at plan time, like the reference's fixed dashboard shape). */
  def q20PivotMatrix(spark: SparkSession, dir: String,
      statuses: Seq[String] = OrderStatusValues): DataFrame =
    ord(spark, dir)
      .groupBy(date_trunc("MONTH", col("o_orderdate")).cast("date").as("month_start"))
      .pivot("o_orderstatus", statuses)
      .agg(count(lit(1)))
      .select(col("month_start") +:
        statuses.map(s => coalesce(col(s), lit(0L)).as(s"n_${s.toLowerCase}")): _*)
      .orderBy(col("month_start").asc)

  // ---------------------------------------------------------------------
  // Q21 — semi/anti joins (§2.3: not used by the reference, exposed by
  // the engine): customer segments by order relationship, computed with
  // left_semi / left_anti — existence checks with NO fan-out and no
  // post-join dedup, the shape Catalyst turns EXISTS/NOT EXISTS into.
  // ---------------------------------------------------------------------
  def q21SemiAnti(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.load(spark, dir, "customer")
    val abandoned_ = ord(spark, dir).where(abandoned).select(col("o_custkey"))
    val withAb = cust.join(abandoned_, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey")).withColumn("segment", lit("has_abandoned"))
    val noOrders = cust.join(ord(spark, dir).select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey")).withColumn("segment", lit("no_orders"))
    withAb.unionAll(noOrders)
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("segment").asc)
  }

  // ---------------------------------------------------------------------
  // Q22 — analytic windows beyond row_number (§2.5 widened): monthly
  // revenue with lag (previous month), month-over-month delta, running
  // year-to-date total, share of year, and within-year revenue rank.
  // Every window partitions by year — a partition only ever holds ≤ 12
  // pre-aggregated rows, so there is no zero-partition window and no
  // reducer that scales with the fact table. Money stays DECIMAL through
  // lag/subtraction/window-sum (exact, order-independent) with one double
  // cast at the edge, like every moneySum.
  // ---------------------------------------------------------------------
  def q22WindowAnalytics(spark: SparkSession, dir: String): DataFrame = {
    val m = ord(spark, dir)
      .groupBy(year(col("o_orderdate")).as("yr"), month(col("o_orderdate")).as("mo"))
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).as("rev"))
    val byMo = Window.partitionBy(col("yr")).orderBy(col("mo").asc)
    val run = byMo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = Window.partitionBy(col("yr"))
    m.select(col("yr"), col("mo"),
        col("rev").cast(DoubleType).as("revenue"),
        lag(col("rev"), 1).over(byMo).cast(DoubleType).as("prev_revenue"),
        (col("rev") - lag(col("rev"), 1).over(byMo)).cast(DoubleType).as("mom_delta"),
        sum(col("rev")).over(run).cast(DoubleType).as("ytd_revenue"),
        // divide as doubles: decimal-division scale rules differ per engine
        (col("rev").cast(DoubleType) / sum(col("rev")).over(whole).cast(DoubleType))
          .as("yr_share"),
        row_number().over(Window.partitionBy(col("yr"))
          .orderBy(col("rev").desc, col("mo").asc)).as("rev_rank"))
      .orderBy(col("yr").asc, col("mo").asc)
  }

  // ---------------------------------------------------------------------
  // Q23 — GROUPING SETS with a custom set list ((priority), (status), ())
  // — the shape neither ROLLUP (q18) nor a plain GROUP BY covers: two
  // independent one-dimensional summaries plus the grand total in ONE
  // pass over the fact table (Spark plans a single Expand + aggregate,
  // not three scans).
  // ---------------------------------------------------------------------
  def q23GroupingSets(spark: SparkSession, dir: String): DataFrame =
    ord(spark, dir)
      .groupingSets(
        Seq(Seq(col("o_orderpriority")), Seq(col("o_orderstatus")), Seq.empty),
        col("o_orderpriority"), col("o_orderstatus"))
      .agg(
        grouping_id(col("o_orderpriority"), col("o_orderstatus")).as("gid"),
        count(lit(1)).as("n_orders"),
        moneySum(col("o_totalprice")).as("total_value"))
      .select(col("o_orderpriority"), col("o_orderstatus"), col("gid"),
        col("n_orders"), col("total_value"))
      .orderBy(col("gid").asc, col("o_orderpriority").asc, col("o_orderstatus").asc)

  // ---------------------------------------------------------------------
  // Q24 — referential-integrity audit: orphan counts for every foreign-key
  // edge of the star schema in one result — the data-quality gate a
  // pipeline runs before trusting its joins. Each edge is a left-anti
  // join (no fan-out, no dedup) aggregated to a single row; the child
  // side partial-counts and the parent side is a dimension (broadcast) or
  // the already-shuffled fact key. UNION ALL of six 1-row aggregates.
  // ---------------------------------------------------------------------
  /** One FK edge of the audit: total child rows + orphans (children whose
    * key matches no parent). Left-anti is fan-out-proof regardless of
    * parent-key duplication, and counts a NULL child key as an orphan
    * (matching NOT EXISTS, not NOT IN). private[graft] so the spec can
    * exercise it on fixtures that actually CONTAIN orphans — the shipped
    * testdata is referentially intact everywhere. */
  private[graft] def fkEdgeAudit(name: String, child: DataFrame, childKey: String,
      parent: DataFrame, parentKey: String): DataFrame = {
    // The child is scanned twice (raw count + anti probe) ON PURPOSE: a
    // pre-aggregated (key, cnt) probe that folds both counts into one
    // keyed frame measured 1.16 → 7.64 CPU-s at sf1 (PERF 17e) — the
    // distinct-key hash aggregate costs far more than the single-column
    // parquet count scan it saves, at every scale where the keys don't
    // broadcast anyway.
    val orphans = child.join(parent.select(col(parentKey)),
      col(childKey) === col(parentKey), "left_anti")
    child.agg(count(lit(1)).as("n_rows"))
      .crossJoin(orphans.agg(count(lit(1)).as("n_orphans")))
      .select(lit(name).as("fk_edge"), col("n_rows"), col("n_orphans"))
  }

  def q24IntegrityAudit(spark: SparkSession, dir: String): DataFrame = {
    def edge(name: String, child: DataFrame, childKey: String,
        parent: DataFrame, parentKey: String): DataFrame =
      fkEdgeAudit(name, child, childKey, parent, parentKey)
    val nat = Tables.load(spark, dir, "nation")
    Seq(
      edge("orders->customer", ord(spark, dir).select(col("o_custkey")), "o_custkey",
        Tables.load(spark, dir, "customer"), "c_custkey"),
      edge("lineitem->orders", li(spark, dir).select(col("l_orderkey")), "l_orderkey",
        ord(spark, dir), "o_orderkey"),
      edge("lineitem->part", li(spark, dir).select(col("l_partkey")), "l_partkey",
        Tables.load(spark, dir, "part"), "p_partkey"),
      edge("customer->nation", Tables.load(spark, dir, "customer")
        .select(col("c_nationkey")), "c_nationkey", nat, "n_nationkey"),
      edge("supplier->nation", Tables.load(spark, dir, "supplier")
        .select(col("s_nationkey")), "s_nationkey", nat, "n_nationkey"),
      edge("nation->region", nat.select(col("n_regionkey")), "n_regionkey",
        Tables.load(spark, dir, "region"), "r_regionkey")
    ).reduce(_ unionAll _)
      .orderBy(col("fk_edge").asc)
  }

  // ---------------------------------------------------------------------
  // Q25 — RANGE-frame rolling window: per customer, trailing-30-DAY order
  // count and revenue at each active day — the one window shape the rest
  // of the suite doesn't exercise (q22's frames are ROWS/unbounded; a
  // RANGE frame bounds by the ORDER-BY VALUE, so calendar gaps shrink
  // the window instead of sliding over a fixed row count). Scale: the
  // (custkey, day) pre-aggregation shrinks the fact table before any
  // window runs, and the window partitions by the high-cardinality
  // custkey — per-task state is one customer's active days. Day ordinal
  // is an exact integer; revenue accumulates in DECIMAL (money
  // contract) with one double cast at the end.
  // ---------------------------------------------------------------------
  val RollingDays = 30

  def q25RollingWindow(spark: SparkSession, dir: String): DataFrame = {
    val daily = ord(spark, dir)
      .groupBy(col("o_custkey"), to_date(col("o_orderdate")).as("order_day"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).as("day_rev"))
      .withColumn("d",
        datediff(col("order_day"), lit("1992-01-01").cast("date")).cast("long"))
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("d").asc)
      .rangeBetween(-(RollingDays - 1), Window.currentRow)
    daily.select(col("o_custkey"), col("order_day"), col("n_orders"),
        col("day_rev").cast(DoubleType).as("day_revenue"),
        sum(col("n_orders")).over(w).as("r30_orders"),
        sum(col("day_rev")).over(w).cast(DoubleType).as("r30_revenue"))
      .orderBy(col("o_custkey").asc, col("order_day").asc)
  }

  // ---------------------------------------------------------------------
  // Q26 — UNPIVOT (§2: the generator/table-function surface): melt q20's
  // wide month×status matrix back to long form with `stack` — the
  // inverse round-trip of the pivot operator. Non-trivial vs a plain
  // GROUP BY: the zero-filled cells the pivot materialized become
  // explicit (month, status, 0) rows that a direct aggregation of the
  // fact table would never emit. stack is a codegen'd generator (one
  // output row per listed column, no shuffle of its own).
  // ---------------------------------------------------------------------
  def q26Unpivot(spark: SparkSession, dir: String): DataFrame =
    q20PivotMatrix(spark, dir)
      .selectExpr("month_start",
        "stack(3, 'F', n_f, 'O', n_o, 'P', n_p) AS (o_orderstatus, n_orders)")
      .orderBy(col("month_start").asc, col("o_orderstatus").asc)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q26_unpivot" -> q26Unpivot _,
    "q25_rolling_window" -> q25RollingWindow _,
    "q22_window_analytics" -> q22WindowAnalytics _,
    "q23_grouping_sets" -> q23GroupingSets _,
    "q24_integrity_audit" -> q24IntegrityAudit _,
    "q18_rollup" -> q18Rollup _,
    "q19_setops" -> q19SetOps _,
    "q20_pivot_matrix" -> ((s: SparkSession, d: String) => q20PivotMatrix(s, d)),
    "q21_semi_anti" -> q21SemiAnti _,
    "q01_top_abandoned_parts" -> q01TopAbandonedParts _,
    "q02_co_abandoned_pairs" -> q02CoAbandonedPairs _,
    "q03_mom_increase" -> q03MomIncrease _,
    "q04_yoy_increase" -> q04YoyIncrease _,
    "q05_abandoned_by_customer_nation" -> q05AbandonedByCustomerNation _,
    "q06_abandoned_by_supplier_nation" -> q06AbandonedBySupplierNation _,
    "q07_computed_key_join" -> q07ComputedKeyJoin _,
    "q08_launch_cohorts" -> q08LaunchCohorts _,
    "q09_launch_year_top_parts" -> q09LaunchYearTopParts _,
    "q10_monthly_gapfill" -> q10MonthlyGapfill _,
    "q11_daily_gapfill" -> q11DailyGapfill _,
    "q12_export_join" -> q12ExportJoin _,
    "q13_latest_lineitem_per_order" -> q13LatestLineitemPerOrder _,
    "q14_cte_pivot" -> q14CtePivot _,
    "q15_profile_orders" -> q15ProfileOrders _,
    "q17_profile_orders_strings" -> q17ProfileOrdersStrings _,
    "q16_calendar" -> q16Calendar _
  )

  private val moneySumSql = (c: String) =>
    s"coalesce(CAST(sum(CAST($c AS DECIMAL(18,2))) AS DOUBLE), 0.0)"

  val oracleSql: Map[String, String] = Map(
    "q26_unpivot" ->
      """WITH p AS (
        |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
        |         CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
        |         CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
        |         CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
        |  FROM orders GROUP BY 1)
        |SELECT month_start, o_orderstatus, n_orders FROM (
        |  SELECT month_start, 'F' AS o_orderstatus, n_f AS n_orders FROM p
        |  UNION ALL SELECT month_start, 'O', n_o FROM p
        |  UNION ALL SELECT month_start, 'P', n_p FROM p)
        |ORDER BY month_start ASC NULLS FIRST, o_orderstatus ASC NULLS FIRST""".stripMargin,

    "q25_rolling_window" ->
      s"""WITH daily AS (
         |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS order_day,
         |         count(*) AS n_orders,
         |         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS day_rev
         |  FROM orders GROUP BY 1, 2),
         |dd AS (
         |  SELECT *, date_diff('day', DATE '1992-01-01', order_day) AS d FROM daily)
         |SELECT o_custkey, order_day, n_orders,
         |       CAST(day_rev AS DOUBLE) AS day_revenue,
         |       CAST(sum(n_orders) OVER w AS BIGINT) AS r30_orders,
         |       CAST(sum(day_rev) OVER w AS DOUBLE) AS r30_revenue
         |FROM dd
         |WINDOW w AS (PARTITION BY o_custkey ORDER BY d ASC
         |             RANGE BETWEEN ${RollingDays - 1} PRECEDING AND CURRENT ROW)
         |ORDER BY o_custkey ASC NULLS FIRST, order_day ASC NULLS FIRST""".stripMargin,

    "q24_integrity_audit" ->
      """SELECT * FROM (
        |  SELECT 'orders->customer' AS fk_edge,
        |         (SELECT count(*) FROM orders) AS n_rows,
        |         (SELECT count(*) FROM orders WHERE NOT EXISTS
        |            (SELECT 1 FROM customer WHERE o_custkey = c_custkey)) AS n_orphans
        |  UNION ALL
        |  SELECT 'lineitem->orders',
        |         (SELECT count(*) FROM lineitem),
        |         (SELECT count(*) FROM lineitem WHERE NOT EXISTS
        |            (SELECT 1 FROM orders WHERE l_orderkey = o_orderkey))
        |  UNION ALL
        |  SELECT 'lineitem->part',
        |         (SELECT count(*) FROM lineitem),
        |         (SELECT count(*) FROM lineitem WHERE NOT EXISTS
        |            (SELECT 1 FROM part WHERE l_partkey = p_partkey))
        |  UNION ALL
        |  SELECT 'customer->nation',
        |         (SELECT count(*) FROM customer),
        |         (SELECT count(*) FROM customer WHERE NOT EXISTS
        |            (SELECT 1 FROM nation WHERE c_nationkey = n_nationkey))
        |  UNION ALL
        |  SELECT 'supplier->nation',
        |         (SELECT count(*) FROM supplier),
        |         (SELECT count(*) FROM supplier WHERE NOT EXISTS
        |            (SELECT 1 FROM nation WHERE s_nationkey = n_nationkey))
        |  UNION ALL
        |  SELECT 'nation->region',
        |         (SELECT count(*) FROM nation),
        |         (SELECT count(*) FROM nation WHERE NOT EXISTS
        |            (SELECT 1 FROM region WHERE n_regionkey = r_regionkey)))
        |ORDER BY fk_edge ASC NULLS FIRST""".stripMargin,

    "q22_window_analytics" ->
      """WITH m AS (
        |  SELECT year(o_orderdate) AS yr, month(o_orderdate) AS mo,
        |         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        |  FROM orders GROUP BY 1, 2)
        |SELECT yr, mo,
        |       CAST(rev AS DOUBLE) AS revenue,
        |       CAST(lag(rev, 1) OVER (PARTITION BY yr ORDER BY mo ASC) AS DOUBLE)
        |         AS prev_revenue,
        |       CAST(rev - lag(rev, 1) OVER (PARTITION BY yr ORDER BY mo ASC) AS DOUBLE)
        |         AS mom_delta,
        |       CAST(sum(rev) OVER (PARTITION BY yr ORDER BY mo ASC
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |         AS ytd_revenue,
        |       CAST(rev AS DOUBLE) / CAST(sum(rev) OVER (PARTITION BY yr) AS DOUBLE)
        |         AS yr_share,
        |       row_number() OVER (PARTITION BY yr ORDER BY rev DESC, mo ASC) AS rev_rank
        |FROM m
        |ORDER BY yr ASC NULLS FIRST, mo ASC NULLS FIRST""".stripMargin,

    "q23_grouping_sets" ->
      s"""SELECT o_orderpriority, o_orderstatus,
         |       CAST(GROUPING(o_orderpriority, o_orderstatus) AS INTEGER) AS gid,
         |       count(*) AS n_orders,
         |       ${moneySumSql("o_totalprice")} AS total_value
         |FROM orders
         |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
         |ORDER BY gid ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST,
         |         o_orderstatus ASC NULLS FIRST""".stripMargin,

    "q18_rollup" ->
      s"""SELECT o_orderpriority, o_orderstatus,
         |       CAST(GROUPING(o_orderpriority, o_orderstatus) AS INTEGER) AS gid,
         |       count(*) AS n_orders,
         |       ${moneySumSql("o_totalprice")} AS total_value
         |FROM orders
         |GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
         |ORDER BY gid ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST,
         |         o_orderstatus ASC NULLS FIRST""".stripMargin,

    "q19_setops" ->
      """WITH ab AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'),
        |done AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'),
        |seg AS (
        |  SELECT 'abandoned_and_completed' AS segment, o_custkey
        |  FROM (SELECT DISTINCT o_custkey FROM ab INTERSECT SELECT DISTINCT o_custkey FROM done)
        |  UNION ALL
        |  SELECT 'abandoned_only' AS segment, o_custkey
        |  FROM (SELECT DISTINCT o_custkey FROM ab EXCEPT SELECT DISTINCT o_custkey FROM done))
        |SELECT segment, count(*) AS n_customers
        |FROM seg GROUP BY segment
        |ORDER BY segment ASC NULLS FIRST""".stripMargin,

    "q20_pivot_matrix" ->
      """SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
        |       CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
        |       CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
        |       CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
        |FROM orders GROUP BY 1
        |ORDER BY month_start ASC NULLS FIRST""".stripMargin,

    "q21_semi_anti" ->
      """WITH seg AS (
        |  SELECT c_custkey, 'has_abandoned' AS segment FROM customer
        |  WHERE EXISTS (SELECT 1 FROM orders
        |                WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
        |  UNION ALL
        |  SELECT c_custkey, 'no_orders' AS segment FROM customer
        |  WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey))
        |SELECT segment, count(*) AS n_customers
        |FROM seg GROUP BY segment
        |ORDER BY segment ASC NULLS FIRST""".stripMargin,

    "q01_top_abandoned_parts" ->
      s"""SELECT l_partkey,
         |       count(DISTINCT o_orderkey) AS abandoned_orders,
         |       ${moneySumSql("l_extendedprice")} AS abandoned_value
         |FROM lineitem RIGHT JOIN orders ON l_orderkey = o_orderkey
         |WHERE o_orderstatus = 'O'
         |GROUP BY l_partkey
         |ORDER BY abandoned_orders DESC NULLS LAST, l_partkey ASC NULLS FIRST
         |LIMIT 100""".stripMargin,

    "q02_co_abandoned_pairs" ->
      """SELECT least(c1.l_partkey, c2.l_partkey) AS part_a,
        |       greatest(c1.l_partkey, c2.l_partkey) AS part_b,
        |       count(DISTINCT o_orderkey) AS abandoned_orders
        |FROM lineitem c1
        |JOIN lineitem c2
        |  ON c1.l_orderkey = c2.l_orderkey AND c1.l_partkey <> c2.l_partkey
        |RIGHT JOIN orders ON c1.l_orderkey = o_orderkey
        |WHERE o_orderstatus = 'O'
        |GROUP BY 1, 2
        |ORDER BY abandoned_orders DESC NULLS LAST, part_a ASC NULLS FIRST, part_b ASC NULLS FIRST
        |LIMIT 100""".stripMargin,

    "q03_mom_increase" ->
      """WITH anchor AS (SELECT max(o_orderdate) - INTERVAL 1 MONTH AS a FROM orders),
        |cur AS (
        |  SELECT l_partkey, count(DISTINCT o_orderkey) AS last_month_orders
        |  FROM lineitem RIGHT JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'O'
        |    AND year(o_orderdate) = (SELECT year(a) FROM anchor)
        |    AND month(o_orderdate) = (SELECT month(a) FROM anchor)
        |  GROUP BY l_partkey),
        |pre AS (
        |  SELECT l_partkey, count(DISTINCT o_orderkey) AS prev_month_orders
        |  FROM lineitem RIGHT JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'O'
        |    AND year(o_orderdate) = (SELECT year(a - INTERVAL 1 MONTH) FROM anchor)
        |    AND month(o_orderdate) = (SELECT month(a - INTERVAL 1 MONTH) FROM anchor)
        |  GROUP BY l_partkey)
        |SELECT cur.l_partkey,
        |       coalesce(prev_month_orders, 0) AS prev_month_orders,
        |       last_month_orders,
        |       last_month_orders - coalesce(prev_month_orders, 0) AS increase
        |FROM cur LEFT JOIN pre ON cur.l_partkey = pre.l_partkey
        |WHERE last_month_orders - coalesce(prev_month_orders, 0) > 0
        |ORDER BY increase DESC NULLS LAST, cur.l_partkey ASC NULLS FIRST
        |LIMIT 100""".stripMargin,

    "q04_yoy_increase" ->
      """WITH anchor AS (SELECT max(o_orderdate) AS a FROM orders),
        |cur AS (
        |  SELECT l_partkey, count(DISTINCT o_orderkey) AS last_year_orders
        |  FROM lineitem RIGHT JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'O'
        |    AND year(o_orderdate) = (SELECT year(a) FROM anchor)
        |  GROUP BY l_partkey),
        |pre AS (
        |  SELECT l_partkey, count(DISTINCT o_orderkey) AS prev_year_orders
        |  FROM lineitem RIGHT JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'O'
        |    AND year(o_orderdate) = (SELECT year(a) - 1 FROM anchor)
        |  GROUP BY l_partkey)
        |SELECT cur.l_partkey,
        |       coalesce(prev_year_orders, 0) AS prev_year_orders,
        |       last_year_orders,
        |       last_year_orders - coalesce(prev_year_orders, 0) AS increase
        |FROM cur LEFT JOIN pre ON cur.l_partkey = pre.l_partkey
        |WHERE last_year_orders - coalesce(prev_year_orders, 0) > 0
        |ORDER BY increase DESC NULLS LAST, cur.l_partkey ASC NULLS FIRST
        |LIMIT 100""".stripMargin,

    "q05_abandoned_by_customer_nation" ->
      s"""WITH agg AS (
         |  SELECT c_nationkey,
         |         count(DISTINCT o_orderkey) AS total_abandoned_orders,
         |         ${moneySumSql("o_totalprice")} AS total_abandoned_value
         |  FROM orders LEFT JOIN customer ON o_custkey = c_custkey
         |  WHERE o_orderstatus = 'O'
         |  GROUP BY c_nationkey)
         |SELECT n_name,
         |       coalesce(total_abandoned_orders, 0) AS total_abandoned_orders,
         |       coalesce(total_abandoned_value, 0.0) AS total_abandoned_value
         |FROM agg FULL JOIN nation ON c_nationkey = n_nationkey
         |ORDER BY total_abandoned_orders DESC NULLS LAST, n_name ASC NULLS FIRST""".stripMargin,

    "q06_abandoned_by_supplier_nation" ->
      s"""WITH agg AS (
         |  SELECT s_nationkey,
         |         count(DISTINCT o_orderkey) AS total_abandoned_orders,
         |         ${moneySumSql("l_extendedprice")} AS total_abandoned_value
         |  FROM lineitem
         |  LEFT JOIN supplier ON l_suppkey = s_suppkey
         |  RIGHT JOIN orders ON l_orderkey = o_orderkey
         |  WHERE o_orderstatus = 'O'
         |  GROUP BY s_nationkey)
         |SELECT n_name,
         |       coalesce(total_abandoned_orders, 0) AS total_abandoned_orders,
         |       coalesce(total_abandoned_value, 0.0) AS total_abandoned_value
         |FROM agg FULL JOIN nation ON s_nationkey = n_nationkey
         |ORDER BY total_abandoned_orders DESC NULLS LAST, n_name ASC NULLS FIRST""".stripMargin,

    "q07_computed_key_join" ->
      s"""SELECT c_mktsegment,
         |       count(DISTINCT o_orderkey) AS abandoned_orders,
         |       ${moneySumSql("o_totalprice")} AS abandoned_value
         |FROM orders LEFT JOIN customer
         |  ON concat('Customer#', lpad(CAST(o_custkey AS VARCHAR), 9, '0')) = c_name
         |WHERE o_orderstatus = 'O'
         |GROUP BY c_mktsegment
         |ORDER BY abandoned_orders DESC NULLS LAST, c_mktsegment ASC NULLS FIRST""".stripMargin,

    "q08_launch_cohorts" ->
      """WITH launch AS (
        |  SELECT l_partkey, min(o_orderdate) AS launch_ts
        |  FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY l_partkey),
        |ab AS (
        |  SELECT l_partkey, count(DISTINCT o_orderkey) AS abandoned_orders
        |  FROM lineitem RIGHT JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'O'
        |  GROUP BY l_partkey)
        |SELECT CASE WHEN launch_ts IS NULL THEN NULL
        |            ELSE concat(CAST(year(launch_ts) AS VARCHAR), '-',
        |                 right(concat('0', CAST(month(launch_ts) AS VARCHAR)), 2)) END AS launch_month,
        |       CAST(count(*) AS BIGINT) AS n_parts,
        |       CAST(sum(coalesce(abandoned_orders, 0)) AS BIGINT) AS total_abandoned_orders
        |FROM launch LEFT JOIN ab ON launch.l_partkey = ab.l_partkey
        |GROUP BY 1
        |ORDER BY launch_month ASC NULLS FIRST""".stripMargin,

    "q09_launch_year_top_parts" ->
      """WITH launch AS (
        |  SELECT l_partkey, min(o_orderdate) AS launch_ts
        |  FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY l_partkey),
        |ab AS (
        |  SELECT l_partkey, count(DISTINCT o_orderkey) AS abandoned_orders
        |  FROM lineitem RIGHT JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'O'
        |  GROUP BY l_partkey)
        |SELECT launch.l_partkey,
        |       CAST(year(launch_ts) AS INTEGER) AS launch_year,
        |       coalesce(abandoned_orders, 0) AS abandoned_orders
        |FROM launch LEFT JOIN ab ON launch.l_partkey = ab.l_partkey
        |WHERE year(launch_ts) = (SELECT year(min(o_orderdate)) FROM orders)
        |ORDER BY abandoned_orders DESC NULLS LAST, launch.l_partkey ASC NULLS FIRST
        |LIMIT 100""".stripMargin,

    "q10_monthly_gapfill" ->
      s"""WITH spine AS (
         |  SELECT CAST(unnest(generate_series(
         |    date_trunc('month', (SELECT min(o_orderdate) FROM orders)),
         |    date_trunc('month', (SELECT max(o_orderdate) FROM orders)),
         |    INTERVAL 1 MONTH)) AS DATE) AS month_start),
         |o_agg AS (
         |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
         |         count(DISTINCT o_orderkey) AS o_cnt,
         |         ${moneySumSql("o_totalprice")} AS o_val
         |  FROM orders WHERE o_orderstatus = 'O' GROUP BY 1),
         |i_agg AS (
         |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
         |         ${moneySumSql("l_quantity")} AS i_cnt,
         |         ${moneySumSql("l_extendedprice")} AS i_val
         |  FROM lineitem RIGHT JOIN orders ON l_orderkey = o_orderkey
         |  WHERE o_orderstatus = 'O' GROUP BY 1)
         |SELECT concat(CAST(year(spine.month_start) AS VARCHAR), '-',
         |              right(concat('0', CAST(month(spine.month_start) AS VARCHAR)), 2)) AS year_month,
         |       coalesce(o_cnt, 0) AS total_abandoned_orders,
         |       coalesce(o_val, 0.0) AS total_value_orders,
         |       coalesce(i_cnt, 0.0) AS total_abandoned_items,
         |       coalesce(i_val, 0.0) AS total_value_items
         |FROM spine
         |LEFT JOIN o_agg ON spine.month_start = o_agg.month_start
         |LEFT JOIN i_agg ON spine.month_start = i_agg.month_start
         |ORDER BY year_month ASC NULLS FIRST""".stripMargin,

    "q11_daily_gapfill" ->
      s"""WITH anchor AS (SELECT CAST(max(o_orderdate) AS DATE) AS a FROM orders),
         |spine AS (
         |  SELECT CAST(unnest(generate_series(
         |    (SELECT a FROM anchor) - INTERVAL 89 DAY,
         |    (SELECT CAST(a AS TIMESTAMP) FROM anchor),
         |    INTERVAL 1 DAY)) AS DATE) AS "date"),
         |o_agg AS (
         |  SELECT CAST(o_orderdate AS DATE) AS "date",
         |         count(DISTINCT o_orderkey) AS o_cnt,
         |         ${moneySumSql("o_totalprice")} AS o_val
         |  FROM orders WHERE o_orderstatus = 'O' GROUP BY 1),
         |i_agg AS (
         |  SELECT CAST(o_orderdate AS DATE) AS "date",
         |         ${moneySumSql("l_quantity")} AS i_cnt,
         |         ${moneySumSql("l_extendedprice")} AS i_val
         |  FROM lineitem RIGHT JOIN orders ON l_orderkey = o_orderkey
         |  WHERE o_orderstatus = 'O' GROUP BY 1)
         |SELECT spine."date",
         |       coalesce(o_cnt, 0) AS total_abandoned_orders,
         |       coalesce(o_val, 0.0) AS total_value_orders,
         |       coalesce(i_cnt, 0.0) AS total_abandoned_items,
         |       coalesce(i_val, 0.0) AS total_value_items
         |FROM spine
         |LEFT JOIN o_agg ON spine."date" = o_agg."date"
         |LEFT JOIN i_agg ON spine."date" = i_agg."date"
         |ORDER BY spine."date" ASC NULLS FIRST""".stripMargin,

    "q12_export_join" ->
      s"""SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
         |       o_totalprice, o_orderpriority, c_name, c_mktsegment, n_name, r_name,
         |       count(l_linenumber) AS n_items,
         |       ${moneySumSql("l_extendedprice")} AS items_value,
         |       ${moneySumSql("l_quantity")} AS total_quantity,
         |       count(DISTINCT s_name) AS n_suppliers
         |FROM lineitem
         |RIGHT JOIN orders ON l_orderkey = o_orderkey
         |LEFT JOIN customer ON o_custkey = c_custkey
         |LEFT JOIN nation ON c_nationkey = n_nationkey
         |LEFT JOIN region ON n_regionkey = r_regionkey
         |LEFT JOIN part ON l_partkey = p_partkey
         |LEFT JOIN supplier ON l_suppkey = s_suppkey
         |WHERE o_orderstatus = 'O'
         |GROUP BY 1, 2, 3, 4, 5, 6, 7, 8
         |ORDER BY o_totalprice DESC NULLS LAST, o_orderkey ASC NULLS FIRST
         |LIMIT 50""".stripMargin,

    "q13_latest_lineitem_per_order" ->
      """SELECT l_orderkey, l_partkey, l_linenumber, l_shipdate, l_extendedprice
        |FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY l_orderkey
        |    ORDER BY l_shipdate DESC, l_linenumber DESC,
        |             l_partkey DESC, l_extendedprice DESC) AS rn
        |  FROM lineitem)
        |WHERE rn = 1
        |ORDER BY l_orderkey ASC NULLS FIRST""".stripMargin,

    "q14_cte_pivot" ->
      """WITH q AS (
        |  SELECT CAST(o_orderdate AS DATE) AS "date", o_totalprice
        |  FROM orders WHERE o_orderstatus = 'O')
        |SELECT "date",
        |       count(*) AS n_orders,
        |       coalesce(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 0.0) AS total_value
        |FROM q GROUP BY "date" ORDER BY "date" ASC NULLS FIRST""".stripMargin,

    "q15_profile_orders" -> {
      val cols = Seq("o_orderkey", "o_custkey", "o_totalprice")
      cols.map { c =>
        s"""SELECT '$c' AS column_name, n_rows, n_nonnull, n_distinct, n_zeros,
           |       min_value, max_value, mean_value,
           |       -- coalesce: all-null column → null variance; Spark's
           |       -- null-ignoring greatest gives 0.0, so mirror that explicitly
           |       sqrt(greatest(0.0::DOUBLE, coalesce(sum2d / nnd - mean_value * mean_value, 0.0::DOUBLE))) AS stddev_value,
           |       median_value
           |FROM (
           |  SELECT count(*) AS n_rows,
           |         count($c) AS n_nonnull,
           |         count(DISTINCT $c) AS n_distinct,
           |         CAST(sum(CASE WHEN $c = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zeros,
           |         CAST(min($c) AS DOUBLE) AS min_value,
           |         CAST(max($c) AS DOUBLE) AS max_value,
           |         CAST(CAST(sum(CAST($c AS DECIMAL(28,2))) AS VARCHAR) AS DOUBLE) / CAST(count($c) AS DOUBLE) AS mean_value,
           |         -- via VARCHAR: DuckDB's direct wide-DECIMAL→DOUBLE cast is not
           |         -- correctly rounded above 2^53 (hugeint path); the string
           |         -- roundtrip is, matching Spark's BigDecimal.doubleValue exactly
           |         CAST(CAST(sum(CAST($c AS DECIMAL(19,2)) * CAST($c AS DECIMAL(19,2))) AS VARCHAR) AS DOUBLE) AS sum2d,
           |         CAST(count($c) AS DOUBLE) AS nnd,
           |         CAST(quantile_cont($c, 0.5) AS DOUBLE) AS median_value
           |  FROM orders)""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY column_name ASC NULLS FIRST")
    },

    "q17_profile_orders_strings" -> {
      val cols = Seq("o_orderstatus", "o_orderpriority")
      cols.map { c =>
        s"""SELECT '$c' AS column_name, n_distinct, top_value, top_freq FROM (
           |  SELECT (SELECT count(*) FROM (SELECT $c FROM orders GROUP BY 1)) AS n_distinct,
           |         $c AS top_value, count(*) AS top_freq
           |  FROM orders GROUP BY $c
           |  ORDER BY count(*) DESC, $c DESC LIMIT 1)""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY column_name ASC NULLS FIRST")
    },

    "q16_calendar" ->
      """SELECT CAST(ts AS DATE) AS calendar_date,
        |       CAST(year(ts) AS INTEGER) AS y,
        |       CAST(month(ts) AS INTEGER) AS m,
        |       CAST(day(ts) AS INTEGER) AS d,
        |       CAST(isodow(ts) AS INTEGER) AS dow_iso
        |FROM (SELECT unnest(generate_series(
        |        (SELECT min(o_orderdate) FROM orders),
        |        (SELECT max(o_orderdate) FROM orders),
        |        INTERVAL 1 DAY)) AS ts)
        |ORDER BY calendar_date ASC NULLS FIRST""".stripMargin
  )
}
