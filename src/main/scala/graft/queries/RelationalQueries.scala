package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.Shard

/** Second relational batch (SURVEY.md §7 step 7, round 2): subquery
  * decorrelation, CUBE grouping sets, pivot/unpivot reshaping, set
  * operations, window frames (rows + range), time-range joins, ranking
  * tiles, full-outer joins and generator (explode) queries — all
  * DuckDB-oracle-checked.
  *
  * Cross-engine float determinism follows TpchQueries: doubles are
  * quantized with floor(x*1e4) to an exact BIGINT sum, divided back
  * once — identical bit patterns on Spark and DuckDB regardless of
  * accumulation order.
  */
object RelationalQueries {

  private def decSum(c: Column): Column =
    sum(floor(c * lit(10000.0)).cast("long")) / lit(10000.0)

  private val DecSumSql = (x: String) =>
    s"sum(CAST(floor(($x) * 10000.0) AS BIGINT)) / 10000.0"

  // ---- q_small_qty_revenue: TPC-H Q17-style correlated scalar subquery -

  /** Revenue from "small" line items: quantity below 0.2× that part's own
    * average quantity — the classic correlated scalar subquery, expressed
    * as Catalyst would decorrelate it: a per-key aggregate joined back to
    * the fact table (one shuffle on l_partkey shared by both sides; AQE
    * picks the join strategy). The per-part average is quantized so both
    * engines derive the identical threshold double.
    */
  def smallQtyRevenue(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val avgQty = li.groupBy(col("l_partkey").as("ap_partkey"))
      .agg((sum(floor(col("l_quantity") * lit(10000.0)).cast("long")) /
        lit(10000.0) / count(lit(1))).as("avg_qty"))
    li.join(avgQty, col("l_partkey") === col("ap_partkey"))
      .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
      .join(broadcast(Tables.part(s, dir)), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg((decSum(col("l_extendedprice")) / lit(7.0)).as("avg_yearly"),
        count(lit(1)).as("n_small"))
  }

  val smallQtyRevenueSql: String =
    s"""WITH a AS (
       |  SELECT l_partkey AS ap_partkey,
       |         sum(CAST(floor(l_quantity * 10000.0) AS BIGINT)) / 10000.0 / count(*) AS avg_qty
       |  FROM lineitem GROUP BY l_partkey)
       |SELECT p_brand,
       |       ${DecSumSql("l_extendedprice")} / 7.0 AS avg_yearly,
       |       count(*) AS n_small
       |FROM lineitem
       |JOIN a ON l_partkey = ap_partkey
       |JOIN part ON l_partkey = p_partkey
       |WHERE l_quantity < 0.2 * avg_qty
       |GROUP BY p_brand""".stripMargin

  // ---- q_cube_events: CUBE grouping sets with grouping_id --------------

  /** Full CUBE over (event_type, hour): every subtotal combination plus
    * the grand total, tagged with the grouping bit-vector. Spark's
    * grouping_id() orders bits leftmost-cube-column-first; the DuckDB
    * oracle reconstructs the same value from per-column GROUPING().
    */
  def cubeEvents(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .cube(col("event_type"), hour(col("ts")).as("h"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("n_events"),
        decSum(col("value")).as("total_value"))

  val cubeEventsSql: String =
    s"""SELECT event_type, hour(ts) AS h,
       | CAST(GROUPING(event_type)*2 + GROUPING(hour(ts)) AS BIGINT) AS gid,
       | count(*) AS n_events,
       | ${DecSumSql("value")} AS total_value
       |FROM events GROUP BY CUBE(event_type, hour(ts))""".stripMargin

  // ---- q_pivot_user_events: pivot long->wide ---------------------------

  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** Per-user event counts pivoted into one column per event type. The
    * pivot value list is explicit (no discovery scan) so the plan is a
    * single partial-aggregate shuffle; missing combinations are 0, not
    * null, to match conditional aggregation on the oracle side.
    */
  def pivotUserEvents(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.events(s, dir)
      .groupBy("user_id")
      .pivot("event_type", EventTypes)
      .agg(count(lit(1)))
    p.select(col("user_id") +:
      EventTypes.map(t => coalesce(col(t), lit(0L)).as(s"n_$t")): _*)
  }

  val pivotUserEventsSql: String = {
    val cols = EventTypes.map(t =>
      s"count(*) FILTER (WHERE event_type = '$t') AS n_$t").mkString(",\n ")
    s"SELECT user_id,\n $cols\nFROM events GROUP BY user_id"
  }

  // ---- q_unpivot_priority: unpivot wide->long (melt) -------------------

  /** Per-priority order metrics melted into (priority, metric, value)
    * rows — Dataset.unpivot, the inverse reshaping of pivot.
    */
  def unpivotPriority(s: SparkSession, dir: String): DataFrame = {
    val wide = Tables.orders(s, dir)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).cast("double").as("n_orders"),
        decSum(col("o_totalprice")).as("total_price"),
        countDistinct("o_custkey").cast("double").as("n_customers"))
    wide.unpivot(
      ids = Array(col("o_orderpriority")),
      values = Array(col("n_orders"), col("total_price"), col("n_customers")),
      variableColumnName = "metric",
      valueColumnName = "value")
  }

  val unpivotPrioritySql: String =
    s"""WITH w AS (
       |  SELECT o_orderpriority,
       |         CAST(count(*) AS DOUBLE) AS n_orders,
       |         ${DecSumSql("o_totalprice")} AS total_price,
       |         CAST(count(DISTINCT o_custkey) AS DOUBLE) AS n_customers
       |  FROM orders GROUP BY o_orderpriority)
       |SELECT o_orderpriority, 'n_orders' AS metric, n_orders AS value FROM w
       |UNION ALL
       |SELECT o_orderpriority, 'total_price', total_price FROM w
       |UNION ALL
       |SELECT o_orderpriority, 'n_customers', n_customers FROM w""".stripMargin

  // ---- q_except_intersect: set operations ------------------------------

  /** (user, hour) slots with clicks but no purchases — EXCEPT (distinct
    * set difference). Both operands reduce before the set op, so the
    * shuffle carries distinct keys only.
    */
  def exceptClickNoPurchase(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    def slots(t: String) = ev.filter(col("event_type") === t)
      .select(col("user_id"), hour(col("ts")).as("h")).distinct()
    slots("click").except(slots("purchase"))
  }

  val exceptClickNoPurchaseSql: String =
    """SELECT DISTINCT user_id, hour(ts) AS h FROM events WHERE event_type = 'click'
      |EXCEPT
      |SELECT DISTINCT user_id, hour(ts) AS h FROM events WHERE event_type = 'purchase'""".stripMargin

  /** (user, hour) slots with both signups and errors — INTERSECT. */
  def intersectSignupError(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    def slots(t: String) = ev.filter(col("event_type") === t)
      .select(col("user_id"), hour(col("ts")).as("h")).distinct()
    slots("signup").intersect(slots("error"))
  }

  val intersectSignupErrorSql: String =
    """SELECT DISTINCT user_id, hour(ts) AS h FROM events WHERE event_type = 'signup'
      |INTERSECT
      |SELECT DISTINCT user_id, hour(ts) AS h FROM events WHERE event_type = 'error'""".stripMargin

  // ---- q_moving_window: rows + range window frames ---------------------

  /** Two framed windows per user: a 3-row moving average (ROWS frame,
    * deterministic tiebreak on event_id) and a trailing-1-hour sum
    * (RANGE frame over epoch seconds — peers included identically on
    * both engines). One shuffle on user_id serves both windows.
    */
  def movingWindow(s: SparkSession, dir: String): DataFrame = {
    val qv = floor(col("value") * lit(10000.0)).cast("long")
    val wRows = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(-2, Window.currentRow)
    val epoch = unix_timestamp(col("ts"))
    val wRange = Window.partitionBy("user_id").orderBy(epoch)
      .rangeBetween(-3600, Window.currentRow)
    Tables.events(s, dir)
      .withColumn("mov_avg_3",
        sum(qv).over(wRows) / lit(10000.0) / count(lit(1)).over(wRows))
      .withColumn("hour_sum", sum(qv).over(wRange) / lit(10000.0))
      .select("event_id", "user_id", "mov_avg_3", "hour_sum")
  }

  val movingWindowSql: String =
    """SELECT event_id, user_id,
      | sum(CAST(floor(value * 10000.0) AS BIGINT))
      |   OVER (PARTITION BY user_id ORDER BY ts, event_id
      |         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) / 10000.0
      |   / count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS mov_avg_3,
      | sum(CAST(floor(value * 10000.0) AS BIGINT))
      |   -- floor, not CAST: DuckDB epoch() is fractional and CAST ROUNDS,
      |   -- while Spark unix_timestamp() floors — rounding flips window
      |   -- membership at second boundaries (bit us at sf0.1 density)
      |   OVER (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
      |         RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) / 10000.0 AS hour_sum
      |FROM events""".stripMargin

  // ---- q_range_join: time-interval join --------------------------------

  /** Per purchase: how many clicks the same user made in the preceding
    * hour (inclusive bounds). Executes as an equi-join on user_id with
    * the range predicate applied post-shuffle — one keyed shuffle, never
    * a cartesian. Left join keeps zero-click purchases.
    */
  def rangeJoinClicks(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("c_event"))
    purchases.join(clicks,
        col("user_id") === col("c_user") &&
          col("c_ts") >= col("ts") - expr("INTERVAL 1 HOUR") &&
          col("c_ts") <= col("ts"), "left")
      .groupBy("event_id", "user_id")
      .agg(count(col("c_event")).as("n_clicks_prev_hour"))
  }

  val rangeJoinClicksSql: String =
    """WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
      |c AS (SELECT user_id AS c_user, ts AS c_ts, event_id AS c_event
      |      FROM events WHERE event_type = 'click')
      |SELECT p.event_id, p.user_id, count(c.c_event) AS n_clicks_prev_hour
      |FROM p LEFT JOIN c
      |  ON p.user_id = c.c_user
      | AND c.c_ts >= p.ts - INTERVAL 1 HOUR AND c.c_ts <= p.ts
      |GROUP BY p.event_id, p.user_id""".stripMargin

  // ---- q_order_quartiles: ntile + percent_rank -------------------------

  /** Orders ranked into price quartiles, summarized per tile with the
    * exact percent_rank boundary — WITHOUT the single-partition
    * `Window.orderBy` that ntile/percent_rank would plan (WindowExec
    * moves the whole table through one task). Instead the global rank
    * comes from the two-pass range-partition + partition-offset scheme
    * ([[graft.ops.Shard.withGlobalSeq]]), and ntile/percent_rank are
    * recovered in closed form from (rank, n): the order is tie-free
    * (o_orderkey is unique), so rank == row_number and SQL ntile's
    * "first n%k buckets get one extra row" rule and
    * percent_rank = (rank-1)/(n-1) are pure per-row arithmetic. Every
    * stage stays data-parallel at any scale; the count() is one
    * column-pruned pre-pass, like zipWithIndex's own size job.
    */
  def orderQuartiles(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(s, dir).select("o_totalprice", "o_orderkey")
    val n = base.count()
    val ranked = Shard.withGlobalSeq(
      base, Seq("o_totalprice", "o_orderkey"), "__rk")
    val k = col("__rk") + lit(1L)            // 1-based, tie-free rank
    val lo = n / 4L                          // small-bucket size
    val cut = (n % 4L) * (lo + 1L)           // rows in the big buckets
    val quartile = when(k <= cut, ceil(k.cast("double") / (lo + 1L)))
      .otherwise(lit(n % 4L) + ceil((k - cut).cast("double") / math.max(lo, 1L)))
      .cast("int")
    val pr =
      if (n > 1L) col("__rk").cast("double") / (n - 1L).toDouble else lit(0.0)
    ranked
      .withColumn("quartile", quartile)
      .withColumn("pr", pr)
      .groupBy("quartile")
      .agg(count(lit(1)).as("n_orders"),
        min("o_totalprice").as("min_price"),
        max("o_totalprice").as("max_price"),
        max("pr").as("max_percent_rank"))
  }

  val orderQuartilesSql: String =
    """WITH r AS (
      | SELECT o_totalprice,
      |  ntile(4) OVER (ORDER BY o_totalprice, o_orderkey) AS quartile,
      |  percent_rank() OVER (ORDER BY o_totalprice, o_orderkey) AS pr
      | FROM orders)
      |SELECT quartile, count(*) AS n_orders,
      | min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
      | max(pr) AS max_percent_rank
      |FROM r GROUP BY quartile""".stripMargin

  // ---- q_full_outer_nation: full outer join ----------------------------

  /** Negative-balance customers vs suppliers per nation — a FULL OUTER
    * join where each side genuinely contributes unmatched keys (the
    * filters are chosen so supplier nations ⊂ customer nations is not
    * guaranteed either way at any SF).
    */
  def fullOuterNation(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir).filter(col("c_acctbal") < -500)
      .groupBy(col("c_nationkey").as("cn")).agg(count(lit(1)).as("n_cust"))
    val sup = Tables.supplier(s, dir).filter(col("s_acctbal") < -500)
      .groupBy(col("s_nationkey").as("sn")).agg(count(lit(1)).as("n_supp"))
    c.join(sup, col("cn") === col("sn"), "full_outer")
      .select(coalesce(col("cn"), col("sn")).as("nationkey"),
        coalesce(col("n_cust"), lit(0L)).as("n_cust"),
        coalesce(col("n_supp"), lit(0L)).as("n_supp"))
  }

  val fullOuterNationSql: String =
    """WITH c AS (SELECT c_nationkey AS cn, count(*) AS n_cust
      |           FROM customer WHERE c_acctbal < -500 GROUP BY c_nationkey),
      |s AS (SELECT s_nationkey AS sn, count(*) AS n_supp
      |      FROM supplier WHERE s_acctbal < -500 GROUP BY s_nationkey)
      |SELECT coalesce(cn, sn) AS nationkey,
      | coalesce(n_cust, 0) AS n_cust, coalesce(n_supp, 0) AS n_supp
      |FROM c FULL OUTER JOIN s ON cn = sn""".stripMargin

  // ---- q_word_freq: generator (explode) + top-k ------------------------

  /** Corpus-wide top-30 whitespace tokens — explode(split) with map-side
    * partial aggregation before the single shuffle on the token, then a
    * driver-cheap top-k. Case-sensitive (no locale-dependent lowering).
    */
  def wordFreq(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(explode(split(trim(col("text")), "\\s+")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word").asc)
      .limit(30)

  val wordFreqSql: String =
    """SELECT word, count(*) AS n FROM (
      |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS word
      |  FROM documents)
      |WHERE length(word) > 0
      |GROUP BY word ORDER BY n DESC, word ASC LIMIT 30""".stripMargin

  // same whitespace tokenization contract as DocQueries.toksSql
  private def toksSql(t: String) = OracleSql.toks(t)

  // ---- q_zipf_slope: vocabulary power-law fit ---------------------------

  /** Least-squares slope of ln(freq) on ln(rank) over the vocabulary —
    * the Zipf fit (healthy natural text ≈ -1; token soup flattens, spam
    * steepens). Log points are floor-quantized to BIGINTs and the slope
    * comes from six exact integer moment sums (the corrGrouped
    * discipline), so partitioning cannot move it. Ranking uses the
    * two-pass Shard.withGlobalSeq (range-partition on (-n, word), then
    * partition-offset numbering) — never a single-partition window, so
    * the rank assignment stays distributed even if the vocabulary runs
    * to hundreds of millions of terms.
    */
  def zipfSlope(s: SparkSession, dir: String): DataFrame = {
    val vocab = Tables.documents(s, dir)
      .select(explode(graft.text.TextMetrics.tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
    val pts = graft.ops.Shard
      .withGlobalSeq(vocab.withColumn("__negn", -col("n")),
        Seq("__negn", "word"), "__seq")
      .withColumn("rank", col("__seq") + 1L)
      .select(
        floor(log(col("rank").cast("double")) * 10000.0d).cast("long").as("x"),
        floor(log(col("n").cast("double")) * 10000.0d).cast("long").as("y"))
    def d(c: Column): Column = c.cast("double")
    val num = d(col("nt")) * d(col("sxy")) - d(col("sx")) * d(col("sy"))
    val den = d(col("nt")) * d(col("sxx")) - d(col("sx")) * d(col("sx"))
    pts.agg(count(lit(1)).as("nt"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .select(col("nt").as("n_terms"),
        when(den > 0.0d, floor(num / den * 10000.0d).cast("long")).as("slope_q"))
  }

  val zipfSlopeSql: String =
    s"""WITH v AS (SELECT word, count(*) AS n FROM (
       |    SELECT unnest(${toksSql("text")}) AS word FROM documents)
       |  GROUP BY word),
       |r AS (SELECT n, row_number() OVER (ORDER BY n DESC, word) AS rank FROM v),
       |p AS (SELECT CAST(floor(ln(CAST(rank AS DOUBLE)) * 10000.0) AS BIGINT) AS x,
       |             CAST(floor(ln(CAST(n AS DOUBLE)) * 10000.0) AS BIGINT) AS y
       |      FROM r),
       |m AS (SELECT count(*) AS nt, CAST(sum(x) AS BIGINT) AS sx,
       |        CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * y) AS BIGINT) AS sxy,
       |        CAST(sum(x * x) AS BIGINT) AS sxx
       |      FROM p)
       |SELECT CAST(nt AS BIGINT) AS n_terms,
       |  CASE WHEN (CAST(nt AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0.0
       |  THEN CAST(floor(
       |    (CAST(nt AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
       |    (CAST(nt AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       |    * 10000.0) AS BIGINT)
       |  END AS slope_q
       |FROM m""".stripMargin

  // ---- q_typed_stats: typed Aggregator (UDAF surface) ------------------

  /** Per-event-type count/mean/variance through a typed
    * `expressions.Aggregator` (ops/StatsAgg) — the engine's UDAF
    * surface. The quantized-integer buffer makes merge order irrelevant,
    * so unlike var_pop(double) this IS oracle-checkable.
    */
  def typedStats(s: SparkSession, dir: String): DataFrame = {
    val stats = udaf(graft.ops.StatsAgg.quantizedStats)
    Tables.events(s, dir)
      .groupBy("event_type")
      .agg(stats(col("value")).as("s"))
      .select(col("event_type"), col("s.n").as("n"),
        col("s.mean").as("mean_value"), col("s.varPop").as("var_value"))
  }

  val typedStatsSql: String =
    """WITH q AS (SELECT event_type,
      |             CAST(floor(value * 100) AS BIGINT) AS qv FROM events)
      |SELECT event_type, count(*) AS n,
      | sum(qv) / 100.0 / count(*) AS mean_value,
      | sum(qv * qv) / 10000.0 / count(*)
      |   - (sum(qv) / 100.0 / count(*)) * (sum(qv) / 100.0 / count(*)) AS var_value
      |FROM q GROUP BY event_type""".stripMargin

  // ---- q_mixture_alloc: mixture budget allocation ----------------------

  /** Mixture construction planning: per (lang, source) stratum, the
    * sampling fraction that hits a fixed per-stratum character budget —
    * the aggregate that drives ops/Mixture's stratified sampler. One
    * partial-agg shuffle over the corpus; the allocation arithmetic runs
    * on the tiny aggregate.
    */
  def mixtureAlloc(s: SparkSession, dir: String): DataFrame = {
    val budget = 50000.0
    Tables.documents(s, dir)
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"))
      .withColumn("alloc_fraction",
        round(least(lit(1.0), lit(budget) / col("total_chars")), 6))
      .withColumn("target_docs",
        ceil(col("n_docs") * col("alloc_fraction")))
  }

  val mixtureAllocSql: String =
    """SELECT lang, source, count(*) AS n_docs,
      | CAST(sum(n_chars) AS BIGINT) AS total_chars,
      | round(least(1.0, 50000.0 / sum(n_chars)), 6) AS alloc_fraction,
      | CAST(ceil(count(*) * round(least(1.0, 50000.0 / sum(n_chars)), 6)) AS BIGINT) AS target_docs
      |FROM documents GROUP BY lang, source""".stripMargin

  // ---- q_sql_surface: raw SQL text through the session parser ----------

  /** The engine's SQL-string interface: tables registered as temp views,
    * query authored as SQL text, parsed/planned by Catalyst exactly like
    * the DataFrame form (same optimized plan, same oracle). Demonstrates
    * that a reference user can bring SQL, not just the Scala API.
    */
  def sqlSurface(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir).createOrReplaceTempView("graft_sql_orders")
    Tables.customer(s, dir).createOrReplaceTempView("graft_sql_customer")
    s.sql(
      """SELECT c_mktsegment,
        |       count(*) AS n_orders,
        |       sum(CAST(floor(o_totalprice * 10000.0D) AS BIGINT)) / 10000.0D AS total_price
        |FROM graft_sql_orders JOIN graft_sql_customer ON o_custkey = c_custkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY c_mktsegment""".stripMargin)
  }

  val sqlSurfaceSql: String =
    s"""SELECT c_mktsegment, count(*) AS n_orders,
       | ${DecSumSql("o_totalprice")} AS total_price
       |FROM orders JOIN customer ON o_custkey = c_custkey
       |WHERE o_orderpriority = '1-URGENT'
       |GROUP BY c_mktsegment""".stripMargin

  // ---- q_approx_distinct: sketch aggregates (rows-only) ----------------

  /** HyperLogLog++ distinct-count and approximate percentiles per event
    * type — the sketch aggregates a 100 TB engine actually runs instead
    * of exact distinct/sort. Not hash-comparable across engines (sketch
    * internals differ) → rows-only driver check; ApproxSpec asserts the
    * estimates land within rsd of the exact answers.
    */
  def approxDistinct(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy("event_type")
      .agg(approx_count_distinct(col("user_id"), 0.02).as("approx_users"),
        percentile_approx(col("value"), lit(0.5), lit(10000)).as("approx_median_value"),
        count(lit(1)).as("n_events"))

  // ---- q_hll_shards: mergeable per-shard HLL sketches (rows-only) ------

  /** Per-source Datasketches HLL blobs + a `__all__` row whose estimate
    * merges them (graft.ops.Report.sketchDistinct). Sketch internals are
    * engine-defined → rows-only driver check; RelationalSpec pins
    * estimate accuracy and the union-equals-global-sketch mergeability
    * property.
    */
  def hllShards(s: SparkSession, dir: String): DataFrame =
    graft.ops.Report.sketchDistinct(Tables.documents(s, dir),
      keyCol = "doc_id", groupCol = "source")

  // ---- q_hll_md5: ORACLE-CHECKED HLL graded twin ------------------------

  /** The hash-exact graded twin of [[hllShards]] (the same twin
    * pattern that proves MinHash via `q_minhash_md5`): per-source
    * distinct-WORD HyperLogLog over the portable 60-bit md5 hash
    * ([[graft.ops.Hll]]), built TWO-LEVEL — per-(source, shard)
    * register arrays merged per source — exactly the shard-then-merge
    * structure the Datasketches path uses. Because register merge is
    * max (idempotent, associative), the two-level build is
    * bit-identical to the flat build the oracle computes, so the hash
    * check covers register assignment, rank extraction, the
    * distributed merge AND the estimate arithmetic. State surfaces as
    * exact integers (zero count, Σ2^(49−rank), an (idx+1)·rank
    * checksum) — one flipped register anywhere is a mismatch.
    */
  def hllMd5(s: SparkSession, dir: String): DataFrame = {
    val spark = s
    import spark.implicits._
    import graft.ops.Hll
    val words = Tables.documents(s, dir)
      .select(coalesce(col("source"), lit("")).as("source"),
        explode(graft.text.TextMetrics.tokens(col("text"))).as("w"))
      .select(col("source"), Hll.hash60(col("w")).as("h"))
      .withColumn("shard", pmod(col("h"), lit(8L)))
      .as[(String, Long, Long)]
    val perShard = words.groupByKey(r => (r._1, r._3))
      .mapValues(_._2).agg(Hll.registers.toColumn)
    val merged = perShard.map { case ((src, _), regs) => (src, regs) }
      .groupByKey(_._1).mapValues(_._2).agg(Hll.mergeRegisters.toColumn)
    merged.map { case (src, regs) =>
      val e = Hll.estimate(regs)
      (src, e.v_zero, e.s49, e.reg_checksum, e.est_q)
    }.toDF("source", "v_zero", "s49", "reg_checksum", "est_q")
  }

  val hllMd5Sql: String = {
    val toks = graft.queries.OracleSql.toks("text")
    // operation order mirrors Hll.estimate term-for-term; constants are
    // exact-integer casts per the DECIMAL-literal gotcha
    val alpha = "(CAST(7213 AS DOUBLE) / 10000) / (1 + (CAST(1079 AS DOUBLE) / 1000) / 4096)"
    val eRaw = s"(($alpha * 4096) * 4096) * CAST(562949953421312 AS DOUBLE) / CAST(s49 AS DOUBLE)"
    s"""WITH t AS (SELECT coalesce(source, '') AS source, $toks AS toks
       |  FROM documents),
       |w AS (SELECT source, unnest(toks) AS w FROM t),
       |h AS (SELECT source,
       |    CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) AS h FROM w),
       |r AS (SELECT source, h >> 48 AS idx,
       |    h & 281474976710655 AS rest FROM h),
       |rk AS (SELECT source, idx,
       |    max(CASE WHEN rest = 0 THEN 49
       |         ELSE 49 - length(bin(rest)) END) AS rank
       |  FROM r GROUP BY source, idx),
       |agg AS (SELECT source,
       |    4096 - count(*) AS v_zero,
       |    CAST(sum(1::BIGINT << (49 - rank)) AS BIGINT)
       |      + (4096 - count(*)) * (1::BIGINT << 49) AS s49,
       |    CAST(sum((idx + 1) * rank) AS BIGINT) AS reg_checksum
       |  FROM rk GROUP BY source),
       |e AS (SELECT source, v_zero, s49, reg_checksum, $eRaw AS e_raw
       |  FROM agg)
       |SELECT source, CAST(v_zero AS BIGINT) AS v_zero, s49, reg_checksum,
       |  CAST(floor((CASE WHEN e_raw <= CAST(10240 AS DOUBLE) AND v_zero > 0
       |    THEN 4096 * ln(4096 / CAST(v_zero AS DOUBLE))
       |    ELSE e_raw END) * 100) AS BIGINT) AS est_q
       |FROM e""".stripMargin
  }

  // ---- q_incr_hll: incremental distinct-document state -------------------

  /** Incremental HLL state ([[graft.ops.Incremental.mergeHllStates]]):
    * per-source distinct-DOCUMENT registers built batch-by-batch (the
    * corpus split on doc_id parity plays two intake batches) and merged
    * into the running state table without rescanning batch 1. Because
    * register merge is idempotent max, the merged state is bit-equal to
    * a flat build over the union — the oracle computes that flat build,
    * so the hash proves the incremental path loses/dupes nothing.
    */
  def incrHll(s: SparkSession, dir: String): DataFrame = {
    val spark = s
    import spark.implicits._
    import graft.ops.{Hll, Incremental}
    val docs = Tables.documents(s, dir)
      .select(coalesce(col("source"), lit("")).as("source"),
        Hll.hash60(coalesce(col("text"), lit(""))).as("h"), col("doc_id"))
    def state(f: DataFrame) =
      f.select(col("source"), col("h")).as[(String, Long)]
        .groupByKey(_._1).mapValues(_._2).agg(Hll.registers.toColumn)
        .toDF("g", "regs")
    val merged = Incremental.mergeHllStates(
      state(docs.filter(col("doc_id") % 2 === 0)),
      state(docs.filter(col("doc_id") % 2 === 1)))
    merged.as[(String, Map[Int, Int])]
      .map { case (g, regs) =>
        val e = Hll.estimate(regs)
        (g, e.v_zero, e.s49, e.reg_checksum, e.est_q)
      }.toDF("source", "v_zero", "s49", "reg_checksum", "est_q")
  }

  val incrHllSql: String = {
    val alpha = "(CAST(7213 AS DOUBLE) / 10000) / (1 + (CAST(1079 AS DOUBLE) / 1000) / 4096)"
    val eRaw = s"(($alpha * 4096) * 4096) * CAST(562949953421312 AS DOUBLE) / CAST(s49 AS DOUBLE)"
    s"""WITH h AS (SELECT coalesce(source, '') AS source,
       |    CAST('0x' || substr(md5(coalesce(text, '')), 1, 15) AS BIGINT) AS h
       |  FROM documents),
       |r AS (SELECT source, h >> 48 AS idx,
       |    h & 281474976710655 AS rest FROM h),
       |rk AS (SELECT source, idx,
       |    max(CASE WHEN rest = 0 THEN 49
       |         ELSE 49 - length(bin(rest)) END) AS rank
       |  FROM r GROUP BY source, idx),
       |agg AS (SELECT source,
       |    4096 - count(*) AS v_zero,
       |    CAST(sum(1::BIGINT << (49 - rank)) AS BIGINT)
       |      + (4096 - count(*)) * (1::BIGINT << 49) AS s49,
       |    CAST(sum((idx + 1) * rank) AS BIGINT) AS reg_checksum
       |  FROM rk GROUP BY source),
       |e AS (SELECT source, v_zero, s49, reg_checksum, $eRaw AS e_raw
       |  FROM agg)
       |SELECT source, CAST(v_zero AS BIGINT) AS v_zero, s49, reg_checksum,
       |  CAST(floor((CASE WHEN e_raw <= CAST(10240 AS DOUBLE) AND v_zero > 0
       |    THEN 4096 * ln(4096 / CAST(v_zero AS DOUBLE))
       |    ELSE e_raw END) * 100) AS BIGINT) AS est_q
       |FROM e""".stripMargin
  }

  // ---- q_cms_freq: Count-Min point-frequency estimates ------------------

  /** Count-Min sketch frequency estimates ([[graft.ops.CountMin]]):
    * build the 4×256 cell grid over the whole token stream, then
    * estimate the frequency of a deterministic vocab sliver (tokens
    * whose md5 starts "00", ~1/256 of the vocabulary) and pair each
    * estimate with its exact count — exact counting is confined to the
    * already-filtered sliver, so the only vocabulary-wide structure
    * anywhere is the bounded sketch itself. est ≥ exact by
    * construction; the oracle replays cells, probes and the min-walk
    * in exact integers.
    */
  def cmsFreq(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.CountMin
    val toks = Tables.documents(s, dir)
      .select(explode(graft.text.TextMetrics.tokens(col("text"))).as("tok"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sk = CountMin.sketch(toks, "tok")
    val probes = toks
      .filter(substring(md5(col("tok")), 1, 1).isin("0", "1", "2", "3"))
      .groupBy("tok").agg(count(lit(1)).as("exact_cnt"))
    CountMin.estimate(sk, probes, "tok")
      .join(probes, Seq("tok"))
      .select(col("tok"), col("exact_cnt"), col("est_cnt"))
  }

  val cmsFreqSql: String = {
    val toks = graft.queries.OracleSql.toks("text")
    s"""WITH t AS (SELECT $toks AS toks FROM documents),
       |w AS (SELECT unnest(toks) AS tok FROM t),
       |js AS (SELECT unnest([0, 1, 2, 3]) AS j),
       |cells AS (SELECT j,
       |    CAST('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || tok), 1, 4)
       |      AS BIGINT) % 256 AS b,
       |    CAST(count(*) AS BIGINT) AS c
       |  FROM w CROSS JOIN js GROUP BY 1, 2),
       |probes AS (SELECT tok, CAST(count(*) AS BIGINT) AS exact_cnt FROM w
       |  WHERE substr(md5(tok), 1, 1) IN ('0', '1', '2', '3') GROUP BY tok),
       |est AS (SELECT p.tok, CAST(min(c.c) AS BIGINT) AS est_cnt
       |  FROM probes p CROSS JOIN js
       |  JOIN cells c ON c.j = js.j AND c.b =
       |    CAST('0x' || substr(md5(CAST(js.j AS VARCHAR) || ':' || p.tok), 1, 4)
       |      AS BIGINT) % 256
       |  GROUP BY p.tok)
       |SELECT p.tok, p.exact_cnt, e.est_cnt
       |FROM probes p JOIN est e ON p.tok = e.tok""".stripMargin
  }

  // ---- q_cms_join_size: sketch inner-product join-size estimate ----------

  /** Join-size estimation WITHOUT the join ([[graft.ops.CountMin
    * .joinSizeEstimate]]): sketch lineitem.l_orderkey and
    * orders.o_orderkey (width 4096 — the additive error term
    * |A|·|B|/w needs width against 60k×15k), min over the depth rows
    * of the cell inner products, next to the exact join count it
    * bounds. est ≥ exact always; both integers the oracle replays.
    */
  def cmsJoinSize(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.CountMin
    val w = 4096
    val skL = CountMin.sketch(
      Tables.lineitem(s, dir).select(col("l_orderkey").cast("string").as("k")),
      "k", width = w)
    val skO = CountMin.sketch(
      Tables.orders(s, dir).select(col("o_orderkey").cast("string").as("k")),
      "k", width = w)
    val est = CountMin.joinSizeEstimate(skL, skO)
    val exact = Tables.lineitem(s, dir).select(col("l_orderkey"))
      .join(Tables.orders(s, dir).select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"))
      .agg(count(lit(1)).as("exact_join"))
    est.crossJoin(exact)
  }

  val cmsJoinSizeSql: String = {
    def cells(table: String, key: String) =
      s"""SELECT j, CAST('0x' || substr(md5(CAST(j AS VARCHAR) || ':' ||
         |      CAST($key AS VARCHAR)), 1, 4) AS BIGINT) % 4096 AS b,
         |    CAST(count(*) AS BIGINT) AS c
         |  FROM $table CROSS JOIN js GROUP BY 1, 2""".stripMargin
    s"""WITH js AS (SELECT unnest([0, 1, 2, 3]) AS j),
       |ca AS (${cells("lineitem", "l_orderkey")}),
       |cb AS (${cells("orders", "o_orderkey")}),
       |ip AS (SELECT ca.j, CAST(sum(ca.c * cb.c) AS BIGINT) AS ip
       |  FROM ca JOIN cb ON ca.j = cb.j AND ca.b = cb.b GROUP BY ca.j),
       |e AS (SELECT CAST(min(ip) AS BIGINT) AS est_join FROM ip),
       |x AS (SELECT count(*) AS exact_join FROM lineitem
       |  JOIN orders ON l_orderkey = o_orderkey)
       |SELECT est_join, exact_join FROM e CROSS JOIN x""".stripMargin
  }

  // ---- q_ams_f2: AMS tug-of-war second-moment sketch ---------------------

  /** Per-source AMS F2 ([[graft.ops.Ams]]): the 8 tug-of-war sums, the
    * lower-median estimate, and the exact F2 = Σ count(tok)² it
    * estimates (the token self-join size). The sums are the 100 TB
    * path (8 longs of state, map-side combine); the exact side exists
    * to oracle-check the guarantee in-data and is the vocabulary
    * groupBy the sketch replaces.
    */
  def amsF2(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Ams
    val w = Tables.documents(s, dir)
      .select(coalesce(col("source"), lit("")).as("source"),
        explode(graft.text.TextMetrics.tokens(col("text"))).as("tok"))
    val sk = Ams.estimateF2(Ams.sketch(w, "source", "tok"))
    val exact = w.groupBy("source", "tok").agg(count(lit(1)).as("c"))
      .groupBy("source").agg(sum(col("c") * col("c")).as("exact_f2"))
    sk.join(exact, Seq("source"))
  }

  val amsF2Sql: String = {
    val toks = graft.queries.OracleSql.toks("text")
    val sums = (0 until 8).map(j =>
      s"CAST(sum((CAST('0x' || substr(md5('$j:' || tok), 1, 1) AS BIGINT) % 2) * 2 - 1) AS BIGINT) AS s$j")
      .mkString(",\n       |    ")
    s"""WITH t AS (SELECT coalesce(source, '') AS source, $toks AS toks
       |  FROM documents),
       |w AS (SELECT source, unnest(toks) AS tok FROM t),
       |sk AS (SELECT source,
       |    $sums
       |  FROM w GROUP BY source),
       |est AS (SELECT source, s0, s1, s2, s3, s4, s5, s6, s7,
       |    list_sort([s0*s0, s1*s1, s2*s2, s3*s3,
       |               s4*s4, s5*s5, s6*s6, s7*s7])[4] AS est_f2
       |  FROM sk),
       |ex AS (SELECT source, CAST(sum(c * c) AS BIGINT) AS exact_f2
       |  FROM (SELECT source, tok, count(*) AS c FROM w GROUP BY source, tok)
       |  GROUP BY source)
       |SELECT e.source, s0, s1, s2, s3, s4, s5, s6, s7, est_f2, exact_f2
       |FROM est e JOIN ex ON e.source = ex.source""".stripMargin
  }

  // ---- q_heavy_hitters: Misra-Gries frequent-items invariants -----------

  /** Misra-Gries heavy hitters ([[graft.ops.HeavyHitters]]) over the
    * character trigrams of the corpus (377 distinct, Zipf-skewed —
    * vocabulary ≫ the k=128 counters, so the summary genuinely trims).
    * The summary CONTENTS are merge-order-sensitive (which of two
    * equal low counters survives a trim depends on association), so
    * this query hash-checks the order-proof GUARANTEES instead: for
    * every item the exact counts say is heavy (true·(k+1) > n), the
    * sketch must have retained it (the row exists at all — a missed
    * heavy item is a missing row), must not overcount it, and must
    * undercount by at most n/(k+1). DuckDB derives the same heavy set
    * from exact counts and emits the bounds as the constants they are
    * guaranteed to be. Exact counting is confined to the ≤k retained
    * keys (broadcast semi-join); the only vocabulary-wide structure is
    * the bounded summary itself.
    */
  def heavyHitters(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.HeavyHitters
    val k = 128
    val docs = Tables.documents(s, dir)
      .filter(col("text").isNotNull && length(col("text")) >= 3)
    // persisted: the exploded substr stream feeds BOTH the summary
    // aggregate and the exact-count probe join; re-deriving it costs a
    // second 15M-row explode+substr pass that the r14 A/B measured at
    // +2 s over the cache read (and r9 measured the same trade) — the
    // substr is the expensive part, not the explode.
    // Re-A/B'd cold-JVM isolated in r15 (VERDICT r14 item 1): 2.58 s
    // persisted vs 4.49 s without — KEPT. (The MG summary needs the
    // gram STRINGS, so the dupSpans xxhash64-fingerprint footprint fix
    // cannot apply here; the cache stays the documented trade.)
    val grams = docs
      .select(col("text"),
        explode(sequence(lit(1), length(col("text")) - 2)).as("i"))
      .select(col("text").substr(col("i"), lit(3)).as("tg"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val retained = grams.agg(HeavyHitters.mgTopK(k)(col("tg")).as("hh"))
      .select(explode(col("hh.items")).as("it"))
      .select(col("it.tok").as("tg"), col("it.est").as("est"))
    // n_grams WITHOUT a third pass over the gram stream: each doc of
    // length L ≥ 3 contributes exactly L−2 trigrams
    // (explode(sequence(1, L−2))), so the stream length folds from doc
    // lengths — the same BIGINT the exploded count(*) produced, off one
    // narrow length scan (guide §2.3: shuffle/scan the cheapest
    // equivalent form).
    val nDf = docs.agg(
      sum((length(col("text")) - 2).cast("long")).as("n_grams"))
    grams.join(broadcast(retained), Seq("tg"))
      .groupBy(col("tg"), col("est"))
      .agg(count(lit(1)).as("exact_cnt"))
      // one-row total: explicit broadcast so the cross join can never
      // fall back to CartesianProduct when file stats grow (the KMV
      // 100x sweep lesson)
      .crossJoin(broadcast(nDf))
      .filter(col("exact_cnt") * (k + 1) > col("n_grams"))
      .select(col("tg"), col("exact_cnt"), col("n_grams"),
        when(col("est") <= col("exact_cnt"), 1L).otherwise(0L)
          .as("no_overcount"),
        when((col("exact_cnt") - col("est")) * (k + 1) <= col("n_grams"),
          1L).otherwise(0L).as("undercount_bounded"))
  }

  val heavyHittersSql: String =
    """WITH g AS (SELECT substr(text, i, 3) AS tg
      |  FROM documents, unnest(range(1, length(text) - 1)) AS r(i)
      |  WHERE text IS NOT NULL),
      |c AS (SELECT tg, CAST(count(*) AS BIGINT) AS exact_cnt
      |  FROM g GROUP BY tg),
      |n AS (SELECT CAST(sum(exact_cnt) AS BIGINT) AS n_grams FROM c)
      |SELECT tg, exact_cnt, n_grams,
      |  CAST(1 AS BIGINT) AS no_overcount,
      |  CAST(1 AS BIGINT) AS undercount_bounded
      |FROM c CROSS JOIN n
      |WHERE exact_cnt * 129 > n_grams""".stripMargin

  // ---- q_incr_heavy: incremental cross-batch heavy-hitter state ---------

  /** Incremental frequent-items state ([[graft.ops.HeavyHitters
    * .mergeSummaries]]): the corpus arrives as three ingest batches
    * (doc_id mod 3), each batch is summarized ONCE, and the running
    * state folds batch-by-batch through the mergeable-summaries rule —
    * history is never re-counted, only its ≤k-row summary participates
    * (the frequent-items member of the incremental family next to
    * q_incr_neardup's band keys and q_incr_hll's registers). The
    * folded state is merge-order-defined in CONTENTS but order-proof
    * in GUARANTEES, so the invariant tail is identical to
    * q_heavy_hitters: every globally-heavy trigram must be retained by
    * the folded state, within the no-overcount / n/(k+1) undercount
    * bounds — and the oracle is the SAME exact-count replay, which is
    * the point: the two-level batch fold must answer exactly like a
    * flat build.
    */
  def incrHeavy(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.HeavyHitters
    val k = 128
    val docs = Tables.documents(s, dir)
      .filter(col("text").isNotNull && length(col("text")) >= 3)
    // persisted for the same two-consumer reason as q_heavy_hitters
    // (summary pass + exact-count probe); see the A/B note there
    // (r15 cold-JVM re-A/B: 3.71 s persisted vs 5.56 s without — KEPT)
    val grams = docs
      .select(pmod(col("doc_id"), lit(3)).as("batch"), col("text"),
        explode(sequence(lit(1), length(col("text")) - 2)).as("i"))
      .select(col("batch"), col("text").substr(col("i"), lit(3)).as("tg"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // The ≤3k-row per-batch SUMMARY table is persisted AND eagerly
    // materialized: the three batchSummary filters below are three
    // references to this aggregate inside ONE union plan, and a lazy
    // persist does not help there — the union's stages race, each
    // recomputing the full explode+MG pass before any of them manages
    // to publish the cache block (the r14 profile measured the query
    // at 3 MG passes' cost; the q_incr_heavy DuckDB oracle pins the
    // result). One 3-row count() up front runs the summary
    // aggregate exactly once — also the literal reading of the query's
    // own contract: "each batch is summarized ONCE". The same trick as
    // knPerplexity's rank count; the bench times it (the count runs at
    // DataFrame-build time, inside the timed region).
    val perBatch = grams.groupBy("batch")
      .agg(HeavyHitters.mgTopK(k)(col("tg")).as("hh"))
      .select(col("batch"), explode(col("hh.items")).as("it"))
      .select(col("batch"), col("it.tok").as("tok"), col("it.est").as("est"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    perBatch.count()
    def batchSummary(b: Int) =
      perBatch.filter(col("batch") === b).select(col("tok"), col("est"))
    val state = HeavyHitters.mergeSummaries(
      HeavyHitters.mergeSummaries(batchSummary(0), batchSummary(1), k),
      batchSummary(2), k)
    val retained = state.select(col("tok").as("tg"), col("est"))
    // doc-length fold, not a second corpus explode — see heavyHitters
    val nDf = docs.agg(
      sum((length(col("text")) - 2).cast("long")).as("n_grams"))
    grams.join(broadcast(retained), Seq("tg"))
      .groupBy(col("tg"), col("est"))
      .agg(count(lit(1)).as("exact_cnt"))
      .crossJoin(broadcast(nDf))
      .filter(col("exact_cnt") * (k + 1) > col("n_grams"))
      .select(col("tg"), col("exact_cnt"), col("n_grams"),
        when(col("est") <= col("exact_cnt"), 1L).otherwise(0L)
          .as("no_overcount"),
        when((col("exact_cnt") - col("est")) * (k + 1) <= col("n_grams"),
          1L).otherwise(0L).as("undercount_bounded"))
  }

  /** Same oracle as q_heavy_hitters by design: the exact-count heavy
    * set and bounds do not depend on how the engine folded its state.
    */
  val incrHeavySql: String = heavyHittersSql

  // ---- q_heavy_hitters_raw: the summary itself, per source --------------

  /** The raw per-source Misra-Gries summaries (k=128 against a
    * 377-trigram universe, so every source's summary has trimmed) —
    * the reviewable "what dominates each source?" artifact. Rows-only
    * by design: retained-set composition depends on merge order, which
    * no foreign engine can replay; q_heavy_hitters IS this operator's
    * correctness proof (same aggregator, hash-checked guarantees), and
    * HeavyHittersSpec pins the bounds under adversarial merge trees.
    */
  def heavyHittersRaw(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.HeavyHitters
    Tables.documents(s, dir)
      .filter(col("text").isNotNull && length(col("text")) >= 3)
      .select(coalesce(col("source"), lit("")).as("source"), col("text"),
        explode(sequence(lit(1), length(col("text")) - 2)).as("i"))
      .select(col("source"), col("text").substr(col("i"), lit(3)).as("tg"))
      .groupBy("source")
      .agg(HeavyHitters.mgTopK(128)(col("tg")).as("hh"))
      .select(col("source"), explode(col("hh.items")).as("it"))
      .select(col("source"), col("it.tok").as("tg"),
        col("it.est").as("est_cnt"))
  }

  // ---- q_dd_quantiles: mergeable relative-error percentiles -------------

  /** Per-source p50/p90/p99 of document length through the DDSketch
    * aggregator (graft.ops.DdSketch) — the bounded-state mergeable
    * alternative to the exact `percentile` sort-agg of
    * q_source_percentiles. ORACLE-CHECKED end to end: the finisher is
    * deterministic arithmetic — rank target ⌊q·(n−1)⌋+1, a cumulative
    * walk over the (kind, idx) buckets in value order, and the bucket
    * midpoint 2γ^i/(γ+1) — all of which DuckDB replays over the same
    * bucket replay q_dd_buckets already proves. Estimates surface
    * floor-quantized to 1e4 per the engine's double-parity rule (the
    * only cross-libm residue is pow(γ, i), same ≤1-ulp fixed-fixture
    * argument as the ln() in the bucket map). DdSketchSpec pins the
    * ≤α relative-error guarantee against exact ranks.
    */
  // ---- q_zorder_key: Morton clustering key ------------------------------

  /** The Z-order (Morton) clustering key over (n_chars, doc_id mod
    * 2¹⁶) — the sort key graft.sources.Layout.writeZOrdered lays files
    * out by. Pure bit arithmetic, so the key itself is oracle-exact;
    * the pruning effect of the layout is pinned by LayoutSpec (fewer
    * files intersect a 2-D box predicate than under a linear sort).
    */
  def zorderKey(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        graft.sources.Layout.zValue(col("n_chars"),
          pmod(col("doc_id"), lit(65536L))).as("z_key"))

  val zorderKeySql: String = {
    import graft.sources.Layout
    s"""WITH c AS (SELECT doc_id,
       |  ${Layout.zClampSql("n_chars")} AS zx,
       |  ${Layout.zClampSql("((doc_id % 65536) + 65536) % 65536")} AS zy
       | FROM documents)
       |SELECT doc_id, ${Layout.zTermsSql("zx", "zy")} AS z_key FROM c""".stripMargin
  }

  // ---- q_hilbert_key: Hilbert-curve layout key ---------------------------

  /** Hilbert-curve clustering key over the same (n_chars, doc_id mod
    * 2¹⁶) plane as q_zorder_key ([[graft.plans.HilbertKey]] codegen
    * kernel). The oracle replays the 16-level rotate-and-accumulate
    * walk as a DuckDB recursive CTE carrying (x, y, d, s) — every
    * level's reflection, swap and quadrant term is integer-exact, so a
    * wrong rotation case or off-by-one in the reflection is a hash
    * mismatch on some row.
    */
  def hilbertKey(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        graft.plans.HilbertKey(col("n_chars"),
          pmod(col("doc_id"), lit(65536L))).as("h_key"))

  val hilbertKeySql: String =
    """WITH RECURSIVE c AS (SELECT doc_id,
      |  greatest(0, least(65535, coalesce(CAST(n_chars AS BIGINT), 0))) AS x,
      |  greatest(0, least(65535,
      |    CAST(((doc_id % 65536) + 65536) % 65536 AS BIGINT))) AS y
      | FROM documents),
      |h(doc_id, x, y, d, s) AS (
      |  SELECT doc_id, x, y, CAST(0 AS BIGINT), CAST(32768 AS BIGINT) FROM c
      |  UNION ALL
      |  SELECT doc_id,
      |    CASE WHEN ry = 0 THEN
      |      CASE WHEN rx = 1 THEN s - 1 - y ELSE y END
      |    ELSE x END,
      |    CASE WHEN ry = 0 THEN
      |      CASE WHEN rx = 1 THEN s - 1 - x ELSE x END
      |    ELSE y END,
      |    d + s * s * xor(3 * rx, ry),
      |    s // 2
      |  FROM (SELECT doc_id, x, y, d, s,
      |          CASE WHEN (x & s) > 0 THEN 1 ELSE 0 END AS rx,
      |          CASE WHEN (y & s) > 0 THEN 1 ELSE 0 END AS ry
      |        FROM h WHERE s > 0) t)
      |SELECT doc_id, d AS h_key FROM h WHERE s = 0""".stripMargin

  // ---- q_source_drift: batch EWMA drift report --------------------------

  /** Per-event-type hourly drift report (graft.ops.Drift.sourceDrift) —
    * the batch twin of the streaming drift monitor, sharing its exact
    * integer fold (graft.ops.DriftMath). The oracle replays the same
    * recurrence as a DuckDB RECURSIVE CTE, so the quantized
    * EWMA/EW-variance/alert trajectory is hash-checked end to end —
    * and the streaming monitor is covered transitively through the
    * shared arithmetic. The quarter-step folds use exact BIGINT floor
    * division on BOTH sides (math.floorDiv in Scala, the
    * `(x - nonneg-mod) // 4` identity in SQL): floor(x/4.0) through
    * doubles rounds once |x| exceeds 2^53, and the dd clamp admits
    * deviations up to 9e17 — exactly the extreme-drift regime the
    * monitor exists for.
    */
  def sourceDrift(s: SparkSession, dir: String): DataFrame =
    graft.ops.Drift.sourceDrift(Tables.events(s, dir))

  val sourceDriftSql: String =
    """WITH RECURSIVE w AS (
      |  SELECT coalesce(event_type, '') AS source,
      |    date_trunc('hour', ts) AS window_start,
      |    count(*) AS n,
      |    CAST(sum(coalesce(CAST(floor(value * 100) AS BIGINT), 0)) AS BIGINT) AS sum_vq
      |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
      |i AS (SELECT source, window_start, n, sum_vq,
      |  CAST(floor(CAST(sum_vq AS DOUBLE) * 10000.0 / CAST(greatest(n, 1) AS DOUBLE)) AS BIGINT) AS xq,
      |  row_number() OVER (PARTITION BY source ORDER BY window_start) AS rn
      | FROM w),
      |r AS (
      |  SELECT source, window_start, n, xq, rn,
      |    CAST(0 AS BIGINT) AS dd_q, xq AS ewma_q,
      |    CAST(0 AS BIGINT) AS ewvar_q, false AS alert
      |  FROM i WHERE rn = 1
      |  UNION ALL
      |  SELECT source, window_start, n, xq, rn, dd AS dd_q,
      |    prev_ewma + (de - (((de % 4) + 4) % 4)) // 4 AS ewma_q,
      |    prev_ewvar + (dv - (((dv % 4) + 4) % 4)) // 4 AS ewvar_q,
      |    (rn - 1 >= 3 AND dd > 9 * prev_ewvar + 1) AS alert
      |  FROM (
      |    SELECT q.*, q.xq - q.prev_ewma AS de, q.dd - q.prev_ewvar AS dv
      |    FROM (
      |      SELECT i.source, i.window_start, i.n, i.xq, i.rn,
      |        r.ewma_q AS prev_ewma, r.ewvar_q AS prev_ewvar,
      |        CAST(least(floor(CAST(i.xq - r.ewma_q AS DOUBLE)
      |          * CAST(i.xq - r.ewma_q AS DOUBLE) / 10000.0), 9e17) AS BIGINT) AS dd
      |      FROM r JOIN i ON i.source = r.source AND i.rn = r.rn + 1) q))
      |SELECT source, window_start, CAST(n AS BIGINT) AS n, xq AS x_q,
      |  dd_q, ewma_q, ewvar_q, alert
      |FROM r""".stripMargin

  def ddQuantiles(s: SparkSession, dir: String): DataFrame = {
    val spark = s
    import spark.implicits._
    Tables.documents(s, dir)
      // null length deserializing into a primitive Double would throw;
      // treat it as 0 like the sibling length consumers. Null source
      // folds to '' — the engine-wide grouping convention (sourceDrift,
      // driftMonitor) — so the typed groupByKey never keys on null.
      .select(coalesce(col("source"), lit("")).as("source"),
        coalesce(col("n_chars"), lit(0L)).cast("double").as("v"))
      .as[(String, Double)]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(graft.ops.DdSketch.quantiles().toColumn)
      .map { case (src, q) => (src, q.n,
        math.floor(q.p50 * 10000).toLong,
        math.floor(q.p90 * 10000).toLong,
        math.floor(q.p99 * 10000).toLong) }
      .toDF("source", "n", "p50_q", "p90_q", "p99_q")
  }

  val ddQuantilesSql: String = {
    // the same γ literal as ddBucketsSql; the walk orders buckets in
    // value order (neg desc |idx|, zero, pos asc idx) via a single
    // integer key, takes the first bucket whose cumulative count
    // reaches the DDSketch rank target, and reports its midpoint
    val g = "CAST(1.02020202020202 AS DOUBLE)"
    def tgt(pct: Int) =
      s"CAST(floor(CAST($pct AS DOUBLE) / 100 * (n - 1)) AS BIGINT) + 1"
    def pick(pct: Int, name: String) =
      s"CAST(floor(min_by(est, ord) FILTER (WHERE cum >= ${tgt(pct)}) * 10000) AS BIGINT) AS $name"
    s"""WITH v AS (SELECT coalesce(source, '') AS source,
       |    CAST(coalesce(n_chars, 0) AS DOUBLE) AS v FROM documents),
       |b AS (SELECT source,
       |  CASE WHEN v > 0 THEN 'pos' WHEN v < 0 THEN 'neg' ELSE 'zero' END AS kind,
       |  CAST(CASE WHEN v = 0 THEN 0
       |       ELSE ceil(ln(abs(v)) / ln($g)) END AS INT) AS idx,
       |  count(*) AS cnt
       | FROM v GROUP BY 1, 2, 3),
       |o AS (SELECT source, kind, idx, cnt,
       |  (CASE kind WHEN 'neg' THEN 0 WHEN 'zero' THEN 1 ELSE 2 END) * 1000000
       |    + (CASE kind WHEN 'neg' THEN -idx ELSE idx END) AS ord,
       |  CASE kind WHEN 'zero' THEN CAST(0 AS DOUBLE)
       |   WHEN 'pos' THEN CAST(2 AS DOUBLE) * pow($g, idx) / ($g + 1)
       |   ELSE -(CAST(2 AS DOUBLE) * pow($g, idx) / ($g + 1)) END AS est
       | FROM b),
       |c AS (SELECT *, sum(cnt) OVER (PARTITION BY source ORDER BY ord
       |        ROWS UNBOUNDED PRECEDING) AS cum,
       |      CAST(sum(cnt) OVER (PARTITION BY source) AS BIGINT) AS n
       | FROM o)
       |SELECT source, max(n) AS n,
       | ${pick(50, "p50_q")},
       | ${pick(90, "p90_q")},
       | ${pick(99, "p99_q")}
       |FROM c GROUP BY source""".stripMargin
  }

  /** The DDSketch ORACLE GATE — the same sketch as [[ddQuantiles]]
    * (shared zero/reduce/merge), finished as exploded (kind, idx, cnt)
    * bucket rows instead of quantile estimates. Bucket assignment is a
    * pure function of the value (⌈ln v / ln γ⌉ — the whole point of
    * the DDSketch design) and counts ADD, so DuckDB replays the entire
    * distributed sketch as a GROUP BY over the identical arithmetic:
    * assignment, map-side partials, and merge are all hash-checked.
    * The quantile query itself stays rows-only (its γ^i/(γ+1) midpoint
    * estimates are engine-defined), but its sketch-building path is
    * covered transitively through the shared aggregator core.
    *
    * Cross-libm note: both engines' ln() are ≤1-ulp; ceil of the ratio
    * flips only when ln v / ln γ lands within ~1e-13 of an integer,
    * which no value in any fixture does (and the fixture is fixed, so
    * green once is green forever — same determinism argument as the
    * q_source_drift EWMA replay).
    */
  def ddBuckets(s: SparkSession, dir: String): DataFrame = {
    val spark = s
    import spark.implicits._
    Tables.documents(s, dir)
      .select(coalesce(col("source"), lit("")).as("source"),
        coalesce(col("n_chars"), lit(0L)).cast("double").as("v"))
      .as[(String, Double)]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(graft.ops.DdSketch.buckets().toColumn)
      .flatMap { case (src, bs) =>
        bs.map(b => (src, b.kind, b.idx, b.cnt)) }
      .toDF("source", "kind", "idx", "cnt")
  }

  val ddBucketsSql: String =
    // γ as the JVM's shortest-roundtrip repr of (1+α)/(1−α) at α=0.01:
    // DuckDB parses the decimal and the cast lands on the identical
    // double, so ln(γ) matches bit-for-bit modulo the ≤1-ulp libm note
    """WITH v AS (SELECT coalesce(source, '') AS source,
      |    CAST(coalesce(n_chars, 0) AS DOUBLE) AS v FROM documents)
      |SELECT source,
      |  CASE WHEN v > 0 THEN 'pos' WHEN v < 0 THEN 'neg' ELSE 'zero' END AS kind,
      |  CAST(CASE WHEN v = 0 THEN 0
      |       ELSE ceil(ln(abs(v)) / ln(CAST(1.02020202020202 AS DOUBLE)))
      |       END AS INT) AS idx,
      |  count(*) AS cnt
      |FROM v GROUP BY 1, 2, 3""".stripMargin
}
