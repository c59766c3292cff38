package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import graft.Tables._

/** SURVEY.md §2 Part B relational inventory (B1-B27) over the TPC-H-ish
  * driver tables. Everything is declarative DataFrame API so Catalyst
  * keeps pushdown/pruning/join-selection; scale notes per query.
  *
  * Float determinism: all double aggregation goes through exact
  * Decimal(18,2) (or bigint cents) partial sums — associative and
  * order-independent — then casts back to double at the end, so Spark and
  * DuckDB produce bit-identical results at any parallelism.
  */
object RelationalQueries {

  /** Exact decimal sum of a 2-decimal double column, surfaced as double. */
  private def dsum(c: Column): Column =
    sum(c.cast("decimal(18,2)")).cast("double")

  /** Exact decimal average: decimal sum / count via IEEE double division. */
  private def davg(c: Column): Column =
    (sum(c.cast("decimal(18,2)")).cast("double") / count(lit(1)))

  // -------------------------------------------------------------------
  // B1: scan + projection + filter pushdown. At 100 TB this is the
  // bread-and-butter: predicate + projection reach the parquet reader
  // (PushedFilters / ReadSchema), so only 4 of 11 columns are read and
  // row groups outside the shipdate range are skipped by min/max stats.
  // -------------------------------------------------------------------
  def scanPushdown(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1995-01-01") &&
        col("l_shipdate") < lit("1995-04-01") && col("l_quantity") < 10)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      .orderBy("l_orderkey", "l_linenumber")

  val scanPushdownSql: String =
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1995-04-01'
      |  AND l_quantity < 10
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // -------------------------------------------------------------------
  // B2: ordered scan + limit (top-K). Spark plans TakeOrderedAndProject:
  // per-partition heaps + driver merge of K rows — no global sort, no
  // full shuffle, O(K) driver memory at any scale.
  // -------------------------------------------------------------------
  def topK(s: SparkSession, d: String): DataFrame =
    events(s, d).orderBy(col("ts").desc, col("event_id").desc).limit(100)
      .select("event_id", "ts", "user_id", "event_type")

  val topKSql: String =
    """SELECT event_id, ts, user_id, event_type FROM events
      |ORDER BY ts DESC, event_id DESC LIMIT 100""".stripMargin

  // -------------------------------------------------------------------
  // B11: hash aggregation, TPC-H Q1 shape. Partial (map-side) aggregation
  // shrinks the shuffle to |groups| rows per task before the exchange.
  // -------------------------------------------------------------------
  def aggPricing(s: SparkSession, d: String): DataFrame = {
    val one = lit(1).cast("decimal(3,2)")
    val disc = col("l_discount").cast("decimal(3,2)")
    val price = col("l_extendedprice").cast("decimal(18,2)")
    lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1998-09-02"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        sum(price * (one - disc)).cast("double").as("sum_disc_price"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  val aggPricingSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS sum_disc_price,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
      |  CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_disc,
      |  count(*) AS count_order
      |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // -------------------------------------------------------------------
  // B7: 3-way join (the reference's upstream denormalization shape,
  // SURVEY.md §1.3). customer is a dimension → explicit broadcast: the
  // fact table never shuffles for that join. lineitem⋈orders is the big
  // equi-join; AQE picks SMJ/shuffled-hash and handles skew.
  // -------------------------------------------------------------------
  def join3(s: SparkSession, d: String): DataFrame = {
    val one = lit(1).cast("decimal(3,2)")
    val revenue = col("l_extendedprice").cast("decimal(18,2)") *
      (one - col("l_discount").cast("decimal(3,2)"))
    lineitem(s, d)
      .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer(s, d)), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), year(col("o_orderdate")).as("order_year"))
      .agg(sum(revenue).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("c_mktsegment", "order_year")
  }

  val join3Sql: String =
    """SELECT c_mktsegment, CAST(year(o_orderdate) AS INT) AS order_year,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue,
      |  count(*) AS n_items
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1, 2 ORDER BY c_mktsegment, order_year""".stripMargin

  // -------------------------------------------------------------------
  // B13: rollup. Labels coalesced so no NULL ordering divergence between
  // engines; one shuffle, Expand feeds the same partial-agg pipeline.
  // -------------------------------------------------------------------
  def rollupAgg(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .rollup("l_returnflag", "l_linestatus")
      .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("sum_qty"), col("n"))
      .orderBy("returnflag", "linestatus")

  val rollupAggSql: String =
    """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
      |  coalesce(l_linestatus, 'ALL') AS linestatus,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  count(*) AS n
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY returnflag, linestatus""".stripMargin

  // -------------------------------------------------------------------
  // B14: ranking window functions — top-3 customers by balance per
  // nation. Single shuffle on the partition key; rank ties are
  // deterministic (same value both engines), row selection is pinned by
  // the row_number tiebreaker.
  // -------------------------------------------------------------------
  def rankWindow(s: SparkSession, d: String): DataFrame = {
    val byBal = Window.partitionBy("c_nationkey")
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    val byBalOnly = Window.partitionBy("c_nationkey")
      .orderBy(col("c_acctbal").desc)
    customer(s, d)
      .withColumn("rn", row_number().over(byBal))
      .withColumn("rnk", rank().over(byBalOnly))
      .withColumn("drnk", dense_rank().over(byBalOnly))
      .filter(col("rn") <= 3)
      .select("c_nationkey", "rn", "rnk", "drnk", "c_custkey", "c_acctbal")
      .orderBy("c_nationkey", "rn")
  }

  val rankWindowSql: String =
    """SELECT c_nationkey, rn, rnk, drnk, c_custkey, c_acctbal FROM (
      |  SELECT c_nationkey, c_custkey, c_acctbal,
      |    CAST(row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS INTEGER) AS rn,
      |    CAST(rank() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC) AS INTEGER) AS rnk,
      |    CAST(dense_rank() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC) AS INTEGER) AS drnk
      |  FROM customer) WHERE rn <= 3
      |ORDER BY c_nationkey, rn""".stripMargin

  // -------------------------------------------------------------------
  // B15: analytic window functions — lag/lead + running sum per user in
  // exact bigint cents. One shuffle on user_id; frames run inside the
  // sorted partition with no extra exchange.
  // -------------------------------------------------------------------
  def analyticWindow(s: SparkSession, d: String): DataFrame = {
    val cents = round(col("value") * 100).cast("long")
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(s, d)
      .withColumn("cents", cents)
      .select(col("user_id"), col("event_id"), col("ts"), col("cents"),
        lag(col("cents"), 1).over(w).as("prev_cents"),
        lead(col("cents"), 1).over(w).as("next_cents"),
        sum(col("cents")).over(wsum).as("running_cents"))
      .orderBy("user_id", "ts", "event_id")
  }

  val analyticWindowSql: String =
    """SELECT user_id, event_id, ts,
      |  CAST(round(value * 100) AS BIGINT) AS cents,
      |  lag(CAST(round(value * 100) AS BIGINT), 1) OVER w AS prev_cents,
      |  lead(CAST(round(value * 100) AS BIGINT), 1) OVER w AS next_cents,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_cents
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |ORDER BY user_id, ts, event_id""".stripMargin

  // -------------------------------------------------------------------
  // B16: tumbling time windows (1 hour) — the batch form of a windowed
  // streaming aggregation. date_trunc keeps the column a plain group key
  // so partial aggregation applies.
  // -------------------------------------------------------------------
  def timeWindow(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("sum_cents"))
      .orderBy("hour", "event_type")

  val timeWindowSql: String =
    """SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin

  // -------------------------------------------------------------------
  // B17: session windows via gaps-and-islands: a new session starts
  // after a >30-minute silence per user. Two window passes over the same
  // (user_id, ts) sort — Spark reuses the single exchange+sort.
  // -------------------------------------------------------------------
  def sessionWindow(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val gap = unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w))
    val isNew = when(gap.isNull || gap > lit(1800000000L), 1L).otherwise(0L)
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(s, d)
      .withColumn("session_id", sum(isNew).over(wRun))
      .groupBy("user_id", "session_id")
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"))
      .orderBy("user_id", "session_id")
  }

  val sessionWindowSql: String =
    """WITH flagged AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), sessions AS (
      |  SELECT user_id, ts,
      |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM flagged)
      |SELECT user_id, session_id, min(ts) AS session_start,
      |  max(ts) AS session_end, count(*) AS n_events
      |FROM sessions GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin

  // -------------------------------------------------------------------
  // B18: broadcast-hash join — part is a dimension; the hint guarantees
  // the fact side never shuffles regardless of stats quality.
  // -------------------------------------------------------------------
  def joinBroadcast(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .join(broadcast(part(s, d)), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
      .orderBy("p_brand")

  val joinBroadcastSql: String =
    """SELECT p_brand,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  count(*) AS n
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin

  // -------------------------------------------------------------------
  // B19: semi and anti joins. Semi: nations ranked by customers that
  // have orders. Anti: customers with no orders. Left-semi/anti never
  // materialize the probe side's payload — minimal shuffle width.
  // -------------------------------------------------------------------
  def semiJoin(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .join(orders(s, d), col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy("c_nationkey").agg(count(lit(1)).as("n_active_customers"))
      .orderBy("c_nationkey")

  val semiJoinSql: String =
    """SELECT c_nationkey, count(*) AS n_active_customers
      |FROM customer WHERE EXISTS
      |  (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin

  def antiJoin(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .join(orders(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_nationkey", "c_mktsegment")
      .orderBy("c_custkey")

  val antiJoinSql: String =
    """SELECT c_custkey, c_nationkey, c_mktsegment
      |FROM customer WHERE NOT EXISTS
      |  (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY c_custkey""".stripMargin

  // -------------------------------------------------------------------
  // B20: as-of join — for each purchase, the user's most recent earlier
  // click. Equi-join on user_id + range predicate, then keep latest via
  // row_number. Spark executes the equi-part as a hash/SMJ join on
  // user_id (co-partitioned), so the quadratic blowup is bounded per
  // user, not global; at scale add a time-bucket band to the key.
  // -------------------------------------------------------------------
  def asofJoin(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    val joined = p.join(c,
      col("p_user") === col("c_user") && col("click_ts") < col("purchase_ts"),
      "left")
    val w = Window.partitionBy("purchase_id")
      .orderBy(col("click_ts").desc_nulls_last, col("click_id").desc_nulls_last)
    joined.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("purchase_id"), col("p_user").as("user_id"),
        col("purchase_ts"), col("click_id"), col("click_ts"))
      .orderBy("purchase_id")
  }

  val asofJoinSql: String =
    """SELECT purchase_id, user_id, purchase_ts, click_id, click_ts FROM (
      |  SELECT p.event_id AS purchase_id, p.user_id AS user_id,
      |    p.ts AS purchase_ts, c.event_id AS click_id, c.ts AS click_ts,
      |    row_number() OVER (PARTITION BY p.event_id
      |      ORDER BY c.ts DESC NULLS LAST, c.event_id DESC NULLS LAST) AS rn
      |  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |  LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |    ON c.user_id = p.user_id AND c.ts < p.ts)
      |WHERE rn = 1 ORDER BY purchase_id""".stripMargin

  // -------------------------------------------------------------------
  // B21: set operations over user-id sets from different event slices.
  // Implemented as ONE scan + one aggregation: per-user membership flags
  // via conditional max, then the three set expressions as a tag array
  // exploded into rows — semantically identical to
  // intersect/except/union but 6× less I/O than the naive 6-scan plan
  // (the shape that matters at 100 TB).
  // -------------------------------------------------------------------
  def setOps(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    def has(t: String) =
      max(when(col("event_type") === t, 1).otherwise(0))
    val flags = ev.groupBy("user_id").agg(
      has("click").as("has_click"), has("purchase").as("has_purchase"),
      has("signup").as("has_signup"), has("error").as("has_error"))
    val tags = array(
      when(col("has_click") === 1 && col("has_purchase") === 1,
        lit("click_and_purchase")),
      when(col("has_click") === 1 && col("has_purchase") === 0,
        lit("click_only")),
      when(col("has_signup") === 1 || col("has_error") === 1,
        lit("signup_or_error")))
    flags
      .withColumn("tags", tags)
      .select(explode(expr("filter(tags, x -> x IS NOT NULL)")).as("tag"),
        col("user_id"))
      .orderBy("tag", "user_id")
  }

  val setOpsSql: String =
    """SELECT 'click_and_purchase' AS tag, user_id FROM (
      |  SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
      |  INTERSECT SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
      |UNION ALL
      |SELECT 'click_only' AS tag, user_id FROM (
      |  SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
      |  EXCEPT SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
      |UNION ALL
      |SELECT 'signup_or_error' AS tag, user_id FROM (
      |  SELECT DISTINCT user_id FROM events WHERE event_type = 'signup'
      |  UNION SELECT DISTINCT user_id FROM events WHERE event_type = 'error')
      |ORDER BY tag, user_id""".stripMargin

  // -------------------------------------------------------------------
  // B22: string function battery over customer names.
  // -------------------------------------------------------------------
  def stringFns(s: SparkSession, d: String): DataFrame =
    customer(s, d).select(
      col("c_custkey"),
      upper(col("c_name")).as("uname"),
      length(col("c_name")).as("name_len"),
      substring(col("c_name"), 1, 8).as("prefix"),
      regexp_extract(col("c_name"), "([0-9]+)", 1).as("digits"),
      concat_ws("-", col("c_mktsegment"), col("c_nationkey").cast("string")).as("seg_key"),
      split(col("c_name"), "#").getItem(1).as("id_part")
    ).orderBy("c_custkey")

  val stringFnsSql: String =
    """SELECT c_custkey, upper(c_name) AS uname,
      |  CAST(length(c_name) AS INT) AS name_len,
      |  substr(c_name, 1, 8) AS prefix,
      |  regexp_extract(c_name, '([0-9]+)', 1) AS digits,
      |  c_mktsegment || '-' || CAST(c_nationkey AS VARCHAR) AS seg_key,
      |  split_part(c_name, '#', 2) AS id_part
      |FROM customer ORDER BY c_custkey""".stripMargin

  // -------------------------------------------------------------------
  // B23: date/time functions — extraction, truncation, interval math.
  // dayofweek normalized to DuckDB's 0=Sunday convention.
  // -------------------------------------------------------------------
  def dateTimeFns(s: SparkSession, d: String): DataFrame =
    orders(s, d).select(
      col("o_orderkey"),
      year(col("o_orderdate")).as("y"),
      month(col("o_orderdate")).as("m"),
      dayofmonth(col("o_orderdate")).as("dom"),
      (dayofweek(col("o_orderdate")) - 1).as("dow"),
      date_trunc("month", col("o_orderdate")).as("month_start"),
      (col("o_orderdate") + expr("INTERVAL 30 DAYS")).as("due_date"),
      date_format(col("o_orderdate"), "yyyy-MM").as("ym")
    ).orderBy("o_orderkey")

  val dateTimeFnsSql: String =
    """SELECT o_orderkey,
      |  CAST(year(o_orderdate) AS INT) AS y,
      |  CAST(month(o_orderdate) AS INT) AS m,
      |  CAST(day(o_orderdate) AS INT) AS dom,
      |  CAST(dayofweek(o_orderdate) AS INT) AS dow,
      |  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
      |  o_orderdate + INTERVAL 30 DAY AS due_date,
      |  strftime(o_orderdate, '%Y-%m') AS ym
      |FROM orders ORDER BY o_orderkey""".stripMargin

  // -------------------------------------------------------------------
  // B24: u64-scale exact integer arithmetic — the balance-sum shape from
  // the reference's account fields (§1.2), in bigint cents.
  // -------------------------------------------------------------------
  def decimalMath(s: SparkSession, d: String): DataFrame = {
    val cents = round(col("l_extendedprice") * 100).cast("long")
    lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(sum(cents).as("sum_cents"), max(cents).as("max_cents"),
        min(cents).as("min_cents"), count(lit(1)).as("n"))
      .orderBy("l_returnflag")
  }

  val decimalMathSql: String =
    """SELECT l_returnflag,
      |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
      |  max(CAST(round(l_extendedprice * 100) AS BIGINT)) AS max_cents,
      |  min(CAST(round(l_extendedprice * 100) AS BIGINT)) AS min_cents,
      |  count(*) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // -------------------------------------------------------------------
  // B25: array functions over the embeddings table (no float
  // arithmetic — element access and ordering compare exactly).
  // -------------------------------------------------------------------
  def arrayFns(s: SparkSession, d: String): DataFrame =
    embeddings(s, d).select(
      col("vec_id"),
      size(col("embedding")).as("dim"),
      element_at(col("embedding"), 1).as("first_val"),
      array_min(col("embedding")).as("min_val"),
      array_max(col("embedding")).as("max_val"),
      col("label")
    ).orderBy("vec_id")

  val arrayFnsSql: String =
    """SELECT vec_id, CAST(len(embedding) AS INT) AS dim,
      |  embedding[1] AS first_val,
      |  list_min(embedding) AS min_val,
      |  list_max(embedding) AS max_val,
      |  label
      |FROM embeddings ORDER BY vec_id""".stripMargin

  // -------------------------------------------------------------------
  // B26: map functions — the header map from the CDC envelope (A11),
  // built then queried; the oracle computes the same scalars directly.
  // -------------------------------------------------------------------
  def mapFns(s: SparkSession, d: String): DataFrame = {
    val headers = map(
      lit("event_type"), col("event_type"),
      lit("ledger"), col("user_id").cast("string"),
      lit("k"), coalesce(get_json_object(col("props"), "$.k"), lit("")))
    events(s, d)
      .withColumn("headers", headers)
      .select(
        col("event_id"),
        element_at(col("headers"), "event_type").as("h_type"),
        element_at(col("headers"), "ledger").as("h_ledger"),
        element_at(col("headers"), "k").as("h_k"),
        size(col("headers")).as("n_headers"),
        concat_ws(",", map_keys(col("headers"))).as("key_list"))
      .orderBy("event_id")
  }

  val mapFnsSql: String =
    """SELECT event_id,
      |  event_type AS h_type,
      |  CAST(user_id AS VARCHAR) AS h_ledger,
      |  coalesce(json_extract_string(props, '$.k'), '') AS h_k,
      |  3 AS n_headers,
      |  'event_type,ledger,k' AS key_list
      |FROM events ORDER BY event_id""".stripMargin

  // -------------------------------------------------------------------
  // B27: JSON functions — parse events.props, extract + aggregate.
  // -------------------------------------------------------------------
  def jsonFns(s: SparkSession, d: String): DataFrame = {
    val k = get_json_object(col("props"), "$.k").cast("int")
    events(s, d)
      .withColumn("k", k)
      .groupBy((col("k") % 10).as("k_mod"))
      .agg(count(lit(1)).as("n"), min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
      .orderBy("k_mod")
  }

  val jsonFnsSql: String =
    """SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_mod,
      |  count(*) AS n,
      |  min(CAST(json_extract_string(props, '$.k') AS INT)) AS min_k,
      |  max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
      |FROM events GROUP BY 1 ORDER BY k_mod""".stripMargin

  // -------------------------------------------------------------------
  // B12: exact distinct counts (approx variant lives in rows-only
  // queries — approximation has no deterministic oracle).
  // -------------------------------------------------------------------
  def distinctCounts(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy("event_type")

  val distinctCountsSql: String =
    """SELECT event_type, count(DISTINCT user_id) AS n_users,
      |  count(*) AS n_events
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // -------------------------------------------------------------------
  // B16 (sliding): 1-hour windows sliding every 30 minutes via the
  // native `window()` function — each event lands in exactly 2 windows;
  // the oracle reconstructs them with an offset unnest.
  // -------------------------------------------------------------------
  def slidingWindow(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("sum_cents"))
      .select(col("window.start").as("w_start"), col("n"), col("sum_cents"))
      .orderBy("w_start")

  val slidingWindowSql: String =
    """SELECT time_bucket(INTERVAL '30 minutes', ts) - off * INTERVAL '30 minutes' AS w_start,
      |  count(*) AS n,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM events, unnest([0, 1]) AS t(off)
      |GROUP BY 1 ORDER BY w_start""".stripMargin

  // -------------------------------------------------------------------
  // B13 (cube): all 4 grouping sets over (returnflag, linestatus).
  // -------------------------------------------------------------------
  def cubeAgg(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .cube("l_returnflag", "l_linestatus")
      .agg(dsum(col("l_extendedprice")).as("sum_price"), count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("sum_price"), col("n"))
      .orderBy("returnflag", "linestatus")

  val cubeAggSql: String =
    """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
      |  coalesce(l_linestatus, 'ALL') AS linestatus,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |  count(*) AS n
      |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY returnflag, linestatus""".stripMargin

  // -------------------------------------------------------------------
  // B12 (approx): HyperLogLog distinct counts. An approximation has no
  // deterministic oracle, so the query emits the exact count plus a
  // tolerance PROPERTY (|approx-exact|/exact <= 10%, i.e. 5x the
  // configured 2% rsd — rsd is a standard deviation, not a bound, so
  // the margin is deliberately generous to keep the gate stable at
  // untested scale factors) — the oracle computes the exact count and
  // TRUE, making the HLL accuracy claim itself hash-checkable.
  // -------------------------------------------------------------------
  def approxDistinct(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("exact_users"),
        approx_count_distinct(col("user_id"), 0.02).as("approx"),
        count(lit(1)).as("n_events"))
      .select(col("event_type"), col("exact_users"), col("n_events"),
        (abs(col("approx") - col("exact_users")) <=
          col("exact_users").cast("double") * 0.10).as("within_tol"))
      .orderBy("event_type")

  val approxDistinctSql: String =
    """SELECT event_type,
      |  CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
      |  count(*) AS n_events, TRUE AS within_tol
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // -------------------------------------------------------------------
  // B13+: explicit GROUPING SETS — aggregation lattices rollup/cube
  // cannot express (here: by (flag,status) AND by (status) alone, no
  // grand total). One Expand + one shuffle feeds the same partial-agg
  // pipeline; no extra scan per set.
  // -------------------------------------------------------------------
  def groupingSetsAgg(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_linestatus"))),
        col("l_returnflag"), col("l_linestatus"))
      .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("sum_qty"), col("n"))
      .orderBy("returnflag", "linestatus")

  val groupingSetsAggSql: String =
    """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
      |  coalesce(l_linestatus, 'ALL') AS linestatus,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  count(*) AS n
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus))
      |ORDER BY returnflag, linestatus""".stripMargin

  // -------------------------------------------------------------------
  // B12+: approximate percentiles with an oracle-checkable accuracy
  // claim (same pattern as rel_approx_distinct): the approximate p50/p90
  // must land inside the exact [p45,p55]/[p85,p95] rank windows — a
  // RANK-error bound, which is what percentile sketches actually
  // guarantee. The oracle emits the exact percentiles and TRUE, so a
  // sketch drifting out of tolerance at any scale fails the hash gate.
  // -------------------------------------------------------------------
  def approxQuantile(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy("event_type")
      .agg(
        round(expr("percentile(value, 0.5)"), 6).as("p50"),
        round(expr("percentile(value, 0.9)"), 6).as("p90"),
        count(lit(1)).as("n"),
        expr("approx_percentile(value, 0.5, 1000)").as("ap50"),
        expr("approx_percentile(value, 0.9, 1000)").as("ap90"),
        expr("percentile(value, 0.45)").as("lo50"),
        expr("percentile(value, 0.55)").as("hi50"),
        expr("percentile(value, 0.85)").as("lo90"),
        expr("percentile(value, 0.95)").as("hi90"))
      .select(col("event_type"), col("p50"), col("p90"), col("n"),
        (col("ap50") >= col("lo50") && col("ap50") <= col("hi50") &&
          col("ap90") >= col("lo90") && col("ap90") <= col("hi90"))
          .as("within_tol"))
      .orderBy("event_type")

  val approxQuantileSql: String =
    """SELECT event_type,
      |  CASE WHEN round(quantile_cont(value, 0.5), 6) = 0 THEN 0.0 ELSE round(quantile_cont(value, 0.5), 6) END AS p50,
      |  CASE WHEN round(quantile_cont(value, 0.9), 6) = 0 THEN 0.0 ELSE round(quantile_cont(value, 0.9), 6) END AS p90,
      |  count(*) AS n, TRUE AS within_tol
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // -------------------------------------------------------------------
  // B15+: time-RANGE window frame — per-user rolling 10-minute event
  // count and spend, the real-time-feature shape (RANGE frames bound by
  // event TIME, not row position, so bursts widen the frame). Ordering
  // key is integer epoch-micros on both engines; sums stay in integer
  // cents, so peers-inclusive RANGE semantics hash-match exactly.
  // -------------------------------------------------------------------
  def rollingRange(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("tus"))
      .rangeBetween(-600000000L, 0L)
    events(s, d)
      .withColumn("tus", unix_micros(col("ts")))
      .withColumn("cents", round(col("value") * 100).cast("long"))
      .select(col("user_id"), col("event_id"), col("tus"), col("cents"),
        count(lit(1)).over(w).as("n_10m"),
        sum(col("cents")).over(w).as("cents_10m"))
      .orderBy("user_id", "tus", "event_id")
  }

  val rollingRangeSql: String =
    """SELECT user_id, event_id, tus, cents,
      |  count(*) OVER w AS n_10m,
      |  CAST(sum(cents) OVER w AS BIGINT) AS cents_10m
      |FROM (SELECT user_id, event_id, epoch_us(ts) AS tus,
      |        CAST(round(value * 100) AS BIGINT) AS cents FROM events)
      |WINDOW w AS (PARTITION BY user_id ORDER BY tus
      |  RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, tus, event_id""".stripMargin

  // -------------------------------------------------------------------
  // Charter: per-entity feature materialization — the feature-store
  // query an ML pipeline runs per training cycle. One shuffle on the
  // entity key produces conditional counts per event type, distinct
  // active days, activity span, and exact integer-cent spend features;
  // ratio features are integer-division doubles (bit-exact on both
  // engines). At 100 TB this is the canonical one-pass wide aggregate:
  // every feature is a mergeable partial-agg, no joins, no windows.
  // -------------------------------------------------------------------
  def userFeatures(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .withColumn("cents", round(col("value") * 100).cast("long"))
      .withColumn("day", to_date(col("ts")))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("n_purchase"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("n_click"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L))
          .as("n_error"),
        countDistinct(col("day")).as("days_active"),
        min(col("ts")).as("first_ts"),
        max(col("ts")).as("last_ts"),
        sum(when(col("event_type") === "purchase", col("cents"))
          .otherwise(0L)).as("purchase_cents"))
      .select(col("user_id"), col("n_events"), col("n_purchase"),
        col("n_click"), col("n_error"), col("days_active"),
        col("first_ts"), col("last_ts"), col("purchase_cents"),
        (col("n_purchase").cast("double") / col("n_events"))
          .as("purchase_ratio"),
        (col("purchase_cents").cast("double") / col("days_active"))
          .as("cents_per_day"))
      .orderBy("user_id")

  val userFeaturesSql: String =
    """SELECT user_id, count(*) AS n_events,
      |  count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
      |  count(*) FILTER (WHERE event_type = 'click') AS n_click,
      |  count(*) FILTER (WHERE event_type = 'error') AS n_error,
      |  count(DISTINCT CAST(ts AS DATE)) AS days_active,
      |  min(ts) AS first_ts, max(ts) AS last_ts,
      |  CAST(coalesce(sum(CAST(round(value * 100) AS BIGINT))
      |    FILTER (WHERE event_type = 'purchase'), 0) AS BIGINT) AS purchase_cents,
      |  CAST(count(*) FILTER (WHERE event_type = 'purchase') AS DOUBLE)
      |    / count(*) AS purchase_ratio,
      |  CAST(coalesce(sum(CAST(round(value * 100) AS BIGINT))
      |    FILTER (WHERE event_type = 'purchase'), 0) AS DOUBLE)
      |    / count(DISTINCT CAST(ts AS DATE)) AS cents_per_day
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  // -------------------------------------------------------------------
  // B17b: gap-based sessionization via lag + running sum — the THIRD
  // form of session semantics in the engine (rel_session_window uses
  // the session_window built-in; SessionizeStream is the stateful
  // streaming machine): new-session flag where the gap to the previous
  // event exceeds 30 minutes, session id = running flag sum, then one
  // aggregate per (user, session). Same 30-minute gap and strict->
  // boundary as the streaming state machine. Integer epoch-micros
  // everywhere; both windows and the aggregate share one user-keyed
  // shuffle.
  // -------------------------------------------------------------------
  def sessionize(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    val gap = 30L * 60 * 1000000
    events(s, d)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("tus"))
      .withColumn("new_sess",
        when(col("tus") - lag(col("tus"), 1).over(w) > gap ||
          lag(col("tus"), 1).over(w).isNull, 1L).otherwise(0L))
      .withColumn("sess", sum(col("new_sess"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "sess")
      .agg(min(col("tus")).as("sess_start"), max(col("tus")).as("sess_end"),
        count(lit(1)).as("n_events"))
      .orderBy("user_id", "sess")
  }

  val sessionizeSql: String =
    """SELECT user_id, sess, min(tus) AS sess_start, max(tus) AS sess_end,
      |  count(*) AS n_events
      |FROM (
      |  SELECT user_id, event_id, tus,
      |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY tus, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess
      |  FROM (
      |    SELECT user_id, event_id, tus,
      |      CASE WHEN tus - lag(tus, 1) OVER (PARTITION BY user_id ORDER BY tus, event_id)
      |             > 1800000000
      |           OR lag(tus, 1) OVER (PARTITION BY user_id ORDER BY tus, event_id) IS NULL
      |           THEN 1 ELSE 0 END AS new_sess
      |    FROM (SELECT user_id, event_id, epoch_us(ts) AS tus FROM events)))
      |GROUP BY user_id, sess ORDER BY user_id, sess""".stripMargin

  // -------------------------------------------------------------------
  // Charter: period-over-period change detection — the drift report a
  // pipeline runs between ingestion windows (here: first vs second half
  // of the corpus month, split on the raw nanos column so the predicate
  // prunes row groups). One scan, conditional partial aggregates, and
  // exact integer-ratio change percentages; a 100 TB deployment swaps
  // the CASE split for partition pruning on the date column.
  // -------------------------------------------------------------------
  def changeDetect(s: SparkSession, d: String): DataFrame = {
    val mid = lit(1705276800000000L) // 2024-01-15T00:00:00Z micros
    val inA = unix_micros(col("ts")) < mid
    events(s, d)
      .groupBy("event_type")
      .agg(
        sum(when(inA, 1L).otherwise(0L)).as("n_before"),
        sum(when(!inA, 1L).otherwise(0L)).as("n_after"),
        sum(when(inA, round(col("value") * 100).cast("long"))
          .otherwise(0L)).as("cents_before"),
        sum(when(!inA, round(col("value") * 100).cast("long"))
          .otherwise(0L)).as("cents_after"))
      .select(col("event_type"), col("n_before"), col("n_after"),
        ((col("n_after") - col("n_before")).cast("double") / col("n_before"))
          .as("count_change"),
        col("cents_before"), col("cents_after"),
        ((col("cents_after") - col("cents_before")).cast("double") /
          col("cents_before")).as("cents_change"))
      .orderBy("event_type")
  }

  val changeDetectSql: String =
    """SELECT event_type,
      |  count(*) FILTER (WHERE epoch_us(ts) < 1705276800000000) AS n_before,
      |  count(*) FILTER (WHERE epoch_us(ts) >= 1705276800000000) AS n_after,
      |  CAST(count(*) FILTER (WHERE epoch_us(ts) >= 1705276800000000)
      |     - count(*) FILTER (WHERE epoch_us(ts) < 1705276800000000) AS DOUBLE)
      |    / count(*) FILTER (WHERE epoch_us(ts) < 1705276800000000) AS count_change,
      |  CAST(coalesce(sum(CAST(round(value * 100) AS BIGINT))
      |    FILTER (WHERE epoch_us(ts) < 1705276800000000), 0) AS BIGINT) AS cents_before,
      |  CAST(coalesce(sum(CAST(round(value * 100) AS BIGINT))
      |    FILTER (WHERE epoch_us(ts) >= 1705276800000000), 0) AS BIGINT) AS cents_after,
      |  CAST(coalesce(sum(CAST(round(value * 100) AS BIGINT))
      |         FILTER (WHERE epoch_us(ts) >= 1705276800000000), 0)
      |     - coalesce(sum(CAST(round(value * 100) AS BIGINT))
      |         FILTER (WHERE epoch_us(ts) < 1705276800000000), 0) AS DOUBLE)
      |    / coalesce(sum(CAST(round(value * 100) AS BIGINT))
      |        FILTER (WHERE epoch_us(ts) < 1705276800000000), 0) AS cents_change
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // -------------------------------------------------------------------
  // Charter: first-order Markov transition matrix over per-user event
  // sequences — the behavioral-model fit (and anomaly baseline: a
  // transition with near-zero probability is a bot/fraud signal) every
  // event pipeline derives. Sequence order is (event time, event_id);
  // the lag window shuffles once on user_id, then the transition counts
  // aggregate onto the tiny (prev, next) domain with map-side partials,
  // and the row-normalized probabilities ride a window over that same
  // ≤|types|² relation — no second pass over events. Probabilities are
  // exact-integer ratios rounded at the end.
  // -------------------------------------------------------------------
  def markovTransitions(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("tus"), col("event_id"))
    val trans = events(s, d)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("tus"), col("event_type"))
      .select(col("event_type").as("next_type"),
        lag(col("event_type"), 1).over(w).as("prev_type"))
      .filter(col("prev_type").isNotNull)
      .groupBy("prev_type", "next_type")
      .agg(count(lit(1)).as("n"))
    trans
      .select(col("prev_type"), col("next_type"), col("n"),
        round(col("n").cast("double") /
          sum(col("n")).over(Window.partitionBy("prev_type")).cast("double"), 6)
          .as("prob"))
      .orderBy("prev_type", "next_type")
  }

  val markovTransitionsSql: String =
    """WITH seq AS (
      |  SELECT event_type AS next_type,
      |    lag(event_type) OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts), event_id) AS prev_type
      |  FROM events),
      |tr AS (
      |  SELECT prev_type, next_type, count(*) AS n
      |  FROM seq WHERE prev_type IS NOT NULL GROUP BY prev_type, next_type)
      |SELECT prev_type, next_type, n,
      |  CASE WHEN round(CAST(n AS DOUBLE) /
      |    CAST(sum(n) OVER (PARTITION BY prev_type) AS DOUBLE), 6) = 0 THEN 0.0 ELSE round(CAST(n AS DOUBLE) /
      |    CAST(sum(n) OVER (PARTITION BY prev_type) AS DOUBLE), 6) END AS prob
      |FROM tr ORDER BY prev_type, next_type""".stripMargin

  // -------------------------------------------------------------------
  // Charter: last-touch conversion attribution — the marketing-
  // analytics join every event pipeline ships: each purchase credits
  // the user's most recent preceding touch event (click/view/signup)
  // within a 7-day lookback, else 'unattributed'. One user_id-keyed
  // window pass (IGNORE NULLS last_value carries the running last
  // touch — no self-join, no per-conversion scan-back), then a
  // |channels|-row aggregate with exact BIGINT cent revenue. The
  // touch timestamp and type ride the same window frame, so they
  // always come from the same touch row.
  // -------------------------------------------------------------------
  private val AttributionLookbackUs = 7L * 86400000000L

  def attribution(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("tus"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val isTouch = col("event_type").isin("click", "view", "signup")
    val ev = events(s, d)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("tus"), col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
    ev
      .withColumn("lt_tus",
        last(when(isTouch, col("tus")), ignoreNulls = true).over(w))
      .withColumn("lt_type",
        last(when(isTouch, col("event_type")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(
        when(col("lt_tus").isNull ||
          col("tus") - col("lt_tus") > AttributionLookbackUs,
          lit("unattributed")).otherwise(col("lt_type")).as("channel"),
        col("cents"))
      .groupBy("channel")
      .agg(count(lit(1)).as("n_conversions"),
        sum(col("cents")).as("revenue_cents"))
      .orderBy("channel")
  }

  val attributionSql: String =
    s"""WITH ev AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS tus, event_type,
       |    CAST(round(value * 100) AS BIGINT) AS cents
       |  FROM events),
       |lt AS (
       |  SELECT event_type, tus, cents,
       |    last_value(CASE WHEN event_type IN ('click', 'view', 'signup')
       |               THEN tus END IGNORE NULLS)
       |      OVER (PARTITION BY user_id ORDER BY tus, event_id
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |      AS lt_tus,
       |    last_value(CASE WHEN event_type IN ('click', 'view', 'signup')
       |               THEN event_type END IGNORE NULLS)
       |      OVER (PARTITION BY user_id ORDER BY tus, event_id
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |      AS lt_type
       |  FROM ev)
       |SELECT CASE WHEN lt_tus IS NULL
       |              OR tus - lt_tus > $AttributionLookbackUs
       |            THEN 'unattributed' ELSE lt_type END AS channel,
       |  count(*) AS n_conversions,
       |  CAST(sum(cents) AS BIGINT) AS revenue_cents
       |FROM lt WHERE event_type = 'purchase'
       |GROUP BY channel ORDER BY channel""".stripMargin

  // -------------------------------------------------------------------
  // Charter: time-series PAA profile — piecewise aggregate
  // approximation (Keogh et al.), the standard first compression step
  // of scalable time-series similarity search: each user's activity
  // span collapses to 8 fixed segments of exact cent sums
  // (missing segments are explicit zeros via a user×segment grid).
  // One shuffle on (user, seg) with map-side partials; the grid comes
  // from a distinct-user pass + an 8-element sequence explode, never a
  // per-event fan-out. Every value is BIGINT cents — no float
  // summation, deterministic across engines and partitionings.
  // -------------------------------------------------------------------
  private val TsSegs = 8

  def tsPaa(s: SparkSession, d: String): DataFrame =
    tsPaaRelation(s, d).orderBy("user_id", "seg")

  val tsPaaSql: String =
    s"""WITH raw AS (
       |  SELECT user_id, epoch_us(ts) AS tus,
       |    CAST(round(value * 100) AS BIGINT) AS cents
       |  FROM events),
       |bounds AS (
       |  SELECT user_id, min(tus) AS t0, max(tus) AS t1
       |  FROM raw GROUP BY user_id),
       |ev AS (
       |  SELECT r.user_id AS user_id,
       |    ((r.tus - b.t0) * $TsSegs) // (b.t1 - b.t0 + 1) AS seg, r.cents AS cents
       |  FROM raw r JOIN bounds b ON b.user_id = r.user_id),
       |agg AS (
       |  SELECT user_id, seg, CAST(sum(cents) AS BIGINT) AS paa,
       |    count(*) AS n_events
       |  FROM ev GROUP BY user_id, seg),
       |grid AS (
       |  SELECT user_id, seg FROM (SELECT DISTINCT user_id FROM ev),
       |    unnest(range(0, $TsSegs)) AS t(seg))
       |SELECT g.user_id AS user_id, g.seg AS seg,
       |  coalesce(a.paa, 0) AS paa,
       |  coalesce(a.n_events, 0) AS n_events
       |FROM grid g LEFT JOIN agg a
       |  ON a.user_id = g.user_id AND a.seg = g.seg
       |ORDER BY g.user_id, g.seg""".stripMargin

  // -------------------------------------------------------------------
  // Charter: time-series shape matching — distributed similarity
  // search in the SAX tradition (symbolize, block on the word, verify
  // candidates exactly), with a rank-quartile alphabet instead of
  // z-normalized breakpoints so the symbolization stays in exact
  // integer math: each user's 8 PAA segments rank within the user
  // (ties by segment index) and coarsen to ceil(rank/D) — the divisor
  // D IS DERIVED FROM count(*) exactly like the banded LSH derives
  // its planes: <100 users → D=8 (one word: tiny corpora just verify
  // all pairs), <1000 → D=4 (70 words), <100k → D=2 (2520 words),
  // else D=1 (the full rank permutation, 40320 words), so the word
  // space tracks the corpus and blocks stay a bounded handful of
  // users at every scale — BlockingDiag's ts_shape family measures
  // the block distribution per decade. The user count is bounded
  // driver state (one long, the PageRank-n discipline), mirrored as a
  // scalar subquery in the oracle. Users
  // sharing a word become candidate pairs (the same bucket-join-
  // never-all-pairs shape as the text dedup family, with the same
  // ≤64 degenerate-block cap), verified by exact L1 distance in cents.
  // Top-20 closest same-shape pairs. Shuffles carry (user, word) and
  // 8-long arrays only.
  // -------------------------------------------------------------------
  private val TsBlockCap = 64

  /** (user_id, word, vec): the symbolized shape relation — factored
    * out so BlockingDiag can measure the word key's block-size
    * distribution across decades without running the pair join. */
  private[graft] def tsShaped(s: SparkSession, d: String): DataFrame = {
    val paaRel = tsPaaRelation(s, d)
    val nUsers = paaRel.select("user_id").distinct().count()
    val dv = if (nUsers < 100) 8 else if (nUsers < 1000) 4
      else if (nUsers < 100000) 2 else 1
    val wRank = Window.partitionBy("user_id")
      .orderBy(col("paa").desc, col("seg"))
    paaRel
      .withColumn("rk", row_number().over(wRank).cast("long"))
      .groupBy("user_id")
      .agg(
        expr(s"array_join(transform(sort_array(collect_list(struct(seg, rk))), x -> CAST((x.rk + ${dv - 1}) div $dv AS STRING)), '')")
          .as("word"),
        expr("transform(sort_array(collect_list(struct(seg, paa))), x -> x.paa)")
          .as("vec"))
  }

  def tsShapeMatch(s: SparkSession, d: String): DataFrame = {
    val shaped = tsShaped(s, d)
    graft.Stage.fanout(shaped) { sh =>
      // cap activation is observable, not silent (the TextQueries
      // cappedBlocks discipline): a dropped block means real users got
      // no pairs and the alphabet/length knob needs retuning. The
      // count rides the block-size aggregate as an Observation (the
      // cappedBlocks shape) instead of the previous eager
      // `sizes.agg(...).head()` — that head() was a whole extra
      // driver-blocking job re-aggregating the staged relation before
      // the pipeline proper could start.
      val obs = new org.apache.spark.sql.Observation()
      val sizes = sh.groupBy("word").agg(count(lit(1)).as("bn"))
        .observe(obs,
          coalesce(sum(when(col("bn") > TsBlockCap, 1L).otherwise(0L)),
            lit(0L)).as("dropped_blocks"))
      org.apache.spark.sql.graftbridge.DatasetBridge.onObserved(obs) { m =>
        val dropped = m.get("dropped_blocks")
          .collect { case l: Long => l }.getOrElse(0L)
        if (dropped > 0) System.err.println(
          s"[graft] rel_ts_shape_match: degenerate-block cap ($TsBlockCap) " +
            s"dropped $dropped block(s)")
      }
      val ok = sizes.filter(col("bn") <= TsBlockCap)
        .select(col("word").as("wok"))
      val blocked = sh.join(ok, col("word") === col("wok"))
      val l1 = (0 until TsSegs).map(i =>
        abs(element_at(col("a.vec"), i + 1) - element_at(col("b.vec"), i + 1)))
        .reduce(_ + _)
      blocked.as("a").join(blocked.as("b"),
          col("a.word") === col("b.word") &&
            col("a.user_id") < col("b.user_id"))
        .select(col("a.user_id").as("user_a"),
          col("b.user_id").as("user_b"),
          col("a.word").as("word"),
          l1.as("l1_cents"))
    }.orderBy(col("l1_cents"), col("user_a"), col("user_b")).limit(20)
  }

  /** The PAA relation without the presentation ORDER BY — shared by
    * [[tsPaa]]'s registered form and [[tsShapeMatch]]'s pipeline.
    *
    * The analysis window is EACH USER'S OWN activity span (min..max of
    * their event times), not a pinned calendar month or a global
    * corpus window: the corpus history grows with scale (a 10× corpus
    * is a 10×-longer history with users active in disjoint eras), and
    * any shared window squeezes an era's users into one segment,
    * silently degenerating the segmentation — measured: the global-
    * window form dropped 9 whole-era blocks at sf1. Per-user windows
    * make the shape time-shift-invariant (the behavioral semantics a
    * spend-profile wants) and cost one user-keyed bounds aggregate
    * that co-partitions with the PAA aggregate that follows.
    * `(t1 - t0 + 1)` as the divisor keeps seg in [0, 7] with no
    * clamping — all integer math, exact in both engines.
    */
  private def tsPaaRelation(s: SparkSession, d: String): DataFrame = {
    val raw = events(s, d)
      .select(col("user_id"), unix_micros(col("ts")).as("tus"),
        round(col("value") * 100).cast("long").as("cents"))
    val bounds = raw.groupBy("user_id")
      .agg(min(col("tus")).as("t0"), max(col("tus")).as("t1"))
    val ev = raw.join(bounds, "user_id")
      .select(col("user_id"),
        expr(s"((tus - t0) * $TsSegs) div (t1 - t0 + 1)").as("seg"),
        col("cents"))
    val agg = ev.groupBy("user_id", "seg")
      .agg(sum(col("cents")).as("paa"), count(lit(1)).as("n_events"))
    ev.select("user_id").distinct()
      .select(col("user_id"),
        explode(expr(s"sequence(CAST(0 AS BIGINT), CAST(${TsSegs - 1} AS BIGINT))"))
          .as("seg"))
      .join(agg, Seq("user_id", "seg"), "left")
      .select(col("user_id"), col("seg"),
        coalesce(col("paa"), lit(0L)).as("paa"),
        coalesce(col("n_events"), lit(0L)).as("n_events"))
  }

  val tsShapeMatchSql: String = {
    val l1 = (1 to TsSegs).map(i => s"abs(a.vec[$i] - b.vec[$i])")
      .mkString(" + ")
    s"""WITH raw AS (
       |  SELECT user_id, epoch_us(ts) AS tus,
       |    CAST(round(value * 100) AS BIGINT) AS cents
       |  FROM events),
       |bounds AS (
       |  SELECT user_id, min(tus) AS t0, max(tus) AS t1
       |  FROM raw GROUP BY user_id),
       |ev AS (
       |  SELECT r.user_id AS user_id,
       |    ((r.tus - b.t0) * $TsSegs) // (b.t1 - b.t0 + 1) AS seg, r.cents AS cents
       |  FROM raw r JOIN bounds b ON b.user_id = r.user_id),
       |agg AS (
       |  SELECT user_id, seg, CAST(sum(cents) AS BIGINT) AS paa
       |  FROM ev GROUP BY user_id, seg),
       |paa AS (
       |  SELECT g.user_id AS user_id, g.seg AS seg, coalesce(a.paa, 0) AS paa
       |  FROM (SELECT user_id, seg
       |        FROM (SELECT DISTINCT user_id FROM ev),
       |          unnest(range(0, $TsSegs)) AS t(seg)) g
       |  LEFT JOIN agg a ON a.user_id = g.user_id AND a.seg = g.seg),
       |rk AS (
       |  SELECT user_id, seg, paa,
       |    row_number() OVER (PARTITION BY user_id
       |      ORDER BY paa DESC, seg) AS rk
       |  FROM paa),
       |du AS (
       |  SELECT CASE WHEN count(DISTINCT user_id) < 100 THEN 8
       |              WHEN count(DISTINCT user_id) < 1000 THEN 4
       |              WHEN count(DISTINCT user_id) < 100000 THEN 2
       |              ELSE 1 END AS dv
       |  FROM raw),
       |shaped AS (
       |  SELECT user_id,
       |    string_agg(CAST((rk + dv - 1) // dv AS VARCHAR), '' ORDER BY seg)
       |      AS word,
       |    list(paa ORDER BY seg) AS vec
       |  FROM rk CROSS JOIN du GROUP BY user_id, dv),
       |ok AS (
       |  SELECT word AS wok FROM shaped GROUP BY word
       |  HAVING count(*) <= $TsBlockCap),
       |blocked AS (SELECT s.* FROM shaped s JOIN ok ON s.word = ok.wok)
       |SELECT a.user_id AS user_a, b.user_id AS user_b, a.word AS word,
       |  CAST($l1 AS BIGINT) AS l1_cents
       |FROM blocked a JOIN blocked b
       |  ON a.word = b.word AND a.user_id < b.user_id
       |ORDER BY l1_cents, user_a, user_b LIMIT 20""".stripMargin
  }

  // -------------------------------------------------------------------
  // Charter: iterative graph analytics — 3 fixed PageRank rounds over
  // the customer↔supplier trading graph (distinct pairs from
  // lineitem⋈orders, symmetrized), the Pregel-in-DataFrames shape:
  // each round is one edges⋈ranks join + a partial-aggregated inflow
  // sum, with the edge relation staged ONCE and reused by every round
  // — exactly how a 100 TB graph iterates (GraphX/Connected-Components
  // style), no driver-side adjacency. All rank arithmetic is exact
  // BIGINT in 1e-12 units with floor division — deterministic across
  // partitionings and engines, no float summation anywhere. The
  // damping teleport term and the 0.85 scaling mirror the oracle
  // operation-for-operation.
  // -------------------------------------------------------------------
  private val PrUnit = 1000000000000L // rank fixed-point scale (1e-12)
  private val PrRounds = 3

  def pageRank(s: SparkSession, d: String): DataFrame = {
    val ed = lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
      .join(orders(s, d).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("c"),
        (col("l_suppkey") * 2 + 1).as("sp"))
      .distinct()
    val und = ed.select(col("c").as("src"), col("sp").as("dst"))
      .unionByName(ed.select(col("sp").as("src"), col("c").as("dst")))
    // Pin the iterated relation's partitioning ONCE (guide §2.4, VERDICT
    // r20 #6): the staged edges are hash-partitioned on `src` BEFORE the
    // persist, so every round's edges⋈contrib join reuses the cached
    // partitioning instead of re-Exchanging the edge relation per round,
    // and the deg aggregation rides the same layout. contrib/inflow are
    // node-keyed children of checkpointed relations whose partitioning
    // survives the checkpoint (LogicalRDD keeps outputPartitioning), so
    // the only per-round exchange left is the inflow aggregation's dst
    // re-key — fundamental to the operation.
    graft.Stage.fanout(und.repartition(col("src"))) { e =>
      // deg and each round's ranks are eagerly checkpointed (the
      // dedup_clusters discipline): without it every round's plan
      // re-derives all earlier rounds per consumer — measured 12 s at
      // sf0.1 for the chained form vs ~1 s checkpointed — and plan
      // depth stays constant for any round count. The node-keyed
      // relations are |nodes| rows, so the checkpoint files are slim.
      val deg = e.groupBy("src").agg(count(lit(1)).as("deg")).checkpoint()
      // |nodes| is bounded driver state (one long, the KMeans k×dim
      // discipline) — inlining it as a literal saves a broadcast
      // cross-join in every round, and the teleport term becomes a
      // plan-time constant
      val n = deg.count()
      val teleport = ((PrUnit / n) * 15) / 100
      // ranks carries deg so the contribution pass is a projection,
      // not a join; each round = ONE edges⋈contrib join + partial agg
      // + ONE left join back onto the node set
      var ranks = deg
        .select(col("src").as("node"), col("deg"),
          lit(PrUnit / n).as("r"))
        .checkpoint()
      for (_ <- 1 to PrRounds) {
        val contrib = ranks
          .select(col("node").as("cn"), expr("r div deg").as("contrib"))
        val inflow = e.join(contrib, col("src") === col("cn"))
          .groupBy("dst").agg(sum(col("contrib")).as("inflow"))
        val next = deg
          .join(inflow, col("src") === col("dst"), "left")
          .select(col("src").as("node"), col("deg"),
            (lit(teleport) +
              expr("(85 * coalesce(inflow, CAST(0 AS BIGINT))) div 100"))
              .as("r"))
        ranks = next.checkpoint()
      }
      ranks.orderBy(desc("r"), asc("node")).limit(20)
        .select(col("node"),
          when(col("node") % 2 === 0, lit("customer"))
            .otherwise(lit("supplier")).as("node_type"),
          expr("node div 2").as("entity_key"),
          col("r").as("rank_units"))
    }
  }

  val pageRankSql: String = {
    def round(prev: String, cur: String): String =
      s"""c$cur AS (
         |  SELECT node, r // deg AS contrib
         |  FROM $prev JOIN deg ON deg.src = $prev.node),
         |i$cur AS (
         |  SELECT dst, sum(contrib) AS inflow
         |  FROM und JOIN c$cur ON c$cur.node = und.src GROUP BY dst),
         |$cur AS (
         |  SELECT deg.src AS node,
         |    (($PrUnit // n) * 15) // 100
         |      + (85 * coalesce(i$cur.inflow, 0)) // 100 AS r
         |  FROM deg CROSS JOIN nn LEFT JOIN i$cur ON i$cur.dst = deg.src)"""
        .stripMargin
    s"""WITH ed AS (
       |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS sp
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |und AS (
       |  SELECT c AS src, sp AS dst FROM ed
       |  UNION ALL SELECT sp AS src, c AS dst FROM ed),
       |deg AS (SELECT src, count(*) AS deg FROM und GROUP BY src),
       |nn AS (SELECT count(*) AS n FROM deg),
       |r0 AS (SELECT src AS node, $PrUnit // n AS r FROM deg, nn),
       |${round("r0", "r1")},
       |${round("r1", "r2")},
       |${round("r2", "r3")}
       |SELECT node,
       |  CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
       |    AS node_type,
       |  node // 2 AS entity_key,
       |  CAST(r AS BIGINT) AS rank_units
       |FROM r3 ORDER BY r DESC, node LIMIT 20""".stripMargin
  }

  // -------------------------------------------------------------------
  // B7+B18 composed: the TPC-H Q5 shape — a 6-table snowflake join.
  // region/nation/supplier are dimensions (broadcast); lineitem⋈orders
  // is the one big shuffle; customer-nation = supplier-nation enforces
  // the local-supplier constraint.
  // -------------------------------------------------------------------
  def snowflakeJoin(s: SparkSession, d: String): DataFrame = {
    val one = lit(1).cast("decimal(3,2)")
    val revenue = col("l_extendedprice").cast("decimal(18,2)") *
      (one - col("l_discount").cast("decimal(3,2)"))
    lineitem(s, d)
      .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supplier(s, d)),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(sum(revenue).cast("double").as("revenue"), count(lit(1)).as("n"))
      .orderBy("r_name", "n_name")
  }

  val snowflakeJoinSql: String =
    """SELECT r_name, n_name,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue,
      |  count(*) AS n
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin

  // -------------------------------------------------------------------
  // Scalar correlated subquery shape: customers above their nation's
  // average balance — expressed as a window average (one shuffle)
  // rather than a re-scanning correlated subquery.
  // -------------------------------------------------------------------
  def aboveAvgBalance(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("c_nationkey")
    customer(s, d)
      .withColumn("nation_avg",
        (sum(col("c_acctbal").cast("decimal(18,2)")).over(w).cast("double") /
          count(lit(1)).over(w)))
      .filter(col("c_acctbal") > col("nation_avg"))
      .select("c_custkey", "c_nationkey", "c_acctbal", "nation_avg")
      .orderBy("c_custkey")
  }

  val aboveAvgBalanceSql: String =
    """SELECT c_custkey, c_nationkey, c_acctbal, nation_avg FROM (
      |  SELECT c_custkey, c_nationkey, c_acctbal,
      |    CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) OVER w AS DOUBLE)
      |      / count(*) OVER w AS nation_avg
      |  FROM customer WINDOW w AS (PARTITION BY c_nationkey))
      |WHERE c_acctbal > nation_avg ORDER BY c_custkey""".stripMargin

  // -------------------------------------------------------------------
  // Pivot: event counts per user decile × event type. Spark's .pivot
  // compiles to the same conditional aggregation the oracle spells out.
  // -------------------------------------------------------------------
  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  def pivotCounts(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .withColumn("user_decile", (col("user_id") % 10).cast("int"))
      .groupBy("user_decile")
      .pivot("event_type", EventTypes)
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("user_decile")

  val pivotCountsSql: String = {
    val cols = EventTypes.map(t =>
      s"""  count(*) FILTER (WHERE event_type = '$t') AS "$t"""").mkString(",\n")
    s"""SELECT CAST(user_id % 10 AS INT) AS user_decile,
       |$cols
       |FROM events GROUP BY 1 ORDER BY user_decile""".stripMargin
  }

  // -------------------------------------------------------------------
  // Skew-safe two-phase (salted) aggregation: phase 1 aggregates on
  // (key, salt) so one hot key spreads over `Salt` reducers; phase 2
  // merges the partials. Result is identical to a plain groupBy — the
  // oracle IS the plain groupBy — so the pattern is oracle-verified.
  // -------------------------------------------------------------------
  private val Salt = 8

  def saltedAgg(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .withColumn("salt", pmod(col("event_id"), lit(Salt)))
      .groupBy("user_id", "salt")
      .agg(count(lit(1)).as("pc"),
        sum(round(col("value") * 100).cast("long")).as("ps"))
      .groupBy("user_id")
      .agg(sum(col("pc")).as("n_events"), sum(col("ps")).as("sum_cents"))
      .orderBy("user_id")

  val saltedAggSql: String =
    """SELECT user_id, count(*) AS n_events,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  // -------------------------------------------------------------------
  // from_json with an explicit schema (the typed parse path, vs
  // get_json_object's string extraction in rel_json_fns).
  // -------------------------------------------------------------------
  def fromJson(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .withColumn("parsed",
        from_json(col("props"), StructType(Seq(StructField("k", IntegerType)))))
      .select(col("event_id"), col("parsed.k").as("k"),
        (col("parsed.k") * 2).as("k_doubled"))
      .orderBy("event_id")

  val fromJsonSql: String =
    """SELECT event_id,
      |  CAST(json_extract_string(props, '$.k') AS INT) AS k,
      |  CAST(json_extract_string(props, '$.k') AS INT) * 2 AS k_doubled
      |FROM events ORDER BY event_id""".stripMargin

  // -------------------------------------------------------------------
  // Data profiling — the pre-flight every pipeline runs on a new table:
  // per-column null/distinct/min/max in ONE pass (single aggregate, no
  // per-column scans).
  // -------------------------------------------------------------------
  def profile(s: SparkSession, d: String): DataFrame =
    orders(s, d).agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("o_custkey").isNull, 1).otherwise(0)).as("custkey_nulls"),
      countDistinct(col("o_custkey")).as("custkey_distinct"),
      min(col("o_totalprice")).as("price_min"),
      max(col("o_totalprice")).as("price_max"),
      countDistinct(col("o_orderstatus")).as("status_distinct"),
      min(col("o_orderdate")).as("date_min"),
      max(col("o_orderdate")).as("date_max"))

  val profileSql: String =
    """SELECT count(*) AS n_rows,
      |  CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS custkey_nulls,
      |  count(DISTINCT o_custkey) AS custkey_distinct,
      |  min(o_totalprice) AS price_min,
      |  max(o_totalprice) AS price_max,
      |  count(DISTINCT o_orderstatus) AS status_distinct,
      |  min(o_orderdate) AS date_min,
      |  max(o_orderdate) AS date_max
      |FROM orders""".stripMargin

  // -------------------------------------------------------------------
  // Deterministic hash-based sampling / train-test split — the scalable
  // alternative to RNG sampling: membership is a pure function of the
  // key, so it is reproducible across engines, runs, and retries, and
  // needs no coordination. ~80/10/10 split via md5 buckets.
  // -------------------------------------------------------------------
  def hashSample(s: SparkSession, d: String): DataFrame = {
    val bucket = pmod(
      conv(substring(md5(concat(lit("split:"), col("event_id"))), 1, 15), 16, 10)
        .cast("long"), lit(100))
    val split = when(bucket < 80, "train")
      .when(bucket < 90, "valid").otherwise("test")
    events(s, d)
      .withColumn("split", split)
      .groupBy("split", "event_type").agg(count(lit(1)).as("n"))
      .orderBy("split", "event_type")
  }

  val hashSampleSql: String =
    """SELECT split, event_type, count(*) AS n FROM (
      |  SELECT event_type,
      |    CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'valid'
      |         ELSE 'test' END AS split
      |  FROM (SELECT event_type,
      |    CAST(('0x' || substr(md5('split:' || CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS b
      |  FROM events))
      |GROUP BY split, event_type ORDER BY split, event_type""".stripMargin

  // -------------------------------------------------------------------
  // Charter: stratified sampling with EXACT per-stratum quotas — take
  // ceil(5%) of each stratum deterministically: rank rows inside each
  // stratum by a hash of the key (reproducible "random" order) and keep
  // rank ≤ ceil(n/20), expressed as the pure integer predicate
  // (rn-1)*20 < n so neither engine does float ceil math. This is the
  // train-mix shape when per-class quotas must be exact; rel_hash_sample
  // is the constant-memory approximate alternative (no in-stratum sort)
  // when ±ε on the rate is fine.
  //
  // The exact rank is computed as a TWO-LEVEL rank, not one window per
  // stratum: the naive `row_number() OVER (PARTITION BY stratum)` puts
  // each whole stratum through ONE task's external sort — with 3 strata
  // that is 3 tasks sorting ~N/3 rows each while the other 29 cores
  // idle, and it was the registry's only >12×-at-sf10 plan (13.5× for
  // 10×, SCALING.md §sf10full). Instead: rk is uniform in [0, 2^60), so
  // RANGE-bucket it on its high 6 bits (64 contiguous rank ranges per
  // stratum), rank locally inside each (stratum, bucket) — 192 parallel
  // sorts of ~N/192 rows — and add back the exact offset = sum of lower
  // buckets' counts, from a 192-row broadcast side computed in the same
  // pass shape. Same (rk, key) total order, identical output, and the
  // sort parallelism now scales with cores instead of strata.
  // -------------------------------------------------------------------
  def stratifiedSample(s: SparkSession, d: String): DataFrame = {
    val rk = conv(substring(md5(concat(lit("strat:"), col("o_orderkey"))),
      1, 15), 16, 10).cast("long")
    val base = orders(s, d)
      .select(col("o_orderkey"), col("o_orderstatus"), rk.as("rk"))
      .withColumn("bkt", shiftright(col("rk"), 54))
    // 3×64-row relation: per-bucket counts → exclusive prefix sum gives
    // each bucket's global rank offset; per-stratum total is the quota
    // denominator. The window here sorts ≤64 rows per stratum.
    val counts = base.groupBy("o_orderstatus", "bkt")
      .agg(count(lit(1)).as("cnt"))
    val offs = counts
      .withColumn("off", coalesce(sum(col("cnt")).over(
        Window.partitionBy("o_orderstatus").orderBy("bkt")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n_stratum", sum(col("cnt")).over(
        Window.partitionBy("o_orderstatus")))
      .select("o_orderstatus", "bkt", "off", "n_stratum")
    val wLocal = Window.partitionBy("o_orderstatus", "bkt")
      .orderBy("rk", "o_orderkey")
    base
      .withColumn("lrn", row_number().over(wLocal))
      .join(broadcast(offs), Seq("o_orderstatus", "bkt"))
      .withColumn("rn", (col("lrn") + col("off")).cast("int"))
      .filter((col("rn") - 1) * 20 < col("n_stratum"))
      .select("o_orderstatus", "o_orderkey", "rn", "n_stratum")
      .orderBy("o_orderstatus", "rn")
  }

  val stratifiedSampleSql: String =
    """SELECT o_orderstatus, o_orderkey, rn, n_stratum FROM (
      |  SELECT o_orderstatus, o_orderkey,
      |    CAST(row_number() OVER (PARTITION BY o_orderstatus
      |      ORDER BY rk, o_orderkey) AS INTEGER) AS rn,
      |    count(*) OVER (PARTITION BY o_orderstatus) AS n_stratum
      |  FROM (SELECT o_orderkey, o_orderstatus,
      |    CAST(('0x' || substr(md5('strat:' || CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) AS rk
      |  FROM orders))
      |WHERE (rn - 1) * 20 < n_stratum
      |ORDER BY o_orderstatus, rn""".stripMargin

  // -------------------------------------------------------------------
  // B20b: banded range join — events within 10 minutes AFTER a signup
  // by the same user (equi-key + bounded time band). The equi key keeps
  // it a hash/SMJ join; the band predicate filters inside the
  // co-partition, so cost is per-key pair count, never |L|×|R|.
  // -------------------------------------------------------------------
  def rangeJoin(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("event_id").as("signup_id"),
        col("ts").as("signup_ts"))
    val follow = ev.filter(col("event_type") =!= "signup")
      .select(col("user_id").as("f_user"), col("event_id").as("follow_id"),
        col("ts").as("follow_ts"), col("event_type").as("follow_type"))
    signups.join(follow,
        col("s_user") === col("f_user") &&
          col("follow_ts") > col("signup_ts") &&
          col("follow_ts") <= col("signup_ts") + expr("INTERVAL 10 MINUTES"))
      .groupBy("signup_id")
      .agg(count(lit(1)).as("n_follow"),
        countDistinct(col("follow_type")).as("n_types"),
        min(col("follow_id")).as("first_follow_id"))
      .orderBy("signup_id")
  }

  val rangeJoinSql: String =
    """SELECT s.event_id AS signup_id, count(*) AS n_follow,
      |  count(DISTINCT f.event_type) AS n_types,
      |  min(f.event_id) AS first_follow_id
      |FROM (SELECT * FROM events WHERE event_type = 'signup') s
      |JOIN (SELECT * FROM events WHERE event_type <> 'signup') f
      |  ON f.user_id = s.user_id
      | AND f.ts > s.ts AND f.ts <= s.ts + INTERVAL 10 MINUTE
      |GROUP BY s.event_id ORDER BY signup_id""".stripMargin

  // -------------------------------------------------------------------
  // Exact quantiles (sort-based percentile ↔ quantile_cont; both engines
  // interpolate at rank p*(n-1); rounded to absorb last-ulp divergence).
  // -------------------------------------------------------------------
  def quantiles(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy("event_type")
      .agg(
        round(expr("percentile(value, 0.5)"), 6).as("p50"),
        round(expr("percentile(value, 0.9)"), 6).as("p90"),
        round(expr("percentile(value, 0.99)"), 6).as("p99"),
        min("value").as("v_min"), max("value").as("v_max"))
      .orderBy("event_type")

  val quantilesSql: String =
    """SELECT event_type,
      |  CASE WHEN round(quantile_cont(value, 0.5), 6) = 0 THEN 0.0 ELSE round(quantile_cont(value, 0.5), 6) END AS p50,
      |  CASE WHEN round(quantile_cont(value, 0.9), 6) = 0 THEN 0.0 ELSE round(quantile_cont(value, 0.9), 6) END AS p90,
      |  CASE WHEN round(quantile_cont(value, 0.99), 6) = 0 THEN 0.0 ELSE round(quantile_cont(value, 0.99), 6) END AS p99,
      |  min(value) AS v_min, max(value) AS v_max
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // -------------------------------------------------------------------
  // Correlation/covariance from EXACT integer co-moments: built-in
  // corr() streams floating-point co-moments (order-dependent, can't
  // hash-match); summing cents in exact decimals and doing one final
  // double computation is order-independent AND mergeable — how a
  // distributed engine should compute statistics anyway.
  // -------------------------------------------------------------------
  def statsManual(s: SparkSession, d: String): DataFrame = {
    val x = round(col("l_quantity") * 100).cast("long")
    val y = round(col("l_extendedprice") * 100).cast("long")
    val dec = "decimal(38,0)"
    lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(x.cast(dec)).as("sx"), sum(y.cast(dec)).as("sy"),
        sum((x * y).cast(dec)).as("sxy"),
        sum((x * x).cast(dec)).as("sxx"),
        sum((y * y).cast(dec)).as("syy"))
      .select(col("l_returnflag"), col("n"),
        round(
          (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) *
              sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double"))),
          6).as("corr_qty_price"))
      .orderBy("l_returnflag")
  }

  val statsManualSql: String =
    """SELECT l_returnflag, n,
      |  CASE WHEN round(
      |    CAST(n * sxy - sx * sy AS DOUBLE) /
      |    (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
      |     sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) = 0 THEN 0.0 ELSE round(
      |    CAST(n * sxy - sx * sy AS DOUBLE) /
      |    (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
      |     sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) END AS corr_qty_price
      |FROM (
      |  SELECT l_returnflag, count(*) AS n,
      |    sum(CAST(CAST(round(l_quantity * 100) AS BIGINT) AS HUGEINT)) AS sx,
      |    sum(CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS HUGEINT)) AS sy,
      |    sum(CAST(CAST(round(l_quantity * 100) AS BIGINT) * CAST(round(l_extendedprice * 100) AS BIGINT) AS HUGEINT)) AS sxy,
      |    sum(CAST(CAST(round(l_quantity * 100) AS BIGINT) * CAST(round(l_quantity * 100) AS BIGINT) AS HUGEINT)) AS sxx,
      |    sum(CAST(CAST(round(l_extendedprice * 100) AS BIGINT) * CAST(round(l_extendedprice * 100) AS BIGINT) AS HUGEINT)) AS syy
      |  FROM lineitem GROUP BY l_returnflag)
      |ORDER BY l_returnflag""".stripMargin

  // -------------------------------------------------------------------
  // Funnel analysis — ordered-step conversion (signup → later click →
  // later purchase per user). Conditional min-aggregates + two
  // co-partitioned self-joins; the per-stage counts are the product
  // metric. One row out.
  // -------------------------------------------------------------------
  def funnel(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    def stage(t: String, prefix: String) =
      ev.filter(col("event_type") === t)
        .select(col("user_id").as(s"${prefix}_user"), col("ts").as(s"${prefix}_ts"))
    val s1 = stage("signup", "s").groupBy("s_user").agg(min("s_ts").as("s_min"))
    val s2 = stage("click", "c")
      .join(s1, col("c_user") === col("s_user") && col("c_ts") > col("s_min"))
      .groupBy("s_user").agg(min("c_ts").as("c_min"))
    val s3 = stage("purchase", "p")
      .join(s2, col("p_user") === col("s_user") && col("p_ts") > col("c_min"))
      .groupBy("s_user").agg(min("p_ts").as("p_min"))
    s1.agg(count(lit(1)).as("n_signup")).crossJoin(
      s2.agg(count(lit(1)).as("n_clicked")).crossJoin(
        s3.agg(count(lit(1)).as("n_purchased"))))
  }

  val funnelSql: String =
    """WITH s1 AS (
      |  SELECT user_id, min(ts) AS s_ts FROM events
      |  WHERE event_type = 'signup' GROUP BY user_id),
      |s2 AS (
      |  SELECT s1.user_id, min(c.ts) AS c_ts
      |  FROM events c JOIN s1 ON c.user_id = s1.user_id AND c.ts > s1.s_ts
      |  WHERE c.event_type = 'click' GROUP BY s1.user_id),
      |s3 AS (
      |  SELECT s2.user_id, min(p.ts) AS p_ts
      |  FROM events p JOIN s2 ON p.user_id = s2.user_id AND p.ts > s2.c_ts
      |  WHERE p.event_type = 'purchase' GROUP BY s2.user_id)
      |SELECT (SELECT count(*) FROM s1) AS n_signup,
      |  (SELECT count(*) FROM s2) AS n_clicked,
      |  (SELECT count(*) FROM s3) AS n_purchased""".stripMargin

  // -------------------------------------------------------------------
  // Edit distance (levenshtein is built-in both engines) + histogram
  // over floor buckets (width_bucket is absent in the oracle engine).
  // -------------------------------------------------------------------
  def editDistance(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .select(levenshtein(col("c_name"), lit("Customer#000000000")).as("dist"))
      .groupBy("dist").agg(count(lit(1)).as("n"))
      .orderBy("dist")

  val editDistanceSql: String =
    """SELECT CAST(levenshtein(c_name, 'Customer#000000000') AS INTEGER) AS dist, count(*) AS n
      |FROM customer GROUP BY 1 ORDER BY dist""".stripMargin

  def histogram(s: SparkSession, d: String): DataFrame = {
    val bucket = floor(round(col("value") * 100).cast("long") / 5000).cast("long")
    events(s, d)
      .groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("n"))
      .orderBy("bucket")
  }

  val histogramSql: String =
    """SELECT CAST(round(value * 100) AS BIGINT) // 5000 AS bucket,
      |  count(*) AS n
      |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin

  // -------------------------------------------------------------------
  // Bag-semantics set ops (EXCEPT ALL / INTERSECT ALL preserve
  // multiplicity — different operators from their DISTINCT cousins).
  // -------------------------------------------------------------------
  def setOpsAll(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    def users(t: String) =
      ev.filter(col("event_type") === t).select("user_id")
    val exceptAll = users("click").exceptAll(users("purchase"))
      .withColumn("tag", lit("click_except_all_purchase"))
    val intersectAll = users("click").intersectAll(users("purchase"))
      .withColumn("tag", lit("click_intersect_all_purchase"))
    exceptAll.union(intersectAll)
      .groupBy("tag", "user_id").agg(count(lit(1)).as("multiplicity"))
      .orderBy("tag", "user_id")
  }

  val setOpsAllSql: String =
    """SELECT tag, user_id, count(*) AS multiplicity FROM (
      |  SELECT 'click_except_all_purchase' AS tag, user_id FROM (
      |    SELECT user_id FROM events WHERE event_type = 'click'
      |    EXCEPT ALL SELECT user_id FROM events WHERE event_type = 'purchase')
      |  UNION ALL
      |  SELECT 'click_intersect_all_purchase' AS tag, user_id FROM (
      |    SELECT user_id FROM events WHERE event_type = 'click'
      |    INTERSECT ALL SELECT user_id FROM events WHERE event_type = 'purchase'))
      |GROUP BY tag, user_id ORDER BY tag, user_id""".stripMargin

  // -------------------------------------------------------------------
  // Ranking battery #2: ntile / percent_rank / cume_dist / first_value /
  // last_value with an explicit frame.
  // -------------------------------------------------------------------
  def rankExtra(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("c_nationkey")
      .orderBy(col("c_acctbal"), col("c_custkey"))
    val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    customer(s, d).select(
      col("c_nationkey"), col("c_custkey"), col("c_acctbal"),
      ntile(4).over(w).as("quartile"),
      // NO rounding: these are exact-integer divisions, bit-identical
      // across engines, while round() itself diverges on exact .5 ties
      // (Spark half-up vs DuckDB half-even — seen at 41/640)
      percent_rank().over(w).as("pct_rank"),
      cume_dist().over(w).as("cume"),
      first(col("c_custkey")).over(wFull).as("poorest"),
      last(col("c_custkey")).over(wFull).as("richest")
    ).orderBy("c_nationkey", "c_acctbal", "c_custkey")
  }

  val rankExtraSql: String =
    """SELECT c_nationkey, c_custkey, c_acctbal,
      |  CAST(ntile(4) OVER w AS INTEGER) AS quartile,
      |  percent_rank() OVER w AS pct_rank,
      |  cume_dist() OVER w AS cume,
      |  first_value(c_custkey) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS poorest,
      |  last_value(c_custkey) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS richest
      |FROM customer
      |WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
      |ORDER BY c_nationkey, c_acctbal, c_custkey""".stripMargin

  // -------------------------------------------------------------------
  // Unpivot/melt — wide-to-long reshaping (Spark .unpivot ↔ UNPIVOT).
  // -------------------------------------------------------------------
  def unpivot(s: SparkSession, d: String): DataFrame = {
    val cents = (c: String) => round(col(c) * 100).cast("long")
    customer(s, d)
      .select(col("c_custkey"), cents("c_acctbal").as("acctbal_cents"),
        (col("c_nationkey") * 1000L).as("nation_scaled"))
      .unpivot(Array(col("c_custkey")),
        Array(col("acctbal_cents"), col("nation_scaled")),
        "metric", "val")
      .orderBy("c_custkey", "metric")
  }

  val unpivotSql: String =
    """SELECT c_custkey, metric, val FROM (
      |  SELECT c_custkey,
      |    CAST(round(c_acctbal * 100) AS BIGINT) AS acctbal_cents,
      |    c_nationkey * 1000 AS nation_scaled
      |  FROM customer)
      |UNPIVOT (val FOR metric IN (acctbal_cents, nation_scaled))
      |ORDER BY c_custkey, metric""".stripMargin

  // -------------------------------------------------------------------
  // B15/B16 composed: cohort retention matrix — users grouped by their
  // first-activity week, tracked across weekly offsets: the standard
  // product-analytics report. Everything derives from ONE distinct
  // (user, week) relation (staged: it feeds the cohort assignment and
  // the activity join on different keys); counts are exact integers,
  // the retention ratio divides identical ints in both engines. At
  // scale the distinct and both aggregates shuffle (user_id)-sized
  // rows, and the matrix itself is |cohorts × offsets| — tiny.
  // -------------------------------------------------------------------
  def retention(s: SparkSession, d: String): DataFrame = {
    // cohort = window-min over the distinct (user, week) relation, NOT
    // a separate groupBy + self-join: both consumers (the retention
    // matrix and the cohort sizes, via the wk = cohort first-week rows)
    // then share ONE windowed subtree, whose user_id exchange AQE
    // reuses — a single corpus scan, no checkpoint staging (asserted
    // in PlanQualitySpec)
    val m = events(s, d)
      .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
      .distinct()
      .withColumn("cohort",
        min(col("wk")).over(Window.partitionBy("user_id")))
    val sizes = m.filter(col("wk") === col("cohort"))
      .groupBy("cohort").agg(count(lit(1)).as("cohort_size"))
    m.select(col("cohort"),
        (datediff(col("wk"), col("cohort")) / 7).cast("int")
          .as("week_offset"))
      .groupBy("cohort", "week_offset")
      .agg(count(lit(1)).as("n_active"))
      .join(sizes, "cohort")
      .select(col("cohort"), col("week_offset"), col("cohort_size"),
        col("n_active"),
        round(col("n_active").cast("double") / col("cohort_size"), 6)
          .as("retention"))
      .orderBy("cohort", "week_offset")
  }

  val retentionSql: String =
    """WITH act AS (
      |  SELECT DISTINCT user_id,
      |    CAST(date_trunc('week', ts) AS TIMESTAMP) AS wk FROM events),
      |m AS (
      |  SELECT user_id, wk,
      |    min(wk) OVER (PARTITION BY user_id) AS cohort FROM act),
      |sizes AS (SELECT cohort, count(*) AS cohort_size FROM m
      |          WHERE wk = cohort GROUP BY cohort)
      |SELECT cohort, week_offset, cohort_size, n_active,
      |  CASE WHEN round(CAST(n_active AS DOUBLE) / cohort_size, 6) = 0 THEN 0.0 ELSE round(CAST(n_active AS DOUBLE) / cohort_size, 6) END AS retention
      |FROM (
      |  SELECT cohort,
      |    CAST(date_diff('day', CAST(cohort AS DATE), CAST(wk AS DATE))
      |      // 7 AS INT) AS week_offset,
      |    count(*) AS n_active
      |  FROM m GROUP BY cohort, week_offset)
      |JOIN sizes USING (cohort)
      |ORDER BY cohort, week_offset""".stripMargin

  // -------------------------------------------------------------------
  // Charter: join-key skew audit — the diagnostic an operator reads
  // before choosing broadcast/salting/AQE for a big join: over the
  // lineitem join key, total keys and rows, the hottest key's row
  // count, the row share of the top-10 keys, and how many keys exceed
  // 2× the mean (compared in exact integer cross-multiplication, no
  // doubles). The per-key count relation fans out to three consumers
  // and is staged once; each consumer reduces to ≤10 rows before
  // anything leaves its stage.
  // -------------------------------------------------------------------
  /** hot ⟺ cnt > 2 × (n_rows / n_keys), cross-multiplied exactly in
    * decimal(38,0): both BIGINT factors grow with corpus size (at the
    * 100 TB shape ~1e12 rows × ~1e9 keys the product passes 2⁶³), so a
    * Long product would wrap silently with ANSI off while DuckDB
    * raises — decimal keeps the comparison exact at any scale.
    * Package-visible so the overflow spec can drive it at synthetic
    * magnitudes.
    */
  private[graft] def hotKeyPred: Column =
    col("cnt").cast("decimal(38,0)") * col("n_keys") >
      col("n_rows").cast("decimal(38,0)") * 2

  def keySkew(s: SparkSession, d: String): DataFrame = {
    // all three consumers sit directly on the per-key count aggregate,
    // whose exchange subtree is identical on every path — ReuseExchange
    // computes the counts once, so no explicit staging is needed
    // (asserted in PlanQualitySpec)
    val counts = lineitem(s, d)
      .groupBy("l_orderkey").agg(count(lit(1)).as("cnt"))
    val tot = counts.agg(count(lit(1)).as("n_keys"),
      sum(col("cnt")).as("n_rows"), max(col("cnt")).as("max_key_rows"))
    val top10 = counts.orderBy(col("cnt").desc, col("l_orderkey")).limit(10)
      .agg(sum(col("cnt")).as("top10_rows"))
    val hot = counts.crossJoin(broadcast(tot)).filter(hotKeyPred)
      .agg(count(lit(1)).as("n_hot_keys"))
    tot.crossJoin(broadcast(top10)).crossJoin(broadcast(hot))
      .select(col("n_keys"), col("n_rows"), col("max_key_rows"),
        round(col("top10_rows").cast("double") / col("n_rows"), 6)
          .as("top10_share"),
        col("n_hot_keys"))
  }

  val keySkewSql: String =
    """WITH c AS (
      |  SELECT l_orderkey, count(*) AS cnt FROM lineitem GROUP BY l_orderkey),
      |tot AS (
      |  SELECT count(*) AS n_keys, CAST(sum(cnt) AS BIGINT) AS n_rows,
      |    max(cnt) AS max_key_rows FROM c),
      |t10 AS (
      |  SELECT CAST(sum(cnt) AS BIGINT) AS top10_rows FROM (
      |    SELECT cnt FROM c ORDER BY cnt DESC, l_orderkey LIMIT 10)),
      |hot AS (
      |  SELECT count(*) AS n_hot_keys FROM c, tot
      |  WHERE cnt * n_keys > n_rows * 2)
      |SELECT n_keys, n_rows, max_key_rows,
      |  CASE WHEN round(CAST(top10_rows AS DOUBLE) / n_rows, 6) = 0 THEN 0.0 ELSE round(CAST(top10_rows AS DOUBLE) / n_rows, 6) END AS top10_share,
      |  n_hot_keys
      |FROM tot, t10, hot""".stripMargin

  // -------------------------------------------------------------------
  // Charter: pseudonymization — the privacy pass a dataset runs before
  // leaving its trust boundary: direct identifiers become salted
  // hashes (joinable across tables sharing the salt, not reversible),
  // quasi-identifiers generalize (name → shared prefix + '***',
  // balance → floor-100), and working columns pass through. Pure narrow projection —
  // no shuffle except the presentation ordering; the salt would be a
  // run secret in production (a literal here so the oracle can mirror
  // it).
  // -------------------------------------------------------------------
  def pseudonymize(s: SparkSession, d: String): DataFrame = {
    val cents = round(col("c_acctbal") * 100).cast("long")
    customer(s, d)
      .select(col("c_custkey"),
        md5(concat(lit("pseudo-v1:"), col("c_name"))).as("name_token"),
        concat(substring(col("c_name"), 1, 9), lit("***"))
          .as("name_masked"),
        ((cents - pmod(cents, lit(10000L))) / 100).cast("long")
          .as("acctbal_floor100"),
        col("c_mktsegment"))
      .orderBy("c_custkey")
  }

  val pseudonymizeSql: String =
    """SELECT c_custkey,
      |  md5('pseudo-v1:' || c_name) AS name_token,
      |  substr(c_name, 1, 9) || '***' AS name_masked,
      |  CAST((CAST(round(c_acctbal * 100) AS BIGINT)
      |    - ((CAST(round(c_acctbal * 100) AS BIGINT) % 10000 + 10000)
      |       % 10000)) / 100 AS BIGINT) AS acctbal_floor100,
      |  c_mktsegment
      |FROM customer ORDER BY c_custkey""".stripMargin

  // -------------------------------------------------------------------
  // Charter: time-series gap filling — materialize the COMPLETE
  // 10-minute bucket grid across the event span, zero-fill buckets with
  // no events, flag them, and carry an exact running total across the
  // gaps (the "downstream chart reads a dense series" contract that a
  // plain GROUP BY breaks silently). The grid derives from a 1-row
  // min/max aggregate exploded through sequence() — its size is
  // span/width, a function of TIME not of event count, so a 100 TB
  // year at 10-minute grain is still only ~53k grid rows; the events
  // relation itself contributes one slim hash exchange. The running
  // total is a TWO-LEVEL prefix sum (the stratified-rank trick): the
  // grid cumsums inside 4096-bucket blocks in parallel, block offsets
  // arrive from an exclusive prefix over the ≤span/4096-row block
  // summary via broadcast — identical output to the naive global
  // window, whose single task would serialize a multi-year fine-grain
  // grid (431k one-task rows at the sf1 span; this corpus's one
  // remaining unpartitioned window over an unbounded-ish relation).
  // -------------------------------------------------------------------
  private val GapBucketMicros = 600000000L // 10 minutes

  def gapFill(s: SparkSession, d: String): DataFrame = {
    val w = GapBucketMicros
    val bu = (floor(unix_micros(col("ts")).cast("double") / w)
      .cast("bigint") * w).as("bu")
    val agg = events(s, d)
      .select(bu, round(col("value") * 100).cast("bigint").as("cents"))
      .groupBy("bu").agg(count(lit(1)).as("n"), sum(col("cents")).as("sc"))
    val grid = agg.agg(min(col("bu")).as("lo"), max(col("bu")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"), lit(w))).as("bu"))
    val filled = grid.join(agg.withColumn("hit", lit(true)), Seq("bu"), "left")
    val base = filled
      .select(col("bu"), coalesce(col("n"), lit(0L)).as("n_events"),
        coalesce(col("sc"), lit(0L)).as("sum_cents"),
        col("hit").isNull.as("is_gap"))
      .withColumn("blk", expr(s"bu div $w div 4096"))
    // exclusive prefix over the block summary — bounded at span/4096
    // rows, so ITS single-partition window is a handful of rows
    val blkOff = base.groupBy("blk")
      .agg(sum(col("sum_cents")).as("bsum"))
      .withColumn("off", coalesce(sum(col("bsum")).over(
        Window.orderBy("blk")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("blk", "off")
    base.join(broadcast(blkOff), "blk")
      .withColumn("cum_cents", col("off") + sum(col("sum_cents")).over(
        Window.partitionBy("blk").orderBy("bu")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(timestamp_micros(col("bu")).as("bucket"), col("n_events"),
        col("sum_cents"), col("is_gap"), col("cum_cents"))
      .orderBy("bucket")
  }

  val gapFillSql: String = {
    val w = GapBucketMicros
    s"""WITH b AS (
       |  SELECT CAST(floor(epoch_us(ts) / $w) AS BIGINT) * $w AS bu,
       |         CAST(round(value * 100) AS BIGINT) AS cents
       |  FROM events),
       |agg AS (SELECT bu, count(*) AS n, sum(cents) AS sc FROM b GROUP BY bu),
       |span AS (SELECT min(bu) AS lo, max(bu) AS hi FROM agg),
       |grid AS (SELECT unnest(range(lo, hi + 1, $w)) AS bu FROM span),
       |filled AS (
       |  SELECT g.bu, coalesce(a.n, 0) AS n, coalesce(a.sc, 0) AS sc,
       |         (a.bu IS NULL) AS is_gap
       |  FROM grid g LEFT JOIN agg a USING (bu))
       |SELECT make_timestamp(bu) AS bucket, CAST(n AS BIGINT) AS n_events,
       |  CAST(sc AS BIGINT) AS sum_cents, is_gap,
       |  CAST(sum(sc) OVER (ORDER BY bu ROWS BETWEEN UNBOUNDED PRECEDING
       |    AND CURRENT ROW) AS BIGINT) AS cum_cents
       |FROM filled ORDER BY bucket""".stripMargin
  }

  // -------------------------------------------------------------------
  // Charter: z-score anomaly audit — per event type, how many events sit
  // beyond 3σ / 5σ of that type's value distribution (the metric-stream
  // outlier gate a relay consumer alarms on; reference analog: the
  // per-type event accounting in runner.go's poll loop). All flags are
  // decided in EXACT integer math — micro-unit values, decimal(38,0)
  // co-moments, and the z² comparison cross-multiplied so no division,
  // sqrt, or float compare can flip a row between engines:
  //     z² > t²  ⇔  (n·v − S₁)² > t²·(n·S₂ − S₁²).
  // Two passes over a 2-column slice of events: one |types|-row exact
  // aggregate (map-side combined), then a broadcast join of those ≤5
  // rows back onto the stream — no per-row shuffle, order-independent,
  // and the same shape a 1000-executor run wants (stats rows are tiny;
  // the event scan is embarrassingly parallel).
  // -------------------------------------------------------------------
  def anomalyZscore(s: SparkSession, d: String): DataFrame = {
    val dec = "decimal(38,0)"
    val ev = events(s, d).select(col("event_type"),
      round(col("value") * 1000000).cast("long").as("v"))
    val stats = ev.groupBy(col("event_type").as("st_type")).agg(
      count(lit(1)).as("n"),
      sum(col("v").cast(dec)).as("s1"),
      // v ≤ ~5e8 micro-units so v² ≤ ~2.5e17 fits a long; the SUM runs
      // in decimal(38,0) so the accumulator cannot overflow at any SF
      sum((col("v") * col("v")).cast(dec)).as("s2"))
    val dev = col("n").cast(dec) * col("v") - col("s1")
    val varN2 = col("n").cast(dec) * col("s2") - col("s1") * col("s1")
    ev.join(broadcast(stats), col("event_type") === col("st_type"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(when(dev * dev > varN2 * 9, 1L).otherwise(0L)).as("n_out3"),
        sum(when(dev * dev > varN2 * 25, 1L).otherwise(0L)).as("n_out5"),
        sum(when(dev * dev > varN2 * 9, col("v")).otherwise(0L))
          .as("sum_out_v_micro"))
      .orderBy("event_type")
  }

  val anomalyZscoreSql: String =
    """WITH ev AS (
      |  SELECT event_type, CAST(round(value * 1000000) AS BIGINT) AS v
      |  FROM events),
      |st AS (
      |  SELECT event_type, count(*) AS n, sum(v) AS s1, sum(v * v) AS s2
      |  FROM ev GROUP BY event_type)
      |SELECT ev.event_type,
      |  CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(sum(CASE WHEN (n * v - s1) * (n * v - s1) > 9 * (n * s2 - s1 * s1)
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_out3,
      |  CAST(sum(CASE WHEN (n * v - s1) * (n * v - s1) > 25 * (n * s2 - s1 * s1)
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_out5,
      |  CAST(sum(CASE WHEN (n * v - s1) * (n * v - s1) > 9 * (n * s2 - s1 * s1)
      |    THEN v ELSE 0 END) AS BIGINT) AS sum_out_v_micro
      |FROM ev JOIN st USING (event_type)
      |GROUP BY ev.event_type ORDER BY ev.event_type""".stripMargin

  // -------------------------------------------------------------------
  // Charter: WINDOWED ordered-stage funnel (the windowFunnel analytic;
  // rel_funnel above is the unwindowed count-only form): of the users
  // who 'view', how many go on to 'click' and then 'purchase', where
  // stage k must be STRICTLY after stage k-1 and within FunnelWindow of
  // the user's FIRST stage-1 event (first-touch semantics: every stage
  // timestamp is the earliest qualifying event). Output: one row per
  // stage with the surviving
  // user count and the exact summed stage-to-stage conversion lag in
  // integer microseconds (sum+count = the mean lag, without a float
  // reduction whose order could differ between engines).
  //
  // Shape: stage k is one type-filtered scan (the equality predicate
  // pushes to the parquet reader, so each pass reads ~1/5 of the
  // corpus) joined to the ≤|users| stage-(k-1) table on user_id and
  // min-aggregated. After the first groupBy everything is
  // hash-partitioned on user_id, so the chain co-partitions under AQE;
  // each min() is map-side combined; no windows, no per-user state, no
  // collect. K stages = K passes — at 100 TB that beats any
  // sort-the-whole-corpus-per-user window formulation, and per-user
  // event skew never concentrates (the per-user row after stage 1 is
  // ONE row regardless of activity).
  // -------------------------------------------------------------------
  private val FunnelWindow = "INTERVAL 7 DAYS"

  def funnelWindowed(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(col("user_id"), col("ts"), col("event_type"))
    def stageScan(t: String) = ev.filter(col("event_type") === t)
    val s1 = stageScan("view")
      .groupBy("user_id").agg(min(col("ts")).as("t1"))
    val s2 = stageScan("click")
      .join(s1, "user_id")
      .filter(col("ts") > col("t1") &&
        col("ts") <= col("t1") + expr(FunnelWindow))
      .groupBy("user_id")
      .agg(min(col("ts")).as("t2"), min(col("t1")).as("t1"))
    val s3 = stageScan("purchase")
      .join(s2, "user_id")
      .filter(col("ts") > col("t2") &&
        col("ts") <= col("t1") + expr(FunnelWindow))
      .groupBy("user_id")
      .agg(min(col("ts")).as("t3"), min(col("t2")).as("t2"))
    val r1 = s1.agg(count(lit(1)).as("n_users"))
      .select(lit("1_view").as("stage"), col("n_users"),
        lit(0L).as("sum_lag_us"))
    val r2 = s2.agg(count(lit(1)).as("n_users"),
        coalesce(sum(unix_micros(col("t2")) - unix_micros(col("t1"))),
          lit(0L)).as("sum_lag_us"))
      .select(lit("2_click").as("stage"), col("n_users"), col("sum_lag_us"))
    val r3 = s3.agg(count(lit(1)).as("n_users"),
        coalesce(sum(unix_micros(col("t3")) - unix_micros(col("t2"))),
          lit(0L)).as("sum_lag_us"))
      .select(lit("3_purchase").as("stage"), col("n_users"),
        col("sum_lag_us"))
    r1.unionAll(r2).unionAll(r3).orderBy("stage")
  }

  val funnelWindowedSql: String =
    """WITH s1 AS MATERIALIZED (
      |  SELECT user_id, min(ts) AS t1 FROM events
      |  WHERE event_type = 'view' GROUP BY user_id),
      |s2 AS MATERIALIZED (
      |  SELECT e.user_id, min(e.ts) AS t2, min(s1.t1) AS t1
      |  FROM events e JOIN s1 ON e.user_id = s1.user_id
      |  WHERE e.event_type = 'click' AND e.ts > s1.t1
      |    AND e.ts <= s1.t1 + INTERVAL 7 DAY
      |  GROUP BY e.user_id),
      |s3 AS (
      |  SELECT e.user_id, min(e.ts) AS t3, min(s2.t2) AS t2
      |  FROM events e JOIN s2 ON e.user_id = s2.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
      |    AND e.ts <= s2.t1 + INTERVAL 7 DAY
      |  GROUP BY e.user_id)
      |SELECT '1_view' AS stage, CAST(count(*) AS BIGINT) AS n_users,
      |  CAST(0 AS BIGINT) AS sum_lag_us FROM s1
      |UNION ALL
      |SELECT '2_click', CAST(count(*) AS BIGINT),
      |  CAST(coalesce(sum(epoch_us(t2) - epoch_us(t1)), 0) AS BIGINT)
      |FROM s2
      |UNION ALL
      |SELECT '3_purchase', CAST(count(*) AS BIGINT),
      |  CAST(coalesce(sum(epoch_us(t3) - epoch_us(t2)), 0) AS BIGINT)
      |FROM s3
      |ORDER BY stage""".stripMargin

  // -------------------------------------------------------------------
  // Charter: REPEAT-conversion funnel (windowFunnel with recurrence) —
  // the batch twin of FunnelStream's multi-window behavior, closing the
  // one semantics gap between the twins: `rel_funnel_windowed` reports
  // first-touch only, while the stream re-opens a fresh funnel once a
  // user's window seals. Window starts are the stream's greedy chain:
  // cycle 1 opens at the user's first view; cycle k+1 opens at the
  // first view STRICTLY after cycle k's start + FunnelWindow (windows
  // are therefore disjoint, so each click/purchase converts in at most
  // one cycle). Output: one row per (cycle, stage) with the surviving
  // user count and the exact integer-µs stage-to-stage lag sum.
  //
  // Shape: the greedy chain is inherently sequential in k, so window
  // starts iterate — frontier k is ≤|users| rows (user_id, k-th window
  // start); each round is ONE pushed-down view scan joined to the
  // frontier and min-aggregated, localCheckpoint'ed so the loop's plan
  // stays flat (the dedup_clusters lesson: chained lineage leaks plan
  // metadata). Round count is bounded by corpus time span / window —
  // ~52/year at 7 days regardless of row count — with a loud refusal
  // at MaxFunnelCycles rather than silent truncation. Stages 2/3 are
  // then ONE type-filtered scan each joined to the ≤Σ|windows| table,
  // exactly the rel_funnel_windowed shape per cycle: no corpus-wide
  // window sort, no per-user state, skew never concentrates.
  // -------------------------------------------------------------------
  private val MaxFunnelCycles = 64

  def funnelCycles(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(col("user_id"), col("ts"), col("event_type"))
    def stageScan(t: String) = ev.filter(col("event_type") === t)
    val views = stageScan("view")
    val wins = scala.collection.mutable.ArrayBuffer[DataFrame]()
    var frontier = views.groupBy("user_id").agg(min(col("ts")).as("t1"))
      .withColumn("cycle", lit(1))
      .localCheckpoint()
    var cycle = 1
    while (!frontier.isEmpty && cycle <= MaxFunnelCycles) {
      wins += frontier
      cycle += 1
      frontier = views
        .join(frontier.select(col("user_id"), col("t1").as("w1")), "user_id")
        .filter(col("ts") > col("w1") + expr(FunnelWindow))
        .groupBy("user_id").agg(min(col("ts")).as("t1"))
        .withColumn("cycle", lit(cycle))
        .localCheckpoint()
    }
    if (!frontier.isEmpty)
      throw new IllegalStateException(
        s"rel_funnel_cycles: more than $MaxFunnelCycles funnel windows " +
          "for at least one user — raise MaxFunnelCycles (the corpus " +
          "spans more window-lengths than the loop budget)")
    if (wins.isEmpty) {
      // zero 'view' events anywhere: the frontier loop never ran — match
      // the oracle's graceful zero-row result instead of reduce-crashing
      import s.implicits._
      return s.emptyDataset[(Int, String, Long, Long)]
        .toDF("cycle", "stage", "n_users", "sum_lag_us")
    }
    val allWins = wins.reduce(_ unionAll _)
    val s2 = stageScan("click")
      .join(allWins, "user_id")
      .filter(col("ts") > col("t1") &&
        col("ts") <= col("t1") + expr(FunnelWindow))
      .groupBy("user_id", "cycle")
      .agg(min(col("ts")).as("t2"), min(col("t1")).as("t1"))
    val s3 = stageScan("purchase")
      .join(s2, "user_id")
      .filter(col("ts") > col("t2") &&
        col("ts") <= col("t1") + expr(FunnelWindow))
      .groupBy("user_id", "cycle")
      .agg(min(col("ts")).as("t3"), min(col("t2")).as("t2"))
    val r1 = allWins.groupBy("cycle").agg(count(lit(1)).as("n_users"))
      .select(col("cycle"), lit("1_view").as("stage"), col("n_users"),
        lit(0L).as("sum_lag_us"))
    val r2 = s2.groupBy("cycle").agg(count(lit(1)).as("n_users"),
        coalesce(sum(unix_micros(col("t2")) - unix_micros(col("t1"))),
          lit(0L)).as("sum_lag_us"))
      .select(col("cycle"), lit("2_click").as("stage"), col("n_users"),
        col("sum_lag_us"))
    val r3 = s3.groupBy("cycle").agg(count(lit(1)).as("n_users"),
        coalesce(sum(unix_micros(col("t3")) - unix_micros(col("t2"))),
          lit(0L)).as("sum_lag_us"))
      .select(col("cycle"), lit("3_purchase").as("stage"), col("n_users"),
        col("sum_lag_us"))
    r1.unionAll(r2).unionAll(r3).orderBy("cycle", "stage")
  }

  /** The greedy window chain as a recursive CTE: the recursive member
    * advances each (user, cycle) row to the first view strictly past
    * the sealed window; stages 2/3 and the per-(cycle, stage) rollup
    * are rel_funnel_windowed's shape with cycle in the key.
    */
  val funnelCyclesSql: String =
    """WITH RECURSIVE v AS (
      |  SELECT user_id, ts FROM events WHERE event_type = 'view'),
      |w AS (
      |  SELECT user_id, 1 AS cycle, min(ts) AS t1 FROM v GROUP BY user_id
      |  UNION ALL
      |  SELECT w.user_id, w.cycle + 1,
      |    (SELECT min(v.ts) FROM v
      |      WHERE v.user_id = w.user_id AND v.ts > w.t1 + INTERVAL 7 DAY) AS t1
      |  FROM w
      |  WHERE EXISTS (SELECT 1 FROM v
      |      WHERE v.user_id = w.user_id AND v.ts > w.t1 + INTERVAL 7 DAY)),
      |s2 AS (
      |  SELECT e.user_id, w.cycle, min(e.ts) AS t2, min(w.t1) AS t1
      |  FROM events e JOIN w ON e.user_id = w.user_id
      |  WHERE e.event_type = 'click' AND e.ts > w.t1
      |    AND e.ts <= w.t1 + INTERVAL 7 DAY
      |  GROUP BY e.user_id, w.cycle),
      |s3 AS (
      |  SELECT e.user_id, s2.cycle, min(e.ts) AS t3, min(s2.t2) AS t2
      |  FROM events e JOIN s2 ON e.user_id = s2.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
      |    AND e.ts <= s2.t1 + INTERVAL 7 DAY
      |  GROUP BY e.user_id, s2.cycle)
      |SELECT cycle, '1_view' AS stage, CAST(count(*) AS BIGINT) AS n_users,
      |  CAST(0 AS BIGINT) AS sum_lag_us FROM w GROUP BY cycle
      |UNION ALL
      |SELECT cycle, '2_click', CAST(count(*) AS BIGINT),
      |  CAST(coalesce(sum(epoch_us(t2) - epoch_us(t1)), 0) AS BIGINT)
      |FROM s2 GROUP BY cycle
      |UNION ALL
      |SELECT cycle, '3_purchase', CAST(count(*) AS BIGINT),
      |  CAST(coalesce(sum(epoch_us(t3) - epoch_us(t2)), 0) AS BIGINT)
      |FROM s3 GROUP BY cycle
      |ORDER BY cycle, stage""".stripMargin

  // -------------------------------------------------------------------
  // Driver-adjudicated canary for the -0.0 folding theory (the r14
  // vec_covariance red row): the engine emits a literal +0.0 DOUBLE; the
  // oracle computes `round(-1e-9, 6) + 0.0` — the ONE expression whose
  // value differs under an optimizer that rewrites `x + 0.0 -> x` (an
  // identity everywhere except on -0.0, which the normalization exists
  // to remove). Interpretation of the driver's verdict:
  //   green canary  = the driver's DuckDB does NOT fold `+ 0.0`; any
  //                   remaining vec_covariance red is NOT zero-sign;
  //   red canary    = folding proven — and every real oracle is immune,
  //                   because they all use the fold-proof CASE form
  //                   (`CASE WHEN round(x) = 0 THEN 0.0 ELSE round(x)
  //                   END`; CASE branches never arithmetic-simplify).
  // This is the only oracle allowed to carry `+ 0.0` (OracleHygieneSpec
  // bans the idiom everywhere else; tools/check.py allowlists it).
  // -------------------------------------------------------------------
  def diagZeroSign(s: SparkSession, d: String): DataFrame =
    s.sql("SELECT CAST(0.0 AS DOUBLE) AS z")

  val diagZeroSignSql: String = "SELECT round(-1e-9, 6) + 0.0 AS z"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "diag_zero_sign" -> (diagZeroSign _),
    "rel_funnel_cycles" -> (funnelCycles _),
    "rel_funnel_windowed" -> (funnelWindowed _),
    "rel_anomaly_zscore" -> (anomalyZscore _),
    "rel_gap_fill" -> (gapFill _),
    "rel_markov" -> (markovTransitions _),
    "rel_pagerank" -> (pageRank _),
    "rel_ts_paa" -> (tsPaa _),
    "rel_attribution" -> (attribution _),
    "rel_ts_shape_match" -> (tsShapeMatch _),
    "rel_pseudonymize" -> (pseudonymize _),
    "rel_key_skew" -> (keySkew _),
    "rel_retention" -> (retention _),
    "rel_set_ops_all" -> (setOpsAll _),
    "rel_rank_extra" -> (rankExtra _),
    "rel_unpivot" -> (unpivot _),
    "rel_quantiles" -> (quantiles _),
    "rel_stats_manual" -> (statsManual _),
    "rel_funnel" -> (funnel _),
    "rel_edit_distance" -> (editDistance _),
    "rel_histogram" -> (histogram _),
    "rel_range_join" -> (rangeJoin _),
    "rel_from_json" -> (fromJson _),
    "rel_profile" -> (profile _),
    "rel_hash_sample" -> (hashSample _),
    "rel_stratified_sample" -> (stratifiedSample _),
    "rel_grouping_sets" -> (groupingSetsAgg _),
    "rel_approx_quantile" -> (approxQuantile _),
    "rel_rolling_range" -> (rollingRange _),
    "rel_user_features" -> (userFeatures _),
    "rel_sessionize" -> (sessionize _),
    "rel_change_detect" -> (changeDetect _),
    "rel_snowflake_join" -> (snowflakeJoin _),
    "rel_above_avg" -> (aboveAvgBalance _),
    "rel_pivot" -> (pivotCounts _),
    "rel_salted_agg" -> (saltedAgg _),
    "rel_sliding_window" -> (slidingWindow _),
    "rel_cube" -> (cubeAgg _),
    "rel_approx_distinct" -> (approxDistinct _),
    "rel_scan_pushdown" -> (scanPushdown _),
    "rel_topk" -> (topK _),
    "rel_agg_pricing" -> (aggPricing _),
    "rel_join3" -> (join3 _),
    "rel_rollup" -> (rollupAgg _),
    "rel_rank_window" -> (rankWindow _),
    "rel_analytic_window" -> (analyticWindow _),
    "rel_time_window" -> (timeWindow _),
    "rel_session_window" -> (sessionWindow _),
    "rel_join_broadcast" -> (joinBroadcast _),
    "rel_semi_join" -> (semiJoin _),
    "rel_anti_join" -> (antiJoin _),
    "rel_asof_join" -> (asofJoin _),
    "rel_set_ops" -> (setOps _),
    "rel_string_fns" -> (stringFns _),
    "rel_datetime_fns" -> (dateTimeFns _),
    "rel_decimal_math" -> (decimalMath _),
    "rel_array_fns" -> (arrayFns _),
    "rel_map_fns" -> (mapFns _),
    "rel_json_fns" -> (jsonFns _),
    "rel_distinct" -> (distinctCounts _)
  )

  val oracles: Map[String, String] = Map(
    "diag_zero_sign" -> diagZeroSignSql,
    "rel_funnel_cycles" -> funnelCyclesSql,
    "rel_funnel_windowed" -> funnelWindowedSql,
    "rel_anomaly_zscore" -> anomalyZscoreSql,
    "rel_gap_fill" -> gapFillSql,
    "rel_markov" -> markovTransitionsSql,
    "rel_pagerank" -> pageRankSql,
    "rel_ts_paa" -> tsPaaSql,
    "rel_attribution" -> attributionSql,
    "rel_ts_shape_match" -> tsShapeMatchSql,
    "rel_pseudonymize" -> pseudonymizeSql,
    "rel_key_skew" -> keySkewSql,
    "rel_retention" -> retentionSql,
    "rel_set_ops_all" -> setOpsAllSql,
    "rel_rank_extra" -> rankExtraSql,
    "rel_unpivot" -> unpivotSql,
    "rel_quantiles" -> quantilesSql,
    "rel_stats_manual" -> statsManualSql,
    "rel_funnel" -> funnelSql,
    "rel_edit_distance" -> editDistanceSql,
    "rel_histogram" -> histogramSql,
    "rel_range_join" -> rangeJoinSql,
    "rel_from_json" -> fromJsonSql,
    "rel_profile" -> profileSql,
    "rel_hash_sample" -> hashSampleSql,
    "rel_stratified_sample" -> stratifiedSampleSql,
    "rel_grouping_sets" -> groupingSetsAggSql,
    "rel_approx_quantile" -> approxQuantileSql,
    "rel_rolling_range" -> rollingRangeSql,
    "rel_user_features" -> userFeaturesSql,
    "rel_sessionize" -> sessionizeSql,
    "rel_change_detect" -> changeDetectSql,
    "rel_snowflake_join" -> snowflakeJoinSql,
    "rel_above_avg" -> aboveAvgBalanceSql,
    "rel_pivot" -> pivotCountsSql,
    "rel_salted_agg" -> saltedAggSql,
    "rel_sliding_window" -> slidingWindowSql,
    "rel_cube" -> cubeAggSql,
    "rel_approx_distinct" -> approxDistinctSql,
    "rel_scan_pushdown" -> scanPushdownSql,
    "rel_topk" -> topKSql,
    "rel_agg_pricing" -> aggPricingSql,
    "rel_join3" -> join3Sql,
    "rel_rollup" -> rollupAggSql,
    "rel_rank_window" -> rankWindowSql,
    "rel_analytic_window" -> analyticWindowSql,
    "rel_time_window" -> timeWindowSql,
    "rel_session_window" -> sessionWindowSql,
    "rel_join_broadcast" -> joinBroadcastSql,
    "rel_semi_join" -> semiJoinSql,
    "rel_anti_join" -> antiJoinSql,
    "rel_asof_join" -> asofJoinSql,
    "rel_set_ops" -> setOpsSql,
    "rel_string_fns" -> stringFnsSql,
    "rel_datetime_fns" -> dateTimeFnsSql,
    "rel_decimal_math" -> decimalMathSql,
    "rel_array_fns" -> arrayFnsSql,
    "rel_map_fns" -> mapFnsSql,
    "rel_json_fns" -> jsonFnsSql,
    "rel_distinct" -> distinctCountsSql
  )
}
