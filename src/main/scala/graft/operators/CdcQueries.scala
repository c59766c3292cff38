package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.CdcFunctions._

/** The reference's CDC dataflow (SURVEY.md §2 Part A) re-expressed as
  * batch DataFrame queries over the driver's `events` table, which stands
  * in for the TigerBeetle change-event stream (FIXTURES.md role mapping:
  * ts ↔ event timestamp, event_type ↔ change-event type, user_id ↔
  * ledger/routing key, props ↔ payload).
  *
  * Scale notes: every query here is a single scan with narrow projections
  * — no shuffle except where the operator semantically requires one
  * (groupBy/window). The JSON envelope is built with codegen'd `concat`
  * expressions, so the whole pipeline runs inside one WholeStageCodegen
  * stage per partition, embarrassingly parallel at any scale.
  */
object CdcQueries {

  private val SubjectPrefix = "tigerbeetle.cdc"
  private val ClusterId = "graft"

  /** Portable-encoded epoch-microsecond timestamp, the `events` analog of
    * the reference's u64 cluster timestamp.
    */
  private def tsMicros = unix_micros(col("ts"))

  /** A9+A10+A11+A12 composed: the full per-event publish envelope
    * (msg_id, subject, headers, canonical JSON body). The body is built
    * by string concat with the portable-number rule so the DuckDB oracle
    * can construct the identical bytes.
    */
  /** Sort FIRST, widen AFTER: the total ordering exchanges the narrow
    * source rows (~80 B), and the 564-byte envelope is built above the
    * Sort — plan-asserted in PlanQualitySpec. Projecting before the
    * orderBy would range-shuffle the built JSON instead: ~7× the
    * exchange bytes for identical output (measured ~25-40% slower at
    * sf0.1; at 100 TB the shuffle delta is the whole game). The same
    * shape is applied to every wide-payload CDC query below.
    */
  def envelope(spark: SparkSession, sfDir: String): DataFrame =
    envelopeProjection(
      Tables.events(spark, sfDir).orderBy("event_id"),
      SubjectPrefix, ClusterId)
      .drop("ts")

  /** Oracle SQL for [[envelope]] (same string assembly in DuckDB). */
  val envelopeSql: String =
    """SELECT event_id,
      |  'graft/' || CAST(epoch_us(ts) AS VARCHAR) AS msg_id,
      |  'tigerbeetle.cdc.' || CAST(user_id AS VARCHAR) || '.' || event_type AS subject,
      |  'application/json' AS h_content_type,
      |  event_type AS h_event_type,
      |  CAST(user_id AS VARCHAR) AS h_ledger,
      |  COALESCE(json_extract_string(props, '$.k'), '0') AS h_transfer_code,
      |  CAST(((user_id % 65536) + 65536) % 65536 AS VARCHAR) AS h_debit_account_code,
      |  CAST(((event_id % 65536) + 65536) % 65536 AS VARCHAR) AS h_credit_account_code,
      |  '{"ts":' ||
      |    (CASE WHEN epoch_us(ts) <= 9007199254740991 THEN CAST(epoch_us(ts) AS VARCHAR)
      |          ELSE '"' || CAST(epoch_us(ts) AS VARCHAR) || '"' END) ||
      |  ',"type":"' || event_type ||
      |  '","ledger":' || CAST(user_id AS VARCHAR) ||
      |  ',"value_cents":' || CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR) ||
      |  ',"k":' || COALESCE(json_extract_string(props, '$.k'), 'null') ||
      |  '}' AS body
      |FROM events ORDER BY event_id""".stripMargin

  /** [[envelope]] variant running the portable encode through the native
    * Catalyst expressions (graft.plans.PortableU64Json, registered by
    * graft.Session.setup) instead of the when/concat column tree
    * — same bytes, one codegen'd branch per value. Shares the oracle.
    */
  def envelopeNative(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val cents = round(col("value") * 100).cast("long")
    val k = coalesce(get_json_object(col("props"), "$.k"), lit("null"))
    val body = concat(
      lit("{\"ts\":"), call_function("portable_u64_json", tsMicros),
      lit(",\"type\":\""), col("event_type"),
      lit("\",\"ledger\":"), col("user_id").cast("string"),
      lit(",\"value_cents\":"), cents.cast("string"),
      lit(",\"k\":"), k,
      lit("}"))
    ev.orderBy("event_id").select(
      col("event_id"),
      msgId(ClusterId, tsMicros).as("msg_id"),
      subjectFor(SubjectPrefix, col("user_id"), col("event_type")).as("subject"),
      lit("application/json").as("h_content_type"),
      col("event_type").as("h_event_type"),
      col("user_id").cast("string").as("h_ledger"),
      coalesce(get_json_object(col("props"), "$.k"), lit("0"))
        .as("h_transfer_code"),
      pmod(col("user_id"), lit(65536L)).cast("string")
        .as("h_debit_account_code"),
      pmod(col("event_id"), lit(65536L)).cast("string")
        .as("h_credit_account_code"),
      body.as("body")
    )
  }

  /** B6: nested struct + `to_json` projection — the engine-native JSON
    * path (vs the byte-controlled concat path of [[envelope]]). Output
    * keeps to int/string fields, where Spark's and DuckDB's JSON
    * serializers agree byte-for-byte; a round-trip extraction guards the
    * parse direction too.
    */
  def structJson(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val cents = round(col("value") * 100).cast("long")
    val doc = to_json(struct(
      col("user_id").as("ledger"),
      col("event_type").as("type"),
      cents.as("cents")))
    ev.orderBy("event_id").select(
      col("event_id"),
      doc.as("doc"),
      get_json_object(doc, "$.ledger").cast("long").as("ledger_rt"),
      get_json_object(doc, "$.type").as("type_rt")
    )
  }

  val structJsonSql: String =
    """SELECT event_id,
      |  CAST(to_json(struct_pack(ledger := user_id, type := event_type,
      |    cents := CAST(round(value * 100) AS BIGINT))) AS VARCHAR) AS doc,
      |  user_id AS ledger_rt,
      |  event_type AS type_rt
      |FROM events ORDER BY event_id""".stripMargin

  /** A2/A3 production shape: resume strictly AFTER a checkpointed
    * high-water mark passed in by the caller (the progress record),
    * reference runner.go:726-736. The filter compares the RAW stored
    * column (Tables.eventsAfterMicros handles each corpus shape), so it
    * pushes into the parquet reader and prunes whole row groups / files
    * via min-max stats — the returned plan contains exactly one scan of
    * `events` and no driver-side passes.
    */
  def resumeFrom(spark: SparkSession, sfDir: String, hwmMicros: Long): DataFrame =
    Tables.eventsAfterMicros(spark, sfDir, hwmMicros)
      .select(col("event_id"), col("ts"), col("event_type"))
      .orderBy("event_id")

  /** A2/A3 driver-gated query: derives the HWM as the max timestamp of
    * the already-relayed prefix (first half of the stream by event_id —
    * a deterministic stand-in for "what the progress record says"),
    * then delegates to [[resumeFrom]]. The derivation is the batch
    * analog of reading the checkpoint: one metadata-only row count plus
    * one narrow (event_id, ts) pass whose `event_id < n` predicate is
    * itself pushed down and min/max-pruned.
    */
  def resume(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = Tables.eventsRawNanos(spark, sfDir)
    val n = raw.count() / 2 // no data columns read: footer row counts only
    val hwmNanos = raw.filter(col("event_id") < n)
      .agg(max(col("ts"))).head().getLong(0)
    resumeFrom(spark, sfDir, hwmNanos / 1000L)
  }

  val resumeSql: String =
    """SELECT event_id, ts, event_type FROM events
      |WHERE ts > (SELECT max(ts) FROM events
      |            WHERE event_id < (SELECT count(*) // 2 FROM events))
      |ORDER BY event_id""".stripMargin

  /** A8/B4: event-type dispatch — CASE chain mapping the type vocabulary
    * to numeric codes (inverse of the reference enum decode), then a
    * partial-aggregatable count per code.
    */
  def dispatch(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val code = when(col("event_type") === "signup", 1)
      .when(col("event_type") === "click", 2)
      .when(col("event_type") === "view", 3)
      .when(col("event_type") === "purchase", 4)
      .when(col("event_type") === "error", 5)
      .otherwise(0)
    ev.select(code.as("type_code"), col("event_type"))
      .groupBy("type_code", "event_type").agg(count(lit(1)).as("n"))
      .orderBy("type_code")
  }

  val dispatchSql: String =
    """SELECT CASE event_type WHEN 'signup' THEN 1 WHEN 'click' THEN 2
      |  WHEN 'view' THEN 3 WHEN 'purchase' THEN 4 WHEN 'error' THEN 5
      |  ELSE 0 END AS type_code,
      |  event_type, count(*) AS n
      |FROM events GROUP BY 1, 2 ORDER BY type_code""".stripMargin

  /** A6/A7/B5: the portable-number rule exercised across the 2^53
    * boundary: synthesize u64-scale values from event_id so some fall on
    * each side, and emit the encoded JSON fragment plus a boolean.
    */
  def portable(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    // bounded synthesis that CROSSES 2^53 at every scale factor:
    // (event_id % 1000) * 2e13 spans [0, 2e16] around the 9.007e15
    // boundary (~55% below, 45% above), and never overflows a long
    val big = pmod(col("event_id"), lit(1000)) * lit(20000000000000L) + col("user_id")
    ev.orderBy("event_id").select(
      col("event_id"),
      big.as("v"),
      (big <= lit(9007199254740991L)).as("is_safe"),
      portableU64Json(big).as("encoded")
    )
  }

  val portableSql: String =
    """SELECT event_id,
      |  (event_id % 1000) * 20000000000000 + user_id AS v,
      |  ((event_id % 1000) * 20000000000000 + user_id) <= 9007199254740991 AS is_safe,
      |  CASE WHEN ((event_id % 1000) * 20000000000000 + user_id) <= 9007199254740991
      |       THEN CAST((event_id % 1000) * 20000000000000 + user_id AS VARCHAR)
      |       ELSE '"' || CAST((event_id % 1000) * 20000000000000 + user_id AS VARCHAR) || '"'
      |  END AS encoded
      |FROM events ORDER BY event_id""".stripMargin

  /** A10/B8: routing-key derivation + per-subject fan-out counts — the
    * partition-planning query a relay operator runs to size its sink.
    * One hash-aggregate shuffle on the derived key; partial aggregation
    * map-side keeps shuffled bytes ~ |distinct subjects|.
    */
  def routing(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    ev.select(subjectFor(SubjectPrefix, col("user_id"), col("event_type")).as("subject"))
      .groupBy("subject").agg(count(lit(1)).as("n"))
      .orderBy("subject")
  }

  val routingSql: String =
    """SELECT 'tigerbeetle.cdc.' || CAST(user_id AS VARCHAR) || '.' || event_type AS subject,
      |  count(*) AS n
      |FROM events GROUP BY 1 ORDER BY subject""".stripMargin

  /** A10 single-subject mode (reference config.go:16-21, 155-162): the
    * whole stream routes to ONE constant subject — the subject column
    * is a literal the optimizer folds, so the fan-out count collapses
    * to a single global aggregate.
    */
  def routingSingle(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    ev.select(subjectFor("single", SubjectPrefix, "tigerbeetle.cdc.all",
        col("user_id"), col("event_type")).as("subject"))
      .groupBy("subject").agg(count(lit(1)).as("n"))
      .orderBy("subject")
  }

  val routingSingleSql: String =
    """SELECT 'tigerbeetle.cdc.all' AS subject, count(*) AS n
      |FROM events GROUP BY 1 ORDER BY subject""".stripMargin

  /** A12/A13/B9: exact keyed dedup — keep the first event (by ts, then
    * event_id) per (user_id, event_type) dedup key. Expressed as a
    * ranking window rather than dropDuplicates so the kept row is
    * deterministic in both engines.
    */
  /** (ts, event_id) packed into one Decimal(38,0) so keyed-min dedup
    * stays a HASH aggregate: Spark can't hash-aggregate a struct min
    * (it falls back to SortAggregate, sorting every partition), but a
    * decimal min it can. event_id < 10^12 keeps the packing order-
    * preserving and exactly reversible.
    */
  private val PackBase = 1000000000000L
  private def packedTsId: Column =
    unix_micros(col("ts")).cast("decimal(38,0)") * lit(PackBase) + col("event_id")
  private def unpackTs(p: Column): Column =
    timestamp_micros(((p - p % lit(PackBase)) / lit(PackBase)).cast("long"))
  private def unpackId(p: Column): Column = (p % lit(PackBase)).cast("long")

  def dedupExact(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    // single hash aggregation with map-side partials — the shuffle
    // carries one packed value per (key × partition), no sort anywhere
    // except the final presentation ORDER BY
    ev.groupBy("user_id", "event_type")
      .agg(min(packedTsId).as("p"))
      .select(col("user_id"), col("event_type"),
        unpackId(col("p")).as("event_id"), unpackTs(col("p")).as("ts"))
      .orderBy("user_id", "event_type")
  }

  val dedupExactSql: String =
    """SELECT user_id, event_type, event_id, ts FROM (
      |  SELECT user_id, event_type, event_id, ts,
      |    row_number() OVER (PARTITION BY user_id, event_type
      |                       ORDER BY ts, event_id) AS rn
      |  FROM events) WHERE rn = 1
      |ORDER BY user_id, event_type""".stripMargin

  /** A13/B10: windowed dedup — the batch analog of
    * `dropDuplicatesWithinWatermark`: first event per key within each
    * 1-hour bucket. State per (key, bucket) only, exactly like the
    * streaming state store's watermark-bounded map.
    */
  def dedupWindowed(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val bucket = date_trunc("hour", col("ts"))
    // same packed-min shape as dedupExact, keyed additionally by the
    // time bucket — the state a watermark dedup would hold per window
    ev.withColumn("bucket", bucket)
      .groupBy("user_id", "event_type", "bucket")
      .agg(min(packedTsId).as("p"))
      .select(col("user_id"), col("event_type"), col("bucket"),
        unpackId(col("p")).as("event_id"), unpackTs(col("p")).as("ts"))
      .orderBy("user_id", "event_type", "bucket")
  }

  val dedupWindowedSql: String =
    """SELECT user_id, event_type, bucket, event_id, ts FROM (
      |  SELECT user_id, event_type, date_trunc('hour', ts) AS bucket,
      |    event_id, ts,
      |    row_number() OVER (PARTITION BY user_id, event_type, date_trunc('hour', ts)
      |                       ORDER BY ts, event_id) AS rn
      |  FROM events) WHERE rn = 1
      |ORDER BY user_id, event_type, bucket""".stripMargin

  /** A13+B11 composed: changelog compaction — the materialized
    * current-state table a CDC consumer builds from the event stream:
    * per key (ledger), the LATEST event's fields plus history depth.
    * Expressed as a `max_by` aggregate over the packed (ts, event_id)
    * ordinal — partials merge, so the shuffle carries
    * one row per (key × partition) instead of the full history the
    * equivalent ranking window would exchange; at 100 TB that is the
    * difference between shuffling |keys| and |events|. The oracle is
    * the row_number() DESC form — identical by the packed ordinal's
    * uniqueness.
    */
  def compact(spark: SparkSession, sfDir: String): DataFrame = {
    val cents = round(col("value") * 100).cast("long")
    // one decimal ordinal evaluation per row, shared by all four
    // max_by buffers
    Tables.events(spark, sfDir)
      .withColumn("ord", packedTsId)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        max_by(col("ts"), col("ord")).as("last_ts"),
        max_by(col("event_type"), col("ord")).as("last_type"),
        max_by(col("event_id"), col("ord")).as("last_event_id"),
        max_by(cents, col("ord")).as("last_value_cents"))
      .orderBy("user_id")
  }

  val compactSql: String =
    """SELECT user_id, n_events, last_ts, last_type, last_event_id,
      |  last_value_cents FROM (
      |  SELECT user_id, ts AS last_ts, event_type AS last_type,
      |    event_id AS last_event_id,
      |    CAST(round(value * 100) AS BIGINT) AS last_value_cents,
      |    count(*) OVER (PARTITION BY user_id) AS n_events,
      |    row_number() OVER (PARTITION BY user_id
      |                       ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events) WHERE rn = 1
      |ORDER BY user_id""".stripMargin

  /** A13+B19 composed: CDC apply (MERGE classification) — applying a
    * change batch to the previous snapshot: compact the history before
    * the cutover into the prior state, compact the newer events into
    * the delta, then a full outer join on the key classifies every row
    * as insert (new key), update (delta always wins — its ordinals are
    * strictly newer), or unchanged, carrying the merged current state
    * and total history depth. Both compactions are the partial
    * `max_by` aggregate (shuffle |keys|, not |events|), and the merge
    * joins two |keys|-sized relations on the key they are already
    * partitioned by.
    */
  def apply_(spark: SparkSession, sfDir: String): DataFrame = {
    val mid = lit(1705276800000000L) // 2024-01-15T00:00:00Z micros
    val cents = round(col("value") * 100).cast("long")
    // ONE scan, ONE shuffle: both side-compactions become conditional
    // aggregates in a single groupBy — max_by ignores rows whose
    // ordering expression is NULL, so masking the packed ordinal by
    // side splits the argmax without a second pass or a join (measured
    // ~2x faster than the two-scan full-outer form; at 100 TB it
    // halves the corpus I/O). The oracle keeps the two-CTE FULL OUTER
    // definition — identical results prove the rewrite.
    val inPrev = col("in_prev")
    val ordPrev = when(inPrev, col("ord"))
    val ordDelta = when(!inPrev, col("ord"))
    Tables.events(spark, sfDir)
      // evaluate the decimal ordinal and the side predicate ONCE per
      // row: six max_by buffers would otherwise each re-run the
      // decimal multiply-add per input row
      .withColumn("ord", packedTsId)
      .withColumn("in_prev", unix_micros(col("ts")) < mid)
      .groupBy("user_id")
      .agg(sum(when(inPrev, 1L).otherwise(0L)).as("prev_n"),
        sum(when(!inPrev, 1L).otherwise(0L)).as("delta_n"),
        max_by(col("event_id"), ordPrev).as("prev_event_id"),
        max_by(col("event_type"), ordPrev).as("prev_type"),
        max_by(cents, ordPrev).as("prev_cents"),
        max_by(col("event_id"), ordDelta).as("delta_event_id"),
        max_by(col("event_type"), ordDelta).as("delta_type"),
        max_by(cents, ordDelta).as("delta_cents"))
      .select(col("user_id"),
        when(col("prev_n") === 0, "insert")
          .when(col("delta_n") === 0, "unchanged")
          .otherwise("update").as("action"),
        coalesce(col("delta_event_id"), col("prev_event_id"))
          .as("last_event_id"),
        coalesce(col("delta_type"), col("prev_type")).as("last_type"),
        coalesce(col("delta_cents"), col("prev_cents"))
          .as("last_value_cents"),
        (col("prev_n") + col("delta_n")).as("n_events"))
      .orderBy("user_id")
  }

  val applySql: String =
    """WITH prev AS (
      |  SELECT user_id, count(*) AS prev_n,
      |    arg_max(event_id, CAST(epoch_us(ts) AS HUGEINT) * 1000000000000 + event_id) AS prev_event_id,
      |    arg_max(event_type, CAST(epoch_us(ts) AS HUGEINT) * 1000000000000 + event_id) AS prev_type,
      |    arg_max(CAST(round(value * 100) AS BIGINT),
      |      CAST(epoch_us(ts) AS HUGEINT) * 1000000000000 + event_id) AS prev_cents
      |  FROM events WHERE epoch_us(ts) < 1705276800000000
      |  GROUP BY user_id),
      |delta AS (
      |  SELECT user_id, count(*) AS delta_n,
      |    arg_max(event_id, CAST(epoch_us(ts) AS HUGEINT) * 1000000000000 + event_id) AS delta_event_id,
      |    arg_max(event_type, CAST(epoch_us(ts) AS HUGEINT) * 1000000000000 + event_id) AS delta_type,
      |    arg_max(CAST(round(value * 100) AS BIGINT),
      |      CAST(epoch_us(ts) AS HUGEINT) * 1000000000000 + event_id) AS delta_cents
      |  FROM events WHERE epoch_us(ts) >= 1705276800000000
      |  GROUP BY user_id)
      |SELECT coalesce(prev.user_id, delta.user_id) AS user_id,
      |  CASE WHEN prev_n IS NULL THEN 'insert'
      |       WHEN delta_n IS NULL THEN 'unchanged'
      |       ELSE 'update' END AS action,
      |  coalesce(delta_event_id, prev_event_id) AS last_event_id,
      |  coalesce(delta_type, prev_type) AS last_type,
      |  coalesce(delta_cents, prev_cents) AS last_value_cents,
      |  CAST(coalesce(prev_n, 0) + coalesce(delta_n, 0) AS BIGINT)
      |    AS n_events
      |FROM prev FULL OUTER JOIN delta ON prev.user_id = delta.user_id
      |ORDER BY user_id""".stripMargin

  /** A13+B15 composed: SCD type-2 history — the other standard shape a
    * CDC consumer materializes besides the compacted current state:
    * every event becomes a versioned row with a validity interval
    * [valid_from, valid_to) closed by the key's NEXT event, and the
    * open interval marks the current version. One lead window per key
    * — a single keyed shuffle, no self-join.
    */
  def scd2(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("valid_from"), col("event_id"))
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ts").as("valid_from"),
        col("event_type"), round(col("value") * 100).cast("long")
          .as("value_cents"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
      .orderBy("user_id", "valid_from", "event_id")
  }

  val scd2Sql: String =
    """SELECT user_id, event_id, ts AS valid_from, event_type,
      |  CAST(round(value * 100) AS BIGINT) AS value_cents,
      |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |    AS valid_to,
      |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |    AS is_current
      |FROM events ORDER BY user_id, valid_from, event_id""".stripMargin

  /** A1/A3 composed: delivery gap audit — the integrity check a relay
    * consumer runs over the delivered stream: find missing sequence
    * numbers WITHOUT a global sort. Events bucket by `event_id div
    * 512`; each bucket's (count, min, max) yields its internal missing
    * count exactly, and one lag window over the tiny bucket-summary
    * relation exposes inter-bucket gaps — so the corpus-scale pass is
    * a single hash aggregate and the only window runs on |buckets|
    * rows. The bucket width (512 here) is the scale knob: size it so
    * |id-span| / width keeps the summary relation window-safe (a 10^12
    * id span wants ~2^20-wide buckets). Delivery loss is simulated by
    * dropping event_id % 97 == 0 (the driver corpus itself is
    * gap-free).
    */
  def gapAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val delivered = Tables.events(spark, sfDir)
      .filter(col("event_id") % 97 =!= 0)
      .select(col("event_id"), expr("event_id div 512").as("bucket"))
    val summary = delivered.groupBy("bucket")
      .agg(count(lit(1)).as("n_present"),
        min(col("event_id")).as("first_id"),
        max(col("event_id")).as("last_id"))
      .withColumn("missing_within",
        col("last_id") - col("first_id") + 1 - col("n_present"))
    val w = Window.orderBy("bucket")
    summary
      .withColumn("gap_before",
        coalesce(col("first_id") - lag(col("last_id"), 1).over(w) - 1, lit(0L)))
      .filter(col("missing_within") > 0 || col("gap_before") > 0)
      .select("bucket", "n_present", "first_id", "last_id",
        "missing_within", "gap_before")
      .orderBy("bucket")
  }

  val gapAuditSql: String =
    """SELECT bucket, n_present, first_id, last_id, missing_within,
      |  gap_before FROM (
      |  SELECT bucket, n_present, first_id, last_id,
      |    last_id - first_id + 1 - n_present AS missing_within,
      |    coalesce(first_id - lag(last_id) OVER (ORDER BY bucket) - 1, 0)
      |      AS gap_before
      |  FROM (
      |    SELECT event_id // 512 AS bucket, count(*) AS n_present,
      |      min(event_id) AS first_id, max(event_id) AS last_id
      |    FROM events WHERE event_id % 97 <> 0
      |    GROUP BY event_id // 512))
      |WHERE missing_within > 0 OR gap_before > 0
      |ORDER BY bucket""".stripMargin

  /** B32/§7.4: u128-discipline balance sums via the [[graft.functions.U128Sum]]
    * typed Aggregator. Each event synthesizes a ~2^90 "balance" as a
    * decimal string from two cross-engine md5 hashes; the custom UDAF
    * sums them in unbounded integers — past Decimal(38)'s reach for
    * true u128 inputs — and returns the canonical decimal string.
    * Partial aggregation still applies (Aggregator merge), so the
    * shuffle carries one buffer per (group × partition).
    */
  def u128Sum(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val h1 = conv(substring(md5(concat(lit("b1:"), col("event_id"))), 1, 15), 16, 10)
      .cast("decimal(38,0)")
    val h2 = conv(substring(md5(concat(lit("b2:"), col("event_id"))), 1, 15), 16, 10)
      .cast("decimal(38,0)")
    val u128 = (h1 * lit(1073741824L) + h2).cast("decimal(38,0)").cast("string")
    val sumCol = udaf(graft.functions.U128Sum).apply(col("u128v"))
    ev.select(col("event_type"), u128.as("u128v"))
      .groupBy("event_type")
      .agg(sumCol.as("total_u128"), count(lit(1)).as("n"))
      .orderBy("event_type")
  }

  val u128SumSql: String =
    """SELECT event_type,
      |  CAST(sum(
      |    CAST(CAST(('0x' || substr(md5('b1:' || CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT) AS HUGEINT) * 1073741824
      |    + CAST(CAST(('0x' || substr(md5('b2:' || CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT) AS HUGEINT)
      |  ) AS VARCHAR) AS total_u128,
      |  count(*) AS n
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** B20 via the native whole-operator extension: the custom AsOfJoin
    * LogicalPlan/Strategy/Exec (graft.plans.AsOfJoin) — one merge pass
    * over co-partitioned sorted inputs, O(1) state per partition —
    * sharing rel_asof_join's oracle.
    */
  def asofNative(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    graft.plans.AsOfJoinOps.asofJoin(p, c,
        "p_user", "c_user", "purchase_ts", "click_ts",
        rightTieCols = Seq("click_id"))
      .select(col("purchase_id"), col("p_user").as("user_id"),
        col("purchase_ts"), col("click_id"), col("click_ts"))
      .orderBy("purchase_id")
  }

  // -------------------------------------------------------------------
  // The FULL reference document (36-field ChangeEvent → 3-level
  // cdcMessage JSON, reference message.go:96-152) at scale: every field
  // synthesized deterministically from event_id via cross-engine md5
  // hashes in its true range (u128 as 39-digit decimal strings, u64
  // crossing 2^53, u32/u16 bounded), assembled by the codegen'd
  // cdcJsonBody concat tree — the same function the goldens pin.
  // -------------------------------------------------------------------
  /** Native direct-from-digest form (graft.plans.Md5Top60) —
    * bit-identical to conv(substring(md5(…),1,15),16,10)::long; at
    * ~80 synthesized fields per sampled row the hex/parse round-trips
    * of the declarative form dominated this query's runtime. Needs a
    * session through graft.Session.setup before analysis.
    */
  private def h60(tag: String): Column =
    call_function("md5_top60",
      concat(lit(tag + ":"), col("event_id"))).cast("long")

  private def h60Sql(tag: String): String =
    s"CAST(('0x' || substr(md5('$tag:' || CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT)"

  /** u128 as decimal string: h1 * 2^60 + h2 (up to ~2^120). */
  private def u128Col(tag: String): Column =
    (h60(tag + "a").cast("decimal(38,0)") * lit(1152921504606846976L).cast("decimal(38,0)") +
      h60(tag + "b").cast("decimal(38,0)")).cast("decimal(38,0)").cast("string")

  private def u128Sql(tag: String): String =
    s"CAST(CAST(${h60Sql(tag + "a")} AS HUGEINT) * 1152921504606846976 + ${h60Sql(tag + "b")} AS VARCHAR)"

  /** u64 as Decimal(20,0): a 60-bit hash (crosses 2^53 freely). */
  private def u64Col(tag: String): Column = h60(tag).cast("decimal(20,0)")
  private def u64Sql(tag: String): String = h60Sql(tag)

  private def u32Col(tag: String): Column = pmod(h60(tag), lit(4294967296L))
  private def u32Sql(tag: String): String = s"${h60Sql(tag)} % 4294967296"

  private def u16Col(tag: String): Column = pmod(h60(tag), lit(65536L)).cast("int")
  private def u16Sql(tag: String): String = s"CAST(${h60Sql(tag)} % 65536 AS INT)"

  def fullEventJson(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val typeCode = (pmod(col("event_id"), lit(5)) + 1).cast("int")
    val body = cdcJsonBody(
      timestamp = u64Col("ets"), eventTypeCode = typeCode,
      ledger = u32Col("led"),
      transfer = TransferCols(
        id = u128Col("tid"), amount = u128Col("tam"),
        pendingId = u128Col("tpe"), userData128 = u128Col("tu1"),
        userData64 = u64Col("tu6"), userData32 = u32Col("tu3"),
        timeout = u32Col("tto"), code = u16Col("tco"), flags = u16Col("tfl"),
        timestamp = u64Col("tts")),
      debit = AccountCols(
        id = u128Col("did"), debitsPending = u128Col("ddp"),
        debitsPosted = u128Col("ddo"), creditsPending = u128Col("dcp"),
        creditsPosted = u128Col("dco"), userData128 = u128Col("du1"),
        userData64 = u64Col("du6"), userData32 = u32Col("du3"),
        code = u16Col("dco2"), flags = u16Col("dfl"),
        timestamp = u64Col("dts")),
      credit = AccountCols(
        id = u128Col("cid"), debitsPending = u128Col("cdp"),
        debitsPosted = u128Col("cdo"), creditsPending = u128Col("ccp"),
        creditsPosted = u128Col("cco"), userData128 = u128Col("cu1"),
        userData64 = u64Col("cu6"), userData32 = u32Col("cu3"),
        code = u16Col("cco2"), flags = u16Col("cfl"),
        timestamp = u64Col("cts")))
    // deterministic 1/17 sample: the md5-based field synthesis is test
    // scaffolding (~80 hashes/row), not operator cost — the operator
    // under test (cdcJsonBody) is a cheap codegen'd concat
    ev.filter(pmod(col("event_id"), lit(17)) === 0)
      .orderBy("event_id")
      .select(
        col("event_id"),
        eventTypeName(typeCode).as("type_name"),
        body.as("body"),
        length(body).as("body_len"))
  }

  val fullEventJsonSql: String = {
    def pu64(tag: String) =
      s"(CASE WHEN ${u64Sql(tag)} <= 9007199254740991 THEN CAST(${u64Sql(tag)} AS VARCHAR) ELSE '\"' || CAST(${u64Sql(tag)} AS VARCHAR) || '\"' END)"
    def pu128(tag: String) = {
      val s = u128Sql(tag)
      s"(CASE WHEN length($s) < 16 OR (length($s) = 16 AND $s <= '9007199254740991') THEN $s ELSE '\"' || $s || '\"' END)"
    }
    def raw(e: String) = s"CAST($e AS VARCHAR)"
    val typeName =
      "(['single_phase','two_phase_pending','two_phase_posted','two_phase_voided','two_phase_expired'])[(event_id % 5 + 1)]"
    def accountJson(p: String, tags: (String, String, String, String, String, String, String, String, String, String, String)) = {
      val (id, dp, dpo, cp, cpo, u1, u6, u3, co, fl, ts) = tags
      s"""'{"id":' || ${pu128(id)} ||
         |',"debits_pending":' || ${pu128(dp)} ||
         |',"debits_posted":' || ${pu128(dpo)} ||
         |',"credits_pending":' || ${pu128(cp)} ||
         |',"credits_posted":' || ${pu128(cpo)} ||
         |',"user_data_128":' || ${pu128(u1)} ||
         |',"user_data_64":' || ${pu64(u6)} ||
         |',"user_data_32":' || ${raw(u32Sql(u3))} ||
         |',"code":' || ${raw(u16Sql(co))} ||
         |',"flags":' || ${raw(u16Sql(fl))} ||
         |',"timestamp":' || ${pu64(ts)} || '}'""".stripMargin
    }
    val body =
      s"""'{"timestamp":' || ${pu64("ets")} ||
         |',"type":"' || $typeName ||
         |'","ledger":' || ${raw(u32Sql("led"))} ||
         |',"transfer":' ||
         |'{"id":' || ${pu128("tid")} ||
         |',"amount":' || ${pu128("tam")} ||
         |',"pending_id":' || ${pu128("tpe")} ||
         |',"user_data_128":' || ${pu128("tu1")} ||
         |',"user_data_64":' || ${pu64("tu6")} ||
         |',"user_data_32":' || ${raw(u32Sql("tu3"))} ||
         |',"timeout":' || ${raw(u32Sql("tto"))} ||
         |',"code":' || ${raw(u16Sql("tco"))} ||
         |',"flags":' || ${raw(u16Sql("tfl"))} ||
         |',"timestamp":' || ${pu64("tts")} || '}' ||
         |',"debit_account":' ||
         |${accountJson("d", ("did", "ddp", "ddo", "dcp", "dco", "du1", "du6", "du3", "dco2", "dfl", "dts"))} ||
         |',"credit_account":' ||
         |${accountJson("c", ("cid", "cdp", "cdo", "ccp", "cco", "cu1", "cu6", "cu3", "cco2", "cfl", "cts"))} ||
         |'}'""".stripMargin
    s"""SELECT event_id,
       |  $typeName AS type_name,
       |  $body AS body,
       |  CAST(length($body) AS INT) AS body_len
       |FROM events WHERE event_id % 17 = 0 ORDER BY event_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // A11: the COMPLETE message-header projection (reference
  // runner.go:596-601) over the cdc-shaped synthesis — headerMap's six
  // entries (Content-Type + 5 metadata headers), exploded to one row
  // per header so every value is individually hash-checked.
  // -------------------------------------------------------------------
  def headers(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val typeCode = (pmod(col("event_id"), lit(5)) + 1).cast("int")
    val hm = headerMap(
      eventType = eventTypeName(typeCode),
      ledger = u32Col("led"),
      transferCode = u16Col("tco"),
      debitCode = u16Col("dco2"),
      creditCode = u16Col("cco2"))
    ev.filter(pmod(col("event_id"), lit(17)) === 0)
      .select(col("event_id"), explode(hm).as(Seq("hkey", "hval")))
      .orderBy("event_id", "hkey")
  }

  val headersSql: String = {
    val typeName =
      "(['single_phase','two_phase_pending','two_phase_posted','two_phase_voided','two_phase_expired'])[(event_id % 5 + 1)]"
    s"""SELECT event_id, hkey,
       |  CASE hkey
       |    WHEN 'Content-Type' THEN 'application/json'
       |    WHEN 'event_type' THEN $typeName
       |    WHEN 'ledger' THEN CAST(${u32Sql("led")} AS VARCHAR)
       |    WHEN 'transfer_code' THEN CAST(${u16Sql("tco")} AS VARCHAR)
       |    WHEN 'debit_account_code' THEN CAST(${u16Sql("dco2")} AS VARCHAR)
       |    WHEN 'credit_account_code' THEN CAST(${u16Sql("cco2")} AS VARCHAR)
       |  END AS hval
       |FROM events
       |CROSS JOIN (SELECT unnest(['Content-Type', 'event_type', 'ledger',
       |  'transfer_code', 'debit_account_code', 'credit_account_code']) AS hkey) t
       |WHERE event_id % 17 = 0
       |ORDER BY event_id, hkey""".stripMargin
  }

  // -------------------------------------------------------------------
  // Charter: event-time reorder audit — per arrival order (event_id is
  // the reference's monotone cluster ordinal, runner.go:147-151), how
  // far does event time regress behind the running per-key maximum?
  // The answer IS the dedup/reorder window a relay needs (reference
  // analog: the duplicate-suppression window, runner.go:180): a clean
  // corpus reports one all-zero row; a disordered feed reports an exact
  // log2-bucketed lateness histogram. Exact-integer output only — the
  // log2 bucket is length(bin(x)) bit math, never float log. The
  // running max is a per-user window (one keyed exchange, no global
  // sort); the histogram is ≤64 rows.
  // -------------------------------------------------------------------
  def reorderAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("event_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val lateUs = {
      val prior = max(unix_micros(col("ts"))).over(w)
      when(prior.isNull || prior <= unix_micros(col("ts")), lit(0L))
        .otherwise(prior - unix_micros(col("ts")))
    }
    Tables.events(spark, sfDir)
      .select(lateUs.as("late_us"))
      .select(when(col("late_us") === 0, lit(0L))
        .otherwise(length(bin(col("late_us"))).cast("bigint"))
        .as("late_log2_bucket"),
        col("late_us"))
      .groupBy("late_log2_bucket")
      .agg(count(lit(1)).as("n_events"),
        max(col("late_us")).as("max_late_us"),
        sum(col("late_us")).as("sum_late_us"))
      .orderBy("late_log2_bucket")
  }

  val reorderAuditSql: String =
    """WITH arr AS (
      |  SELECT epoch_us(ts) AS tsu,
      |    max(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_max
      |  FROM events),
      |late AS (
      |  SELECT CASE WHEN prior_max IS NULL OR prior_max <= tsu THEN 0
      |              ELSE prior_max - tsu END AS late_us
      |  FROM arr),
      |b AS (SELECT CASE WHEN late_us = 0 THEN 0
      |        ELSE length(bin(late_us)) END AS late_log2_bucket, late_us
      |      FROM late)
      |SELECT late_log2_bucket, count(*) AS n_events,
      |  CAST(max(late_us) AS BIGINT) AS max_late_us,
      |  CAST(sum(late_us) AS BIGINT) AS sum_late_us
      |FROM b GROUP BY late_log2_bucket ORDER BY late_log2_bucket""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cdc_reorder_audit" -> (reorderAudit _),
    "cdc_headers" -> (headers _),
    "cdc_full_event_json" -> (fullEventJson _),
    "cdc_asof_native" -> (asofNative _),
    "cdc_u128_sum" -> (u128Sum _),
    "cdc_envelope_native" -> (envelopeNative _),
    "cdc_struct_json" -> (structJson _),
    "cdc_envelope" -> (envelope _),
    "cdc_resume" -> (resume _),
    "cdc_dispatch" -> (dispatch _),
    "cdc_portable" -> (portable _),
    "cdc_routing" -> (routing _),
    "cdc_routing_single" -> (routingSingle _),
    "cdc_dedup_exact" -> (dedupExact _),
    "cdc_dedup_windowed" -> (dedupWindowed _),
    "cdc_compact" -> (compact _),
    "cdc_apply" -> (apply_ _),
    "cdc_gap_audit" -> (gapAudit _),
    "cdc_scd2" -> (scd2 _)
  )

  val oracles: Map[String, String] = Map(
    "cdc_reorder_audit" -> reorderAuditSql,
    "cdc_headers" -> headersSql,
    "cdc_full_event_json" -> fullEventJsonSql,
    "cdc_asof_native" -> RelationalQueries.asofJoinSql,
    "cdc_u128_sum" -> u128SumSql,
    "cdc_envelope_native" -> envelopeSql,
    "cdc_struct_json" -> structJsonSql,
    "cdc_envelope" -> envelopeSql,
    "cdc_resume" -> resumeSql,
    "cdc_dispatch" -> dispatchSql,
    "cdc_portable" -> portableSql,
    "cdc_routing" -> routingSql,
    "cdc_routing_single" -> routingSingleSql,
    "cdc_dedup_exact" -> dedupExactSql,
    "cdc_dedup_windowed" -> dedupWindowedSql,
    "cdc_compact" -> compactSql,
    "cdc_apply" -> applySql,
    "cdc_gap_audit" -> gapAuditSql,
    "cdc_scd2" -> scd2Sql
  )
}
