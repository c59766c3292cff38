package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.Tables._

/** Text-analysis + deduplication operators for LLM-data pipelines
  * (SURVEY.md §2 Part B: B28/B30 and the charter's dedup family) over the
  * `documents` table.
  *
  * Cross-engine deterministic hashing: both Spark and DuckDB expose md5
  * as a lowercase hex string, so `bigint(conv(substr(md5(x),1,15),16,10))`
  * (Spark) == `('0x'||substr(md5(x),1,15))::BIGINT` (DuckDB) — a 60-bit
  * positive hash both engines agree on exactly. All MinHash/SimHash/
  * fingerprint math is built on it, which is what makes these operators
  * oracle-checkable.
  *
  * Scale design: every per-document operator is a narrow projection over
  * one scan (embarrassingly parallel); MinHash-LSH turns the quadratic
  * near-dup problem into group-by-bucket + per-bucket joins, the standard
  * 100 TB-safe shape.
  */
object TextQueries {

  /** Tokenize on single spaces (the corpus is space-separated words). */
  private def toks: Column = split(col("text"), " ")

  /** 60-bit cross-engine hash of a string column (see object doc) —
    * the native direct-from-digest form ([[graft.plans.Md5Top60]]):
    * bit-identical to `conv(substring(md5(c),1,15),16,10)::long` but
    * without the hex/substring/parse string round-trips, which rival
    * the digest cost itself across the millions of per-gram
    * evaluations in the dedup pipelines.
    */
  private def h60(c: Column): Column = call_function("md5_top60", c)

  private def h60Sql(e: String): String =
    s"CAST(('0x' || substr(md5($e), 1, 15)) AS BIGINT)"

  // -------------------------------------------------------------------
  // B28a: corpus top terms — explode + count + top-K by (count, term).
  // Partial aggregation makes the shuffle |vocabulary|-sized, and the
  // final top-K is TakeOrderedAndProject (no global sort).
  // -------------------------------------------------------------------
  def topTerms(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(explode(toks).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term")).limit(50)

  val topTermsSql: String =
    """SELECT term, count(*) AS n FROM (
      |  SELECT unnest(string_split(text, ' ')) AS term FROM documents)
      |WHERE term <> '' GROUP BY term
      |ORDER BY n DESC, term LIMIT 50""".stripMargin

  // -------------------------------------------------------------------
  // B28b: per-document text statistics — token counting, unique-token
  // counting, average token length, stopword ratio, and a stopword-based
  // language-ID heuristic. Pure per-row map work, no shuffle at all.
  // -------------------------------------------------------------------
  private val Stopwords = Seq("the", "a", "of", "and", "to", "in", "is")
  private val stopList = Stopwords.map(w => s"'$w'").mkString("(", ", ", ")")

  def textStats(s: SparkSession, d: String): DataFrame = {
    // tokenize once into `t`; every statistic reads the materialized
    // array instead of re-splitting the text
    val nTok = size(col("t"))
    val nUniq = size(array_distinct(col("t")))
    val nStop = size(expr(s"filter(t, x -> x IN $stopList)"))
    val sumLen = expr("aggregate(t, 0L, (acc, x) -> acc + length(x))")
    documents(s, d).withColumn("t", toks).select(
      col("doc_id"),
      col("lang"),
      nTok.as("n_tokens"),
      nUniq.as("n_unique"),
      (nUniq.cast("double") / nTok).as("uniq_ratio"),
      (sumLen.cast("double") / nTok).as("avg_token_len"),
      (nStop.cast("double") / nTok).as("stopword_ratio"),
      when(nStop.cast("double") / nTok > 0.12, lit("en"))
        .otherwise(lit("other")).as("lang_guess"),
      col("n_chars")
    ).orderBy("doc_id")
  }

  val textStatsSql: String =
    s"""SELECT doc_id, lang,
       |  CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
       |  CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_unique,
       |  CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) / len(string_split(text, ' ')) AS uniq_ratio,
       |  CAST(list_sum(list_transform(string_split(text, ' '), x -> length(x))) AS DOUBLE) / len(string_split(text, ' ')) AS avg_token_len,
       |  CAST(len(list_filter(string_split(text, ' '), x -> x IN $stopList)) AS DOUBLE) / len(string_split(text, ' ')) AS stopword_ratio,
       |  CASE WHEN CAST(len(list_filter(string_split(text, ' '), x -> x IN $stopList)) AS DOUBLE) / len(string_split(text, ' ')) > 0.12
       |       THEN 'en' ELSE 'other' END AS lang_guess,
       |  n_chars
       |FROM documents ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // B28c: document fingerprinting — order-independent aggregates (min /
  // bit_xor / sum) of per-token hashes. A content fingerprint computable
  // with one pass and mergeable across partitions.
  // -------------------------------------------------------------------
  def fingerprint(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), explode(toks).as("tok"))
      .filter(col("tok") =!= "")
      .select(col("doc_id"), h60(col("tok")).as("h"))
      .groupBy("doc_id")
      .agg(min(col("h")).as("min_hash"),
        expr("bit_xor(h)").as("xor_hash"),
        // modular sum in exact decimal so the 60-bit hashes can't
        // overflow a long under ANSI mode, in either engine
        (sum(col("h").cast("decimal(38,0)")) % lit(1152921504606846976L))
          .cast("long").as("sum_hash"),
        count(lit(1)).as("n_tokens"))
      .orderBy("doc_id")

  val fingerprintSql: String = {
    val h = h60Sql("tok")
    s"""SELECT doc_id, min($h) AS min_hash, bit_xor($h) AS xor_hash,
       |  CAST(sum(CAST($h AS HUGEINT)) % 1152921504606846976 AS BIGINT) AS sum_hash,
       |  count(*) AS n_tokens
       |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
       |WHERE tok <> '' GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // Dedup 1 (exact): hash-groupBy on full text — the canonical exact
  // dedup at scale (shuffle on md5, not on the text payload itself).
  // Emits one canonical doc per distinct text plus the duplicate count.
  // -------------------------------------------------------------------
  def dedupExactText(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .groupBy(md5(col("text")).as("text_md5"))
      .agg(min(col("doc_id")).as("canonical_doc"), count(lit(1)).as("n_copies"))
      .orderBy("canonical_doc")

  val dedupExactTextSql: String =
    """SELECT md5(text) AS text_md5, min(doc_id) AS canonical_doc,
      |  count(*) AS n_copies
      |FROM documents GROUP BY md5(text) ORDER BY canonical_doc""".stripMargin

  // -------------------------------------------------------------------
  // Dedup 2 (MinHash over 3-gram shingles): word unigrams are
  // non-discriminative (tiny shared vocabulary ⇒ every token-set
  // Jaccard ≈ 1), so signatures hash word 3-gram shingles — order-
  // sensitive, high-cardinality, the standard shingle→minhash→band
  // pipeline. k=8 permutations simulated by seeded hashes; per-doc
  // signature is 8 mins — one explode + one groupBy, mergeable partial
  // mins, shuffle is |docs| × 8 longs.
  // -------------------------------------------------------------------
  private val MinhashSeeds = 0 until 8

  /** One-hash minhash (Broder-style): each of the k "permutations" is
    * an affine map `(h % p) * A_i + B_i mod p` of ONE strong per-
    * shingle hash, with p = 2^31-1 (Mersenne prime). One md5 per
    * shingle instead of k — at 100 TB the hash pass is the dominant
    * signature cost. All operands stay < 2^62, so the arithmetic is
    * ANSI-overflow-safe in Spark and exactly mirrored in DuckDB BIGINT.
    */
  private val MinhashP = 2147483647L
  private val MinhashA = Seq(1103515245L, 1299709L, 15485863L, 32452843L,
    49979687L, 67867967L, 86028121L, 104395301L)
  private val MinhashB = Seq(12345L, 67890L, 111111L, 222222L,
    333333L, 444444L, 555555L, 666666L)

  private def perm(i: Int, h: Column): Column =
    ((h % MinhashP) * MinhashA(i) + MinhashB(i)) % MinhashP

  private def permSql(i: Int, h: String): String =
    s"((($h) % $MinhashP) * ${MinhashA(i)} + ${MinhashB(i)}) % $MinhashP"

  /** Worst-case bound on a blocking group (shared by ngramJaccard and
    * containment, Scala AND oracle SQL): a block even sparse 8-gram
    * minima cannot split (boilerplate corpora) is noise-dominated —
    * skip it rather than emit its quadratic pair count. No measured
    * corpus (sf0.01/0.1/1) has a block over 59 docs, so the cap changes
    * nothing at any tested scale; it bounds the worst case at 100 TB.
    * The trade is a recall cliff INSIDE an oversized block (its pairs
    * score zero) — which is why [[cappedBlocks]] logs every activation
    * instead of dropping silently.
    */
  val DegenerateBlockCap = 64

  /** Blocks small enough to pair-join, with cap activation observable:
    * an Observation rides the block-size aggregate (same job, no extra
    * pass) and a non-blocking callback logs dropped blocks + max block
    * size when the metrics land.
    */
  private def cappedBlocks(dg: DataFrame, op: String): DataFrame = {
    val obs = new org.apache.spark.sql.Observation()
    val sizes = dg.groupBy("block").agg(count(lit(1)).as("bn"))
      .observe(obs,
        coalesce(sum(when(col("bn") > DegenerateBlockCap, 1L).otherwise(0L)),
          lit(0L)).as("dropped_blocks"),
        coalesce(max(col("bn")), lit(0L)).as("max_block"))
    org.apache.spark.sql.graftbridge.DatasetBridge.onObserved(obs) { m =>
      val dropped = m.get("dropped_blocks").collect { case l: Long => l }.getOrElse(0L)
      if (dropped > 0) System.err.println(
        s"[graft] $op: degenerate-block cap ($DegenerateBlockCap) dropped " +
          s"$dropped block(s), max block size ${m.getOrElse("max_block", "?")} " +
          "-- near-dup recall inside those blocks is zero")
    }
    sizes.filter(col("bn") <= DegenerateBlockCap).select("block")
  }

  /** documents with doc_id + exploded shingle column `sh`, via the
    * native [[graft.plans.WordShingles]] expression — a compiled loop
    * inside whole-stage codegen. The declarative `transform(sequence,
    * ...)` form it replaces is a higher-order function that Catalyst
    * interprets per element, which made shingle construction the
    * dominant cost of every MinHash consumer. Semantics are identical
    * (tokens split on single spaces, k-grams joined by spaces, empty
    * when fewer than 3 tokens).
    */
  private def docShingles(s: SparkSession, d: String) = {
    documents(s, d)
      .select(col("doc_id"),
        explode(call_function("word_shingles", col("text"), lit(3), lit(false)))
          .as("sh"))
  }

  private val shinglesSql: String =
    """list_transform(range(1, greatest(len(string_split(text, ' ')) - 1, 1)),
      |    i -> string_split(text, ' ')[i] || ' ' ||
      |         string_split(text, ' ')[i+1] || ' ' ||
      |         string_split(text, ' ')[i+2])""".stripMargin

  def minhashSignatures(s: SparkSession, d: String): DataFrame = {
    val hashed = docShingles(s, d)
      .select(col("doc_id"), h60(col("sh")).as("h"))
    val aggs = MinhashSeeds.map(i => min(perm(i, col("h"))).as(s"sig_$i"))
    hashed.groupBy("doc_id").agg(aggs.head, aggs.tail: _*).orderBy("doc_id")
  }

  val minhashSignaturesSql: String = {
    val sigs = MinhashSeeds.map { i =>
      s"  min(${permSql(i, "h")}) AS sig_$i"
    }.mkString(",\n")
    s"""SELECT doc_id,
       |$sigs
       |FROM (SELECT doc_id, ${h60Sql("sh")} AS h FROM
       |  (SELECT doc_id, unnest($shinglesSql) AS sh FROM documents))
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // Dedup 3 (MinHash-LSH near-dup pairs): band the 8-wide signature into
  // 4 bands of 2, bucket-join within bands, then verify candidates with
  // exact shingle-set Jaccard (B30). The LSH bucket join replaces the
  // all-pairs cross join — candidate count scales with collisions, not
  // |docs|². Jaccard verification joins exploded distinct shingles only
  // for candidate pairs.
  // -------------------------------------------------------------------
  def neardupPairs(s: SparkSession, d: String): DataFrame =
    neardupPairsCore(s, d).orderBy("doc_a", "doc_b")

  /** [[neardupPairs]] without the presentation ordering — composites
    * (dedup_agreement, dedup_keep) consume the checkpoint-backed pairs
    * unordered, so they skip the extra range exchange.
    */
  private[operators] def neardupPairsCore(s: SparkSession, d: String): DataFrame = {
    // ONE corpus explode total: the flat (doc_id, shingle-hash)
    // relation is staged once and feeds BOTH the signature aggregation
    // (8 mins + set size per doc) and the exact verification join; the
    // per-doc signature relation is staged as the second level. No
    // collect_list: round 4 carried every doc's full hash-set as an
    // array column through the staged relation — corpus-scale block
    // churn per run — where the same intersection falls out of a
    // same-key (doc, h) hash join on the flat relation, which shuffles
    // only candidate docs' hashes and holds nothing wider than 16
    // bytes/row. (min over the distinct shingle set == min over the
    // multiset, so signatures are unchanged; matching on the 60-bit
    // hash equals matching shingles modulo collisions, which the
    // oracle's string-equality join cross-checks.)
    val hashedRaw = documents(s, d)
      .select(col("doc_id"),
        explode(call_function("word_shingles", col("text"), lit(3), lit(true)))
          .as("sh"))
      .select(col("doc_id"), h60(col("sh")).as("h"))
    graft.Stage.fanout2(hashedRaw) { hashed =>
      val aggs = MinhashSeeds.map(i => min(perm(i, col("h"))).as(s"sig_$i")) :+
        count(lit(1)).as("n")
      hashed.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
    } { (hashed, docsh) =>
      // posexplode of the 4 band keys: ONE evaluation of the signature
      // subtree instead of a 4-way union that recomputes it per band
      val bandKeys = array((0 until 4).map { b =>
        concat_ws("_", col(s"sig_${2 * b}"), col(s"sig_${2 * b + 1}"))
      }: _*)
      val bands = docsh.select(col("doc_id"),
        posexplode(bandKeys).as(Seq("band", "bkey")))
      val cand = bands.as("x").join(bands.as("y"),
          col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .distinct()
      // exact intersection via the flat relation: candidate pairs
      // (small — LSH collisions, not |docs|²) broadcast against the
      // staged hashes, then a same-key (doc, h) join counts common
      // shingles; AQE degrades to shuffle joins when cand outgrows
      // the broadcast threshold at scale
      val inter = cand
        .join(hashed.as("ta"), col("doc_a") === col("ta.doc_id"))
        .join(hashed.as("tb"),
          col("doc_b") === col("tb.doc_id") && col("ta.h") === col("tb.h"))
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_common"))
      val sizes = docsh.select(col("doc_id"), col("n"))
      inter
        .join(sizes.select(col("doc_id").as("ida"), col("n").as("na")),
          col("doc_a") === col("ida"))
        .join(sizes.select(col("doc_id").as("idb"), col("n").as("nb")),
          col("doc_b") === col("idb"))
        .select(col("doc_a"), col("doc_b"), col("na"), col("nb"),
          col("n_common"))
    }.select(col("doc_a"), col("doc_b"), col("n_common"),
        (col("n_common").cast("double") /
          (col("na") + col("nb") - col("n_common"))).as("jaccard"))
      .filter(col("jaccard") >= 0.4)
  }

  val neardupPairsSql: String = {
    val sigsSql = minhashSignaturesSql.replace("ORDER BY doc_id", "")
    s"""WITH sigs AS ($sigsSql),
       |bands AS (
       |  SELECT doc_id, 0 AS band, CAST(sig_0 AS VARCHAR) || '_' || CAST(sig_1 AS VARCHAR) AS bkey FROM sigs
       |  UNION ALL SELECT doc_id, 1, CAST(sig_2 AS VARCHAR) || '_' || CAST(sig_3 AS VARCHAR) FROM sigs
       |  UNION ALL SELECT doc_id, 2, CAST(sig_4 AS VARCHAR) || '_' || CAST(sig_5 AS VARCHAR) FROM sigs
       |  UNION ALL SELECT doc_id, 3, CAST(sig_6 AS VARCHAR) || '_' || CAST(sig_7 AS VARCHAR) FROM sigs),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
       |dsh AS (
       |  SELECT doc_id, unnest(list_distinct($shinglesSql)) AS sh
       |  FROM documents),
       |sizes AS (SELECT doc_id, count(*) AS n FROM dsh GROUP BY doc_id),
       |inter AS (
       |  SELECT doc_a, doc_b, count(*) AS n_common
       |  FROM cand
       |  JOIN dsh ta ON ta.doc_id = doc_a
       |  JOIN dsh tb ON tb.doc_id = doc_b AND tb.sh = ta.sh
       |  GROUP BY doc_a, doc_b)
       |SELECT doc_a, doc_b, n_common,
       |  CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
       |FROM inter
       |JOIN sizes sa ON sa.doc_id = doc_a
       |JOIN sizes sb ON sb.doc_id = doc_b
       |WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.4
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // -------------------------------------------------------------------
  // Charter: MinHash calibration audit — the report an operator reads
  // before trusting the banding parameters: for EVERY LSH candidate
  // pair (no jaccard floor), the signature-estimated similarity
  // (agreeing components / 8) against the exact shingle Jaccard,
  // bucketed by exact-jaccard decile. Per-pair values are held in
  // micro-unit BIGINTs so the bucket means are exact integer sums —
  // deterministic at any shuffle order, in either engine. Same staged
  // two-level fan-out as dedup_neardup_pairs: the corpus is exploded
  // and hashed exactly once.
  // -------------------------------------------------------------------
  def minhashCalibration(s: SparkSession, d: String): DataFrame = {
    val hashedRaw = documents(s, d)
      .select(col("doc_id"),
        explode(call_function("word_shingles", col("text"), lit(3), lit(true)))
          .as("sh"))
      .select(col("doc_id"), h60(col("sh")).as("h"))
    val pairs = graft.Stage.fanout2(hashedRaw) { hashed =>
      val aggs = MinhashSeeds.map(i => min(perm(i, col("h"))).as(s"sig_$i")) :+
        count(lit(1)).as("n")
      hashed.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
    } { (hashed, docsh) =>
      val bandKeys = array((0 until 4).map { b =>
        concat_ws("_", col(s"sig_${2 * b}"), col(s"sig_${2 * b + 1}"))
      }: _*)
      val bands = docsh.select(col("doc_id"),
        posexplode(bandKeys).as(Seq("band", "bkey")))
      val cand = bands.as("x").join(bands.as("y"),
          col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .distinct()
      val inter = cand
        .join(hashed.as("ta"), col("doc_a") === col("ta.doc_id"))
        .join(hashed.as("tb"),
          col("doc_b") === col("tb.doc_id") && col("ta.h") === col("tb.h"))
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("nc"))
      val sa = docsh.select(
        Seq(col("doc_id").as("ida"), col("n").as("na")) ++
          MinhashSeeds.map(i => col(s"sig_$i").as(s"a_$i")): _*)
      val sb = docsh.select(
        Seq(col("doc_id").as("idb"), col("n").as("nb")) ++
          MinhashSeeds.map(i => col(s"sig_$i").as(s"b_$i")): _*)
      val agree = MinhashSeeds
        .map(i => when(col(s"a_$i") === col(s"b_$i"), 1L).otherwise(0L))
        .reduce(_ + _)
      // left join: a band collision without a true common shingle (perm
      // collision) is still a candidate the audit must count, at
      // jaccard 0
      cand.join(inter, Seq("doc_a", "doc_b"), "left")
        .na.fill(0L, Seq("nc"))
        .join(sa, col("doc_a") === col("ida"))
        .join(sb, col("doc_b") === col("idb"))
        .select(col("doc_a"), col("doc_b"), agree.as("n_agree"),
          col("nc").as("n_common"), col("na"), col("nb"))
    }
    val j = col("n_common").cast("double") /
      (col("na") + col("nb") - col("n_common"))
    pairs
      .select(floor(j * 10).cast("long").as("bucket"),
        (col("n_agree") * lit(125000L)).as("est_micro"),
        floor(j * 1000000).cast("long").as("exact_micro"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("est_micro")).as("se"),
        sum(col("exact_micro")).as("sx"),
        sum(abs(col("est_micro") - col("exact_micro"))).as("sae"))
      .select(col("bucket"), col("n_pairs"),
        round(col("se").cast("double") / lit(1000000.0) / col("n_pairs"), 6)
          .as("avg_est"),
        round(col("sx").cast("double") / lit(1000000.0) / col("n_pairs"), 6)
          .as("avg_exact"),
        round(col("sae").cast("double") / lit(1000000.0) / col("n_pairs"), 6)
          .as("mean_abs_err"))
      .orderBy("bucket")
  }

  val minhashCalibrationSql: String = {
    val sigDefs = MinhashSeeds.map { i =>
      s"  min(${permSql(i, "h")}) AS sig_$i"
    }.mkString(",\n")
    val agree = MinhashSeeds.map { i =>
      s"(CASE WHEN sa.sig_$i = sb.sig_$i THEN 1 ELSE 0 END)"
    }.mkString(" + ")
    val jd = "CAST(n_common AS DOUBLE) / (na + nb - n_common)"
    s"""WITH dh AS (
       |  SELECT doc_id, ${h60Sql("sh")} AS h FROM (
       |    SELECT doc_id, unnest(list_distinct($shinglesSql)) AS sh
       |    FROM documents)),
       |sigs AS (
       |  SELECT doc_id,
       |$sigDefs,
       |  count(*) AS n
       |  FROM dh GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id, 0 AS band, CAST(sig_0 AS VARCHAR) || '_' || CAST(sig_1 AS VARCHAR) AS bkey FROM sigs
       |  UNION ALL SELECT doc_id, 1, CAST(sig_2 AS VARCHAR) || '_' || CAST(sig_3 AS VARCHAR) FROM sigs
       |  UNION ALL SELECT doc_id, 2, CAST(sig_4 AS VARCHAR) || '_' || CAST(sig_5 AS VARCHAR) FROM sigs
       |  UNION ALL SELECT doc_id, 3, CAST(sig_6 AS VARCHAR) || '_' || CAST(sig_7 AS VARCHAR) FROM sigs),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
       |inter AS (
       |  SELECT doc_a, doc_b, count(*) AS nc
       |  FROM cand
       |  JOIN dh ta ON ta.doc_id = doc_a
       |  JOIN dh tb ON tb.doc_id = doc_b AND tb.h = ta.h
       |  GROUP BY doc_a, doc_b),
       |pairs AS (
       |  SELECT c.doc_a, c.doc_b, $agree AS n_agree,
       |    coalesce(i.nc, 0) AS n_common, sa.n AS na, sb.n AS nb
       |  FROM cand c
       |  LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
       |  JOIN sigs sa ON sa.doc_id = c.doc_a
       |  JOIN sigs sb ON sb.doc_id = c.doc_b),
       |m AS (
       |  SELECT CAST(floor(($jd) * 10) AS BIGINT) AS bucket,
       |    CAST(n_agree * 125000 AS BIGINT) AS est_micro,
       |    CAST(floor(($jd) * 1000000) AS BIGINT) AS exact_micro
       |  FROM pairs)
       |SELECT bucket, count(*) AS n_pairs,
       |  CASE WHEN round(CAST(CAST(sum(est_micro) AS BIGINT) AS DOUBLE) / 1000000.0 / count(*), 6) = 0 THEN 0.0 ELSE round(CAST(CAST(sum(est_micro) AS BIGINT) AS DOUBLE) / 1000000.0 / count(*), 6) END AS avg_est,
       |  CASE WHEN round(CAST(CAST(sum(exact_micro) AS BIGINT) AS DOUBLE) / 1000000.0 / count(*), 6) = 0 THEN 0.0 ELSE round(CAST(CAST(sum(exact_micro) AS BIGINT) AS DOUBLE) / 1000000.0 / count(*), 6) END AS avg_exact,
       |  CASE WHEN round(CAST(CAST(sum(abs(est_micro - exact_micro)) AS BIGINT) AS DOUBLE) / 1000000.0 / count(*), 6) = 0 THEN 0.0 ELSE round(CAST(CAST(sum(abs(est_micro - exact_micro)) AS BIGINT) AS DOUBLE) / 1000000.0 / count(*), 6) END AS mean_abs_err
       |FROM m GROUP BY bucket ORDER BY bucket""".stripMargin
  }

  // -------------------------------------------------------------------
  // Dedup 4 (SimHash): 16-bit simhash — per bit b, sign of
  // sum(±1 over token hashes' bit b); fingerprint = Σ bit<<b. All
  // order-independent integer aggregates → deterministic and mergeable.
  // -------------------------------------------------------------------
  private val SimhashBits = 16

  def simhash(s: SparkSession, d: String): DataFrame = {
    val base = documents(s, d)
      .select(col("doc_id"), explode(toks).as("tok"))
      .filter(col("tok") =!= "")
      .select(col("doc_id"), h60(col("tok")).as("h"))
    val bitAggs = (0 until SimhashBits).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1L).otherwise(-1L))
        .as(s"s_$b")
    }
    val agg = base.groupBy("doc_id").agg(bitAggs.head, bitAggs.tail: _*)
    val fp = (0 until SimhashBits).map { b =>
      when(col(s"s_$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    agg.select(col("doc_id"), fp.as("simhash16")).orderBy("doc_id")
  }

  val simhashSql: String = {
    val h = h60Sql("tok")
    val sums = (0 until SimhashBits).map { b =>
      s"  sum(CASE WHEN ($h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS s_$b"
    }.mkString(",\n")
    val fp = (0 until SimhashBits).map { b =>
      s"(CASE WHEN s_$b > 0 THEN ${1L << b} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH bits AS (
       |  SELECT doc_id,
       |$sums
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
       |  WHERE tok <> '' GROUP BY doc_id)
       |SELECT doc_id, CAST($fp AS BIGINT) AS simhash16 FROM bits ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // B28d: BPE-ish regex token counting — letter runs, digit runs, and
  // single punctuation marks as separate tokens (the pre-tokenizer
  // shape BPE vocabularies are trained over), counted per document.
  // Same RE2-compatible pattern on both engines.
  // -------------------------------------------------------------------
  private val BpePattern = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"

  def tokenRegex(s: SparkSession, d: String): DataFrame = {
    val pieces = expr(s"regexp_extract_all(text, '$BpePattern', 0)")
    documents(s, d).select(
      col("doc_id"),
      size(pieces).as("n_pieces"),
      size(array_distinct(pieces)).as("n_unique_pieces"),
      (col("n_chars").cast("double") /
        greatest(size(pieces), lit(1))).as("chars_per_piece")
    ).orderBy("doc_id")
  }

  val tokenRegexSql: String =
    s"""SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '$BpePattern')) AS INT) AS n_pieces,
       |  CAST(len(list_distinct(regexp_extract_all(text, '$BpePattern'))) AS INT) AS n_unique_pieces,
       |  CAST(n_chars AS DOUBLE) / greatest(len(regexp_extract_all(text, '$BpePattern')), 1) AS chars_per_piece
       |FROM documents ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // B28e/B32: order-sensitive document fingerprint via a ROLLING hash —
  // fold (h*31 + tokenHash) mod p over tokens in order — implemented as
  // a Scala UDF (completing the UDF/UDAF/native-Expression extension
  // surface; the oracle folds the identical arithmetic with
  // list_reduce). Unlike text_fingerprint's min/xor/sum, this detects
  // reordering, not just token-set changes.
  // -------------------------------------------------------------------
  private val digestTL = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private def h60Scala(s: String): Long = {
    val md = digestTL.get(); md.reset()
    val dig = md.digest(s.getBytes("UTF-8"))
    // first 15 hex chars = first 7 bytes + high nibble of the 8th
    var h = 0L
    var i = 0
    while (i < 7) { h = (h << 8) | (dig(i) & 0xffL); i += 1 }
    (h << 4) | ((dig(7) & 0xf0L) >> 4)
  }

  def rollingFingerprint(s: SparkSession, d: String): DataFrame = {
    val roll = udf { toks: Seq[String] =>
      toks.map(t => h60Scala(t) % 1000000007L)
        .reduceLeft((a, b) => (a * 31 + b) % 2147483647L)
    }
    documents(s, d)
      .select(col("doc_id"), roll(toks).as("rolling_fp"))
      .orderBy("doc_id")
  }

  val rollingFingerprintSql: String =
    s"""SELECT doc_id,
       |  list_reduce(
       |    list_transform(string_split(text, ' '),
       |      t -> ${h60Sql("t")} % 1000000007),
       |    (a, b) -> (a * 31 + b) % 2147483647) AS rolling_fp
       |FROM documents ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // B28f: composite quality scoring — the filter stage of a training-
  // data pipeline. Character-class ratios via regexp_replace lengths,
  // combined into one score; the downstream `keep` flag is the
  // pipeline's actual output. Pure per-row map work.
  // -------------------------------------------------------------------
  def qualityScore(s: SparkSession, d: String): DataFrame = {
    val len = length(col("text")).cast("double")
    val nAlpha = length(regexp_replace(col("text"), "[^a-zA-Z]", "")).cast("double")
    val nDigit = length(regexp_replace(col("text"), "[^0-9]", "")).cast("double")
    val nSpace = length(regexp_replace(col("text"), "[^ ]", "")).cast("double")
    val nPunct = len - nAlpha - nDigit - nSpace
    val wordLen = (len - nSpace) / (nSpace + lit(1.0))
    val score = (nAlpha / len) * lit(0.6) +
      (lit(1.0) - nPunct / len) * lit(0.3) +
      when(wordLen >= 3 && wordLen <= 10, lit(0.1)).otherwise(lit(0.0))
    documents(s, d).select(
      col("doc_id"),
      (nAlpha / len).as("alpha_ratio"),
      (nDigit / len).as("digit_ratio"),
      (nPunct / len).as("punct_ratio"),
      wordLen.as("avg_word_len"),
      score.as("quality"),
      (score > 0.8).as("keep")
    ).orderBy("doc_id")
  }

  val qualityScoreSql: String =
    """SELECT doc_id,
      |  nalpha / len AS alpha_ratio,
      |  ndigit / len AS digit_ratio,
      |  (len - nalpha - ndigit - nspace) / len AS punct_ratio,
      |  (len - nspace) / (nspace + 1.0) AS avg_word_len,
      |  (nalpha / len) * 0.6
      |    + (1.0 - (len - nalpha - ndigit - nspace) / len) * 0.3
      |    + (CASE WHEN (len - nspace) / (nspace + 1.0) >= 3
      |             AND (len - nspace) / (nspace + 1.0) <= 10
      |            THEN 0.1 ELSE 0.0 END) AS quality,
      |  ((nalpha / len) * 0.6
      |    + (1.0 - (len - nalpha - ndigit - nspace) / len) * 0.3
      |    + (CASE WHEN (len - nspace) / (nspace + 1.0) >= 3
      |             AND (len - nspace) / (nspace + 1.0) <= 10
      |            THEN 0.1 ELSE 0.0 END)) > 0.8 AS keep
      |FROM (
      |  SELECT doc_id,
      |    CAST(length(text) AS DOUBLE) AS len,
      |    CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) AS nalpha,
      |    CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) AS ndigit,
      |    CAST(length(regexp_replace(text, '[^ ]', '', 'g')) AS DOUBLE) AS nspace
      |  FROM documents)
      |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // Charter: RAG-style document chunking — split each document into
  // overlapping token windows (width 32, stride 24 → 8-token overlap),
  // the retrieval-granularity transform of an embedding/indexing
  // pipeline. Chunk i covers tokens [i·S+1, i·S+W]; a doc shorter than
  // one window yields exactly one chunk; the trailing window clamps.
  // Pure per-row map + explode: row count inflates by ~n/S per doc
  // (W/S ≈ 1.33× token mass), no shuffle anywhere except the
  // determinism ORDER BY — the shape that survives 100 TB unchanged.
  // -------------------------------------------------------------------
  private val ChunkWidth = 32
  private val ChunkStride = 24

  def chunkOverlap(s: SparkSession, d: String): DataFrame = {
    val (w, st) = (ChunkWidth, ChunkStride)
    val n = size(col("t"))
    val nChunks = when(n <= w, lit(1)).otherwise(
      ceil((n - w).cast("double") / st).cast("int") + 1)
    val chunk = slice(col("t"), col("i") * st + 1, lit(w))
    documents(s, d)
      .select(col("doc_id"), toks.as("t"))
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(0), nChunks - 1)).as("i"))
      .select(col("doc_id"), col("i").cast("bigint").as("chunk_id"),
        (col("i").cast("bigint") * st + 1).as("start_tok"),
        size(chunk).as("n_chunk_toks"),
        array_join(chunk, " ").as("chunk_text"))
      .orderBy("doc_id", "chunk_id")
  }

  val chunkOverlapSql: String = {
    val (w, st) = (ChunkWidth, ChunkStride)
    s"""SELECT doc_id, i AS chunk_id, i * $st + 1 AS start_tok,
       |  CAST(len(list_slice(t, i * $st + 1, i * $st + $w)) AS INT) AS n_chunk_toks,
       |  array_to_string(list_slice(t, i * $st + 1, i * $st + $w), ' ') AS chunk_text
       |FROM (
       |  SELECT doc_id, t, unnest(range(CASE WHEN len(t) <= $w THEN 1
       |    ELSE CAST(ceil((len(t) - $w) / $st.0) AS INT) + 1 END)) AS i
       |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents))
       |ORDER BY doc_id, chunk_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // Charter: character n-gram Jaccard near-dup — the codepoint-level
  // complement to word-shingle MinHash (robust to tokenization changes).
  // Blocking key = (length bucket, min char-4gram hash): only pairs
  // sharing a block are compared, the classic blocking-dedup shape.
  // -------------------------------------------------------------------
  private val char4gramsSql: String =
    """list_transform(range(1, greatest(length(text) - 2, 2)),
      |      i -> substring(text, i, 4))""".stripMargin

  private val char8gramsSql: String =
    """list_transform(range(1, greatest(length(text) - 6, 2)),
      |      i -> substring(text, i, 8))""".stripMargin

  def ngramJaccard(s: SparkSession, d: String): DataFrame =
    ngramJaccardCore(s, d).orderBy("doc_a", "doc_b")

  /** Scored ≥0.6-Jaccard pairs without the output ordering, so
    * composites (dedup_retrieval_agreement) consume the
    * checkpoint-backed relation directly.
    */
  private[operators] def ngramJaccardCore(s: SparkSession, d: String): DataFrame = {
    // Round-2's slowest query, restructured three times over: (1) gram
    // construction moves from interpreted higher-order functions to the
    // native codegen'd char_ngrams loop; (2) the exploded gram relation
    // collapses to ONE per-doc aggregate (hash array + size) consumed by
    // a self-join, so nothing re-explodes the corpus; (3) — round-9 sf1
    // scaling study — the BLOCKING key moves from char-4-gram minima to
    // char-8-gram minima. 4-grams are dense: unrelated docs share ~0.25
    // Jaccard of common grams, so the per-doc minimum collapses onto the
    // globally-common minimal gram and blocks degenerate quadratically
    // with corpus size (measured: 5.75M candidate pairs at sf1, single
    // blocks of 819 docs; 6.2× runtime growth hiding ~127× candidate
    // growth). 8-grams are sparse enough that minima stay doc-specific:
    // 110k pairs at sf1, max block 59 — and ground-truth recall at
    // sf0.01 (exact all-pairs J4) is IDENTICAL: 23/25 true pairs caught
    // by both keys. Scoring stays char-4-gram Jaccard.
    // Verification intersects the per-doc hash ARRAYS per candidate
    // pair — measured 1.7× faster than the flat same-key join that
    // neardupPairs uses at sf0.1, and the flat shape OOMs a 4.6 GB JVM
    // outright under degenerate candidates at sf1 (the pair×gram join
    // intermediate is the hazard; arrays ship each doc's grams once per
    // pair but never materialize the cross product). The arrays live
    // in persist-only staging — the checkpoint holds just the slim
    // scored pairs (Stage.fanout checkpoints build's output, never the
    // staged input). For a corpus of multi-MB documents, flip to the
    // neardupPairs flat-join shape: per-doc gram arrays grow with doc
    // length and an 8 MB array cell is an executor-memory hazard the
    // flat relation doesn't have.
    val docs = documents(s, d)
    val docgr = jaccardBlocks(gramHashes(docs, 8, "gh8"),
      gramArrays(docs, length(col("text")).as("len")))
    // stage docgr (|docs| rows): a broadcast self-join cannot reuse the
    // build side's exchange, so without staging the whole gram pipeline
    // runs once per side. The scored pair relation is materialized slim
    // (arrays dropped, intersections done) BEFORE the jaccard cut so
    // the filter cannot be pushed into the join condition — where it
    // would re-evaluate array_intersect two more times per pair.
    val pairs = graft.Stage.fanout(docgr)(blockedPairs("dedup_ngram_jaccard"))
    ngramPairsScore(pairs)
  }

  /** Blocked candidate generation + array-intersect verification over a
    * staged docgr relation (doc_id, ghs, n, block, …) — the fan-out body
    * of [[ngramJaccardCore]] and [[containmentCore]], and of the
    * composite retrievalAgreement over its shared staged relation.
    * `op` names the operator in the degenerate-block cap's log line.
    */
  private def blockedPairs(op: String)(dg: DataFrame): DataFrame = {
    // degenerate-block cap: see DegenerateBlockCap/cappedBlocks
    val okBlocks = cappedBlocks(dg, op)
    val slim = dg.select(col("doc_id"), col("block"), col("n"))
      .join(okBlocks, "block")
    val cand = slim.as("x").join(slim.as("y"),
        col("x.block") === col("y.block") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.n").as("na"), col("y.n").as("nb"))
    cand
      .join(dg.select(col("doc_id").as("ida"), col("ghs").as("ghs_a")),
        col("doc_a") === col("ida"))
      .join(dg.select(col("doc_id").as("idb"), col("ghs").as("ghs_b")),
        col("doc_b") === col("idb"))
      .select(col("doc_a"), col("doc_b"), col("na"), col("nb"),
        call_function("sorted_intersect_count",
          col("ghs_a"), col("ghs_b"))
          .as("n_common"))
  }

  private def ngramPairsScore(pairs: DataFrame): DataFrame =
    pairs
      .select(col("doc_a"), col("doc_b"),
        (col("n_common").cast("double") /
          (col("na") + col("nb") - col("n_common"))).as("jaccard"))
      .filter(col("jaccard") >= 0.6)

  /** (doc_id, `carry`…, `hash`): one row per distinct char-`n`-gram
    * of each document's text, hashed with [[h60]]. `carry` columns are
    * computed from the document row alongside the explode. The gram
    * column is named as in the oracle SQL (`g` for 4-grams, `g8` for
    * 8-grams).
    */
  private[graft] def gramHashes(docs: DataFrame, n: Int, hash: String = "gh",
      carry: Seq[Column] = Nil): DataFrame = {
    val g = if (n == 4) "g" else s"g$n"
    val grams = docs.select(col("doc_id") +: carry :+ explode(
      call_function("char_ngrams", col("text"), lit(n), lit(true))).as(g): _*)
    grams.select(grams.columns.toSeq.init.map(col) :+ h60(col(g)).as(hash): _*)
  }

  /** Per-doc char-4-gram hash arrays: (doc_id, `carry`…, ghs, n), the
    * sorted DISTINCT hashes and their count — the exact-J4 verify input
    * of every near-dup pipeline.
    *
    * collect_set, not collect_list: the intersection count and the
    * per-doc size `n` must BOTH count DISTINCT hashes or a within-doc
    * h60 collision (two distinct grams, one hash) would diverge
    * jaccard between engines — the oracle's g4 CTEs are SELECT
    * DISTINCT to pin the same semantics. sort_array on top feeds the
    * `sorted_intersect_count` merge scan (see
    * [[graft.plans.SortedIntersectCount]]): the per-PAIR verify cost
    * drops from a hash-set build + intersection-array materialization
    * (`size(array_intersect(...))`) to a two-pointer count, for one
    * per-DOC sort at staging — each doc participates in many pairs,
    * so the sort amortizes. Counts are identical on sorted distinct
    * arrays, so jaccard and the oracle comparison are unchanged.
    */
  private[graft] def gramArrays(docs: DataFrame, carry: Column*): DataFrame = {
    val hashes = gramHashes(docs, 4, carry = carry)
    hashes.groupBy(hashes.columns.toSeq.init.map(col): _*)
      .agg(sort_array(collect_set(col("gh"))).as("ghs"))
      .withColumn("n", size(col("ghs")).cast("bigint"))
  }

  /** dedup_ngram_jaccard's blocking key on `docs` (doc_id, len, …):
    * the length bucket plus two minima of the doc's 8-gram hashes `g8`
    * (doc_id, gh8). The second, independent min comes from an affine
    * permutation of the SAME 60-bit hash (one-hash minhash, see
    * MinhashP) — one md5 per gram instead of two.
    */
  private[graft] def jaccardBlocks(g8: DataFrame, docs: DataFrame): DataFrame = {
    val minima = g8.groupBy("doc_id")
      .agg(min(col("gh8")).as("min_bh"),
        min(((col("gh8") % MinhashP) * lit(179424673L) + lit(777777L))
          % MinhashP).as("min_bh2"))
    docs.join(minima, "doc_id")
      // floor-divide explicitly: a bare cast would truncate here but
      // ROUND in DuckDB, splitting blocks differently across engines
      .withColumn("block", concat_ws("_", floor(col("len") / 50).cast("int"),
        col("min_bh"), col("min_bh2")))
  }

  /** dedup_containment's blocking key on `docs` (doc_id, …): the raw
    * minimum of the doc's 8-gram hashes `g8` (doc_id, bh) plus three
    * one-hash minhash permutation minima, no length bucket.
    */
  private[graft] def containmentBlocks(g8: DataFrame, docs: DataFrame): DataFrame = {
    val minima = g8.groupBy("doc_id")
      .agg(min(col("bh")).as("min_bh"),
        min(perm(0, col("bh"))).as("min_p0"),
        min(perm(1, col("bh"))).as("min_p1"),
        min(perm(2, col("bh"))).as("min_p2"))
    docs.join(minima, "doc_id")
      .withColumn("block", concat_ws("_", col("min_bh"),
        col("min_p0"), col("min_p1"), col("min_p2")))
  }

  val ngramJaccardSql: String = {
    val gh = h60Sql("g")
    val bh = h60Sql("g8")
    val bh2 = s"((($bh) % $MinhashP) * 179424673 + 777777) % $MinhashP"
    s"""WITH grams AS (
       |  SELECT DISTINCT doc_id, len, $gh AS gh FROM (
       |    SELECT doc_id, length(text) AS len,
       |      unnest(list_distinct($char4gramsSql)) AS g
       |    FROM documents)),
       |blocks AS (
       |  SELECT doc_id, min($bh) AS min_bh, min($bh2) AS min_bh2 FROM (
       |    SELECT doc_id, unnest(list_distinct($char8gramsSql)) AS g8
       |    FROM documents)
       |  GROUP BY doc_id),
       |blocked AS (
       |  SELECT g.doc_id, g.len, count(*) AS n,
       |    CAST(CAST(g.len // 50 AS INT) AS VARCHAR) || '_'
       |      || CAST(b.min_bh AS VARCHAR) || '_'
       |      || CAST(b.min_bh2 AS VARCHAR) AS block
       |  FROM grams g JOIN blocks b ON g.doc_id = b.doc_id
       |  GROUP BY g.doc_id, g.len, b.min_bh, b.min_bh2),
       |ok AS (
       |  SELECT block FROM blocked GROUP BY block HAVING count(*) <= $DegenerateBlockCap),
       |cand AS (
       |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, x.n AS na, y.n AS nb
       |  FROM blocked x JOIN ok ox ON x.block = ox.block
       |  JOIN blocked y ON x.block = y.block AND x.doc_id < y.doc_id),
       |inter AS (
       |  SELECT doc_a, doc_b, na, nb, count(*) AS n_common
       |  FROM cand
       |  JOIN grams ga ON ga.doc_id = doc_a
       |  JOIN grams gb ON gb.doc_id = doc_b AND gb.gh = ga.gh
       |  GROUP BY doc_a, doc_b, na, nb)
       |SELECT doc_a, doc_b,
       |  CAST(n_common AS DOUBLE) / (na + nb - n_common) AS jaccard
       |FROM inter
       |WHERE CAST(n_common AS DOUBLE) / (na + nb - n_common) >= 0.6
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // -------------------------------------------------------------------
  // Charter: n-gram language-ID heuristic — fraction of character
  // bigrams drawn from a frequent-English-bigram profile. A real
  // detector swaps in per-language profiles; the scoring plumbing
  // (explode bigrams → profile membership → ratio per doc) is the
  // operator.
  // -------------------------------------------------------------------
  private val EnBigrams = Seq("th", "he", "in", "er", "an", "re", "on",
    "at", "en", "nd", "ti", "es", "or")
  private val enBigramsList = EnBigrams.map(b => s"'$b'").mkString("(", ", ", ")")

  def langidNgram(s: SparkSession, d: String): DataFrame = {
    // native bigram explode + codegen'd hash aggregation: the previous
    // transform+filter HOF pair evaluated two interpreted lambdas per
    // character of the corpus; this shape keeps profile scoring inside
    // whole-stage codegen with a map-side partial agg (shuffled bytes ~
    // |docs|, not |bigrams|)
    documents(s, d)
      .select(col("doc_id"), col("lang"),
        explode(call_function("char_ngrams", col("text"), lit(2), lit(false)))
          .as("bg"))
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("nbg"),
        sum(when(col("bg").isin(EnBigrams: _*), 1L).otherwise(0L)).as("nhit"))
      .select(col("doc_id"), col("lang"),
        (col("nhit").cast("double") / col("nbg")).as("en_bigram_ratio"))
      .select(col("doc_id"), col("lang"), col("en_bigram_ratio"),
        (col("en_bigram_ratio") > 0.09).as("looks_english"))
      .orderBy("doc_id")
  }

  val langidNgramSql: String =
    s"""SELECT doc_id, lang,
       |  CAST(len(list_filter(bg, x -> x IN $enBigramsList)) AS DOUBLE) / len(bg) AS en_bigram_ratio,
       |  CAST(len(list_filter(bg, x -> x IN $enBigramsList)) AS DOUBLE) / len(bg) > 0.09 AS looks_english
       |FROM (
       |  SELECT doc_id, lang,
       |    list_transform(range(1, greatest(length(text), 2)),
       |      i -> substring(text, i, 2)) AS bg
       |  FROM documents)
       |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // Dedup 5: near-dup CLUSTERS — connected components over the LSH
  // near-dup pair graph, labeling every member with the component's
  // minimum doc_id (the canonical survivor). Iterative min-label
  // propagation: each round joins labels across edges and takes the
  // min, converging in <= diameter rounds — the standard distributed
  // union-find shape (each round is one co-partitioned join + agg, no
  // driver data). The oracle reproduces it with a recursive CTE.
  // -------------------------------------------------------------------
  def neardupClusters(s: SparkSession, d: String): DataFrame = {
    // RELIABLE checkpoints (shared-storage files, lineage truncated):
    // `localCheckpoint()` would pin every round's lineage to executor
    // block storage, where one executor loss aborts the whole iterative
    // job — at cluster scale the checkpoint dir must be durable
    // (Stage.ensureCheckpointDir only defaults it in local mode).
    graft.Stage.ensureCheckpointDir(s)
    // materialize the (expensive) LSH pair pipeline ONCE; the loop must
    // not re-derive it every round. neardupPairs is already
    // checkpoint-backed (Stage.fanout), so the slim projection and the
    // undirected edge union below are constant-depth lineage over those
    // files — only ONE further materialization (edges, consumed every
    // round by the propagation join) plus the initial labels (consumed
    // four times before round 2) earn their actions; a further
    // checkpoint of the slim projection would cost a full job for no
    // lineage benefit.
    val pairs = neardupPairsCore(s, d).select("doc_a", "doc_b")
    // undirected edge list (labels survive a round via the union with
    // the previous labels below, not via self-loops)
    val edges = pairs
      .union(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .checkpoint()
    var labels = edges.select(col("doc_a").as("doc"))
      .distinct().withColumn("label", col("doc"))
      .checkpoint()
    // labels only ever decrease, so the label SUM is a strictly
    // decreasing convergence witness: unchanged sum ⟺ no label moved.
    // (One cheap scalar agg per round instead of a self-join diff;
    // exact decimal so huge ids can't overflow under ANSI.)
    // coalesce: sum over an EMPTY frame is SQL NULL — a corpus with no
    // near-dup pairs must converge to an empty result, not NPE in the
    // BigDecimal compare
    val sumExpr = coalesce(sum(col("label").cast("decimal(38,0)")),
      lit(0).cast("decimal(38,0)"))
    var prevSum = labels.agg(sumExpr).head().getDecimal(0)
    var converged = false
    var rounds = 0
    val maxRounds = 64 // log2(diameter) with jumping; 64 is a hard cap
    while (!converged && rounds < maxRounds) {
      val viaNeighbors = edges
        .join(labels, col("doc_b") === col("doc"))
        .select(col("doc_a").as("doc"), col("label"))
      // pointer jumping: label(label(doc)) compresses chains, so the
      // min reaches every member in O(log diameter) rounds instead of
      // O(diameter) — each round is one extra co-partitioned join
      val jumped = labels.as("l1")
        .join(labels.as("l2"), col("l1.label") === col("l2.doc"))
        .select(col("l1.doc").as("doc"), col("l2.label").as("label"))
      // checkpoint each round: the plan otherwise doubles per iteration
      // (labels appears three times in `next`) and would grow
      // exponentially. The convergence sum rides the SAME job as an
      // observed metric — one pass per round over the label relation
      // (billions of rows at corpus scale) instead of two.
      val obs = new org.apache.spark.sql.Observation()
      val next = labels.select("doc", "label")
        .union(viaNeighbors).union(jumped)
        .groupBy("doc").agg(min("label").as("label"))
        .observe(obs, sumExpr.as("label_sum"))
        .checkpoint()
      // bounded LATCH wait for the metric (listener delivery is async):
      // parks on the observation's completion future and wakes at
      // delivery — no polling. If it never lands, fall back to the
      // direct agg — correctness never depends on the optimization.
      import org.apache.spark.sql.graftbridge.DatasetBridge.observedWithin
      val metrics = observedWithin(obs, 30000)
      val nextSum = metrics.get("label_sum") match {
        case Some(d: java.math.BigDecimal) => d
        case Some(d: scala.math.BigDecimal) => d.bigDecimal
        case Some(other) => new java.math.BigDecimal(other.toString)
        case None => next.agg(sumExpr).head().getDecimal(0)
      }
      labels = next
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      rounds += 1
    }
    if (!converged) throw new IllegalStateException(
      s"label propagation did not converge within $maxRounds rounds " +
        "(component diameter exceeds the cap)")
    labels.select(col("doc").as("doc_id"), col("label").as("cluster_id"))
      .orderBy("doc_id")
  }

  val neardupClustersSql: String = {
    val pairsSql = neardupPairsSql
      .replace("ORDER BY doc_a, doc_b", "")
    s"""WITH RECURSIVE pairs AS (SELECT doc_a, doc_b FROM ($pairsSql)),
       |und AS (SELECT doc_a, doc_b FROM pairs
       |        UNION SELECT doc_b, doc_a FROM pairs),
       |members AS (SELECT DISTINCT doc_a AS doc FROM und),
       |reach(doc, other) AS (
       |  SELECT doc, doc FROM members
       |  UNION
       |  SELECT r.doc, u.doc_b FROM reach r JOIN und u ON u.doc_a = r.other)
       |SELECT doc AS doc_id, min(other) AS cluster_id
       |FROM reach GROUP BY doc ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // B28f: TF-IDF top terms per document — the classic relevance
  // weighting a curation pipeline uses to characterize documents.
  // tf = per-(doc,term) count; idf = ln(N/df); top-3 terms per doc by
  // rounded score with a term tiebreak. One corpus explode, two
  // vocabulary-sized aggregations; the document-frequency relation and
  // the 1-row corpus count are broadcast (vocabulary ≪ corpus at any
  // scale), so the only big shuffle is the (doc,term) partial-agg.
  // -------------------------------------------------------------------
  def tfidf(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    // round(…,6) before ranking: ln differs from DuckDB's only in the
    // last ulp, and the term tiebreak settles exact score ties
    val score = round(col("tf") *
      log(col("n_docs").cast("double") / col("df")), 6)
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("term"))
    // Two consumers of the (doc,term) counts — the document-frequency
    // aggregate and the scored join side — share ONE evaluation via AQE
    // exchange reuse (the rel_retention/rel_key_skew discipline), not a
    // fanout checkpoint: the staged version wrote the whole
    // (doc,term,tf) relation to disk and re-read it per consumer
    // (measured at sf1: 5.2 s staged -> 2.8 s reused). df rides a
    // shuffle JOIN on term rather than a count-over-window partition —
    // a hot term's window partition is one task and AQE cannot split
    // it, while a skewed join it can (each tf row is one distinct
    // (doc, term), so the join's df equals the window count).
    val tf = docs.select(col("doc_id"), explode(toks).as("term"))
      .filter(col("term") =!= "")
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    // tf > 0 is vacuous (a count over existing rows is >= 1) but
    // load-bearing: without a reference to tf the optimizer prunes the
    // dfreq branch to a bare distinct, the two subplans stop being
    // canonical-equal, and the corpus is exploded TWICE instead of the
    // (doc,term) exchange being computed once and reused
    val dfreq = tf.where(col("tf") > 0)
      .groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("score", score)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("doc_id"), col("rn"), col("term"), col("tf"), col("df"),
        col("score"))
      .orderBy("doc_id", "rn")
  }

  val tfidfSql: String =
    """WITH terms AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms
      |       WHERE term <> '' GROUP BY doc_id, term),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      |n AS (SELECT count(*) AS n_docs FROM documents)
      |SELECT doc_id, rn, term, tf, df, score FROM (
      |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
      |    CASE WHEN round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) = 0 THEN 0.0 ELSE round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) END AS score,
      |    CAST(row_number() OVER (PARTITION BY tf.doc_id
      |      ORDER BY round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) DESC,
      |               tf.term) AS INTEGER) AS rn
      |  FROM tf JOIN df USING (term), n)
      |WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin

  // -------------------------------------------------------------------
  // Dedup 6: passage-level duplicate detection — 8-token windows at
  // stride 4 hashed across the whole corpus; a passage is a duplicate
  // when its hash occurs in more than one document. The per-doc
  // duplicate-passage ratio is the standard "remove boilerplate /
  // near-copied spans" signal for training-data curation. Both
  // consumers of the exploded passage relation shuffle on the SAME key
  // (the passage hash), and the relation is staged once via
  // Stage.fanout, so the corpus is exploded and hashed exactly once.
  // -------------------------------------------------------------------
  def passageDedup(s: SparkSession, d: String): DataFrame =
    passageDedupCore(s, d).orderBy("doc_id")

  /** [[passageDedup]] without the presentation ordering (see
    * [[neardupPairsCore]]).
    */
  private[operators] def passageDedupCore(s: SparkSession, d: String): DataFrame = {
    val ph = documents(s, d)
      .select(col("doc_id"), toks.as("t"))
      .filter(size(col("t")) >= 8)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(t) - 8, 4)," +
          " i -> concat_ws(' ', slice(t, i + 1, 8)))")).as("passage"))
      .select(col("doc_id"), h60(col("passage")).as("ph"))
    graft.Stage.fanout(ph) { p =>
      // hashes appearing in >1 distinct doc; instances (multiset) of
      // those hashes count as duplicate passages on every doc involved
      val shared = p.groupBy("ph")
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") > 1)
        .select(col("ph").as("ph_s"))
      p.join(shared, col("ph") === col("ph_s"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_passages"), count(col("ph_s")).as("n_dup"))
    }.select(col("doc_id"), col("n_passages"), col("n_dup"),
        (col("n_dup").cast("double") / col("n_passages")).as("dup_ratio"),
        (col("n_dup") * 2 >= col("n_passages")).as("flagged"))
  }

  val passageDedupSql: String = {
    val ph = h60Sql("passage")
    s"""WITH wt AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |  WHERE len(string_split(text, ' ')) >= 8),
       |p AS (
       |  SELECT doc_id, $ph AS ph FROM (
       |    SELECT doc_id,
       |      unnest(list_transform(range(0, len(t) - 8 + 1, 4),
       |        i -> array_to_string(t[i + 1:i + 8], ' '))) AS passage
       |    FROM wt)),
       |shared AS (
       |  SELECT ph AS ph_s FROM p GROUP BY ph
       |  HAVING count(DISTINCT doc_id) > 1)
       |SELECT doc_id, n_passages, n_dup,
       |  CAST(n_dup AS DOUBLE) / n_passages AS dup_ratio,
       |  n_dup * 2 >= n_passages AS flagged
       |FROM (
       |  SELECT doc_id, count(*) AS n_passages, count(ph_s) AS n_dup
       |  FROM p LEFT JOIN shared ON p.ph = shared.ph_s
       |  GROUP BY doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // Charter: curation funnel — the end-to-end training-data retention
  // report. Per source: docs in → docs passing the stopword language
  // heuristic → docs also passing the quality score → docs surviving
  // exact dedup (canonical = min doc_id per text hash among survivors)
  // → total tokens retained. One corpus scan computes every per-doc
  // flag; the funnel is two source-keyed aggregations.
  // -------------------------------------------------------------------
  /** Per-document curation flags over a `text` column — ONE logical
    * definition shared by the batch funnel and the streaming curation
    * pipeline ([[graft.streaming.CurationStream]]), so batch and
    * streaming decisions agree by construction. Appends `text_md5`,
    * `n_tokens`, `pass_lang` (stopword language heuristic), and
    * `pass_quality` (composite quality score > 0.8). Pure narrow
    * projection: streaming-safe, no shuffle.
    */
  def docFlags(df: DataFrame): DataFrame = {
    val len = length(col("text")).cast("double")
    val nAlpha = length(regexp_replace(col("text"), "[^a-zA-Z]", "")).cast("double")
    val nDigit = length(regexp_replace(col("text"), "[^0-9]", "")).cast("double")
    val nSpace = length(regexp_replace(col("text"), "[^ ]", "")).cast("double")
    val nPunct = len - nAlpha - nDigit - nSpace
    val wordLen = (len - nSpace) / (nSpace + lit(1.0))
    val quality = (nAlpha / len) * lit(0.6) +
      (lit(1.0) - nPunct / len) * lit(0.3) +
      when(wordLen >= 3 && wordLen <= 10, lit(0.1)).otherwise(lit(0.0))
    val t = toks
    val nStop = size(expr(
      s"filter(split(text, ' '), x -> x IN $stopList)")).cast("double")
    df.withColumn("text_md5", md5(col("text")))
      .withColumn("n_tokens", size(t).cast("long"))
      .withColumn("pass_lang", nStop / size(t) > 0.12)
      .withColumn("pass_quality", quality > 0.8)
  }

  def curationFunnel(s: SparkSession, d: String): DataFrame = {
    // stage the per-doc flag relation: the funnel counts and the
    // dedup-survivor aggregation both consume it, and the regex-heavy
    // quality scoring should run once per document, not once per
    // consumer
    val flaggedRaw = docFlags(documents(s, d)).select(
      col("doc_id"), col("source"), col("text_md5"), col("n_tokens"),
      col("pass_lang"), col("pass_quality"))
    graft.Stage.fanout(flaggedRaw) { flagged =>
      val funnel = flagged.groupBy("source").agg(
        count(lit(1)).as("docs_in"),
        sum(when(col("pass_lang"), 1L).otherwise(0L)).as("docs_lang"),
        sum(when(col("pass_lang") && col("pass_quality"), 1L).otherwise(0L))
          .as("docs_quality"))
      val w = Window.partitionBy("text_md5").orderBy("doc_id")
      val surv = flagged.filter(col("pass_lang") && col("pass_quality"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .groupBy("source").agg(count(lit(1)).as("docs_dedup"),
          sum(col("n_tokens")).as("tokens_out"))
      funnel.join(surv, Seq("source"), "left")
        .select(col("source"), col("docs_in"), col("docs_lang"),
          col("docs_quality"),
          coalesce(col("docs_dedup"), lit(0L)).as("docs_dedup"),
          coalesce(col("tokens_out"), lit(0L)).as("tokens_out"))
    }.orderBy("source")
  }

  val curationFunnelSql: String =
    s"""WITH flagged AS (
       |  SELECT doc_id, source, text_md5, n_tokens,
       |    nstop / n_tokens > 0.12 AS pass_lang,
       |    ((nalpha / len) * 0.6
       |      + (1.0 - (len - nalpha - ndigit - nspace) / len) * 0.3
       |      + (CASE WHEN (len - nspace) / (nspace + 1.0) >= 3
       |               AND (len - nspace) / (nspace + 1.0) <= 10
       |              THEN 0.1 ELSE 0.0 END)) > 0.8 AS pass_quality
       |  FROM (
       |    SELECT doc_id, source, md5(text) AS text_md5,
       |      CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |      CAST(len(list_filter(string_split(text, ' '), x -> x IN $stopList)) AS DOUBLE) AS nstop,
       |      CAST(length(text) AS DOUBLE) AS len,
       |      CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) AS nalpha,
       |      CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) AS ndigit,
       |      CAST(length(regexp_replace(text, '[^ ]', '', 'g')) AS DOUBLE) AS nspace
       |    FROM documents)),
       |funnel AS (
       |  SELECT source, count(*) AS docs_in,
       |    count(*) FILTER (WHERE pass_lang) AS docs_lang,
       |    count(*) FILTER (WHERE pass_lang AND pass_quality) AS docs_quality
       |  FROM flagged GROUP BY source),
       |surv AS (
       |  SELECT source, count(*) AS docs_dedup,
       |    CAST(sum(n_tokens) AS BIGINT) AS tokens_out
       |  FROM (
       |    SELECT source, n_tokens,
       |      row_number() OVER (PARTITION BY text_md5 ORDER BY doc_id) AS rn
       |    FROM flagged WHERE pass_lang AND pass_quality)
       |  WHERE rn = 1 GROUP BY source)
       |SELECT f.source, f.docs_in, f.docs_lang, f.docs_quality,
       |  coalesce(s.docs_dedup, 0) AS docs_dedup,
       |  coalesce(s.tokens_out, 0) AS tokens_out
       |FROM funnel f LEFT JOIN surv s ON f.source = s.source
       |ORDER BY f.source""".stripMargin

  // -------------------------------------------------------------------
  // Charter (VERDICT r17 #8): the END-TO-END curation DAG as ONE
  // registered query — curation → exact dedup → near-dup screen →
  // decontamination → train split → sharding → packing, composed in a
  // single session with a per-stage retention card as output (one row
  // per stage: docs, tokens, pack/shard units surviving). This proves
  // the operators COMPOSE: every stage reuses the exact flag/hash
  // definitions its standalone registered query ships (docFlags,
  // passageHashes, the md5-bucket split/shard rule), so the e2e result
  // is derivable from — and oracle-checked against — the same CTE
  // chain.
  //
  // Scale shape (100 TB): ONE corpus scan computes every per-doc flag
  // (regex-heavy, staged); the passage pass explodes ONLY exact-dedup
  // survivors + the eval set behind a semi-join that reaches the
  // parquet scan; near-dup sharing and eval contamination read the
  // SAME staged stride-1 passage relation (one explode, two
  // hash-keyed aggregations); packing's running sum is windowed PER
  // SHARD — no global-order bottleneck, each shard packs
  // independently, exactly how a sharded writer runs it. The stage
  // card itself is eight O(1)-row aggregates over one staged slim
  // per-doc relation.
  // -------------------------------------------------------------------
  private[graft] val PipePackTokens = 2048L
  private[graft] val PipeShards = 8

  /** Deterministic doc_id-keyed bucket used by the pipeline's split and
    * shard assignments (batch AND streaming twin — shared so the two
    * engines route every doc identically by construction).
    */
  private[graft] def pipeBucket(prefix: String, mod: Int): Column =
    pmod(conv(substring(md5(concat(lit(prefix), col("doc_id"))),
      1, 15), 16, 10).cast("long"), lit(mod))

  def trainPipeline(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val isEval = col("doc_id") % 13 === 0
    val base0 = docFlags(docs).select(col("doc_id"), col("source"),
      col("text_md5"), col("n_tokens"), col("pass_lang"), col("pass_quality"))
    graft.Stage.fanout(base0) { base =>
      val curated = base
        .filter(col("pass_lang") && col("pass_quality") && !isEval)
      // exact dedup among curated survivors: canonical = min doc_id
      val keptFlag = curated
        .withColumn("rn", row_number().over(
          Window.partitionBy("text_md5").orderBy("doc_id")))
        .select(col("doc_id"), (col("rn") === 1).as("exact_kept"))
      val keptIds = keptFlag.filter(col("exact_kept")).select("doc_id")
      // ONE stride-1 passage pass over survivors + the eval holdout
      // (doc_id % 13 = 0 — the external-benchmark stand-in shared with
      // dedup_decontaminate), feeding BOTH the near-dup screen and the
      // contamination check
      val phAll = passageHashes(
        docs.join(
          keptIds.unionByName(docs.filter(isEval).select("doc_id")),
          Seq("doc_id"), "left_semi"),
        stride = 1)
      val pstats = graft.Stage.fanout(phAll) { ph =>
        val phKept = ph.filter(col("doc_id") % 13 =!= 0)
        val shared = phKept.groupBy("ph")
          .agg(countDistinct(col("doc_id")).as("nd"))
          .filter(col("nd") > 1).select(col("ph").as("ph_s"))
        val evalSet = ph.filter(col("doc_id") % 13 === 0)
          .select(col("ph").as("eph")).distinct()
        phKept
          .join(shared, col("ph") === col("ph_s"), "left")
          .join(evalSet, col("ph") === col("eph"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_passages"), count(col("ph_s")).as("n_dup"),
            count(col("eph")).as("n_hits"))
      }
      def bucketOf(prefix: String, mod: Int) = pipeBucket(prefix, mod)
      val perDoc0 = base
        .join(keptFlag, Seq("doc_id"), "left")
        .join(pstats, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          (col("pass_lang") && col("pass_quality") && !isEval).as("curated"),
          coalesce(col("exact_kept"), lit(false)).as("exact_kept"),
          coalesce(col("n_dup") * 2 >= col("n_passages"), lit(false))
            .as("near_dup"),
          coalesce(col("n_hits") > 0, lit(false)).as("contaminated"),
          bucketOf("mix:", 100).as("bucket"),
          bucketOf("shard:", PipeShards).as("shard"))
      graft.Stage.fanout(perDoc0) { pd =>
        val train = pd.filter(col("exact_kept") && !col("near_dup") &&
          !col("contaminated") && col("bucket") < 80)
        // greedy token packing WITHIN each shard (running sum of the
        // docs already placed — a doc opens a new pack when the shard's
        // filled tokens cross the pack boundary)
        val packed = train.withColumn("bin",
          floor(coalesce(sum(col("n_tokens")).over(
            Window.partitionBy("shard").orderBy("doc_id")
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
            / lit(PipePackTokens)).cast("long"))
        def docStage(stage: String, f: DataFrame): DataFrame =
          f.agg(count(lit(1)).as("n_docs"),
            coalesce(sum(col("n_tokens")), lit(0L)).as("n_tokens"))
            .select(lit(stage).as("stage"), col("n_docs"), col("n_tokens"),
              col("n_docs").as("n_units"))
        val sharded = train
          .agg(count(lit(1)).as("n_docs"),
            coalesce(sum(col("n_tokens")), lit(0L)).as("n_tokens"),
            countDistinct(col("shard")).as("n_units"))
          .select(lit("60_sharded").as("stage"), col("n_docs"),
            col("n_tokens"), col("n_units"))
        val packs = packed
          .agg(count(lit(1)).as("n_docs"),
            coalesce(sum(col("n_tokens")), lit(0L)).as("n_tokens"),
            countDistinct(concat_ws("_", col("shard"), col("bin")))
              .as("n_units"))
          .select(lit("70_packed").as("stage"), col("n_docs"),
            col("n_tokens"), col("n_units"))
        docStage("00_raw", pd)
          .unionByName(docStage("10_curated", pd.filter(col("curated"))))
          .unionByName(docStage("20_exact", pd.filter(col("exact_kept"))))
          .unionByName(docStage("30_near_kept",
            pd.filter(col("exact_kept") && !col("near_dup"))))
          .unionByName(docStage("40_clean",
            pd.filter(col("exact_kept") && !col("near_dup") &&
              !col("contaminated"))))
          .unionByName(docStage("50_train", train))
          .unionByName(sharded)
          .unionByName(packs)
      }
    }.orderBy("stage")
  }

  val trainPipelineSql: String = {
    val ph = h60Sql("passage")
    s"""WITH flagged AS (
       |  SELECT doc_id, source, text_md5, n_tokens,
       |    nstop / n_tokens > 0.12 AS pass_lang,
       |    ((nalpha / len) * 0.6
       |      + (1.0 - (len - nalpha - ndigit - nspace) / len) * 0.3
       |      + (CASE WHEN (len - nspace) / (nspace + 1.0) >= 3
       |               AND (len - nspace) / (nspace + 1.0) <= 10
       |              THEN 0.1 ELSE 0.0 END)) > 0.8 AS pass_quality
       |  FROM (
       |    SELECT doc_id, source, md5(text) AS text_md5,
       |      CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |      CAST(len(list_filter(string_split(text, ' '), x -> x IN $stopList)) AS DOUBLE) AS nstop,
       |      CAST(length(text) AS DOUBLE) AS len,
       |      CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) AS nalpha,
       |      CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) AS ndigit,
       |      CAST(length(regexp_replace(text, '[^ ]', '', 'g')) AS DOUBLE) AS nspace
       |    FROM documents)),
       |keptflag AS (
       |  SELECT doc_id,
       |    row_number() OVER (PARTITION BY text_md5 ORDER BY doc_id) = 1
       |      AS exact_kept
       |  FROM flagged
       |  WHERE pass_lang AND pass_quality AND doc_id % 13 <> 0),
       |pdocs AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |  WHERE (doc_id IN (SELECT doc_id FROM keptflag WHERE exact_kept)
       |      OR doc_id % 13 = 0)
       |    AND len(string_split(text, ' ')) >= 8),
       |ph AS (
       |  SELECT doc_id, $ph AS ph FROM (
       |    SELECT doc_id,
       |      unnest(list_transform(range(0, len(t) - 8 + 1, 1),
       |        i -> array_to_string(t[i + 1:i + 8], ' '))) AS passage
       |    FROM pdocs)),
       |phkept AS (SELECT doc_id, ph FROM ph WHERE doc_id % 13 <> 0),
       |shared AS (
       |  SELECT ph AS ph_s FROM phkept GROUP BY ph
       |  HAVING count(DISTINCT doc_id) > 1),
       |evalset AS (
       |  SELECT DISTINCT ph AS eph FROM ph WHERE doc_id % 13 = 0),
       |pstats AS (
       |  SELECT doc_id, count(*) AS n_passages, count(ph_s) AS n_dup,
       |    count(eph) AS n_hits
       |  FROM phkept
       |  LEFT JOIN shared ON phkept.ph = shared.ph_s
       |  LEFT JOIN evalset ON phkept.ph = evalset.eph
       |  GROUP BY doc_id),
       |perdoc AS (
       |  SELECT f.doc_id, f.n_tokens,
       |    f.pass_lang AND f.pass_quality AND f.doc_id % 13 <> 0 AS curated,
       |    coalesce(k.exact_kept, FALSE) AS exact_kept,
       |    coalesce(p.n_dup * 2 >= p.n_passages, FALSE) AS near_dup,
       |    coalesce(p.n_hits > 0, FALSE) AS contaminated,
       |    CAST(('0x' || substr(md5('mix:' || CAST(f.doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS bucket,
       |    CAST(('0x' || substr(md5('shard:' || CAST(f.doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % $PipeShards AS shard
       |  FROM flagged f
       |  LEFT JOIN keptflag k ON f.doc_id = k.doc_id
       |  LEFT JOIN pstats p ON f.doc_id = p.doc_id),
       |train AS (
       |  SELECT * FROM perdoc
       |  WHERE exact_kept AND NOT near_dup AND NOT contaminated
       |    AND bucket < 80),
       |packed AS (
       |  SELECT doc_id, n_tokens, shard,
       |    CAST(floor(coalesce(SUM(n_tokens) OVER (PARTITION BY shard
       |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
       |      AND 1 PRECEDING), 0) / $PipePackTokens) AS BIGINT) AS bin
       |  FROM train)
       |SELECT stage, n_docs, n_tokens, n_units FROM (
       |  SELECT '00_raw' AS stage, count(*) AS n_docs,
       |    CAST(coalesce(sum(n_tokens), 0) AS BIGINT) AS n_tokens,
       |    count(*) AS n_units FROM perdoc
       |  UNION ALL
       |  SELECT '10_curated', count(*),
       |    CAST(coalesce(sum(n_tokens), 0) AS BIGINT), count(*)
       |  FROM perdoc WHERE curated
       |  UNION ALL
       |  SELECT '20_exact', count(*),
       |    CAST(coalesce(sum(n_tokens), 0) AS BIGINT), count(*)
       |  FROM perdoc WHERE exact_kept
       |  UNION ALL
       |  SELECT '30_near_kept', count(*),
       |    CAST(coalesce(sum(n_tokens), 0) AS BIGINT), count(*)
       |  FROM perdoc WHERE exact_kept AND NOT near_dup
       |  UNION ALL
       |  SELECT '40_clean', count(*),
       |    CAST(coalesce(sum(n_tokens), 0) AS BIGINT), count(*)
       |  FROM perdoc WHERE exact_kept AND NOT near_dup AND NOT contaminated
       |  UNION ALL
       |  SELECT '50_train', count(*),
       |    CAST(coalesce(sum(n_tokens), 0) AS BIGINT), count(*) FROM train
       |  UNION ALL
       |  SELECT '60_sharded', count(*),
       |    CAST(coalesce(sum(n_tokens), 0) AS BIGINT),
       |    count(DISTINCT shard) FROM train
       |  UNION ALL
       |  SELECT '70_packed', count(*),
       |    CAST(coalesce(sum(n_tokens), 0) AS BIGINT),
       |    count(DISTINCT CAST(shard AS VARCHAR) || '_'
       |      || CAST(bin AS VARCHAR)) FROM packed)
       |ORDER BY stage""".stripMargin
  }

  // -------------------------------------------------------------------
  // Charter: incremental ingest dedup — a new crawl batch arrives
  // (new docs + re-crawled replays) and must be deduplicated AGAINST
  // THE EXISTING CORPUS, not just within itself. Shape: left-anti join
  // of the incoming batch on the historical content-hash set — hashes
  // shuffle, payloads don't; at 100 TB the historical side is a
  // hash-only table that broadcast-joins while it fits and degrades to
  // a shuffled anti-join beyond that (AQE picks). Here: historical =
  // doc_id < 400, incoming = the newer docs plus a replay of the first
  // 50 (a re-crawl), so the replays must drop and the new docs survive.
  // -------------------------------------------------------------------
  def incrementalDedup(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val histHashes = docs.filter(col("doc_id") < 400)
      .select(md5(col("text")).as("h"))
    // one OR filter, not a union of two filters: a union would let the
    // optimizer distribute the anti-join over the branches and build
    // the historical-hash broadcast twice (verified in the plan)
    val incoming = docs.filter(col("doc_id") >= 400 || col("doc_id") < 50)
      .select(col("doc_id"), md5(col("text")).as("content_md5"),
        col("source"))
    incoming.join(histHashes, col("content_md5") === col("h"), "left_anti")
      .orderBy("doc_id")
  }

  // -------------------------------------------------------------------
  // Charter: bloom-prefiltered incremental dedup — the 100 TB shape of
  // dedup_incremental, restructured so THE CORPUS SIDE NEVER SHUFFLES.
  // Scan 1 folds the historical content hashes into a bloom filter
  // (Spark's own runtime-filter sketch: partials merge executor-side,
  // so only bloom bytes — a few MB regardless of corpus size — ever
  // leave a task). The batch probes the bloom as a scalar subquery:
  // bloom-negative rows are DEFINITELY novel (no false negatives) and
  // skip joining entirely. Scan 2 verifies the few bloom-positive
  // candidates by broadcasting their distinct hashes INTO a corpus
  // semi-scan. A false positive therefore costs one broadcast probe,
  // never a corpus shuffle, and the result is exactly the anti-join's
  // (the oracle is the plain NOT EXISTS). The probed CTE fans out to
  // both output branches, but the textually-identical scalar subqueries
  // canonicalize equal, so ReuseSubquery builds the bloom once
  // (asserted in BloomPrefilterSpec).
  // -------------------------------------------------------------------
  def bloomPrefilter(s: SparkSession, d: String): DataFrame = {
    documents(s, d).createOrReplaceTempView("graft_bloom_docs")
    // 10^6-item estimate ⇒ ~1 MB of bits: generous at test SF, and the
    // knob a deployment sizes from its corpus row-count statistics
    s.sql("""
      WITH corpus AS (
        SELECT md5(text) AS ch FROM graft_bloom_docs WHERE doc_id % 7 <> 0),
      batch AS (
        SELECT doc_id, md5(text) AS h FROM graft_bloom_docs
        WHERE doc_id % 7 = 0),
      probed AS (
        SELECT doc_id, h,
          graft_might_contain(
            (SELECT graft_bloom_agg(xxhash64(ch), 1000000L) FROM corpus),
            xxhash64(h)) AS maybe_dup
        FROM batch),
      confirmed AS (
        SELECT DISTINCT ch FROM corpus LEFT SEMI JOIN
          (SELECT DISTINCT h FROM probed WHERE maybe_dup) c
          ON corpus.ch = c.h)
      SELECT doc_id, h FROM probed WHERE NOT maybe_dup
      UNION ALL
      SELECT p.doc_id, p.h FROM probed p
      WHERE p.maybe_dup
        AND NOT EXISTS (SELECT 1 FROM confirmed c WHERE c.ch = p.h)
      ORDER BY doc_id""")
  }

  val bloomPrefilterSql: String =
    """WITH corpus AS (
      |  SELECT md5(text) AS ch FROM documents WHERE doc_id % 7 <> 0),
      |batch AS (
      |  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 7 = 0)
      |SELECT doc_id, h FROM batch b
      |WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.ch = b.h)
      |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // Charter: incremental NEAR-dup ingest (VERDICT r16 #4) — the
  // missing screen between dedup_incremental's exact-hash anti-join
  // and the offline all-corpus near-dup sweeps: a new crawl batch must
  // be checked for NEAR duplicates of the existing corpus without
  // re-running corpus×corpus anything. Shape: build the df-capped
  // rare-gram posting INDEX over the corpus once (the dedup_rare_gram
  // envelope — a gram either stays ≤cap, bounding its posting list, or
  // crosses the cap and is refused), then probe it with the BATCH's
  // grams only: candidates = batch gram ⋈ capped corpus postings, so
  // probe cost is proportional to the batch, not the corpus, and each
  // batch gram emits ≤ RareGramDfCap candidate pairs. Verification is
  // the same exact char-4-gram Jaccard ≥ 0.6, over candidate docs
  // only. Same batch/corpus split as dedup_incremental (corpus =
  // doc_id < 400; batch = new docs ∪ a re-crawl replay of the first
  // 50), so the replays surface as jaccard-1.0 self-matches and the
  // genuinely-new near-dups as < 1.0 rows. At 100 TB the corpus index
  // is a materialized table keyed by gram hash; here it is built
  // in-query from the same staged relation discipline.
  // Min-shared floor: 1, not rare_gram's 2 — an ingest screen's recall
  // matters more than its candidate volume (the batch bound already
  // caps cost), and requiring 2 shared rare grams would miss a replay
  // of a doc whose text shares only one sub-cap gram with its copy
  // when the rest crossed the df cap.
  // -------------------------------------------------------------------
  def incrementalNear(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val corpus = docs.filter(col("doc_id") < 400)
    val batch = docs.filter(col("doc_id") >= 400 || col("doc_id") < 50)
    // the corpus posting relation fans out (df count + capped index) —
    // stage it; the batch side streams through unpersisted
    val cand = graft.Stage.fanout(gramHashes(corpus, 8)) { cp =>
      val rare = cp.groupBy("gh").agg(count(lit(1)).as("df"))
        .filter(col("df") <= RareGramDfCap)
        .select("gh")
      val idx = cp.join(rare, "gh")
        .select(col("gh"), col("doc_id").as("corpus_doc"))
      incNearCandProbe(s, gramHashes(batch, 8), idx)
    }
    // exact-J4 verify over candidate docs only, reusing the rare-gram
    // verify body under its doc_a/doc_b contract (doc_a = batch side)
    val candAb = cand.select(col("batch_doc").as("doc_a"),
      col("corpus_doc").as("doc_b"), col("n_rare_shared"))
    val candDocs = candAb.select(col("doc_a").as("doc_id"))
      .unionByName(candAb.select(col("doc_b").as("doc_id")))
      .distinct()
    val g4 = gramArrays(docs.join(candDocs, Seq("doc_id"), "left_semi"))
    val verified = graft.Stage.fanout(g4)(rareVerifyBuild(candAb))
    verified
      .select(col("doc_a").as("batch_doc"), col("doc_b").as("corpus_doc"),
        col("n_rare_shared"), col("jaccard"))
      .orderBy("batch_doc", "corpus_doc")
  }

  /** The batch-probe side of [[incrementalNear]]'s candidate
    * stage — `batch8` (doc_id, gh) probes the df-capped corpus posting
    * index `idx` (gh, corpus_doc), keeping each batch doc's top-K
    * candidates. Factored out so HeapGateSpec can pin the conf-driven
    * plan flip without running the full pipeline.
    *
    * Under a small heap, force shuffle-hash instead of letting the
    * planner broadcast the index: the ~180k-row index hash relation
    * built on the driver OOMs nondeterministically under the 2 GiB
    * lowmem tier (4-of-5 reps), while the shuffled probe (the
    * deployment shape for a corpus-sized index: batch shuffles on
    * gh, batch-proportional) is stable at 11.0 s. With heap
    * headroom the planner's broadcast is legitimately 3.6× faster
    * at bench SFs and stays. Gate resolution: Stage.smallHeap
    * (spark.graft.smallHeap / executor memory / local-heap proxy).
    */
  private[graft] def incNearCandProbe(s: SparkSession,
      batch8: DataFrame, idx: DataFrame): DataFrame = {
    val small = graft.Stage.smallHeap(s)
    batch8.join(if (small) idx.hint("shuffle_hash") else idx, "gh")
      .groupBy(col("doc_id").as("batch_doc"), col("corpus_doc"))
      .agg(count(lit(1)).as("n_rare_shared"))
      // per-batch-doc VERIFY BUDGET: keep each ingest doc's top-K
      // candidates by shared rare grams (corpus_doc breaks ties
      // deterministically). A batch doc's true partner(s) share the
      // most rare grams and rank at the top; without the budget a
      // batch of near-copies of the corpus explodes — measured at
      // the sf10-docs decade: 34.0M candidate pairs (p99 151 per
      // batch doc, max 242), whose array-shipping verify spilled
      // 334 GB and owned 247 of the query's 276 s. With the budget
      // verification work is ≤ K per ingest doc — linear in the
      // batch with a hard constant, the deployment contract.
      .withColumn("rnk", row_number().over(
        Window.partitionBy("batch_doc")
          .orderBy(col("n_rare_shared").desc, col("corpus_doc"))))
      .filter(col("rnk") <= IncNearVerifyBudget)
      .drop("rnk")
  }

  // lazy: RareGramDfCap is declared further down the object; an eager
  // val here would interpolate its zero-initialized default
  lazy val incrementalNearSql: String = {
    val gh = h60Sql("g")
    val bh = h60Sql("g8")
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id < 400),
       |batch AS (
       |  SELECT doc_id, text FROM documents
       |  WHERE doc_id >= 400 OR doc_id < 50),
       |cg8 AS (
       |  SELECT doc_id, $bh AS gh FROM (
       |    SELECT doc_id, unnest(list_distinct($char8gramsSql)) AS g8
       |    FROM corpus)),
       |rare AS (
       |  SELECT gh FROM cg8 GROUP BY gh
       |  HAVING count(*) <= $RareGramDfCap),
       |bg8 AS (
       |  SELECT doc_id, $bh AS gh FROM (
       |    SELECT doc_id, unnest(list_distinct($char8gramsSql)) AS g8
       |    FROM batch)),
       |cand0 AS (
       |  SELECT b.doc_id AS batch_doc, c.doc_id AS corpus_doc,
       |    count(*) AS n_rare_shared
       |  FROM bg8 b
       |  JOIN rare r ON b.gh = r.gh
       |  JOIN cg8 c ON c.gh = b.gh
       |  GROUP BY b.doc_id, c.doc_id),
       |cand AS (
       |  SELECT batch_doc, corpus_doc, n_rare_shared FROM cand0
       |  QUALIFY row_number() OVER (PARTITION BY batch_doc
       |    ORDER BY n_rare_shared DESC, corpus_doc) <= $IncNearVerifyBudget),
       |cdocs AS (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT batch_doc AS doc_id FROM cand
       |    UNION ALL SELECT corpus_doc FROM cand)),
       |g4 AS (
       |  SELECT DISTINCT doc_id, $gh AS gh FROM (
       |    SELECT doc_id, unnest(list_distinct($char4gramsSql)) AS g
       |    FROM documents
       |    WHERE doc_id IN (SELECT doc_id FROM cdocs))),
       |sizes AS (SELECT doc_id, count(*) AS n FROM g4 GROUP BY doc_id),
       |inter AS (
       |  SELECT batch_doc, corpus_doc, count(*) AS n_common
       |  FROM cand
       |  JOIN g4 ga ON ga.doc_id = batch_doc
       |  JOIN g4 gb ON gb.doc_id = corpus_doc AND gb.gh = ga.gh
       |  GROUP BY batch_doc, corpus_doc)
       |SELECT c.batch_doc, c.corpus_doc, c.n_rare_shared,
       |  CAST(i.n_common AS DOUBLE) / (sa.n + sb.n - i.n_common) AS jaccard
       |FROM cand c
       |JOIN inter i ON i.batch_doc = c.batch_doc
       |  AND i.corpus_doc = c.corpus_doc
       |JOIN sizes sa ON sa.doc_id = c.batch_doc
       |JOIN sizes sb ON sb.doc_id = c.corpus_doc
       |WHERE CAST(i.n_common AS DOUBLE) / (sa.n + sb.n - i.n_common) >= 0.6
       |ORDER BY 1, 2""".stripMargin
  }

  // NOT EXISTS, not NOT IN: left_anti keeps a NULL-keyed incoming row
  // (its equality never evaluates true), and NOT EXISTS matches that —
  // NOT IN would return ZERO rows if any historical hash were NULL.
  // The testdata has no NULL text, but the oracle must encode the same
  // semantics the engine ships with.
  val incrementalDedupSql: String =
    """SELECT dd.doc_id, md5(dd.text) AS content_md5, dd.source
      |FROM documents dd
      |WHERE (dd.doc_id >= 400 OR dd.doc_id < 50)
      |  AND NOT EXISTS (
      |    SELECT 1 FROM documents h
      |    WHERE h.doc_id < 400 AND md5(h.text) = md5(dd.text))
      |ORDER BY dd.doc_id""".stripMargin

  // -------------------------------------------------------------------
  // Charter capstone: training-example assembly — the query that
  // materializes the actual training rows by joining every modality:
  // curated text (flags from docFlags), its embedding + label, the
  // media format, and a deterministic hash split. Dimension-style
  // equi-joins on the entity id; the split is a pure key function so
  // re-runs and retries assemble byte-identical batches.
  // -------------------------------------------------------------------
  def trainAssemble(s: SparkSession, d: String): DataFrame = {
    val docs = docFlags(documents(s, d))
      .filter(col("pass_lang") && col("pass_quality"))
      .select(col("doc_id"), col("source"), col("text_md5"), col("n_tokens"))
    val emb = graft.Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"))
    val bucket = pmod(conv(substring(md5(concat(lit("mix:"), col("doc_id"))),
      1, 15), 16, 10).cast("long"), lit(100))
    val split = when(bucket < 80, "train").when(bucket < 90, "valid")
      .otherwise("test")
    docs.join(emb, col("doc_id") === col("vec_id"))
      .select(col("doc_id"), col("source"), col("text_md5"), col("n_tokens"),
        col("label"),
        element_at(array(lit("png"), lit("jpeg"), lit("wav")),
          (col("doc_id") % 3 + 1).cast("int")).as("format"),
        split.as("split"))
      .orderBy("doc_id")
  }

  val trainAssembleSql: String =
    s"""WITH flagged AS (
       |  SELECT doc_id, source, md5(text) AS text_md5,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents
       |  WHERE CAST(len(list_filter(string_split(text, ' '), x -> x IN $stopList)) AS DOUBLE)
       |          / len(string_split(text, ' ')) > 0.12
       |    AND ((CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / length(text)) * 0.6
       |      + (1.0 - (CAST(length(text) AS DOUBLE)
       |                - length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
       |                - length(regexp_replace(text, '[^0-9]', '', 'g'))
       |                - length(regexp_replace(text, '[^ ]', '', 'g'))) / length(text)) * 0.3
       |      + (CASE WHEN (CAST(length(text) AS DOUBLE) - length(regexp_replace(text, '[^ ]', '', 'g')))
       |                   / (length(regexp_replace(text, '[^ ]', '', 'g')) + 1.0) >= 3
       |               AND (CAST(length(text) AS DOUBLE) - length(regexp_replace(text, '[^ ]', '', 'g')))
       |                   / (length(regexp_replace(text, '[^ ]', '', 'g')) + 1.0) <= 10
       |              THEN 0.1 ELSE 0.0 END)) > 0.8)
       |SELECT f.doc_id, f.source, f.text_md5, f.n_tokens, e.label,
       |  (['png','jpeg','wav'])[(f.doc_id % 3 + 1)] AS format,
       |  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'valid'
       |       ELSE 'test' END AS split
       |FROM (SELECT *,
       |    CAST(('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS b
       |  FROM flagged) f
       |JOIN embeddings e ON f.doc_id = e.vec_id
       |ORDER BY f.doc_id""".stripMargin

  // -------------------------------------------------------------------
  // B28g: corpus bigram language-model statistics — the n-gram LM table
  // a data pipeline materializes for perplexity-style quality filters:
  // corpus bigram counts, left-unigram counts, and the conditional
  // probability P(w2|w1) as an exact integer-ratio double. One corpus
  // pass per relation (the bigram explode reuses the native
  // word_shingles k=2 non-distinct builder), vocabulary-sized shuffles,
  // top-25 by count via TakeOrderedAndProject.
  // -------------------------------------------------------------------
  def bigramLm(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val big = docs.select(explode(
        call_function("word_shingles", col("text"), lit(2), lit(false)))
        .as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("c_bigram"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .withColumn("w2", substring_index(col("bg"), " ", -1))
    val uni = docs.select(explode(toks).as("w1u"))
      .groupBy("w1u").agg(count(lit(1)).as("c_w1"))
    big.join(uni, col("w1") === col("w1u"))
      .select(col("w1"), col("w2"), col("c_bigram"), col("c_w1"),
        (col("c_bigram").cast("double") / col("c_w1")).as("cond_p"))
      .orderBy(col("c_bigram").desc, col("w1"), col("w2")).limit(25)
  }

  val bigramLmSql: String =
    """WITH t AS (SELECT string_split(text, ' ') AS t FROM documents),
      |big AS (
      |  SELECT bg, count(*) AS c_bigram FROM (
      |    SELECT unnest(list_transform(range(1, len(t)),
      |      i -> t[i] || ' ' || t[i + 1])) AS bg FROM t
      |    WHERE len(t) >= 2)
      |  GROUP BY bg),
      |uni AS (
      |  SELECT w1u, count(*) AS c_w1 FROM (
      |    SELECT unnest(t) AS w1u FROM t) GROUP BY w1u)
      |SELECT string_split(bg, ' ')[1] AS w1, string_split(bg, ' ')[2] AS w2,
      |  c_bigram, c_w1, CAST(c_bigram AS DOUBLE) / c_w1 AS cond_p
      |FROM big JOIN uni ON string_split(bg, ' ')[1] = w1u
      |ORDER BY c_bigram DESC, w1, w2 LIMIT 25""".stripMargin

  // -------------------------------------------------------------------
  // Charter: benchmark decontamination — flag training docs sharing any
  // 8-token passage with the held-out eval set (the standard n-gram
  // overlap check run before training). Eval membership here is a
  // deterministic id rule standing in for the benchmark corpus. Shape:
  // the corpus is tokenized, windowed (stride 1 — decontamination must
  // catch EVERY alignment, unlike the stride-4 dedup pass), and hashed
  // ONCE into a flat (doc, passage-hash) relation staged for both
  // branches; the eval hash set is tiny (distinct hashes of a small
  // benchmark) and broadcast-joins against the training passages, so
  // the corpus-side cost is one scan + one hash-key join at any scale.
  // -------------------------------------------------------------------
  /** Flat (doc_id, ph) relation of 8-token passage hashes at the given
    * stride — ONE definition shared by the batch decontamination pass
    * and [[graft.streaming.DecontaminateStream]], so batch and
    * streaming contamination decisions agree by construction (the
    * docFlags pattern). Pure narrow projection + explode:
    * streaming-safe, no shuffle.
    */
  def passageHashes(df: DataFrame, stride: Int): DataFrame =
    df.select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 8)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, size(t) - 8, $stride)," +
          " i -> concat_ws(' ', slice(t, i + 1, 8)))")).as("passage"))
      .select(col("doc_id"), h60(col("passage")).as("ph"))

  def decontaminate(s: SparkSession, d: String): DataFrame = {
    val ph = passageHashes(documents(s, d), stride = 1)
    graft.Stage.fanout(ph) { p =>
      val evalSet = p.filter(col("doc_id") % 13 === 0)
        .select(col("ph").as("eph")).distinct()
      p.filter(col("doc_id") % 13 =!= 0)
        .join(evalSet, col("ph") === col("eph"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_passages"), count(col("eph")).as("n_hits"),
          countDistinct(col("eph")).as("n_uniq_hits"))
        .filter(col("n_hits") > 0)
    }.select(col("doc_id"), col("n_passages"), col("n_hits"),
        col("n_uniq_hits"),
        (col("n_hits").cast("double") / col("n_passages")).as("contam_ratio"))
      .orderBy("doc_id")
  }

  val decontaminateSql: String = {
    val ph = h60Sql("passage")
    s"""WITH wt AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |  WHERE len(string_split(text, ' ')) >= 8),
       |p AS (
       |  SELECT doc_id, $ph AS ph FROM (
       |    SELECT doc_id,
       |      unnest(list_transform(range(0, len(t) - 8 + 1, 1),
       |        i -> array_to_string(t[i + 1:i + 8], ' '))) AS passage
       |    FROM wt)),
       |ev AS (SELECT DISTINCT ph AS eph FROM p WHERE doc_id % 13 = 0)
       |SELECT doc_id, n_passages, n_hits, n_uniq_hits,
       |  CAST(n_hits AS DOUBLE) / n_passages AS contam_ratio
       |FROM (
       |  SELECT doc_id, count(*) AS n_passages, count(eph) AS n_hits,
       |    count(DISTINCT eph) AS n_uniq_hits
       |  FROM p LEFT JOIN ev ON p.ph = ev.eph
       |  WHERE doc_id % 13 <> 0
       |  GROUP BY doc_id)
       |WHERE n_hits > 0
       |ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // Charter: train/test split LEAKAGE audit — decontamination's
  // within-corpus twin: after train_split_assign carves the corpus,
  // passages shared between a train doc and any test/val doc leak the
  // held-out sets into training (the metric-inflating bug every eval
  // pipeline must rule out). Same scale shape as dedup_decontaminate:
  // the (doc, passage-hash) relation is built ONCE (stride 4 — the
  // dedup grade; leakage needs dup passages, not every alignment) and
  // staged; the holdout hash set is a slim distinct (hash, split)
  // relation that hash-joins back against train passages. Split
  // membership derives from the SAME salted doc_id hash as
  // train_split_assign, so this audits exactly the split that ships.
  //
  // Output contract: n_test_hits/n_val_hits count one hit PER LEAKED
  // SPLIT (a passage hash present in both test and val counts twice),
  // while n_passages is the plain pre-join passage count — so
  // leak_ratio = (n_test_hits + n_val_hits) / n_passages can EXCEED
  // 1.0 (e.g. 1 passage leaking into both holdouts → 2/1). That is
  // deliberate: the ratio is severity (expected holdout collisions per
  // train passage), not a fraction of passages; readers wanting the
  // latter should use the per-split hit columns, each individually
  // ≤ n_passages.
  // -------------------------------------------------------------------
  def splitLeakage(s: SparkSession, d: String): DataFrame = {
    val bucket = pmod(h60(concat(lit("split-v1:"),
      col("doc_id").cast("string"))), lit(100L))
    val split = when(bucket < 5, lit("test"))
      .when(bucket < 10, lit("val")).otherwise(lit("train"))
    val ph = passageHashes(documents(s, d), stride = 4)
      .withColumn("split", split)
    graft.Stage.fanout(ph) { p =>
      val holdout = p.filter(col("split") =!= "train")
        .select(col("ph").as("hph"), col("split").as("hsplit")).distinct()
      val train = p.filter(col("split") === "train")
      // n_passages counts the PRE-join relation: the holdout join fans
      // a passage out once per leaked split (a hash present in both
      // test AND val matches twice), which would inflate the
      // denominator and understate leak_ratio; hit counts keep the
      // fan-out on purpose (one count per leaked split)
      val counts = train.groupBy("doc_id")
        .agg(count(lit(1)).as("n_passages"))
      train
        .join(holdout, col("ph") === col("hph"))
        .groupBy("doc_id")
        .agg(
          sum(when(col("hsplit") === "test", 1L).otherwise(0L))
            .as("n_test_hits"),
          sum(when(col("hsplit") === "val", 1L).otherwise(0L))
            .as("n_val_hits"))
        .join(counts, Seq("doc_id"))
    }.select(col("doc_id"), col("n_passages"),
        col("n_test_hits"), col("n_val_hits"),
        round((col("n_test_hits") + col("n_val_hits")).cast("double") /
          col("n_passages"), 6).as("leak_ratio"))
      .orderBy("doc_id")
  }

  val splitLeakageSql: String = {
    val ph = h60Sql("passage")
    val bucket =
      s"((${h60Sql("'split-v1:' || CAST(doc_id AS VARCHAR)")} % 100) + 100) % 100"
    s"""WITH wt AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |  WHERE len(string_split(text, ' ')) >= 8),
       |p AS (
       |  SELECT doc_id,
       |    CASE WHEN $bucket < 5 THEN 'test'
       |         WHEN $bucket < 10 THEN 'val' ELSE 'train' END AS split,
       |    $ph AS ph
       |  FROM (
       |    SELECT doc_id,
       |      unnest(list_transform(range(0, len(t) - 8 + 1, 4),
       |        i -> array_to_string(t[i + 1:i + 8], ' '))) AS passage
       |    FROM wt)),
       |holdout AS (
       |  SELECT DISTINCT ph AS hph, split AS hsplit FROM p
       |  WHERE split <> 'train'),
       |counts AS (
       |  SELECT doc_id, count(*) AS n_passages FROM p
       |  WHERE split = 'train' GROUP BY doc_id),
       |hits AS (
       |  SELECT doc_id,
       |    CAST(sum(CASE WHEN hsplit = 'test' THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_test_hits,
       |    CAST(sum(CASE WHEN hsplit = 'val' THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_val_hits
       |  FROM p JOIN holdout ON p.ph = holdout.hph
       |  WHERE split = 'train'
       |  GROUP BY doc_id)
       |SELECT doc_id, n_passages, n_test_hits, n_val_hits,
       |  CASE WHEN round(CAST(n_test_hits + n_val_hits AS DOUBLE) / n_passages, 6) = 0 THEN 0.0 ELSE round(CAST(n_test_hits + n_val_hits AS DOUBLE) / n_passages, 6) END
       |    AS leak_ratio
       |FROM hits JOIN counts USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // Charter: domain mixture reweighting — the sampling-weight table a
  // training run uses to rebalance sources toward a target mixture
  // (uniform here; swap the target expression for a learned one). Per
  // source: doc/token mass, actual share, the weight that equalizes
  // shares, the production cap (≤3 epochs before a source repeats too
  // much), and the resulting sampled token count. One corpus scan into
  // a |sources|-row aggregate; the global totals come from a window
  // over THAT aggregate, so nothing rescans the corpus.
  // -------------------------------------------------------------------
  def trainMixture(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    val weight = (col("total_tokens").cast("double") / col("n_sources")) /
      col("tokens")
    val capped = least(weight, lit(3.0))
    documents(s, d)
      .select(col("source"), size(toks).cast("bigint").as("n_tok"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tokens"))
      .withColumn("total_tokens", sum(col("tokens")).over(w))
      .withColumn("n_sources", count(lit(1)).over(w))
      .select(col("source"), col("n_docs"), col("tokens"),
        (col("tokens").cast("double") / col("total_tokens")).as("share"),
        weight.as("weight"), capped.as("capped_weight"),
        (col("tokens").cast("double") * capped).as("sampled_tokens"))
      .orderBy("source")
  }

  val trainMixtureSql: String =
    """WITH src AS (
      |  SELECT source, count(*) AS n_docs,
      |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
      |  FROM documents GROUP BY source),
      |tot AS (
      |  SELECT *, CAST(sum(tokens) OVER () AS BIGINT) AS total_tokens,
      |    count(*) OVER () AS n_sources
      |  FROM src)
      |SELECT source, n_docs, tokens,
      |  CAST(tokens AS DOUBLE) / total_tokens AS share,
      |  (CAST(total_tokens AS DOUBLE) / n_sources) / tokens AS weight,
      |  least((CAST(total_tokens AS DOUBLE) / n_sources) / tokens, 3.0)
      |    AS capped_weight,
      |  CAST(tokens AS DOUBLE)
      |    * least((CAST(total_tokens AS DOUBLE) / n_sources) / tokens, 3.0)
      |    AS sampled_tokens
      |FROM tot
      |ORDER BY source""".stripMargin

  // -------------------------------------------------------------------
  // Charter: within-document repetition filter (Gopher-style) — the
  // quality gate that drops boilerplate/looping docs by the fraction of
  // repeated word bigrams and the mass of the single most frequent
  // bigram. Multiset bigrams via the native shingle expression
  // (distinct=false); two hash aggregations, the second over |docs|
  // rows — shuffled bytes scale with distinct (doc, bigram) pairs,
  // never the corpus text.
  // -------------------------------------------------------------------
  def repetition(s: SparkSession, d: String): DataFrame = {
    val dupFrac = (col("n_bigrams") - col("n_distinct")).cast("double") /
      col("n_bigrams")
    val topFrac = col("top_c").cast("double") / col("n_bigrams")
    documents(s, d)
      .filter(size(toks) >= 2)
      .select(col("doc_id"),
        explode(call_function("word_shingles", col("text"), lit(2),
          lit(false))).as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_bigrams"), count(lit(1)).as("n_distinct"),
        max(col("c")).as("top_c"))
      .select(col("doc_id"), col("n_bigrams"), col("n_distinct"),
        dupFrac.as("dup_frac"), topFrac.as("top_frac"),
        (dupFrac > 0.2 || topFrac > 0.1).as("flagged"))
      .orderBy("doc_id")
  }

  val repetitionSql: String =
    """SELECT doc_id, n_bigrams, n_distinct,
      |  CAST(n_bigrams - n_distinct AS DOUBLE) / n_bigrams AS dup_frac,
      |  CAST(top_c AS DOUBLE) / n_bigrams AS top_frac,
      |  CAST(n_bigrams - n_distinct AS DOUBLE) / n_bigrams > 0.2
      |    OR CAST(top_c AS DOUBLE) / n_bigrams > 0.1 AS flagged
      |FROM (
      |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
      |    count(*) AS n_distinct, CAST(max(c) AS BIGINT) AS top_c
      |  FROM (
      |    SELECT doc_id, bg, count(*) AS c FROM (
      |      SELECT doc_id, unnest(list_transform(range(1, len(t)),
      |        i -> t[i] || ' ' || t[i + 1])) AS bg
      |      FROM (SELECT doc_id, string_split(text, ' ') AS t
      |            FROM documents
      |            WHERE len(string_split(text, ' ')) >= 2))
      |    GROUP BY doc_id, bg)
      |  GROUP BY doc_id)
      |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // Charter: heavy hitters via a hand-built count-min sketch (the
  // "novel sketch" custom-operator path — functions/CountMin.scala).
  // The exact top-20 terms are computed alongside and each sketch
  // estimate is checked against its CM guarantee (est ≥ true, and
  // within the εN band). The oracle pins the exact counts and expects
  // every bound to hold — the same sketch-verification pattern as
  // rel_approx_quantile. The sketch pass is what runs at 100 TB (fixed
  // 8 KiB state per partition, one merge tree); the exact pass exists
  // to certify it.
  // -------------------------------------------------------------------
  def heavyHitters(s: SparkSession, d: String): DataFrame = {
    val termsRaw = documents(s, d)
      .select(explode(toks).as("term"))
      .filter(col("term") =!= "")
    graft.Stage.fanout(termsRaw) { terms =>
      import s.implicits._
      val exact = terms.groupBy("term").agg(count(lit(1)).as("c"))
        .withColumn("total",
          sum(col("c")).over(Window.partitionBy(lit(1))))
      val top = exact.orderBy(col("c").desc, col("term")).limit(20)
      val sketch = terms.select(col("term")).as[String]
        .select(graft.functions.CountMin.Agg.toColumn)
        .toDF("sk")
      top.crossJoin(broadcast(sketch))
        .withColumn("est",
          graft.functions.CountMin.estimateCol(col("sk"), col("term")))
        .select(col("term"), col("c"),
          (col("est") >= col("c") &&
            col("est") <= col("c") + col("total") / 16).as("est_ok"))
    }.orderBy(col("c").desc, col("term"))
  }

  val heavyHittersSql: String =
    """SELECT term, c, TRUE AS est_ok FROM (
      |  SELECT term, count(*) AS c FROM (
      |    SELECT unnest(string_split(text, ' ')) AS term FROM documents)
      |  WHERE term <> '' GROUP BY term)
      |ORDER BY c DESC, term LIMIT 20""".stripMargin

  // -------------------------------------------------------------------
  // Charter: curriculum binning — the token-mass schedule a
  // quality-ordered training run consumes (low bands first or last,
  // per curriculum policy). Bands are FIXED quality intervals
  // (floor(q*10)), not population deciles: an ntile would funnel the
  // whole corpus through one global sort partition, while fixed bands
  // are a pure per-row map + 10-group aggregate at any scale. The
  // cumulative token column (the schedule position) windows over the
  // 10-row aggregate, not the corpus.
  // -------------------------------------------------------------------
  def trainCurriculum(s: SparkSession, d: String): DataFrame = {
    val len = length(col("text")).cast("double")
    val nAlpha = length(regexp_replace(col("text"), "[^a-zA-Z]", "")).cast("double")
    val nDigit = length(regexp_replace(col("text"), "[^0-9]", "")).cast("double")
    val nSpace = length(regexp_replace(col("text"), "[^ ]", "")).cast("double")
    val nPunct = len - nAlpha - nDigit - nSpace
    val wordLen = (len - nSpace) / (nSpace + lit(1.0))
    // same per-doc score as text_quality — one definition of quality
    val score = (nAlpha / len) * lit(0.6) +
      (lit(1.0) - nPunct / len) * lit(0.3) +
      when(wordLen >= 3 && wordLen <= 10, lit(0.1)).otherwise(lit(0.0))
    documents(s, d)
      .select(col("doc_id"), score.as("q"),
        size(toks).cast("bigint").as("n_tok"))
      .withColumn("band", least(floor(round(col("q"), 6) * 10), lit(9.0))
        .cast("int"))
      .groupBy("band")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tokens"),
        // exact decimal sum of the rounded scores: order-independent,
        // so the mean is bit-stable at any parallelism
        sum(round(col("q"), 6).cast("decimal(18,6)")).as("qsum"))
      .select(col("band"), col("n_docs"), col("tokens"),
        (col("qsum").cast("double") / col("n_docs")).as("mean_quality"))
      .withColumn("cum_tokens",
        sum(col("tokens")).over(Window.orderBy("band")))
      .orderBy("band")
  }

  val trainCurriculumSql: String =
    """WITH scored AS (
      |  SELECT doc_id,
      |    (nalpha / len) * 0.6
      |      + (1.0 - (len - nalpha - ndigit - nspace) / len) * 0.3
      |      + (CASE WHEN (len - nspace) / (nspace + 1.0) >= 3
      |               AND (len - nspace) / (nspace + 1.0) <= 10
      |         THEN 0.1 ELSE 0.0 END) AS q,
      |    n_tok
      |  FROM (
      |    SELECT doc_id,
      |      CAST(length(text) AS DOUBLE) AS len,
      |      CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) AS nalpha,
      |      CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) AS ndigit,
      |      CAST(length(regexp_replace(text, '[^ ]', '', 'g')) AS DOUBLE) AS nspace,
      |      CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      |    FROM documents)),
      |bands AS (
      |  SELECT CAST(least(floor(round(q, 6) * 10), 9.0) AS INT) AS band,
      |    count(*) AS n_docs,
      |    CAST(sum(n_tok) AS BIGINT) AS tokens,
      |    CAST(sum(CAST(round(q, 6) AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS qsum
      |  FROM scored GROUP BY 1)
      |SELECT band, n_docs, tokens,
      |  CAST(qsum AS DOUBLE) / n_docs AS mean_quality,
      |  CAST(sum(tokens) OVER (ORDER BY band) AS BIGINT) AS cum_tokens
      |FROM bands
      |ORDER BY band""".stripMargin

  // -------------------------------------------------------------------
  // Charter: sequence packing — assign docs to fixed-capacity context
  // windows (2048 tokens) by contiguous fill, the pre-tokenization
  // packing plan a training run uses to bound padding waste. Greedy
  // first-fit is inherently sequential, so the parallel form packs
  // CONTIGUOUSLY per source: a prefix-sum over (source, doc_id) order
  // gives each doc its start offset, and floor(start / capacity) is
  // its bin — one window + one aggregate, parallel across sources.
  // Capacity is a power of two, so the double division is exact in
  // both engines (binary-fp divide by 2^11 never rounds).
  // -------------------------------------------------------------------
  def trainPacking(s: SparkSession, d: String): DataFrame = {
    val cap = 2048
    val w = Window.partitionBy("source").orderBy("doc_id")
    documents(s, d)
      .select(col("source"), col("doc_id"),
        size(toks).cast("bigint").as("n_tok"))
      .withColumn("cum", sum(col("n_tok")).over(w))
      .withColumn("bin", floor((col("cum") - col("n_tok")) / lit(cap.toDouble)))
      .groupBy("source", "bin")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .withColumn("fill_ratio", col("tokens").cast("double") / lit(cap))
      .orderBy("source", "bin")
  }

  val trainPackingSql: String =
    """WITH t AS (
      |  SELECT source, doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      |  FROM documents),
      |c AS (
      |  SELECT *, CAST(sum(n_tok) OVER (
      |    PARTITION BY source ORDER BY doc_id) AS BIGINT) AS cum
      |  FROM t)
      |SELECT source, bin, count(*) AS n_docs,
      |  CAST(sum(n_tok) AS BIGINT) AS tokens,
      |  min(doc_id) AS first_doc, max(doc_id) AS last_doc,
      |  CAST(sum(n_tok) AS DOUBLE) / 2048 AS fill_ratio
      |FROM (SELECT *,
      |  CAST(floor((cum - n_tok) / 2048.0) AS BIGINT) AS bin FROM c)
      |GROUP BY source, bin
      |ORDER BY source, bin""".stripMargin

  // -------------------------------------------------------------------
  // Charter: dedup method-agreement audit — the QA report an operator
  // reads before committing to thresholds: per method pair, how many
  // docs each dedup method flags (diagonal), how many both flag, and
  // the Jaccard agreement of the flag sets, over the registry's FULL
  // flagging-method inventory:
  //   exact       = duplicated content hash
  //   bag         = duplicated sorted-token-multiset hash
  //   near        = member of any LSH-verified near-dup pair
  //   containment = member of any ≥0.8 gram-containment pair
  //   passage     = majority-duplicate 8-token passage windows
  //   substring   = majority-duplicate 20-token windows (stride 10)
  // (The round-16 retrieval path is audited PAIR-level in
  // dedup_retrieval_agreement instead of as a 7th flag leg here: the
  // measured DuckDB peak of this composite's oracle with a 7th leg
  // exceeds the 2 GiB oracle envelope at sf0.1 — 6 legs fit in 1.8 GiB,
  // 7 OOM even at 3 GiB with every CTE materialized — and the pair-level
  // complementarity report is the more informative comparison for a
  // method whose whole point is pairs the others cannot reach.)
  // The flag relations are slim (method, doc_id) sets, so the pairwise
  // comparison is a same-key self-join over |flagged docs| rows — the
  // expensive legs are the dedup pipelines themselves, each already
  // staged/checkpoint-backed.
  // -------------------------------------------------------------------
  def dedupAgreement(s: SparkSession, d: String): DataFrame =
    graft.Stage.staging(s) { st =>
      val nearF = st.overlap(neardupPairsCore(s, d))
      val contF = st.overlap(containmentCore(s, d))
      val passF = st.overlap(passageDedupCore(s, d))
      val exactDocs = documents(s, d)
        .select(col("doc_id"), md5(col("text")).as("h"))
        .withColumn("nh", count(lit(1)).over(Window.partitionBy("h")))
        .filter(col("nh") > 1).select("doc_id")
      val bagDocs = documents(s, d)
        .select(col("doc_id"),
          md5(concat_ws(" ",
            sort_array(expr("filter(split(text, ' '), x -> x <> '')"))))
            .as("bh"))
        .withColumn("nb", count(lit(1)).over(Window.partitionBy("bh")))
        .filter(col("nb") > 1).select("doc_id")
      val nearDocs = nearF()
        .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
        .distinct()
      val contDocs = contF()
        .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
        .distinct()
      val passDocs = passF().filter(col("flagged"))
        .select("doc_id")
      val substrDocs = substringDedupCore(s, d)
        .filter(col("dup_windows") * 2 >= col("n_windows") &&
          col("n_windows") > 0)
        .select("doc_id")
      val rel = exactDocs.withColumn("method", lit("exact"))
        .unionByName(bagDocs.withColumn("method", lit("bag")))
        .unionByName(nearDocs.withColumn("method", lit("near")))
        .unionByName(contDocs.withColumn("method", lit("containment")))
        .unionByName(passDocs.withColumn("method", lit("passage")))
        .unionByName(substrDocs.withColumn("method", lit("substring")))
        .select("method", "doc_id")
      // ONE pass over the flag relation, no composite-level staging: the
      // per-doc method set explodes into its ordered in-set pairs
      // (diagonal included), so pair counts AND method sizes fall out of
      // a single ≤(C(6,2)+6)-row aggregate — where the previous self-join
      // shape consumed the relation three times and needed its own
      // persist+checkpoint round-trip on top of the constituents'
      // (measured: the staging overhead, not the pipelines, was the gap
      // between the composite and its sum of parts). The tiny pair-count
      // relation is collected and the report assembled driver-side —
      // bounded at (#methods choose 2) + #methods rows regardless of
      // corpus size, the same bounded-collect contract as KMeans.
      val pairs = expr(
        "flatten(transform(ms, (a, i) -> transform(" +
          "slice(ms, i + 1, size(ms) - i), " +
          "b -> struct(a AS method_a, b AS method_b))))")
      val counts = rel.groupBy("doc_id")
        .agg(sort_array(collect_set(col("method"))).as("ms"))
        .select(explode(pairs).as("p"))
        .groupBy(col("p.method_a").as("method_a"),
          col("p.method_b").as("method_b"))
        .agg(count(lit(1)).as("n_both"))
        .collect().toSeq
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      val sizes = counts.collect { case (ma, mb, n) if ma == mb => ma -> n }
        .toMap
      val rows = counts.map { case (ma, mb, nBoth) =>
        val na = sizes(ma); val nb = sizes(mb)
        val nEither = na + nb - nBoth
        (ma, mb, na, nb, nBoth, nEither, nBoth.toDouble / nEither)
      }
      s.createDataFrame(rows).toDF("method_a", "method_b", "na", "nb",
          "n_both", "n_either", "agreement")
        .orderBy("method_a", "method_b")
    }

  // lazy: interpolates containmentSql/substringDedupSql, which are
  // declared LATER in this object — an eager val would bake their
  // nulls at class init (the Scala init-order trap; forced safely by
  // the oracle map at the bottom of the file)
  lazy val dedupAgreementSql: String = {
    val nearSql = neardupPairsSql.replace("ORDER BY doc_a, doc_b", "")
    val contSql = containmentSql.replace("ORDER BY doc_a, doc_b", "")
    val substrSql = substringDedupSql.replace("ORDER BY d.doc_id", "")
    val ph = h60Sql("passage")
    // contSql/substrSql are substituted AFTER stripMargin: containment's
    // SQL contains lines that BEGIN with `||` (string concat), which an
    // enclosing stripMargin would truncate to `|` and break the query
    s"""WITH near_pairs AS (SELECT doc_a, doc_b FROM ($nearSql)),
       |nearrel AS (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT doc_a AS doc_id FROM near_pairs
       |    UNION ALL SELECT doc_b FROM near_pairs)),
       |cont_pairs AS (SELECT doc_a, doc_b FROM (@@CONT_SQL@@)),
       |contrel AS (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT doc_a AS doc_id FROM cont_pairs
       |    UNION ALL SELECT doc_b FROM cont_pairs)),
       |exactrel AS (
       |  SELECT doc_id FROM (
       |    SELECT doc_id, count(*) OVER (PARTITION BY md5(text)) AS nh
       |    FROM documents) WHERE nh > 1),
       |bagrel AS (
       |  SELECT doc_id FROM (
       |    SELECT doc_id, count(*) OVER (PARTITION BY bag_md5) AS nb
       |    FROM (SELECT doc_id,
       |      md5(coalesce(array_to_string(list_sort(
       |        list_filter(string_split(text, ' '), x -> x <> '')), ' '), ''))
       |        AS bag_md5
       |      FROM documents)) WHERE nb > 1),
       |substrrel AS (
       |  SELECT doc_id FROM (@@SUBSTR_SQL@@)
       |  WHERE dup_windows * 2 >= n_windows AND n_windows > 0),
       |pwt AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |  WHERE len(string_split(text, ' ')) >= 8),
       |pp AS (
       |  SELECT doc_id, $ph AS ph FROM (
       |    SELECT doc_id,
       |      unnest(list_transform(range(0, len(t) - 8 + 1, 4),
       |        i -> array_to_string(t[i + 1:i + 8], ' '))) AS passage
       |    FROM pwt)),
       |pshared AS (
       |  SELECT ph AS ph_s FROM pp GROUP BY ph
       |  HAVING count(DISTINCT doc_id) > 1),
       |passrel AS (
       |  SELECT doc_id FROM (
       |    SELECT doc_id, count(*) AS n_passages, count(ph_s) AS n_dup
       |    FROM pp LEFT JOIN pshared ON pp.ph = pshared.ph_s
       |    GROUP BY doc_id)
       |  WHERE n_dup * 2 >= n_passages),
       |rel AS (
       |  SELECT 'exact' AS method, doc_id FROM exactrel
       |  UNION ALL SELECT 'bag', doc_id FROM bagrel
       |  UNION ALL SELECT 'near', doc_id FROM nearrel
       |  UNION ALL SELECT 'containment', doc_id FROM contrel
       |  UNION ALL SELECT 'passage', doc_id FROM passrel
       |  UNION ALL SELECT 'substring', doc_id FROM substrrel),
       |sizes AS (SELECT method, count(*) AS n FROM rel GROUP BY method)
       |SELECT a.method AS method_a, b.method AS method_b,
       |  sa.n AS na, sb.n AS nb, count(*) AS n_both,
       |  CAST(sa.n + sb.n - count(*) AS BIGINT) AS n_either,
       |  CAST(count(*) AS DOUBLE) / (sa.n + sb.n - count(*)) AS agreement
       |FROM rel a JOIN rel b ON a.doc_id = b.doc_id AND a.method <= b.method
       |JOIN sizes sa ON sa.method = a.method
       |JOIN sizes sb ON sb.method = b.method
       |GROUP BY a.method, b.method, sa.n, sb.n
       |ORDER BY method_a, method_b""".stripMargin
      .replace("@@CONT_SQL@@", contSql)
      .replace("@@SUBSTR_SQL@@", substrSql)
  }

  // -------------------------------------------------------------------
  // Charter: wordlist redaction (the PII-scrub shape) — count and
  // replace term-list matches per document, emit the scrubbed-content
  // hash for downstream exact dedup. A real pipeline swaps the wordlist
  // pattern for email/phone/ID regexes; the plumbing (regexp_count +
  // global regexp_replace + content hash in ONE narrow projection over
  // one scan, no shuffle until the output ordering) is the operator.
  // \b works identically in Java regex (Spark) and RE2 (DuckDB) for
  // this ASCII corpus.
  // -------------------------------------------------------------------
  private val ScrubPat = "\\b(value|hash|key)\\b"

  def textScrub(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"),
        regexp_count(col("text"), lit(ScrubPat)).cast("bigint").as("n_hits"),
        regexp_replace(col("text"), ScrubPat, "[REDACTED]").as("scrubbed"))
      .select(col("doc_id"), col("n_hits"),
        length(col("scrubbed")).cast("bigint").as("scrub_len"),
        md5(col("scrubbed")).as("scrub_md5"))
      .orderBy("doc_id")

  val textScrubSql: String =
    """SELECT doc_id,
      |  CAST(len(regexp_extract_all(text, '\b(value|hash|key)\b')) AS BIGINT)
      |    AS n_hits,
      |  CAST(length(scrubbed) AS BIGINT) AS scrub_len,
      |  md5(scrubbed) AS scrub_md5
      |FROM (SELECT doc_id, text,
      |        regexp_replace(text, '\b(value|hash|key)\b', '[REDACTED]', 'g')
      |          AS scrubbed
      |      FROM documents)
      |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // Charter: deterministic global training shuffle — the epoch-order
  // primitive: hash every doc with a seeded 60-bit key, shard by the
  // hash, position within the shard by (hash, doc_id). Reproducible
  // from the seed alone (no RNG state), and the plan is exactly one
  // hash exchange on `shard` plus an in-partition sort — at 100 TB
  // each shard writer streams its slice without any global sort.
  // -------------------------------------------------------------------
  def trainShuffle(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))
    documents(s, d)
      .select(col("doc_id"),
        h60(concat(lit("shuf42:"), col("doc_id").cast("string"))).as("h"))
      .withColumn("shard", (col("h") % 8).cast("int"))
      .withColumn("pos", row_number().over(w))
      .select(col("shard"), col("pos"), col("doc_id"))
      .orderBy("shard", "pos")
  }

  val trainShuffleSql: String = {
    val h = h60Sql("'shuf42:' || CAST(doc_id AS VARCHAR)")
    s"""SELECT CAST(h % 8 AS INT) AS shard,
       |  CAST(row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id)
       |    AS INTEGER) AS pos,
       |  doc_id
       |FROM (SELECT doc_id, $h AS h FROM documents)
       |ORDER BY shard, pos""".stripMargin
  }

  // -------------------------------------------------------------------
  // Charter: corpus-driven stopword stripping — derive the stoplist
  // from the corpus itself (top-20 terms by frequency), then filter
  // every document's tokens against it. The stoplist aggregates to ONE
  // array row cross-joined onto the corpus — a broadcast nested loop by
  // construction, so the corpus-side pass stays shuffle-free at any
  // scale; membership via array_contains is O(20) per token.
  // -------------------------------------------------------------------
  def stopwordStrip(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val stop = docs
      .select(explode(toks).as("term")).filter(col("term") =!= "")
      .groupBy("term").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("term")).limit(20)
      .agg(collect_list(col("term")).as("stop"))
    docs
      .select(col("doc_id"),
        expr("filter(split(text, ' '), x -> x <> '')").as("tk"))
      .join(broadcast(stop))
      .select(col("doc_id"), size(col("tk")).cast("bigint").as("n_tok"),
        expr("filter(tk, t -> NOT array_contains(stop, t))").as("kept"))
      .select(col("doc_id"), col("n_tok"),
        size(col("kept")).cast("bigint").as("n_kept"),
        md5(concat_ws(" ", col("kept"))).as("kept_md5"))
      .orderBy("doc_id")
  }

  val stopwordStripSql: String =
    """WITH stop AS (
      |  SELECT list(term ORDER BY n DESC, term) AS stop FROM (
      |    SELECT term, count(*) AS n FROM (
      |      SELECT unnest(list_filter(string_split(text, ' '), x -> x <> ''))
      |        AS term FROM documents)
      |    GROUP BY term ORDER BY n DESC, term LIMIT 20)),
      |tk AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
      |  FROM documents)
      |SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tok,
      |  CAST(len(kept) AS BIGINT) AS n_kept,
      |  md5(coalesce(array_to_string(kept, ' '), '')) AS kept_md5
      |FROM (SELECT doc_id, tk,
      |        list_filter(tk, t -> NOT list_contains(stop, t)) AS kept
      |      FROM tk CROSS JOIN stop)
      |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // Charter: asymmetric containment dedup — |A∩B| / min(|A|,|B|) over
  // char-4-gram sets. Jaccard misses the quote/subset case (a short doc
  // embedded in a long one scores low on union but high on containment);
  // this is the operator that catches it. Blocking: agreement on the
  // raw gram-hash min AND three one-hash minhash permutation mins (a
  // single min degenerates to near-all-pairs blocks; each extra min
  // splits the blocks) — over char-8-gram hashes, NOT the 4-grams being
  // scored, and deliberately NOT length-bucketed, because containment
  // pairs have dissimilar lengths by definition. Blocking on the dense
  // 4-grams collapsed quadratically at scale exactly like ngramJaccard
  // (round-9 sf1 study: 20k → 1.3M candidates for 10× data, max block
  // 649); sparse 8-gram minima hold it linear (274 → 14k, max block
  // 27) and ground-truth recall at sf0.01 (exact all-pairs containment
  // ≥ 0.8) is IDENTICAL — both keys catch the same 25/105 true pairs,
  // the same 25-row result. The ≤64 block cap is the same worst-case
  // backstop as ngramJaccard (no measured block exceeds 27).
  // Same staged slim-pair shape as ngramJaccard: the gram arrays stay
  // in persist-only staging, the checkpoint holds scored pairs only.
  //
  // Recall frontier (measured, round 9, vs exact all-pairs ground truth
  // at sf0.01 = 105 true pairs): conjunctive 4-min blocking catches 25;
  // bottom-8 sketch blocking 41 at 180× the candidates; disjunctive
  // 4/8-band single-min LSH 40/44 at ~90-150× the candidates (and both
  // degenerate again at sf1: 430k-880k candidates, pre-cap blocks of
  // 5k-19k docs). The uncaught pairs share too little hash-min mass for
  // ANY min-agreement key; catching them needs inverted-index retrieval
  // (rare-gram posting lists), a different operator shape — shipped in
  // round 16 as [[rareGramRetrieval]] (dedup_rare_gram). Conjunctive
  // blocking stays here: linear candidates, the documented trade.
  // -------------------------------------------------------------------
  // A/B measured (sf0.1, median-of-5, both shapes in one process,
  // round 9): gram-array scoring 2.97 s vs exploded (doc_id, gh)
  // hash-join+count 4.30 s — the exploded variant ships every
  // candidate doc's grams through a ~|cand|×|grams/doc| join (~45M
  // rows here) where the array variant broadcasts the slim candidate
  // pairs and intersects per pair with no extra exchange, so the
  // array shape stays. At-scale caveat (unchanged from the design
  // note): the staged relation carries per-doc gram arrays
  // (~kB/row); a pathologically huge doc inflates one row, where the
  // exploded shape stays 16 B/row flat — if a 100 TB corpus has such
  // docs, cap gram counts upstream rather than switching shapes.
  def containment(s: SparkSession, d: String): DataFrame =
    containmentCore(s, d).orderBy("doc_a", "doc_b")

  /** Scored ≥0.8-containment pairs without the output ordering, so
    * composites (dedup_agreement) can consume the relation directly.
    */
  private[operators] def containmentCore(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val docgr = containmentBlocks(gramHashes(docs, 8, "bh"), gramArrays(docs))
    val pairs = graft.Stage.fanout(docgr)(blockedPairs("dedup_containment"))
    pairs
      .select(col("doc_a"), col("doc_b"), col("na"), col("nb"), col("n_common"),
        (col("n_common").cast("double") / least(col("na"), col("nb")))
          .as("containment"))
      .filter(col("containment") >= 0.8)
  }

  val containmentSql: String = {
    val gh = h60Sql("g")
    val bh = h60Sql("g8")
    s"""WITH grams AS (
       |  SELECT DISTINCT doc_id, $gh AS gh FROM (
       |    SELECT doc_id, unnest(list_distinct($char4gramsSql)) AS g
       |    FROM documents)),
       |blocks AS (
       |  SELECT doc_id, min(bh) AS min_bh, min(${permSql(0, "bh")}) AS min_p0,
       |    min(${permSql(1, "bh")}) AS min_p1, min(${permSql(2, "bh")}) AS min_p2
       |  FROM (SELECT doc_id, $bh AS bh FROM (
       |    SELECT doc_id, unnest(list_distinct($char8gramsSql)) AS g8
       |    FROM documents))
       |  GROUP BY doc_id),
       |docgr AS (
       |  SELECT g.doc_id, count(*) AS n,
       |    CAST(b.min_bh AS VARCHAR) || '_' || CAST(b.min_p0 AS VARCHAR)
       |      || '_' || CAST(b.min_p1 AS VARCHAR)
       |      || '_' || CAST(b.min_p2 AS VARCHAR) AS block
       |  FROM grams g JOIN blocks b ON g.doc_id = b.doc_id
       |  GROUP BY g.doc_id, b.min_bh, b.min_p0, b.min_p1, b.min_p2),
       |ok AS (
       |  SELECT block FROM docgr GROUP BY block HAVING count(*) <= $DegenerateBlockCap),
       |cand AS (
       |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, x.n AS na, y.n AS nb
       |  FROM docgr x JOIN ok ox ON x.block = ox.block
       |  JOIN docgr y ON x.block = y.block AND x.doc_id < y.doc_id),
       |inter AS (
       |  SELECT doc_a, doc_b, na, nb, count(*) AS n_common
       |  FROM cand
       |  JOIN grams ga ON ga.doc_id = doc_a
       |  JOIN grams gb ON gb.doc_id = doc_b AND gb.gh = ga.gh
       |  GROUP BY doc_a, doc_b, na, nb)
       |SELECT doc_a, doc_b, na, nb, CAST(n_common AS BIGINT) AS n_common,
       |  CAST(n_common AS DOUBLE) / least(na, nb) AS containment
       |FROM inter
       |WHERE CAST(n_common AS DOUBLE) / least(na, nb) >= 0.8
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // -------------------------------------------------------------------
  // Charter: rare-gram inverted-index retrieval dedup — the recall path
  // min-agreement blocking cannot reach. The round-9 frontier study
  // (see containment's header) showed the pairs every min-based
  // blocking key misses share too little hash-min MASS, and named this
  // operator shape as the fix: build posting lists over sparse char-8-
  // grams, keep only RARE grams (document frequency 2..RareGramDfCap),
  // and emit each posting's pairs directly. A pair that shares ANY
  // rare-gram run is a candidate regardless of where its per-doc
  // minima land — the classic record-linkage inverted index, where
  // the df cap plays the degenerate-block role but with no recall
  // cliff for genuinely rare overlap (a gram over the cap is by
  // definition boilerplate, exact-dedup's job).
  //
  // Scale shape (100 TB): the posting relation is staged ONCE and
  // feeds both the df count and the list aggregation (same key ⇒ the
  // second aggregation reuses the join's hash partitioning, no extra
  // exchange); candidate volume is bounded by Σ_rare C(df,2) ≤
  // C(cap,2)·|rare grams| — LINEAR in corpus size, never quadratic;
  // per-gram posting arrays are ≤ cap elements by the count-first
  // filter (the list agg only ever sees rare grams, so no boilerplate
  // gram can inflate an aggregation buffer); and the exact char-4-gram
  // Jaccard verification explodes ONLY candidate docs (a semi-join
  // reaches the parquet scan), where the blocking dedups must hash the
  // whole corpus for their block keys. MinSharedRareGrams=2 suppresses
  // single-gram chance collisions — a true J≥0.6 near-dup pair shares
  // a gram per character of common run, never just one.
  // -------------------------------------------------------------------
  // Df-cap sweep, measured at sf0.1 vs dedup_ngram_jaccard's 230
  // verified pairs: cap=8 → 7k candidates, recovers 93 + 6 novel;
  // cap=16 → 49k candidates, recovers 213 + 22 novel; cap=64 → 428k
  // candidates (8.6×) for just 16 more recovered. 16 is the knee: the
  // pairs still missed live in >16-copy clusters — boilerplate
  // territory that exact/blocking dedup already owns, while every
  // sub-16-df rare-overlap pair (including all 22 the blocking minima
  // can't reach) is caught.
  private[graft] val RareGramDfCap = 16
  private val MinSharedRareGrams = 2
  // dedup_incremental_near's per-batch-doc candidate cap (see the
  // verify-budget comment at the cand window)
  private[graft] val IncNearVerifyBudget = 16

  def rareGramRetrieval(s: SparkSession, d: String): DataFrame =
    rareGramCore(s, d).orderBy("doc_a", "doc_b")

  /** Verified rare-gram pairs without the output ordering, so
    * composites (dedup_agreement) consume the checkpoint-backed
    * relation directly.
    */
  private[operators] def rareGramCore(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val cand = graft.Stage.fanout(gramHashes(docs, 8))(rareCandBuild)
    // exact verification over candidate docs ONLY: the semi-join keeps
    // the 4-gram hash pass off every non-candidate document; the
    // per-doc gram arrays are staged so the two pair-side joins read
    // ONE hash pass, not two
    val candDocs = cand.select(col("doc_a").as("doc_id"))
      .unionByName(cand.select(col("doc_b").as("doc_id")))
      .distinct()
    // A/B measured at sf0.1 (49k candidates, min-of-3): staged per-doc
    // gram ARRAYS + array_intersect 7.3 s vs the flat (doc, gh)
    // hash-join+count shape 11.0 s — the noise-heavy candidate set
    // re-confirms ngramJaccard's round-9 verdict (the flat shape's
    // |cand|×|grams/doc| join intermediate, ~13M rows here, costs more
    // than shipping each candidate doc's array once per pair).
    val g4 = gramArrays(docs.join(candDocs, Seq("doc_id"), "left_semi"))
    graft.Stage.fanout(g4)(rareVerifyBuild(cand))
  }

  /** Rare-gram candidate generation over a staged (doc_id, gh) posting
    * relation — the first fan-out body of [[rareGramCore]], factored
    * for reuse by the composite retrievalAgreement.
    */
  private def rareCandBuild(p: DataFrame): DataFrame = {
    // count first, collect second: the posting-list aggregation only
    // runs over grams already known rare, so its arrays are ≤ cap
    val rare = p.groupBy("gh").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= RareGramDfCap)
      .select("gh")
    val lists = p.join(rare, "gh")
      .groupBy("gh")
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
    // each posting emits its C(df,2) ordered pairs in place — no
    // self-join, no re-shuffle; the pair aggregate counts shared
    // rare grams per pair
    val pairsExpr = expr(
      "flatten(transform(ds, (a, i) -> transform(" +
        "slice(ds, i + 2, size(ds) - i - 1), " +
        "b -> struct(a AS doc_a, b AS doc_b))))")
    // doc_a < doc_b guard (mirrors the oracle's x.doc_id < y.doc_id):
    // two distinct grams in one doc colliding under h60 would list
    // the doc twice and emit a self-pair the oracle never produces
    lists.select(explode(pairsExpr).as("p"))
      .filter(col("p.doc_a") < col("p.doc_b"))
      .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .agg(count(lit(1)).as("n_rare_shared"))
      .filter(col("n_rare_shared") >= MinSharedRareGrams)
  }

  /** Exact-J4 verification of rare-gram candidates over a staged per-doc
    * gram-array relation (doc_id, ghs, n) — the second fan-out body of
    * [[rareGramCore]], factored for reuse by retrievalAgreement.
    */
  private def rareVerifyBuild(cand: DataFrame)(g4: DataFrame): DataFrame =
    cand
      .join(g4.select(col("doc_id").as("ida"), col("ghs").as("ghs_a"),
        col("n").as("na")), col("doc_a") === col("ida"))
      .join(g4.select(col("doc_id").as("idb"), col("ghs").as("ghs_b"),
        col("n").as("nb")), col("doc_b") === col("idb"))
      .select(col("doc_a"), col("doc_b"), col("n_rare_shared"),
        call_function("sorted_intersect_count",
          col("ghs_a"), col("ghs_b"))
          .as("n_common"), col("na"), col("nb"))
      .select(col("doc_a"), col("doc_b"), col("n_rare_shared"),
        (col("n_common").cast("double") /
          (col("na") + col("nb") - col("n_common"))).as("jaccard"))
      .filter(col("jaccard") >= 0.6)

  val rareGramRetrievalSql: String = {
    val gh = h60Sql("g")
    val bh = h60Sql("g8")
    s"""WITH g8 AS (
       |  SELECT doc_id, $bh AS gh FROM (
       |    SELECT doc_id, unnest(list_distinct($char8gramsSql)) AS g8
       |    FROM documents)),
       |rare AS (
       |  SELECT gh FROM g8 GROUP BY gh
       |  HAVING count(*) BETWEEN 2 AND $RareGramDfCap),
       |cand AS (
       |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |    count(*) AS n_rare_shared
       |  FROM g8 x JOIN rare r ON x.gh = r.gh
       |  JOIN g8 y ON y.gh = x.gh AND x.doc_id < y.doc_id
       |  GROUP BY x.doc_id, y.doc_id
       |  HAVING count(*) >= $MinSharedRareGrams),
       |cdocs AS (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT doc_a AS doc_id FROM cand
       |    UNION ALL SELECT doc_b FROM cand)),
       |g4 AS (
       |  SELECT DISTINCT doc_id, $gh AS gh FROM (
       |    SELECT doc_id, unnest(list_distinct($char4gramsSql)) AS g
       |    FROM documents
       |    WHERE doc_id IN (SELECT doc_id FROM cdocs))),
       |sizes AS (SELECT doc_id, count(*) AS n FROM g4 GROUP BY doc_id),
       |inter AS (
       |  SELECT doc_a, doc_b, count(*) AS n_common
       |  FROM cand
       |  JOIN g4 ga ON ga.doc_id = doc_a
       |  JOIN g4 gb ON gb.doc_id = doc_b AND gb.gh = ga.gh
       |  GROUP BY doc_a, doc_b)
       |SELECT c.doc_a, c.doc_b, c.n_rare_shared,
       |  CAST(i.n_common AS DOUBLE) / (sa.n + sb.n - i.n_common) AS jaccard
       |FROM cand c
       |JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
       |JOIN sizes sa ON sa.doc_id = c.doc_a
       |JOIN sizes sb ON sb.doc_id = c.doc_b
       |WHERE CAST(i.n_common AS DOUBLE) / (sa.n + sb.n - i.n_common) >= 0.6
       |ORDER BY 1, 2""".stripMargin
  }

  // -------------------------------------------------------------------
  // Charter: blocking-vs-retrieval complementarity audit — the
  // pair-level report that justifies running BOTH near-dup paths: how
  // many verified J4≥0.6 pairs each method finds, how many they share,
  // and each side's exclusive tail (blocking_only = pairs inside
  // >RareGramDfCap-copy clusters the df cap refuses; retrieval_only =
  // pairs whose blocking minima split). Both methods score the SAME
  // exact char-4-gram Jaccard by design, so the coalesced score is
  // well-defined and the per-side min/max are order-independent
  // doubles (no float summation). Lives apart from dedup_agreement's
  // doc-level composite: a 7th leg there exceeds the 2 GiB oracle
  // envelope at sf0.1 (measured — 6 legs fit in 1.8 GiB, 7 OOM at
  // 3 GiB), and the pair-level view is the informative one for a
  // method built to reach pairs the others cannot.
  // -------------------------------------------------------------------
  def retrievalAgreement(s: SparkSession, d: String): DataFrame =
    graft.Stage.staging(s) { st =>
      // Single-pass staging (VERDICT r16 #3): r16 composed the two cores
      // verbatim, so the corpus' char-grams were md5-hashed TWICE (the
      // measured bound at the big decade). This orchestration runs ONE
      // 8-gram pass (posting lists + blocking minima) and ONE 4-gram
      // pass (both pipelines' exact-J4 verify arrays), persists the
      // array relation once, and releases each staged input as soon as
      // its last consumer has materialized. Output rows are identical to
      // the r16 composition (CrossOperatorSpec pins the partition).
      //
      // Under a small heap the staged relations (g8 ≈ 16 B × postings,
      // docgr ≈ the corpus' gram arrays) dwarf storage memory and their
      // eviction churn starves the aggregation maps ("got 0" OOMs,
      // measured at the sf10-docs decade under 2 GiB) — stage straight
      // to disk instead, the cluster answer for memory-tight executors
      val level =
        if (st.serial) StorageLevel.DISK_ONLY else StorageLevel.MEMORY_AND_DISK
      val docs = documents(s, d)
      val g8 = st.persist(gramHashes(docs, 8, "gh8"), level)
      g8.queryExecution.toRdd.count()
      val candF = st.overlap(st.checkpoint(rareCandBuild(
        g8.select(col("doc_id"), col("gh8").as("gh"))), level))
      // corpus-wide per-doc arrays exist for the blocking side anyway, so
      // the retrieval verify prunes them from cache (left-semi below)
      // instead of re-hashing a pruned parquet scan as standalone does
      val docgr = st.persist(jaccardBlocks(g8,
        gramArrays(docs, length(col("text")).as("len"))), level)
      docgr.queryExecution.toRdd.count()
      val cand = candF()
      st.release(g8) // both md5-8 consumers materialized
      val bPairsF = st.overlap(st.checkpoint(
        blockedPairs("dedup_ngram_jaccard")(docgr), level))
      val candDocs = cand.select(col("doc_a").as("doc_id"))
        .unionByName(cand.select(col("doc_b").as("doc_id")))
        .distinct()
      // persist the pruned array relation: rareVerifyBuild consumes it
      // twice, and each un-persisted evaluation would re-scan the full
      // docgr array cache behind the semi-join
      val g4 = st.persist(docgr.select(col("doc_id"), col("ghs"), col("n"))
        .join(candDocs, Seq("doc_id"), "left_semi"), level)
      // materialize before the fan-out consumes it twice — a lazily
      // built cache would be raced (see Stage.fanout)
      g4.queryExecution.toRdd.count()
      val rPairs = st.checkpoint(rareVerifyBuild(cand)(g4), level)
      st.release(g4)
      val bPairs = bPairsF()
      st.release(docgr)
      val b = ngramPairsScore(bPairs)
        .select(col("doc_a"), col("doc_b"), col("jaccard").as("j_b"))
      val r = rPairs
        .select(col("doc_a"), col("doc_b"), col("jaccard").as("j_r"))
      b.join(r, Seq("doc_a", "doc_b"), "full_outer")
        .select(
          when(col("j_b").isNotNull && col("j_r").isNotNull, lit("both"))
            .when(col("j_b").isNotNull, lit("blocking_only"))
            .otherwise(lit("retrieval_only")).as("side"),
          coalesce(col("j_b"), col("j_r")).as("j"))
        .groupBy("side")
        .agg(count(lit(1)).as("n_pairs"),
          min(col("j")).as("min_jaccard"), max(col("j")).as("max_jaccard"))
        .orderBy("side")
    }

  val retrievalAgreementSql: String = {
    val nj = ngramJaccardSql.replace("ORDER BY doc_a, doc_b", "")
    val rg = rareGramRetrievalSql.replace("ORDER BY 1, 2", "")
    // the splice strips each subquery's trailing ORDER BY by exact
    // string match — fail loudly if the upstream text drifts, rather
    // than silently leaving a wasted sort inside a derived table
    require(nj != ngramJaccardSql,
      "ngramJaccardSql ORDER BY clause drifted; splice no-oped")
    require(rg != rareGramRetrievalSql,
      "rareGramRetrievalSql ORDER BY clause drifted; splice no-oped")
    // spliced AFTER stripMargin: both subqueries contain lines that
    // BEGIN with `||` (string concat), which an enclosing stripMargin
    // would truncate to `|` and break
    s"""WITH b AS (SELECT doc_a, doc_b, jaccard AS j_b FROM (@@NJ_SQL@@)),
       |r AS (SELECT doc_a, doc_b, jaccard AS j_r FROM (@@RG_SQL@@)),
       |j AS (
       |  SELECT CASE WHEN j_b IS NOT NULL AND j_r IS NOT NULL THEN 'both'
       |              WHEN j_b IS NOT NULL THEN 'blocking_only'
       |              ELSE 'retrieval_only' END AS side,
       |    coalesce(j_b, j_r) AS j
       |  FROM b FULL OUTER JOIN r USING (doc_a, doc_b))
       |SELECT side, count(*) AS n_pairs, min(j) AS min_jaccard,
       |  max(j) AS max_jaccard
       |FROM j GROUP BY side ORDER BY side""".stripMargin
      .replace("@@NJ_SQL@@", nj)
      .replace("@@RG_SQL@@", rg)
  }

  // -------------------------------------------------------------------
  // Charter: per-document LM scoring — score every doc under the
  // corpus's own bigram LM (avg ln P(w2|w1)), the model-based quality
  // filter that ranks "typical" text above outliers. Determinism: each
  // bigram's ln-prob is fixed to 6 decimals and summed in MICRO units
  // as a BIGINT — exact and order-independent at any parallelism, where
  // a raw double sum would diverge across shuffle orders (and between
  // Java and C ln, which differ by 1 ulp). The LM relation is
  // vocabulary-sized → broadcast onto the corpus pass.
  // -------------------------------------------------------------------
  def lmScore(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val big = docs.select(explode(
        call_function("word_shingles", col("text"), lit(2), lit(false)))
        .as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("c_bigram"))
    val uni = docs.select(explode(toks).as("w1u"))
      .groupBy("w1u").agg(count(lit(1)).as("c_w1"))
    val lm = big
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .join(uni, col("w1") === col("w1u"))
      .select(col("bg").as("lm_bg"),
        (col("c_bigram").cast("double") / col("c_w1")).as("p"))
    docs.select(col("doc_id"), explode(
        call_function("word_shingles", col("text"), lit(2), lit(false)))
        .as("bg"))
      .join(broadcast(lm), col("bg") === col("lm_bg"))
      .select(col("doc_id"),
        round(log(col("p")) * lit(1000000.0), 0).cast("bigint").as("lp_micro"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lp_micro")).as("lp_micro_sum"))
      .select(col("doc_id"), col("n_bigrams"), col("lp_micro_sum"),
        (col("lp_micro_sum").cast("double") /
          (col("n_bigrams") * lit(1000000L)).cast("double")).as("lm_score"))
      .orderBy("doc_id")
  }

  val lmScoreSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |big AS (
      |  SELECT bg, count(*) AS c_bigram FROM (
      |    SELECT unnest(list_transform(range(1, len(t)),
      |      i -> t[i] || ' ' || t[i + 1])) AS bg FROM t
      |    WHERE len(t) >= 2)
      |  GROUP BY bg),
      |uni AS (
      |  SELECT w1u, count(*) AS c_w1 FROM (
      |    SELECT unnest(t) AS w1u FROM t) GROUP BY w1u),
      |lm AS (
      |  SELECT bg, CAST(c_bigram AS DOUBLE) / c_w1 AS p
      |  FROM big JOIN uni ON string_split(bg, ' ')[1] = w1u),
      |docbg AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(t)),
      |    i -> t[i] || ' ' || t[i + 1])) AS bg FROM t
      |  WHERE len(t) >= 2)
      |SELECT doc_id, count(*) AS n_bigrams,
      |  CAST(sum(lp_micro) AS BIGINT) AS lp_micro_sum,
      |  CAST(sum(lp_micro) AS DOUBLE) / (count(*) * 1000000) AS lm_score
      |FROM (SELECT doc_id, CAST(round(ln(p) * 1000000) AS BIGINT) AS lp_micro
      |      FROM docbg JOIN lm USING (bg))
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // Charter: keep-canonical dedup materialization — the step that
  // actually DROPS rows: every doc flagged by the MinHash-LSH near-dup
  // pass points at its smallest near-dup partner (`dup_of`); docs with
  // no smaller partner are kept. The pair relation is tiny next to the
  // corpus, so the final left join broadcasts it — one corpus pass, no
  // corpus shuffle. (Greedy non-minimal-drop policy; transitive-closure
  // canonicalization is dedup_clusters.)
  // -------------------------------------------------------------------
  def dedupKeep(s: SparkSession, d: String): DataFrame = {
    val dupOf = neardupPairsCore(s, d)
      .groupBy(col("doc_b").as("flagged_id"))
      .agg(min(col("doc_a")).as("dup_of"))
    documents(s, d).select(col("doc_id"))
      .join(broadcast(dupOf), col("doc_id") === col("flagged_id"), "left")
      .select(col("doc_id"), col("dup_of"), col("dup_of").isNull.as("kept"))
      .orderBy("doc_id")
  }

  val dedupKeepSql: String = {
    val pairsSql = neardupPairsSql.replace("ORDER BY doc_a, doc_b", "")
    s"""WITH pairs AS ($pairsSql),
       |dup AS (SELECT doc_b AS flagged_id, min(doc_a) AS dup_of
       |        FROM pairs GROUP BY doc_b)
       |SELECT d.doc_id, dup.dup_of, dup.dup_of IS NULL AS kept
       |FROM documents d LEFT JOIN dup ON d.doc_id = dup.flagged_id
       |ORDER BY d.doc_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // Charter: bag-of-words dedup — canonicalize each document to its
  // SORTED token multiset before hashing, so token-reordered rewrites
  // (shuffled sentences, reordered lists) collapse into one group that
  // byte-exact dedup misses. One scan; both windows (group size and
  // canonical-min) share the single bag_md5 exchange, and the shuffle
  // carries (doc_id, 32-char hash) — never text.
  // -------------------------------------------------------------------
  def bagDedup(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("bag_md5")
    documents(s, d)
      .select(col("doc_id"),
        md5(concat_ws(" ",
          sort_array(expr("filter(split(text, ' '), x -> x <> '')"))))
          .as("bag_md5"))
      .withColumn("n_bag", count(lit(1)).over(w))
      .withColumn("keep", col("doc_id") === min(col("doc_id")).over(w))
      .orderBy("doc_id")
  }

  val bagDedupSql: String =
    """SELECT doc_id, bag_md5,
      |  count(*) OVER (PARTITION BY bag_md5) AS n_bag,
      |  doc_id = min(doc_id) OVER (PARTITION BY bag_md5) AS keep
      |FROM (SELECT doc_id,
      |  md5(coalesce(array_to_string(list_sort(
      |    list_filter(string_split(text, ' '), x -> x <> '')), ' '), ''))
      |    AS bag_md5
      |  FROM documents)
      |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // Charter: token-budget sampling — fill each source's token budget
  // longest-document-first (the deterministic priority order a mixture
  // builder uses when a source over-delivers). The per-source prefix
  // sum is one window over (n_tok DESC, doc_id); the report aggregates
  // to |sources| rows, so nothing corpus-scale ever leaves the
  // source-keyed exchange.
  // -------------------------------------------------------------------
  private val TokenBudget = 1000L

  def tokenBudget(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("source")
      .orderBy(col("n_tok").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    documents(s, d)
      .select(col("source"), col("doc_id"),
        size(expr("filter(split(text, ' '), x -> x <> '')"))
          .cast("bigint").as("n_tok"))
      .withColumn("cum", sum(col("n_tok")).over(w))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        sum(when(col("cum") <= TokenBudget, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("cum") <= TokenBudget, col("n_tok")).otherwise(0L))
          .as("tok_kept"))
      .withColumn("fill_ratio",
        col("tok_kept").cast("double") / lit(TokenBudget.toDouble))
      .orderBy("source")
  }

  val tokenBudgetSql: String =
    s"""WITH t AS (
       |  SELECT source, doc_id,
       |    CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
       |      AS BIGINT) AS n_tok
       |  FROM documents),
       |c AS (
       |  SELECT *, CAST(sum(n_tok) OVER (
       |    PARTITION BY source ORDER BY n_tok DESC, doc_id
       |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
       |  FROM t)
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       |  CAST(sum(CASE WHEN cum <= $TokenBudget THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_kept,
       |  CAST(sum(CASE WHEN cum <= $TokenBudget THEN n_tok ELSE 0 END)
       |    AS BIGINT) AS tok_kept,
       |  CAST(sum(CASE WHEN cum <= $TokenBudget THEN n_tok ELSE 0 END)
       |    AS DOUBLE) / $TokenBudget.0 AS fill_ratio
       |FROM c GROUP BY source ORDER BY source""".stripMargin

  // -------------------------------------------------------------------
  // Charter: per-source template detection — the boilerplate report: for
  // each source, the passage (8-token stride-4 window, same segmentation
  // as dedup_passages) recurring in the most documents, with its doc
  // coverage. The exploded passage relation fans out to the per-passage
  // aggregate AND the per-source doc counts (different shuffle keys), so
  // it is staged once; what leaves the stage is |sources × passages|
  // aggregate rows, with the top-1 cut per source.
  // -------------------------------------------------------------------
  def templates(s: SparkSession, d: String): DataFrame = {
    val base = documents(s, d)
      .select(col("source"), col("doc_id"), toks.as("t"))
      .filter(size(col("t")) >= 8)
    // Per-source doc denominator straight off the (slim) doc relation:
    // doc_id is the documents PK and every >=8-token doc emits >=1
    // passage, so count(*) here equals countDistinct(doc_id) over the
    // exploded passages — which is what the oracle computes. Deriving
    // it pre-explode leaves the passage relation with ONE consumer, so
    // the fanout checkpoint (a full disk write of ~tokens/4 passage
    // strings) disappears along with the second aggregation pass.
    val ns = base.groupBy("source").agg(count(lit(1)).as("n_docs_src"))
    val p = base
      .select(col("source"), col("doc_id"), explode(expr(
        "transform(sequence(0, size(t) - 8, 4)," +
          " i -> concat_ws(' ', slice(t, i + 1, 8)))")).as("passage"))
    val g = p.groupBy("source", "passage")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"))
    val w = Window.partitionBy("source")
      .orderBy(col("n_docs").desc, col("n_occ").desc, col("passage"))
    g.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
      .join(broadcast(ns), "source")
      .select(col("source"), col("passage"), col("n_docs"), col("n_occ"),
        (col("n_docs").cast("double") / col("n_docs_src")).as("coverage"))
      .orderBy("source")
  }

  val templatesSql: String =
    """WITH wt AS (
      |  SELECT source, doc_id, string_split(text, ' ') AS t FROM documents
      |  WHERE len(string_split(text, ' ')) >= 8),
      |p AS (
      |  SELECT source, doc_id,
      |    unnest(list_transform(range(0, len(t) - 8 + 1, 4),
      |      i -> array_to_string(t[i + 1:i + 8], ' '))) AS passage
      |  FROM wt),
      |g AS (
      |  SELECT source, passage, count(DISTINCT doc_id) AS n_docs,
      |    count(*) AS n_occ
      |  FROM p GROUP BY source, passage),
      |ns AS (
      |  SELECT source, count(DISTINCT doc_id) AS n_docs_src
      |  FROM p GROUP BY source)
      |SELECT source, passage, n_docs, n_occ,
      |  CAST(n_docs AS DOUBLE) / n_docs_src AS coverage
      |FROM (SELECT *, row_number() OVER (
      |        PARTITION BY source
      |        ORDER BY n_docs DESC, n_occ DESC, passage) AS rn
      |      FROM g) JOIN ns USING (source)
      |WHERE rn = 1 ORDER BY source""".stripMargin

  // -------------------------------------------------------------------
  // Charter: vocabulary coverage — the tokenizer-design report: corpus
  // vocabulary size, total token mass, and the fraction of all tokens
  // covered by the top-10/100/1000 terms (the Zipf head). Each top-K
  // mass is a TakeOrderedAndProject + one-row sum — no global rank over
  // the vocabulary, so nothing larger than K rows leaves the term
  // aggregate and the plan survives a 10^8-term vocabulary. The term
  // counts fan out to four consumers over one reused exchange (AQE
  // stage reuse; no checkpoint staging). All masses
  // are exact BIGINT sums; the fractions divide identical integers in
  // both engines.
  // -------------------------------------------------------------------
  def vocabCoverage(s: SparkSession, d: String): DataFrame = {
    val counts = documents(s, d)
      .select(explode(toks).as("term")).filter(col("term") =!= "")
      .groupBy("term").agg(count(lit(1)).as("n"))
    val tot = counts.agg(sum(col("n")).as("total_tokens"),
      count(lit(1)).as("vocab_size"))
    def topMass(k: Int) =
      counts.orderBy(col("n").desc, col("term")).limit(k)
        .agg(sum(col("n")).as(s"top${k}_n"))
    tot.crossJoin(broadcast(topMass(10)))
      .crossJoin(broadcast(topMass(100)))
      .crossJoin(broadcast(topMass(1000)))
      .select(col("vocab_size"), col("total_tokens"),
        round(col("top10_n").cast("double") / col("total_tokens"), 6)
          .as("top10_mass"),
        round(col("top100_n").cast("double") / col("total_tokens"), 6)
          .as("top100_mass"),
        round(col("top1000_n").cast("double") / col("total_tokens"), 6)
          .as("top1000_mass"))
  }

  val vocabCoverageSql: String =
    """WITH c AS (
      |  SELECT term, count(*) AS n FROM (
      |    SELECT unnest(string_split(text, ' ')) AS term FROM documents)
      |  WHERE term <> '' GROUP BY term),
      |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total_tokens,
      |        count(*) AS vocab_size FROM c),
      |t10 AS (SELECT CAST(sum(n) AS BIGINT) AS top10_n FROM
      |  (SELECT n FROM c ORDER BY n DESC, term LIMIT 10)),
      |t100 AS (SELECT CAST(sum(n) AS BIGINT) AS top100_n FROM
      |  (SELECT n FROM c ORDER BY n DESC, term LIMIT 100)),
      |t1000 AS (SELECT CAST(sum(n) AS BIGINT) AS top1000_n FROM
      |  (SELECT n FROM c ORDER BY n DESC, term LIMIT 1000))
      |SELECT vocab_size, total_tokens,
      |  CASE WHEN round(CAST(top10_n AS DOUBLE) / total_tokens, 6) = 0 THEN 0.0 ELSE round(CAST(top10_n AS DOUBLE) / total_tokens, 6) END AS top10_mass,
      |  CASE WHEN round(CAST(top100_n AS DOUBLE) / total_tokens, 6) = 0 THEN 0.0 ELSE round(CAST(top100_n AS DOUBLE) / total_tokens, 6) END AS top100_mass,
      |  CASE WHEN round(CAST(top1000_n AS DOUBLE) / total_tokens, 6) = 0 THEN 0.0 ELSE round(CAST(top1000_n AS DOUBLE) / total_tokens, 6) END AS top1000_mass
      |FROM tot, t10, t100, t1000""".stripMargin

  // -------------------------------------------------------------------
  // Charter: corpus composition audit — per (source, declared-language)
  // cell: document count, share within the source, and the n-gram
  // language-ID agreement rate. The report a mixture designer reads
  // before trusting the declared `lang` column. Per-doc prediction
  // aggregates map-side (shuffled bytes ~ |docs|, not |bigrams|); the
  // share window rides the same source-keyed exchange as the final
  // ordering.
  // -------------------------------------------------------------------
  def sourceMix(s: SparkSession, d: String): DataFrame = {
    val perDoc = documents(s, d)
      .select(col("source"), col("lang"), col("doc_id"),
        explode(call_function("char_ngrams", col("text"), lit(2), lit(false)))
          .as("bg"))
      .groupBy("source", "lang", "doc_id")
      .agg(count(lit(1)).as("nbg"),
        sum(when(col("bg").isin(EnBigrams: _*), 1L).otherwise(0L)).as("nhit"))
      .select(col("source"), col("lang"),
        ((col("nhit").cast("double") / col("nbg")) > 0.09).as("pred_en"))
    perDoc.groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("pred_en"), 1L).otherwise(0L)).as("n_pred_en"))
      .withColumn("src_total",
        sum(col("n_docs")).over(Window.partitionBy("source")))
      .select(col("source"), col("lang"), col("n_docs"),
        round(col("n_docs").cast("double") / col("src_total"), 6).as("share"),
        col("n_pred_en"),
        round(col("n_pred_en").cast("double") / col("n_docs"), 6)
          .as("pred_en_rate"))
      .orderBy("source", "lang")
  }

  val sourceMixSql: String =
    s"""WITH perdoc AS (
       |  SELECT source, lang,
       |    CAST(len(list_filter(bg, x -> x IN $enBigramsList)) AS DOUBLE)
       |      / len(bg) > 0.09 AS pred_en
       |  FROM (
       |    SELECT source, lang, doc_id,
       |      list_transform(range(1, greatest(length(text), 2)),
       |        i -> substring(text, i, 2)) AS bg
       |    FROM documents)),
       |cells AS (
       |  SELECT source, lang, count(*) AS n_docs,
       |    CAST(sum(CASE WHEN pred_en THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_pred_en
       |  FROM perdoc GROUP BY source, lang)
       |SELECT source, lang, n_docs,
       |  CASE WHEN round(CAST(n_docs AS DOUBLE) / sum(n_docs) OVER
       |    (PARTITION BY source), 6) = 0 THEN 0.0 ELSE round(CAST(n_docs AS DOUBLE) / sum(n_docs) OVER
       |    (PARTITION BY source), 6) END AS share,
       |  n_pred_en,
       |  CASE WHEN round(CAST(n_pred_en AS DOUBLE) / n_docs, 6) = 0 THEN 0.0 ELSE round(CAST(n_pred_en AS DOUBLE) / n_docs, 6) END AS pred_en_rate
       |FROM cells ORDER BY source, lang""".stripMargin

  // -------------------------------------------------------------------
  // Charter: weighted interleave — the data-loader merge order that
  // realizes the mixture weights: stride scheduling assigns doc k of a
  // source priority (k − ½) / weight, so sources interleave in
  // proportion to their capped mixture weight deterministically (no
  // RNG, re-runs produce byte-identical order). The global cut is a
  // TakeOrderedAndProject over per-source ranks — no full-corpus sort;
  // the position stamp is a window over the surviving 50 rows only.
  // -------------------------------------------------------------------
  def trainInterleave(s: SparkSession, d: String): DataFrame = {
    val wts = trainMixture(s, d)
      .select(col("source").as("wsrc"), col("capped_weight"))
    val ranked = documents(s, d)
      .select(col("source"), col("doc_id"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("source").orderBy("doc_id")))
    val pri = ranked.join(broadcast(wts), col("source") === col("wsrc"))
      .select(col("source"), col("doc_id"),
        round((col("rk") - lit(0.5)) / col("capped_weight"), 6)
          .as("priority"))
      .orderBy(col("priority"), col("source"), col("doc_id"))
      .limit(50)
    pri.withColumn("position", row_number().over(
        Window.orderBy(col("priority"), col("source"), col("doc_id"))))
      .select("position", "source", "doc_id", "priority")
      .orderBy("position")
  }

  val trainInterleaveSql: String =
    """WITH src AS (
      |  SELECT source, count(*) AS n_docs,
      |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
      |  FROM documents GROUP BY source),
      |tot AS (
      |  SELECT *, CAST(sum(tokens) OVER () AS BIGINT) AS total_tokens,
      |    count(*) OVER () AS n_sources
      |  FROM src),
      |wts AS (
      |  SELECT source AS wsrc,
      |    least((CAST(total_tokens AS DOUBLE) / n_sources) / tokens, 3.0)
      |      AS capped_weight
      |  FROM tot),
      |ranked AS (
      |  SELECT source, doc_id,
      |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rk
      |  FROM documents),
      |pri AS (
      |  SELECT r.source, r.doc_id,
      |    CASE WHEN round((rk - 0.5) / capped_weight, 6) = 0 THEN 0.0 ELSE round((rk - 0.5) / capped_weight, 6) END AS priority
      |  FROM ranked r JOIN wts ON wts.wsrc = r.source
      |  ORDER BY priority, r.source, r.doc_id LIMIT 50)
      |SELECT CAST(row_number() OVER (ORDER BY priority, source, doc_id)
      |    AS INT) AS position,
      |  source, doc_id, priority
      |FROM pri ORDER BY position""".stripMargin

  // -------------------------------------------------------------------
  // Charter capstone: dataset card — the one-row summary published
  // alongside a released training set: corpus size, source/language
  // breadth, token mass, exact-duplication rate, and quality pass rate.
  // Per-doc flags (the regex-heavy scoring) compute once on the staged
  // relation; the two consumers aggregate globally and by content hash.
  // Every rate divides exact integers, so the card is bit-identical
  // across engines and runs.
  // -------------------------------------------------------------------
  def datasetCard(s: SparkSession, d: String): DataFrame = {
    val pd = docFlags(documents(s, d))
      .select(col("doc_id"), col("source"), col("lang"), col("text_md5"),
        col("n_tokens"),
        (col("pass_lang") && col("pass_quality")).as("pass"))
    graft.Stage.fanout(pd) { p =>
      val tot = p.agg(count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(when(col("pass"), 1L).otherwise(0L)).as("n_pass"))
      val dup = p.groupBy("text_md5").agg(count(lit(1)).as("cnt"))
        .agg(coalesce(sum(when(col("cnt") > 1, col("cnt")).otherwise(0L)),
          lit(0L)).as("n_dup_docs"))
      tot.crossJoin(broadcast(dup))
    }.select(col("n_docs"), col("n_sources"), col("n_langs"),
        col("total_tokens"),
        round(col("total_tokens").cast("double") / col("n_docs"), 6)
          .as("avg_doc_tokens"),
        col("n_dup_docs"),
        round(col("n_dup_docs").cast("double") / col("n_docs"), 6)
          .as("dup_rate"),
        col("n_pass"),
        round(col("n_pass").cast("double") / col("n_docs"), 6)
          .as("pass_rate"))
  }

  val datasetCardSql: String =
    s"""WITH flagged AS (
       |  SELECT doc_id, source, lang, text_md5, n_tokens,
       |    nstop / n_tokens > 0.12 AND
       |    ((nalpha / len) * 0.6
       |      + (1.0 - (len - nalpha - ndigit - nspace) / len) * 0.3
       |      + (CASE WHEN (len - nspace) / (nspace + 1.0) >= 3
       |               AND (len - nspace) / (nspace + 1.0) <= 10
       |              THEN 0.1 ELSE 0.0 END)) > 0.8 AS pass
       |  FROM (
       |    SELECT doc_id, source, lang, md5(text) AS text_md5,
       |      CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |      CAST(len(list_filter(string_split(text, ' '), x -> x IN $stopList)) AS DOUBLE) AS nstop,
       |      CAST(length(text) AS DOUBLE) AS len,
       |      CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) AS nalpha,
       |      CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) AS ndigit,
       |      CAST(length(regexp_replace(text, '[^ ]', '', 'g')) AS DOUBLE) AS nspace
       |    FROM documents)),
       |tot AS (
       |  SELECT count(*) AS n_docs,
       |    count(DISTINCT source) AS n_sources,
       |    count(DISTINCT lang) AS n_langs,
       |    CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       |    count(*) FILTER (WHERE pass) AS n_pass
       |  FROM flagged),
       |dup AS (
       |  SELECT CAST(coalesce(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END), 0)
       |    AS BIGINT) AS n_dup_docs
       |  FROM (SELECT text_md5, count(*) AS cnt FROM flagged
       |        GROUP BY text_md5))
       |SELECT n_docs, n_sources, n_langs, total_tokens,
       |  CASE WHEN round(CAST(total_tokens AS DOUBLE) / n_docs, 6) = 0 THEN 0.0 ELSE round(CAST(total_tokens AS DOUBLE) / n_docs, 6) END AS avg_doc_tokens,
       |  n_dup_docs,
       |  CASE WHEN round(CAST(n_dup_docs AS DOUBLE) / n_docs, 6) = 0 THEN 0.0 ELSE round(CAST(n_dup_docs AS DOUBLE) / n_docs, 6) END AS dup_rate,
       |  n_pass,
       |  CASE WHEN round(CAST(n_pass AS DOUBLE) / n_docs, 6) = 0 THEN 0.0 ELSE round(CAST(n_pass AS DOUBLE) / n_docs, 6) END AS pass_rate
       |FROM tot, dup""".stripMargin

  // -------------------------------------------------------------------
  // Charter dedup family: cross-SOURCE contamination audit — for every
  // ordered source pair, the distinct word-3-shingle overlap (count +
  // Jaccard + containment of the smaller-id source in the other). This
  // is the corpus-level complement of dedup_decontaminate: instead of
  // flagging individual documents against one eval set, it quantifies
  // how much any two ingest feeds share, the first diagnostic run when
  // a training mix double-counts a crawl.
  //
  // Scale shape: after the per-(source, shingle-hash) distinct, only
  // 60-bit hashes shuffle — text never leaves the scan stage. The
  // shingle-hash equi-join across sources is bounded by shared
  // vocabulary (not documents), and the result is |sources|² rows. The
  // zero-overlap pairs are produced by a cross join of two
  // source-count aggregates — |sources| rows a side, broadcast.
  // -------------------------------------------------------------------
  def sourceOverlap(s: SparkSession, d: String): DataFrame = {
    val g = documents(s, d)
      .select(col("source"),
        explode(call_function("word_shingles", col("text"), lit(3), lit(true)))
          .as("sh"))
      .select(col("source"), h60(col("sh")).as("h"))
      .filter(col("h").isNotNull) // <3-token docs: no full shingle
      .distinct()
    graft.Stage.fanout(g) { grams =>
      val tot = grams.groupBy("source").agg(count(lit(1)).as("n"))
      val common = grams.as("a")
        .join(grams.select(col("source").as("src_b"), col("h")).as("b"), "h")
        .filter(col("source") < col("src_b"))
        .groupBy(col("source").as("src_a"), col("src_b"))
        .agg(count(lit(1)).as("n_common"))
      val pairs = broadcast(tot.select(col("source").as("src_a"), col("n").as("n_a")))
        .crossJoin(broadcast(tot.select(col("source").as("src_b"), col("n").as("n_b"))))
        .filter(col("src_a") < col("src_b"))
      pairs.join(common, Seq("src_a", "src_b"), "left")
        .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
          coalesce(col("n_common"), lit(0L)).as("n_common"))
    }
      .withColumn("jaccard", round(col("n_common").cast("double") /
        (col("n_a") + col("n_b") - col("n_common")), 6))
      .withColumn("containment", round(col("n_common").cast("double") /
        least(col("n_a"), col("n_b")), 6))
      .orderBy("src_a", "src_b")
  }

  val sourceOverlapSql: String =
    s"""WITH g AS (
       |  SELECT DISTINCT source, ${h60Sql("sh")} AS h
       |  FROM (SELECT source, unnest(list_distinct($shinglesSql)) AS sh
       |        FROM documents)
       |  WHERE sh IS NOT NULL),
       |tot AS (SELECT source, count(*) AS n FROM g GROUP BY source),
       |common AS (
       |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_common
       |  FROM g a JOIN g b ON a.h = b.h AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT ta.source AS src_a, tb.source AS src_b,
       |  ta.n AS n_a, tb.n AS n_b,
       |  coalesce(c.n_common, 0) AS n_common,
       |  CASE WHEN round(CAST(coalesce(c.n_common, 0) AS DOUBLE)
       |    / (ta.n + tb.n - coalesce(c.n_common, 0)), 6) = 0 THEN 0.0 ELSE round(CAST(coalesce(c.n_common, 0) AS DOUBLE)
       |    / (ta.n + tb.n - coalesce(c.n_common, 0)), 6) END AS jaccard,
       |  CASE WHEN round(CAST(coalesce(c.n_common, 0) AS DOUBLE)
       |    / least(ta.n, tb.n), 6) = 0 THEN 0.0 ELSE round(CAST(coalesce(c.n_common, 0) AS DOUBLE)
       |    / least(ta.n, tb.n), 6) END AS containment
       |FROM tot ta JOIN tot tb ON ta.source < tb.source
       |LEFT JOIN common c ON c.src_a = ta.source AND c.src_b = tb.source
       |ORDER BY src_a, src_b""".stripMargin

  // -------------------------------------------------------------------
  // Charter: Zipf-law fit over the corpus term distribution — the
  // sanity check a data pipeline runs on a new crawl (natural text has
  // slope ≈ −1; templated/spam corpora bend the curve). Least-squares
  // over (ln rank, ln count) of the top-K terms, computed from EXACT
  // decimal sums of per-term 6-digit-rounded logs (the established
  // float-determinism discipline), with the final slope/intercept
  // evaluated in double from those exact sums.
  //
  // Scale shape: one vocabulary aggregation (map-side partials), then
  // a TakeOrdered top-K cut — NOT a full sort — and a K-row (bounded,
  // K=256) single-partition window for exact ranks. Nothing beyond
  // hash-agg partials depends on corpus size.
  // -------------------------------------------------------------------
  private val ZipfTopK = 256

  def zipfFit(s: SparkSession, d: String): DataFrame = {
    val counts = documents(s, d)
      .select(explode(toks).as("term")).filter(col("term") =!= "")
      .groupBy("term").agg(count(lit(1)).as("c"))
    val top = counts.orderBy(col("c").desc, col("term")).limit(ZipfTopK)
    val xy = top
      .withColumn("rk", row_number().over(
        Window.orderBy(col("c").desc, col("term"))))
      .select(round(log(col("rk").cast("double")), 6).as("x"),
        round(log(col("c").cast("double")), 6).as("y"))
    val sums = xy.agg(
      count(lit(1)).as("n_terms"),
      sum(col("x").cast("decimal(27,6)")).cast("double").as("sx"),
      sum(col("y").cast("decimal(27,6)")).cast("double").as("sy"),
      sum(round(col("x") * col("x"), 10).cast("decimal(31,10)"))
        .cast("double").as("sxx"),
      sum(round(col("x") * col("y"), 10).cast("decimal(31,10)"))
        .cast("double").as("sxy"))
    val nD = col("n_terms").cast("double")
    val slope = (nD * col("sxy") - col("sx") * col("sy")) /
      (nD * col("sxx") - col("sx") * col("sx"))
    sums.select(col("n_terms"), round(slope, 6).as("slope"),
      round((col("sy") - slope * col("sx")) / nD, 6).as("intercept"))
  }

  val zipfFitSql: String =
    s"""WITH c AS (
       |  SELECT term, count(*) AS c FROM (
       |    SELECT unnest(string_split(text, ' ')) AS term FROM documents)
       |  WHERE term <> '' GROUP BY term),
       |r AS (SELECT * FROM (
       |    SELECT c, row_number() OVER (ORDER BY c DESC, term) AS rk FROM c)
       |  WHERE rk <= $ZipfTopK),
       |xy AS (SELECT CASE WHEN round(ln(CAST(rk AS DOUBLE)), 6) = 0 THEN 0.0 ELSE round(ln(CAST(rk AS DOUBLE)), 6) END AS x,
       |              CASE WHEN round(ln(CAST(c AS DOUBLE)), 6) = 0 THEN 0.0 ELSE round(ln(CAST(c AS DOUBLE)), 6) END AS y FROM r),
       |sums AS (SELECT count(*) AS n_terms,
       |  CAST(sum(CAST(x AS DECIMAL(27,6))) AS DOUBLE) AS sx,
       |  CAST(sum(CAST(y AS DECIMAL(27,6))) AS DOUBLE) AS sy,
       |  CAST(sum(CAST(round(x * x, 10) AS DECIMAL(31,10))) AS DOUBLE) AS sxx,
       |  CAST(sum(CAST(round(x * y, 10) AS DECIMAL(31,10))) AS DOUBLE) AS sxy
       |  FROM xy)
       |SELECT n_terms,
       |  CASE WHEN round((CAST(n_terms AS DOUBLE) * sxy - sx * sy)
       |    / (CAST(n_terms AS DOUBLE) * sxx - sx * sx), 6) = 0 THEN 0.0 ELSE round((CAST(n_terms AS DOUBLE) * sxy - sx * sy)
       |    / (CAST(n_terms AS DOUBLE) * sxx - sx * sx), 6) END AS slope,
       |  CASE WHEN round((sy - (CAST(n_terms AS DOUBLE) * sxy - sx * sy)
       |    / (CAST(n_terms AS DOUBLE) * sxx - sx * sx) * sx)
       |    / CAST(n_terms AS DOUBLE), 6) = 0 THEN 0.0 ELSE round((sy - (CAST(n_terms AS DOUBLE) * sxy - sx * sy)
       |    / (CAST(n_terms AS DOUBLE) * sxx - sx * sx) * sx)
       |    / CAST(n_terms AS DOUBLE), 6) END AS intercept
       |FROM sums""".stripMargin

  // -------------------------------------------------------------------
  // Charter: cross-document SUBSTRING dedup (the token-window analog of
  // "exact substring" training-data dedup) — hash every 20-token window
  // at stride 10 and report, per document, how many of its windows also
  // occur verbatim in some OTHER document. This catches copied passages
  // that sit inside otherwise-distinct documents, which whole-doc
  // hashing (dedup_exact_text) and shingle-Jaccard scoring both dilute.
  //
  // Scale shape: the corpus explodes to ~n_tokens/stride slim
  // (doc_id, 128-bit hash) rows; the shared-window flag is ONE window
  // aggregation over the hash (min!=max doc_id over the hash partition
  // — no self-join, no distinct-count shuffle), then one doc_id
  // aggregation. Two slim hash-keyed exchanges total, payloads never
  // carry text. Docs shorter than one window surface with n_windows=0
  // via the left join rather than vanishing.
  // -------------------------------------------------------------------
  private val SubstrWindow = 20
  private val SubstrStride = 10

  def substringDedup(s: SparkSession, d: String): DataFrame =
    substringDedupCore(s, d).orderBy("doc_id")

  /** Per-doc window/dup-window counts without the output ordering, so
    * composites (dedup_agreement) can consume the relation directly.
    */
  private[operators] def substringDedupCore(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val wins = docs.select(col("doc_id"), toks.as("t"))
      .filter(size(col("t")) >= SubstrWindow)
      .select(col("doc_id"), explode(sequence(lit(0),
        size(col("t")) - SubstrWindow, lit(SubstrStride))).as("p"),
        col("t"))
      .select(col("doc_id"),
        md5(array_join(slice(col("t"), col("p") + 1, lit(SubstrWindow)), " "))
          .as("wh"))
    val wWh = Window.partitionBy("wh")
    val flagged = wins.withColumn("isdup",
      (min(col("doc_id")).over(wWh) =!= max(col("doc_id")).over(wWh))
        .cast("long"))
    val per = flagged.groupBy("doc_id").agg(
      count(lit(1)).as("nw"), sum(col("isdup")).as("dw"))
    docs.select(col("doc_id")).join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("nw"), lit(0L)).as("n_windows"),
        coalesce(col("dw"), lit(0L)).as("dup_windows"),
        round(coalesce(col("dw"), lit(0L)).cast("double") /
          greatest(coalesce(col("nw"), lit(0L)), lit(1L)), 6).as("dup_ratio"))
  }

  val substringDedupSql: String = {
    val (w, st) = (SubstrWindow, SubstrStride)
    s"""WITH toksr AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |wins AS (
       |  SELECT doc_id, md5(array_to_string(t[p+1:p+$w], ' ')) AS wh
       |  FROM toksr, unnest(range(0, greatest(len(t)-$w+1, 0), $st)) AS u(p)),
       |flagged AS (
       |  SELECT doc_id, CASE WHEN min(doc_id) OVER (PARTITION BY wh)
       |    <> max(doc_id) OVER (PARTITION BY wh) THEN 1 ELSE 0 END AS isdup
       |  FROM wins),
       |per AS (SELECT doc_id, count(*) AS nw, sum(isdup) AS dw
       |  FROM flagged GROUP BY doc_id)
       |SELECT d.doc_id,
       |  CAST(coalesce(p.nw, 0) AS BIGINT) AS n_windows,
       |  CAST(coalesce(p.dw, 0) AS BIGINT) AS dup_windows,
       |  CASE WHEN round(CAST(coalesce(p.dw, 0) AS DOUBLE)
       |    / greatest(coalesce(p.nw, 0), 1), 6) = 0 THEN 0.0 ELSE round(CAST(coalesce(p.dw, 0) AS DOUBLE)
       |    / greatest(coalesce(p.nw, 0), 1), 6) END AS dup_ratio
       |FROM documents d LEFT JOIN per p USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // Charter: temperature-scaled source sampling (the multilingual-
  // training mixing rule: w_i ∝ p_i^α) — per source, the natural token
  // share p and the sampling weights at α=0.5 and α=0.25, plus the
  // per-10k-sample draw count at α=0.5. α is restricted to {0.5, 0.25}
  // so the power is sqrt / sqrt∘sqrt — IEEE-exact and bit-identical
  // across engines, where a general pow() differs in the last ulp
  // between Java and C. The α-powered shares are then fixed to integer
  // 1e-9 units so their normalizing sums are exact BIGINTs — order-
  // independent at any parallelism.
  //
  // Scale shape: one corpus scan → per-source partial counts (map-side
  // combine, |sources| rows out), then arithmetic over the tiny source
  // relation with two broadcast single-row totals. Nothing else moves.
  // -------------------------------------------------------------------
  def samplingTemperature(s: SparkSession, d: String): DataFrame = {
    val src = documents(s, d).groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(size(toks)).cast("bigint").as("n_tokens"))
    val tot = src.agg(sum(col("n_tokens")).as("tt"))
    val base = src.crossJoin(broadcast(tot))
      .withColumn("p", col("n_tokens").cast("double") / col("tt"))
      .withColumn("f50", round(sqrt(col("p")) * lit(1e9), 0).cast("bigint"))
      .withColumn("f25",
        round(sqrt(sqrt(col("p"))) * lit(1e9), 0).cast("bigint"))
    val sums = base.agg(sum(col("f50")).as("s50"), sum(col("f25")).as("s25"))
    base.crossJoin(broadcast(sums))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("p"), 6).as("p_natural"),
        round(col("f50").cast("double") / col("s50"), 6).as("w_alpha50"),
        round(col("f25").cast("double") / col("s25"), 6).as("w_alpha25"),
        round(col("f50").cast("double") / col("s50") * lit(1e4), 0)
          .cast("bigint").as("docs_per_10k_a50"))
      .orderBy("source")
  }

  val samplingTemperatureSql: String =
    """WITH src AS (
      |  SELECT source, count(*) AS n_docs,
      |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source),
      |tot AS (SELECT sum(n_tokens) AS tt FROM src),
      |base AS (
      |  SELECT source, n_docs, n_tokens,
      |    CAST(n_tokens AS DOUBLE) / tt AS p,
      |    CAST(round(sqrt(CAST(n_tokens AS DOUBLE) / tt) * 1e9, 0)
      |      AS BIGINT) AS f50,
      |    CAST(round(sqrt(sqrt(CAST(n_tokens AS DOUBLE) / tt)) * 1e9, 0)
      |      AS BIGINT) AS f25
      |  FROM src, tot),
      |sums AS (SELECT sum(f50) AS s50, sum(f25) AS s25 FROM base)
      |SELECT source, n_docs, n_tokens, CASE WHEN round(p, 6) = 0 THEN 0.0 ELSE round(p, 6) END AS p_natural,
      |  CASE WHEN round(CAST(f50 AS DOUBLE) / s50, 6) = 0 THEN 0.0 ELSE round(CAST(f50 AS DOUBLE) / s50, 6) END AS w_alpha50,
      |  CASE WHEN round(CAST(f25 AS DOUBLE) / s25, 6) = 0 THEN 0.0 ELSE round(CAST(f25 AS DOUBLE) / s25, 6) END AS w_alpha25,
      |  CAST(round(CAST(f50 AS DOUBLE) / s50 * 1e4, 0) AS BIGINT)
      |    AS docs_per_10k_a50
      |FROM base, sums ORDER BY source""".stripMargin

  // -------------------------------------------------------------------
  // Charter: BPE tokenizer-training pair-count step — the inner loop of
  // byte-pair encoding: collapse the corpus to a word-frequency table,
  // count adjacent character pairs weighted by word frequency, and rank
  // the top 20 merge candidates (rank 1 IS the next BPE merge). The
  // word-form table is what makes BPE training tractable at 100 TB: the
  // corpus collapses to |vocab| rows in one map-side-combined pass, and
  // all pair counting runs over word FORMS (vocabulary-bounded), never
  // over the corpus again. The pair relation is ≤ alphabet² rows; the
  // top-20 is a TakeOrdered heap cut, with the rank window running over
  // the 20 surviving rows only.
  // -------------------------------------------------------------------
  def bpePairs(s: SparkSession, d: String): DataFrame = {
    val words = documents(s, d).select(explode(toks).as("word"))
      .filter(length(col("word")) >= 2)
      .groupBy("word").agg(count(lit(1)).as("freq"))
    val pairs = words.select(col("freq"),
        explode(transform(sequence(lit(1), length(col("word")) - 1),
          i => col("word").substr(i, lit(2)))).as("p"))
      .groupBy("p").agg(
        sum(col("freq")).cast("bigint").as("pair_count"),
        count(lit(1)).cast("bigint").as("n_positions"))
    pairs.orderBy(col("pair_count").desc, col("p")).limit(20)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("pair_count").desc, col("p"))).cast("bigint"))
      .select(col("rank"), col("p").as("pair"), col("pair_count"),
        col("n_positions"))
      .orderBy("rank")
  }

  val bpePairsSql: String =
    """WITH words AS (
      |  SELECT word, count(*) AS freq FROM (
      |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      |  WHERE length(word) >= 2 GROUP BY word),
      |pairs AS (
      |  SELECT p, CAST(sum(freq) AS BIGINT) AS pair_count,
      |         CAST(count(*) AS BIGINT) AS n_positions
      |  FROM words, unnest(list_transform(range(1, length(word)),
      |    i -> substring(word, i, 2))) AS u(p)
      |  GROUP BY p)
      |SELECT * FROM (
      |  SELECT CAST(row_number() OVER (ORDER BY pair_count DESC, p)
      |           AS BIGINT) AS rank,
      |         p AS pair, pair_count, n_positions
      |  FROM pairs) WHERE rank <= 20 ORDER BY rank""".stripMargin

  // -------------------------------------------------------------------
  // Charter: epoch/repeat-exposure plan — given a fixed training token
  // budget split uniformly across sources, how many EPOCHS of each
  // source does the budget imply? epochs > 1 is the memorization-risk
  // flag data-governance reviews ask for first: it says this source
  // will be seen more than once end-to-end. Integer budget division
  // and one corpus scan into a |sources|-row relation; the per-source
  // epochs ratio is exact-integer ÷ exact-integer in IEEE doubles.
  // -------------------------------------------------------------------
  private val EpochPlanBudget = 1000000L

  def epochPlan(s: SparkSession, d: String): DataFrame = {
    val src = documents(s, d).groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(size(toks)).cast("bigint").as("n_tokens"))
    val k = src.agg(count(lit(1)).as("k"))
    src.crossJoin(broadcast(k))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        expr(s"$EpochPlanBudget div k").as("budget_tokens"),
        round(expr(s"$EpochPlanBudget div k").cast("double") /
          col("n_tokens"), 6).as("epochs"),
        (expr(s"$EpochPlanBudget div k").cast("double") /
          col("n_tokens") > 1.0).as("oversampled"))
      .orderBy("source")
  }

  val epochPlanSql: String =
    s"""WITH src AS (
       |  SELECT source, count(*) AS n_docs,
       |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY source),
       |ns AS (SELECT count(*) AS k FROM src)
       |SELECT source, n_docs, n_tokens,
       |  CAST($EpochPlanBudget // k AS BIGINT) AS budget_tokens,
       |  CASE WHEN round(CAST($EpochPlanBudget // k AS DOUBLE) / n_tokens, 6) = 0 THEN 0.0 ELSE round(CAST($EpochPlanBudget // k AS DOUBLE) / n_tokens, 6) END
       |    AS epochs,
       |  (CAST($EpochPlanBudget // k AS DOUBLE) / n_tokens > 1.0)
       |    AS oversampled
       |FROM src, ns ORDER BY source""".stripMargin

  // -------------------------------------------------------------------
  // Charter: deterministic train/val/test split assignment + the
  // stratification audit that goes with it — split by a salted content-
  // independent hash of doc_id (buckets 0-4 test, 5-9 val, rest train:
  // a 5/5/90 split that is STABLE under corpus growth, the property a
  // random() split loses), then report per-(source, split) doc and
  // token counts with the within-source token share. A skewed share
  // column is how a broken stratification surfaces before training
  // does. One corpus scan → |sources|×3 rows; the share is a window
  // over the aggregate, not the data.
  // -------------------------------------------------------------------
  def splitAssign(s: SparkSession, d: String): DataFrame = {
    val bucket = pmod(h60(concat(lit("split-v1:"),
      col("doc_id").cast("string"))), lit(100L))
    val split = when(bucket < 5, lit("test"))
      .when(bucket < 10, lit("val")).otherwise(lit("train"))
    val agg = documents(s, d)
      .select(col("source"), split.as("split"),
        size(toks).cast("bigint").as("nt"))
      .groupBy("source", "split")
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
    agg.withColumn("tok_share", round(col("n_tokens").cast("double") /
        sum(col("n_tokens")).over(Window.partitionBy("source")), 6))
      .orderBy("source", "split")
  }

  val splitAssignSql: String = {
    val bucket =
      s"((${h60Sql("'split-v1:' || CAST(doc_id AS VARCHAR)")} % 100) + 100) % 100"
    s"""WITH assigned AS (
       |  SELECT source,
       |    CASE WHEN $bucket < 5 THEN 'test'
       |         WHEN $bucket < 10 THEN 'val' ELSE 'train' END AS split,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
       |  FROM documents),
       |agg AS (
       |  SELECT source, split, count(*) AS n_docs,
       |    CAST(sum(nt) AS BIGINT) AS n_tokens
       |  FROM assigned GROUP BY source, split)
       |SELECT source, split, n_docs, n_tokens,
       |  CASE WHEN round(CAST(n_tokens AS DOUBLE) /
       |    sum(n_tokens) OVER (PARTITION BY source), 6) = 0 THEN 0.0 ELSE round(CAST(n_tokens AS DOUBLE) /
       |    sum(n_tokens) OVER (PARTITION BY source), 6) END AS tok_share
       |FROM agg ORDER BY source, split""".stripMargin
  }

  // -------------------------------------------------------------------
  // Charter: deterministic shard assignment + balance audit — the
  // write-path twin of train_split_assign: route every document to one
  // of 16 output shards by a salted content-independent hash (stable
  // under corpus growth and re-runs, unlike round-robin which reorders
  // whenever upstream partitioning changes), then audit the balance the
  // way a shard-writer must before committing a layout: per-shard doc
  // and byte load factors vs the ideal 1/16 share, plus source spread.
  // A load factor far from 1.0 means stragglers at training time. One
  // corpus scan → 16 rows; totals ride a broadcast 1-row aggregate.
  // -------------------------------------------------------------------
  private val Shards = 16

  def shardBalance(s: SparkSession, d: String): DataFrame = {
    val sh = pmod(h60(concat(lit("shard-v1:"), col("doc_id").cast("string"))),
      lit(Shards.toLong))
    val agg = documents(s, d)
      .select(sh.as("shard"), col("source"), col("n_chars"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        countDistinct(col("source")).as("n_sources"))
    val tot = agg.agg(sum(col("n_docs")).as("td"),
      sum(col("sum_chars")).as("tc"))
    agg.crossJoin(broadcast(tot))
      .select(col("shard"), col("n_docs"), col("sum_chars"), col("n_sources"),
        round(col("n_docs").cast("double") * Shards / col("td").cast("double"),
          6).as("doc_load_factor"),
        round(col("sum_chars").cast("double") * Shards /
          col("tc").cast("double"), 6).as("char_load_factor"))
      .orderBy("shard")
  }

  val shardBalanceSql: String = {
    val sh =
      s"((${h60Sql("'shard-v1:' || CAST(doc_id AS VARCHAR)")} % $Shards) + $Shards) % $Shards"
    s"""WITH agg AS (
       |  SELECT $sh AS shard, count(*) AS n_docs,
       |    CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       |    count(DISTINCT source) AS n_sources
       |  FROM documents GROUP BY shard),
       |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS td,
       |        CAST(sum(sum_chars) AS BIGINT) AS tc FROM agg)
       |SELECT shard, n_docs, sum_chars, n_sources,
       |  CASE WHEN round(CAST(n_docs AS DOUBLE) * $Shards / CAST(td AS DOUBLE), 6) = 0 THEN 0.0 ELSE round(CAST(n_docs AS DOUBLE) * $Shards / CAST(td AS DOUBLE), 6) END
       |    AS doc_load_factor,
       |  CASE WHEN round(CAST(sum_chars AS DOUBLE) * $Shards / CAST(tc AS DOUBLE), 6) = 0 THEN 0.0 ELSE round(CAST(sum_chars AS DOUBLE) * $Shards / CAST(tc AS DOUBLE), 6) END
       |    AS char_load_factor
       |FROM agg, tot ORDER BY shard""".stripMargin
  }

  // -------------------------------------------------------------------
  // Charter: weighted sampling without replacement — the
  // Efraimidis-Spirakis A-ES scheme (one pass, mergeable, the ONLY
  // practical way to draw a weighted sample from a distributed corpus
  // without materializing cumulative weights): each doc gets key
  // ln(u)/w for a deterministic hash-uniform u and weight w = n_chars,
  // and the global top-K keys ARE the weighted sample. Spark shape:
  // per-row map + TakeOrderedAndProject heap — no shuffle beyond the
  // K-row cut. Determinism: u is an exact 60-bit hash fraction, ln(u)
  // is pinned to micro-units (the text_lm_score precedent), and the
  // key is one IEEE division of two exact integers.
  // -------------------------------------------------------------------
  private val WsK = 100

  def weightedSample(s: SparkSession, d: String): DataFrame = {
    val u = (h60(concat(lit("ws-v1:"), col("doc_id").cast("string"))) + 1)
      .cast("double") / lit(1.152921504606846976e18)
    val lnuMicro = round(log(u) * 1000000).cast("long")
    val sampled = documents(s, d)
      .select(col("doc_id"), col("n_chars").as("weight"),
        (lnuMicro / col("n_chars")).as("key"))
      .orderBy(col("key").desc, col("doc_id"))
      .limit(WsK)
    sampled
      .withColumn("rank", row_number().over(
        Window.orderBy(col("key").desc, col("doc_id"))).cast("long"))
      .select(col("rank"), col("doc_id"), col("weight"),
        round(col("key"), 6).as("sample_key"))
      .orderBy("rank")
  }

  val weightedSampleSql: String = {
    val u = s"(CAST((${h60Sql("'ws-v1:' || CAST(doc_id AS VARCHAR)")}) AS BIGINT) + 1) / 1.152921504606846976e18"
    s"""WITH keyed AS (
       |  SELECT doc_id, n_chars AS weight,
       |    CAST(round(ln($u) * 1000000) AS BIGINT) / n_chars AS key
       |  FROM documents),
       |top AS (
       |  SELECT doc_id, weight, key,
       |    row_number() OVER (ORDER BY key DESC, doc_id) AS rank
       |  FROM keyed)
       |SELECT rank, doc_id, weight, CASE WHEN round(key, 6) = 0 THEN 0.0 ELSE round(key, 6) END AS sample_key
       |FROM top WHERE rank <= $WsK ORDER BY rank""".stripMargin
  }

  // -------------------------------------------------------------------
  // Charter: vocabulary-growth (Heaps' law) curve — the corpus-level
  // complement of text_zipf_fit: bucket the corpus into 10 equal
  // doc_id ranges (the ingestion order), count tokens and FIRST-SEEN
  // vocabulary per bucket, and fit the local Heaps exponent β between
  // consecutive cumulative points (V ∝ N^β, β ≈ 0.4-0.6 for natural
  // text; β near 1 means the "vocabulary" never saturates — an id/hash
  // contamination signal, β near 0 means template spam). New-term
  // attribution uses min(bucket) per term — one |vocab|-keyed shuffle —
  // and the bucket boundary comes from a broadcast 1-row max, not a
  // global sort. The final cumulative window runs over 10 rows.
  // -------------------------------------------------------------------
  private val VocabBuckets = 10

  def vocabGrowth(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val mx = docs.agg(max(col("doc_id")).as("mx"))
    val tokens = docs.crossJoin(broadcast(mx))
      .select(expr(s"(doc_id * $VocabBuckets) div (mx + 1)").as("bucket"),
        explode(toks).as("term"))
      .filter(col("term") =!= "")
    val perBucket = tokens.groupBy("bucket")
      .agg(count(lit(1)).as("n_tokens"))
    val newTerms = tokens.groupBy("term").agg(min(col("bucket")).as("fb"))
      .groupBy(col("fb").as("bucket"))
      .agg(count(lit(1)).as("new_terms"))
    import s.implicits._
    val buckets = (0L until VocabBuckets.toLong).toDF("bucket")
    val wc = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wl = Window.orderBy("bucket")
    val joined = buckets
      .join(perBucket, Seq("bucket"), "left")
      .join(newTerms, Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("new_terms"), lit(0L)).as("new_terms"))
      .select(col("bucket"), col("n_tokens"), col("new_terms"),
        sum(col("n_tokens")).over(wc).as("cum_tokens"),
        sum(col("new_terms")).over(wc).as("cum_vocab"))
    joined
      .select(col("bucket"), col("n_tokens"), col("new_terms"),
        col("cum_tokens"), col("cum_vocab"),
        lag(col("cum_tokens"), 1).over(wl).as("pn"),
        lag(col("cum_vocab"), 1).over(wl).as("pv"))
      .select(col("bucket"), col("n_tokens"), col("new_terms"),
        col("cum_tokens"), col("cum_vocab"),
        when(col("pn").isNotNull && col("cum_tokens") > col("pn") &&
          col("pv") > 0,
          round(log(col("cum_vocab").cast("double") / col("pv").cast("double")) /
            log(col("cum_tokens").cast("double") / col("pn").cast("double")), 6))
          .as("heaps_beta"))
      .orderBy("bucket")
  }

  val vocabGrowthSql: String =
    s"""WITH mx AS (SELECT max(doc_id) AS mx FROM documents),
       |tok AS (
       |  SELECT (doc_id * $VocabBuckets) // (mx + 1) AS bucket,
       |    unnest(string_split(text, ' ')) AS term
       |  FROM documents, mx),
       |tokf AS (SELECT bucket, term FROM tok WHERE term <> ''),
       |pb AS (SELECT bucket, count(*) AS n_tokens FROM tokf GROUP BY bucket),
       |nt AS (
       |  SELECT bucket, count(*) AS new_terms FROM (
       |    SELECT term, min(bucket) AS bucket FROM tokf GROUP BY term)
       |  GROUP BY bucket),
       |grid AS (SELECT unnest(range(0, $VocabBuckets)) AS bucket),
       |cum AS (
       |  SELECT g.bucket AS bucket,
       |    coalesce(pb.n_tokens, 0) AS n_tokens,
       |    coalesce(nt.new_terms, 0) AS new_terms,
       |    CAST(sum(coalesce(pb.n_tokens, 0)) OVER (ORDER BY g.bucket
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum_tokens,
       |    CAST(sum(coalesce(nt.new_terms, 0)) OVER (ORDER BY g.bucket
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum_vocab
       |  FROM grid g LEFT JOIN pb ON pb.bucket = g.bucket
       |    LEFT JOIN nt ON nt.bucket = g.bucket),
       |lagd AS (
       |  SELECT *, lag(cum_tokens) OVER (ORDER BY bucket) AS pn,
       |    lag(cum_vocab) OVER (ORDER BY bucket) AS pv
       |  FROM cum)
       |SELECT bucket, CAST(n_tokens AS BIGINT) AS n_tokens,
       |  CAST(new_terms AS BIGINT) AS new_terms, cum_tokens, cum_vocab,
       |  CASE WHEN pn IS NOT NULL AND cum_tokens > pn AND pv > 0 THEN
       |    round(ln(CAST(cum_vocab AS DOUBLE) / CAST(pv AS DOUBLE)) /
       |      ln(CAST(cum_tokens AS DOUBLE) / CAST(pn AS DOUBLE)), 6)
       |  END AS heaps_beta
       |FROM lagd ORDER BY bucket""".stripMargin

  // -------------------------------------------------------------------
  // Charter: two unrolled BPE iterations — find the top merge pair,
  // APPLY it across the vocabulary (greedy left-to-right replace with a
  // single-char marker, exactly a BPE implementation's merge), and
  // recount adjacent pairs over the merged symbol sequences. Round-2
  // pairs that touch the new symbol surface decoded (marker expanded
  // back) with a contains_merge flag — the audit that shows the merge
  // actually changed the pair distribution. Same scale shape as
  // text_bpe_pairs: everything after the one corpus collapse runs over
  // word FORMS; the 1-row top pair rides a broadcast.
  // -------------------------------------------------------------------
  def bpeMerge2(s: SparkSession, d: String): DataFrame = {
    def pairsOf(wordCol: Column): Column = explode(transform(
      sequence(lit(1), length(wordCol) - 1), i => wordCol.substr(i, lit(2))))
    val words = documents(s, d).select(explode(toks).as("word"))
      .filter(length(col("word")) >= 2)
      .groupBy("word").agg(count(lit(1)).as("freq"))
    graft.Stage.fanout(words) { w =>
      val top1 = w.select(col("freq"), pairsOf(col("word")).as("p"))
        .groupBy("p").agg(sum(col("freq")).as("c"))
        .orderBy(col("c").desc, col("p")).limit(1)
        .select(col("p").as("mp"))
      val merged = w.crossJoin(broadcast(top1))
        .select(col("freq"), col("mp"),
          expr("replace(word, mp, '§')").as("mword"))
      val r2 = merged.filter(length(col("mword")) >= 2)
        .select(col("freq"), col("mp"), pairsOf(col("mword")).as("p"))
        .groupBy("p", "mp")
        .agg(sum(col("freq")).cast("bigint").as("pair_count"))
      r2.orderBy(col("pair_count").desc, col("p")).limit(10)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("pair_count").desc, col("p"))).cast("bigint"))
        .select(col("rank"),
          expr("replace(p, '§', mp)").as("pair"),
          col("pair_count"),
          col("p").contains("§").as("contains_merge"))
    }.orderBy("rank")
  }

  val bpeMerge2Sql: String =
    """WITH words AS (
      |  SELECT word, count(*) AS freq FROM (
      |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      |  WHERE length(word) >= 2 GROUP BY word),
      |r1 AS (
      |  SELECT p, sum(freq) AS c
      |  FROM words, unnest(list_transform(range(1, length(word)),
      |    i -> substring(word, i, 2))) AS u(p)
      |  GROUP BY p),
      |top1 AS (SELECT p AS mp FROM r1 ORDER BY c DESC, p LIMIT 1),
      |merged AS (
      |  SELECT freq, mp, replace(word, mp, chr(167)) AS mword
      |  FROM words, top1),
      |r2 AS (
      |  SELECT p, mp, CAST(sum(freq) AS BIGINT) AS pair_count
      |  FROM (
      |    SELECT freq, mp, unnest(list_transform(range(1, length(mword)),
      |      i -> substring(mword, i, 2))) AS p
      |    FROM merged WHERE length(mword) >= 2)
      |  GROUP BY p, mp)
      |SELECT * FROM (
      |  SELECT CAST(row_number() OVER (ORDER BY pair_count DESC, p)
      |           AS BIGINT) AS rank,
      |         replace(p, chr(167), mp) AS pair, pair_count,
      |         (p LIKE '%' || chr(167) || '%') AS contains_merge
      |  FROM r2) WHERE rank <= 10 ORDER BY rank""".stripMargin

  // -------------------------------------------------------------------
  // Charter: iterative BPE training to K merges — the driver-loop form
  // of text_bpe_merge2 (Bpe.train: per round ONE vocabulary-bounded
  // pair count + ONE top-1 collect + ONE marker replace; driver state
  // = the K-row merge list). K = 8 here so the oracle stays a readable
  // unrolled chain; the loop itself is unbounded (a production
  // tokenizer runs hundreds of rounds — merges/sec at sf1 is measured
  // in SCALING.md). Output: the learned merge table with each pair
  // DECODED back to its surface form (markers expanded).
  // -------------------------------------------------------------------
  private val BpeTrainMerges = 8

  def bpeTrain(s: SparkSession, d: String): DataFrame = {
    val words = documents(s, d).select(explode(toks).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
    val merges = Bpe.train(s, words, BpeTrainMerges)
    s.createDataFrame(merges.map(m => (m.rank.toLong, m.decoded, m.count)))
      .toDF("merge_rank", "pair", "pair_count")
      .orderBy("merge_rank")
  }

  /** GENERATED from [[BpeTrainMerges]] — the CTE chain always unrolls
    * to exactly the rounds [[Bpe.train]] executes (the same
    * derive-from-the-constant contract as the semantic quantizer's
    * oracle). MATERIALIZED throughout: each round references the
    * previous vocabulary twice (pair count + replace), which inlined
    * would compound 2^K.
    */
  private def bpeChrSql(r: Int) = s"chr(${0xE000 + r})"

  /** The K-round training CTE chain (w0, p_r/t_r per round, w_r
    * between rounds) shared by the train and apply oracles — t_r holds
    * round r's winning pair, in its RAW (marker-bearing) form.
    */
  private def bpeChainSql(k: Int): String = {
    val w0 =
      """w0 AS MATERIALIZED (
        |  SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
        |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |  WHERE length(word) >= 2 GROUP BY word)""".stripMargin
    val rounds = (1 to k).map { r =>
      val merged = if (r < k)
        s""",
           |w$r AS MATERIALIZED (
           |  SELECT replace(word, (SELECT mp FROM t$r), ${bpeChrSql(r - 1)})
           |      AS word, freq
           |  FROM w${r - 1})""".stripMargin
      else ""
      s"""p$r AS MATERIALIZED (
         |  SELECT p, sum(freq) AS c
         |  FROM w${r - 1}, unnest(list_transform(range(1, length(word)),
         |    i -> substring(word, i, 2))) AS u(p)
         |  GROUP BY p),
         |t$r AS MATERIALIZED (
         |  SELECT p AS mp, CAST(c AS BIGINT) AS c FROM p$r
         |  ORDER BY c DESC, p LIMIT 1)""".stripMargin + merged
    }
    s"$w0,\n${rounds.mkString(",\n")}"
  }

  val bpeTrainSql: String = {
    val k = BpeTrainMerges
    // expand markers descending: merge r's pair holds only markers < r,
    // so replacing high→low fully decodes (Bpe.decode's foldLeft twin)
    def decoded(r: Int): String =
      ((r - 2) to 0 by -1).foldLeft("mp") { (acc, j) =>
        s"replace($acc, ${bpeChrSql(j)}, (SELECT mp FROM t${j + 1}))"
      }
    val sel = (1 to k).map(r =>
      s"SELECT CAST($r AS BIGINT) AS merge_rank, ${decoded(r)} AS pair, " +
        s"c AS pair_count FROM t$r")
      .mkString("\nUNION ALL ")
    s"WITH ${bpeChainSql(k)}\n$sel\nORDER BY merge_rank"
  }

  // -------------------------------------------------------------------
  // Charter: APPLY the trained tokenizer — the compression curve a
  // tokenizer team reads before picking K. Trains the registry's K=8
  // merges (the same Bpe.train loop as text_bpe_train), then applies
  // them in rank order to the full corpus in ONE scan: merge r's raw
  // pair contains only markers < r, so round r is one chained
  // replace(), and because no pair contains a space, whole-text
  // replacement equals per-word greedy BPE application. All K+1
  // per-round symbol totals come out of that single projection + one
  // map-side-combined aggregate (the corpus never shuffles; the
  // bounded collect is ONE row of K+1 longs, the KMeans contract).
  // Output: K+1 rows — round 0 is the untokenized character baseline,
  // round r the corpus token count after merges 1..r, with the saved
  // count and the compression ratio.
  // -------------------------------------------------------------------
  def bpeApply(s: SparkSession, d: String): DataFrame = {
    val words = documents(s, d).select(explode(toks).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
    val merges = Bpe.train(s, words, BpeTrainMerges)
    var compressed: Column = col("w")
    val lens = Seq.newBuilder[Column]
    lens += length(compressed).cast("bigint")
    merges.foreach { m =>
      compressed = call_function("replace", compressed,
        lit(m.pair), lit(Bpe.marker(m.rank - 1)))
      lens += length(compressed).cast("bigint")
    }
    val lenCols = lens.result().zipWithIndex.map { case (e, i) =>
      e.as(s"l$i")
    }
    val sumCols = lenCols.indices.map(i => sum(col(s"l$i")).as(s"s$i"))
    val totals = documents(s, d).select(explode(toks).as("w"))
      .filter(col("w") =!= "")
      .select(lenCols: _*)
      .agg(sumCols.head, sumCols.tail: _*)
      .collect()(0)
    val s0 = totals.getLong(0)
    val rows = lenCols.indices.map { r =>
      val t = totals.getLong(r)
      (r.toLong, t, s0 - t,
        java.math.BigDecimal.valueOf(t.toDouble / s0)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue())
    }
    s.createDataFrame(rows)
      .toDF("merge_rank", "total_tokens", "tokens_saved", "compression")
      .orderBy("merge_rank")
  }

  /** GENERATED from [[BpeTrainMerges]] like [[bpeTrainSql]] (shared
    * [[bpeChainSql]] chain); the apply side nests round r's replace
    * around round r-1's, pair values arriving as scalar subqueries
    * from the chain's t_r relations.
    */
  val bpeApplySql: String = {
    val k = BpeTrainMerges
    def applied(r: Int): String = (1 to r).foldLeft("w") { (acc, j) =>
      s"replace($acc, (SELECT mp FROM t$j), ${bpeChrSql(j - 1)})"
    }
    val lenCols = (0 to k).map(r => s"length(${applied(r)}) AS l$r")
      .mkString(",\n    ")
    val sumCols = (0 to k).map(r => s"sum(l$r) AS s$r").mkString(", ")
    val sel = (0 to k).map(r =>
      s"SELECT CAST($r AS BIGINT) AS merge_rank, " +
        s"CAST(s$r AS BIGINT) AS total_tokens, " +
        s"CAST(s0 - s$r AS BIGINT) AS tokens_saved, " +
        s"CASE WHEN round(CAST(s$r AS DOUBLE) / s0, 6) = 0 THEN 0.0 ELSE round(CAST(s$r AS DOUBLE) / s0, 6) END AS compression FROM tot")
      .mkString("\nUNION ALL ")
    s"""WITH ${bpeChainSql(k)},
       |corpus AS MATERIALIZED (
       |  SELECT w FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE w <> ''),
       |app AS MATERIALIZED (
       |  SELECT $lenCols
       |  FROM corpus),
       |tot AS MATERIALIZED (SELECT $sumCols FROM app)
       |$sel
       |ORDER BY merge_rank""".stripMargin
  }

  // -------------------------------------------------------------------
  // Charter: ENCODE with the trained tokenizer — the per-document
  // output a data loader actually consumes (text_bpe_apply proves the
  // corpus-level compression curve; a loader needs each doc's token id
  // sequence). Trains the registry's K=8 merges (the same Bpe.train
  // loop), then one corpus scan emits per doc: the token count after
  // all K merges and the first-16 token ids as a joined string (the
  // driver compare is scalar-only). Token ids: a base character is its
  // own code point; merge j (marker U+E000+j) is id 0x110000+j — ABOVE
  // every Unicode code point, so merge ids can never collide with base
  // chars (the first cut's 256+j collided with U+0100..U+0107, real
  // Polish/Croatian letters). The marker test gates on the EXACT range
  // [U+E000, U+E000+K), not `>= U+E000`: corpus PUA chars are excluded
  // by Bpe.train's guard, but base chars at U+F900+ (CJK compatibility
  // ideographs) are legal corpus text and must classify as base. No
  // shuffle except the final order.
  // -------------------------------------------------------------------
  private val BpeEncodeHeadIds = 16

  def bpeEncode(s: SparkSession, d: String): DataFrame = {
    val words = documents(s, d).select(explode(toks).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
    val merges = Bpe.train(s, words, BpeTrainMerges)
    // whole-text chained replace = per-word greedy BPE (no pair ever
    // contains a space — the bpeApply argument); stripping spaces then
    // yields the doc's symbol sequence directly
    val applied = merges.foldLeft(col("text")) { (acc, m) =>
      call_function("replace", acc, lit(m.pair), lit(Bpe.marker(m.rank - 1)))
    }
    // symbol → token id: markers (exactly U+E000..U+E000+K-1) are vocab
    // entries 0x110000+j; anything else is its code point
    val idOf = (c: Column) =>
      when(ascii(c).between(0xE000, 0xE000 + BpeTrainMerges - 1),
        ascii(c) - 0xE000 + 0x110000).otherwise(ascii(c))
    documents(s, d)
      .select(col("doc_id"),
        call_function("replace", applied, lit(" "), lit("")).as("syms"))
      .select(col("doc_id"),
        length(col("syms")).cast("bigint").as("n_tokens"),
        substring(col("syms"), 1, BpeEncodeHeadIds).as("head"))
      .select(col("doc_id"), col("n_tokens"),
        // sequence(1, 0) would yield [1, 0] (inferred negative step),
        // so the empty head is special-cased to match DuckDB's empty
        // range(1, 1)
        when(length(col("head")) === 0, lit(""))
          .otherwise(array_join(transform(
            expr("transform(sequence(1, length(head)), i -> substring(head, i, 1))"),
            c => idOf(c).cast("string")), ",")).as("head_ids"))
      .orderBy("doc_id")
  }

  /** GENERATED from [[BpeTrainMerges]] like [[bpeApplySql]] (shared
    * [[bpeChainSql]] chain); ids mirror the Spark mapping — code point
    * for base chars, 0x110000+j for marker U+E000+j, the marker test
    * gated on the exact K-marker range.
    */
  val bpeEncodeSql: String = {
    val k = BpeTrainMerges
    def applied(expr0: String): String = (1 to k).foldLeft(expr0) { (acc, j) =>
      s"replace($acc, (SELECT mp FROM t$j), ${bpeChrSql(j - 1)})"
    }
    def idOf(c: String) =
      s"CASE WHEN ascii($c) BETWEEN 57344 AND ${57344 + k - 1} " +
        s"THEN CAST(ascii($c) - 57344 + 1114112 AS VARCHAR) " +
        s"ELSE CAST(ascii($c) AS VARCHAR) END"
    val sym = s"substring(head, CAST(i AS INT), 1)"
    // merges apply to the WHOLE text (subqueries are not allowed inside
    // DuckDB lambdas, and no pair contains a space so whole-text
    // replace = per-word greedy BPE); stripping spaces yields the
    // symbol sequence
    s"""WITH ${bpeChainSql(k)},
       |f AS (
       |  SELECT doc_id,
       |    CAST(length(syms) AS BIGINT) AS n_tokens,
       |    substring(syms, 1, $BpeEncodeHeadIds) AS head
       |  FROM (SELECT doc_id,
       |          replace(${applied("text")}, ' ', '') AS syms
       |        FROM documents))
       |SELECT doc_id, n_tokens,
       |  array_to_string(list_transform(range(1, length(head) + 1),
       |    i -> ${idOf(sym)}), ',') AS head_ids
       |FROM f ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // Charter: the tokenizer VOCAB export — the artifact a data loader
  // ships alongside text_bpe_encode's id sequences: one row per vocab
  // entry (every base character surviving in the fully-merged corpus
  // plus the K trained merges), with the same id scheme as the encoder
  // (code point for base chars, 256+j for merge j), each merge's
  // decoded surface form, and the token's corpus frequency AFTER all
  // merges apply. One scan: chained whole-text replace → strip spaces
  // → compiled char_ngrams(…,1) explode → one hash agg on a ≤(distinct
  // chars + K)-key space. The merge-form mapping is a ≤K-literal CASE,
  // plan-side.
  // -------------------------------------------------------------------
  def bpeVocab(s: SparkSession, d: String): DataFrame = {
    val words = documents(s, d).select(explode(toks).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
    val merges = Bpe.train(s, words, BpeTrainMerges)
    val applied = merges.foldLeft(col("text")) { (acc, m) =>
      call_function("replace", acc, lit(m.pair), lit(Bpe.marker(m.rank - 1)))
    }
    val form = merges.foldLeft(col("c")) { (acc, m) =>
      when(col("c") === lit(Bpe.marker(m.rank - 1)), lit(m.decoded))
        .otherwise(acc)
    }
    documents(s, d)
      .select(call_function("replace", applied, lit(" "), lit("")).as("syms"))
      .select(explode(
        call_function("char_ngrams", col("syms"), lit(1), lit(false))).as("c"))
      .groupBy("c").agg(count(lit(1)).as("n_occurrences"))
      .select(
        // same id scheme as bpeEncode: exact-range marker gate, merge
        // ids above the Unicode code space (collision-free, invertible)
        when(ascii(col("c")).between(0xE000, 0xE000 + BpeTrainMerges - 1),
          ascii(col("c")) - 0xE000 + 0x110000)
          .otherwise(ascii(col("c"))).as("token_id"),
        form.as("form"),
        when(ascii(col("c")).between(0xE000, 0xE000 + BpeTrainMerges - 1),
          lit("merge")).otherwise(lit("base"))
          .as("kind"),
        col("n_occurrences"))
      .orderBy("token_id")
  }

  /** GENERATED from [[BpeTrainMerges]] (shared [[bpeChainSql]] chain);
    * merge surface forms decode exactly like [[bpeTrainSql]]'s.
    */
  val bpeVocabSql: String = {
    val k = BpeTrainMerges
    def appliedText: String = (1 to k).foldLeft("text") { (acc, j) =>
      s"replace($acc, (SELECT mp FROM t$j), ${bpeChrSql(j - 1)})"
    }
    def decoded(r: Int): String =
      ((r - 2) to 0 by -1).foldLeft("mp") { (acc, j) =>
        s"replace($acc, ${bpeChrSql(j)}, (SELECT mp FROM t${j + 1}))"
      }
    val mRows = (1 to k).map(r =>
      s"SELECT ${bpeChrSql(r - 1)} AS c, ${decoded(r)} AS form FROM t$r")
      .mkString("\nUNION ALL ")
    s"""WITH ${bpeChainSql(k)},
       |m AS ($mRows),
       |g AS (
       |  SELECT c, CAST(count(*) AS BIGINT) AS n_occurrences FROM (
       |    SELECT unnest(string_split_regex(
       |      replace($appliedText, ' ', ''), '')) AS c
       |    FROM documents)
       |  WHERE c <> '' GROUP BY c)
       |SELECT
       |  CAST(CASE WHEN ascii(g.c) BETWEEN 57344 AND ${57344 + k - 1}
       |       THEN ascii(g.c) - 57344 + 1114112
       |       ELSE ascii(g.c) END AS INT) AS token_id,
       |  coalesce(m.form, g.c) AS form,
       |  CASE WHEN ascii(g.c) BETWEEN 57344 AND ${57344 + k - 1}
       |       THEN 'merge' ELSE 'base' END AS kind,
       |  g.n_occurrences AS n_occurrences
       |FROM g LEFT JOIN m ON g.c = m.c
       |ORDER BY token_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // Charter: data-loader length bucketing — assign each document to the
  // smallest power-of-two token-length bucket and report per-bucket doc
  // count, token mass, and the padding waste a pad-to-bucket batcher
  // would pay (the sequence-bucketing knob that decides batch shapes).
  // The bucket is computed with INTEGER bit math — length(bin(n-1)) —
  // not ceil(log2(n)): a last-ulp difference between Java and C log
  // would flip exact-power-of-two docs across buckets. One map-side-
  // combined pass; output is ≤ log2(max_len) rows.
  // -------------------------------------------------------------------
  def lengthBuckets(s: SparkSession, d: String): DataFrame = {
    val n = size(toks).cast("bigint")
    val bucket = when(n <= 1, lit(1L)).otherwise(
      pow(lit(2.0), length(bin(n - 1)).cast("double")).cast("bigint"))
    documents(s, d)
      .select(bucket.as("bucket"), n.as("nt"))
      .groupBy("bucket").agg(
        count(lit(1)).as("n_docs"),
        sum(col("nt")).as("sum_tokens"),
        sum(col("bucket") - col("nt")).as("pad_waste"),
        round(sum(col("bucket") - col("nt")).cast("double") /
          sum(col("bucket")), 6).as("waste_ratio"))
      .orderBy("bucket")
  }

  val lengthBucketsSql: String =
    """WITH d AS (
      |  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
      |  FROM documents),
      |b AS (SELECT nt, CASE WHEN nt <= 1 THEN 1
      |    ELSE CAST(power(2, length(bin(nt - 1))) AS BIGINT) END AS bucket
      |  FROM d)
      |SELECT bucket, count(*) AS n_docs,
      |  CAST(sum(nt) AS BIGINT) AS sum_tokens,
      |  CAST(sum(bucket - nt) AS BIGINT) AS pad_waste,
      |  CASE WHEN round(CAST(sum(bucket - nt) AS DOUBLE) / sum(bucket), 6) = 0 THEN 0.0 ELSE round(CAST(sum(bucket - nt) AS DOUBLE) / sum(bucket), 6) END
      |    AS waste_ratio
      |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin

  // -------------------------------------------------------------------
  // B28: inverted index — term -> (document frequency, total term
  // frequency, capped postings list), the core retrieval/search-index
  // primitive over a training corpus. The scale problem is hot terms:
  // in this corpus EVERY term appears in ~all documents, so a naive
  // collect_list-then-truncate per term holds an unbounded |postings|
  // buffer in one aggregation group. Instead a two-level tournament
  // bounds state everywhere: level 1 groups by (term, doc_id mod 16)
  // and keeps only the 10 smallest doc_ids per salt group; level 2
  // merges the <= 16 bounded partial lists per term. Per-group state is
  // <= 160 ids regardless of term hotness, and both levels are ordinary
  // hash aggregations (map-side partials, AQE-splittable shuffles).
  // -------------------------------------------------------------------
  def invertedIndex(s: SparkSession, d: String): DataFrame = {
    val td = documents(s, d)
      .select(col("doc_id"), explode(toks).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
    val part = td
      .groupBy(col("term"), pmod(col("doc_id"), lit(16)).as("salt"))
      .agg(
        slice(array_sort(collect_list(col("doc_id"))), 1, 10).as("post_part"),
        count(lit(1)).as("df_part"),
        sum("tf").as("tf_part"))
    part.groupBy("term")
      .agg(
        // space-joined scalar, not a raw ARRAY column: the driver's
        // pandas hash-compare cannot factorize container cells (the
        // registry-wide convention — see text_chunk_overlap)
        array_join(transform(
          slice(array_sort(flatten(collect_list(col("post_part")))), 1, 10),
          _.cast("string")), " ").as("postings"),
        sum("df_part").as("df"),
        sum("tf_part").as("total_tf"))
      .orderBy(col("df").desc, col("term")).limit(50)
  }

  val invertedIndexSql: String =
    """WITH td AS (
      |  SELECT term, doc_id, count(*) AS tf FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |    FROM documents)
      |  WHERE term <> '' GROUP BY term, doc_id)
      |SELECT term,
      |  array_to_string(list_transform((list_sort(list(doc_id)))[1:10],
      |    x -> CAST(x AS VARCHAR)), ' ') AS postings,
      |  count(*) AS df, CAST(sum(tf) AS BIGINT) AS total_tf
      |FROM td GROUP BY term ORDER BY df DESC, term LIMIT 50""".stripMargin

  // -------------------------------------------------------------------
  // B28/B29: BM25 ranked retrieval for a fixed query set — the standard
  // lexical scorer used to mine hard negatives and build retrieval eval
  // sets from a training corpus (Robertson's Okapi BM25, k1=1.2,
  // b=0.75, idf = ln(1 + (N - df + 0.5)/(df + 0.5))).
  //
  // Scale shape: the corpus explode is pruned by a broadcast join
  // against the tiny query-term relation BEFORE any aggregation, so
  // only rows whose term appears in some query survive past the scan;
  // df and the corpus stats are broadcast back; the final top-10 is a
  // rank over (query, rounded score, doc) — deterministic across
  // engines because the window orders on the already-rounded score.
  // -------------------------------------------------------------------
  private val Bm25Queries: Seq[(Int, Seq[String])] = Seq(
    1 -> Seq("hash", "join", "merge"),
    2 -> Seq("window", "sort", "order"),
    3 -> Seq("spark", "stream", "batch"))

  def bm25(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = documents(s, d)
    val qt = Bm25Queries
      .flatMap { case (q, ts) => ts.map(t => (q, t)) }
      .toDF("query_id", "term")
    val stats = docs.agg(count(lit(1)).as("n_docs"),
      avg(size(toks)).as("avgdl"))
    val tf = docs
      .select(col("doc_id"), size(toks).as("dl"), explode(toks).as("term"))
      .filter(col("term") =!= "")
      .join(broadcast(qt), "term")
      .groupBy("query_id", "term", "doc_id", "dl")
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.select("term", "doc_id").distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
    // identical literal structure to the DuckDB oracle so the float ops
    // agree to well under the round(6): idf * tf*(k1+1) / (tf + k1*(1-b
    // + b*dl/avgdl))
    val idf = log(lit(1.0d) +
      (col("n_docs") - col("df") + lit(0.5d)) / (col("df") + lit(0.5d)))
    val score = idf * (col("tf") * lit(2.2d)) /
      (col("tf") + lit(1.2d) *
        (lit(0.25d) + lit(0.75d) * col("dl") / col("avgdl")))
    val perDoc = tf.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .withColumn("s", score)
      .groupBy("query_id", "doc_id").agg(round(sum("s"), 6).as("score"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("doc_id"))
    perDoc.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select("query_id", "rank", "doc_id", "score")
      .orderBy("query_id", "rank")
  }

  val bm25Sql: String = {
    val vals = Bm25Queries
      .flatMap { case (q, ts) => ts.map(t => s"($q, '$t')") }
      .mkString(", ")
    s"""WITH q(query_id, term) AS (VALUES $vals),
       |stats AS (SELECT count(*) AS n_docs,
       |  avg(len(string_split(text, ' '))) AS avgdl FROM documents),
       |tf AS (
       |  SELECT query_id, term, doc_id, dl, count(*) AS tf FROM (
       |    SELECT doc_id, len(string_split(text, ' ')) AS dl,
       |      unnest(string_split(text, ' ')) AS term FROM documents) t
       |  JOIN q USING (term) WHERE term <> ''
       |  GROUP BY query_id, term, doc_id, dl),
       |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf
       |       GROUP BY term),
       |sc AS (
       |  SELECT query_id, doc_id,
       |    CASE WHEN round(sum(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
       |      * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 6) = 0 THEN 0.0 ELSE round(sum(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
       |      * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 6) END
       |      AS score
       |  FROM tf JOIN df USING (term), stats GROUP BY query_id, doc_id)
       |SELECT query_id, rank, doc_id, score FROM (
       |  SELECT query_id, doc_id, score,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, doc_id) AS INT) AS rank FROM sc)
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
  }

  // -------------------------------------------------------------------
  // B28: PMI collocations — adjacent word pairs that co-occur far more
  // than their unigram frequencies predict (pointwise mutual
  // information), the classic phrase/term-of-art detector for corpus
  // analysis. PMI is computed in LOG domain — ln(c_xy) + 2 ln(n_uni) −
  // ln(c_x) − ln(c_y) − ln(n_big) — because the ratio's numerator
  // (c_xy · n_uni²) overflows int64 once the corpus passes ~10^6
  // tokens; log-domain is exact-enough (rounded to 6) and scale-free.
  // The bigram totals reuse the bigram aggregation's exchange (the
  // tfidf discipline: reference the aggregated column so the two
  // subplans stay canonical-equal) instead of re-exploding the corpus.
  // -------------------------------------------------------------------
  def collocations(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val big = docs.select(explode(
        call_function("word_shingles", col("text"), lit(2), lit(false)))
        .as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("c_xy"))
    val uni = docs.select(explode(toks).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("c"))
    val nBig = big.where(col("c_xy") > 0).agg(sum("c_xy").as("n_big"))
    val nUni = uni.where(col("c") > 0).agg(sum("c").as("n_uni"))
    val pmi = round(log(col("c_xy")) + lit(2.0d) * log(col("n_uni")) -
      log(col("c_x")) - log(col("c_y")) - log(col("n_big")), 6)
    big
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .withColumn("w2", substring_index(col("bg"), " ", -1))
      .join(uni.select(col("w").as("w1"), col("c").as("c_x")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("c_y")), "w2")
      .crossJoin(broadcast(nBig))
      .crossJoin(broadcast(nUni))
      .filter(col("c_xy") >= 5)
      .select(col("w1"), col("w2"), col("c_xy"), col("c_x"), col("c_y"),
        pmi.as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2")).limit(20)
  }

  val collocationsSql: String =
    """WITH t AS (SELECT string_split(text, ' ') AS t FROM documents),
      |big AS (
      |  SELECT bg, count(*) AS c_xy FROM (
      |    SELECT unnest(list_transform(range(1, len(t)),
      |      i -> t[i] || ' ' || t[i + 1])) AS bg FROM t
      |    WHERE len(t) >= 2)
      |  GROUP BY bg),
      |uni AS (SELECT w, count(*) AS c FROM (
      |    SELECT unnest(t) AS w FROM t) WHERE w <> '' GROUP BY w),
      |tot AS (SELECT (SELECT CAST(sum(c_xy) AS BIGINT) FROM big) AS n_big,
      |               (SELECT CAST(sum(c) AS BIGINT) FROM uni) AS n_uni)
      |SELECT string_split(bg, ' ')[1] AS w1, string_split(bg, ' ')[2] AS w2,
      |  c_xy, u1.c AS c_x, u2.c AS c_y,
      |  CASE WHEN round(ln(c_xy) + 2.0 * ln(n_uni) - ln(u1.c) - ln(u2.c)
      |    - ln(n_big), 6) = 0 THEN 0.0 ELSE round(ln(c_xy) + 2.0 * ln(n_uni) - ln(u1.c) - ln(u2.c)
      |    - ln(n_big), 6) END AS pmi
      |FROM big
      |JOIN uni u1 ON string_split(bg, ' ')[1] = u1.w
      |JOIN uni u2 ON string_split(bg, ' ')[2] = u2.w, tot
      |WHERE c_xy >= 5
      |ORDER BY pmi DESC, w1, w2 LIMIT 20""".stripMargin

  // -------------------------------------------------------------------
  // B28: skip-gram pairs — (center, context) co-occurrence counts
  // within a ±2 token window, the word2vec/SGNS training-pair
  // generation step. Each position emits its ≤4 context pairs via an
  // index-aware array transform (LINEAR in corpus size — no per-doc
  // positional self-join, which would be quadratic in document length),
  // then one hash aggregation and a TakeOrdered top-30 cut.
  // -------------------------------------------------------------------
  def skipgrams(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(toks.as("t"))
      .select(explode(expr(
        """flatten(transform(t, (x, i) ->
          |  transform(
          |    filter(sequence(greatest(0, i - 2), least(size(t) - 1, i + 2)),
          |           j -> j != i),
          |    j -> struct(x AS w1, element_at(t, j + 1) AS w2))))""".stripMargin))
        .as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .filter(col("w1") =!= "" && col("w2") =!= "")
      .groupBy("w1", "w2").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w1"), col("w2")).limit(30)

  val skipgramsSql: String =
    """WITH t AS (SELECT string_split(text, ' ') AS t FROM documents),
      |p AS (
      |  SELECT unnest(flatten(list_transform(range(1, len(t) + 1), i ->
      |    list_transform(
      |      list_filter(range(greatest(1, i - 2), least(len(t), i + 2) + 1),
      |                  j -> j <> i),
      |      j -> {'w1': t[i], 'w2': t[j]})))) AS p
      |  FROM t)
      |SELECT p['w1'] AS w1, p['w2'] AS w2, count(*) AS n FROM p
      |WHERE p['w1'] <> '' AND p['w2'] <> ''
      |GROUP BY w1, w2 ORDER BY n DESC, w1, w2 LIMIT 30""".stripMargin

  // -------------------------------------------------------------------
  // B28: per-document character entropy — the classic gibberish /
  // binary-junk detector for corpus curation (low entropy = repeated
  // filler, high entropy = random bytes). H = ln(n) − Σ c·ln(c)/n over
  // exact integer character counts, so the only float work is the final
  // ln/divide (rounded to 6). One explode + two hash aggregations, no
  // joins; the native char_ngrams(…, 1) expression keeps the per-char
  // explode inside codegen.
  // -------------------------------------------------------------------
  def charEntropy(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"),
        explode(call_function("char_ngrams", col("text"), lit(1),
          lit(false))).as("ch"))
      .groupBy("doc_id", "ch").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_chars_counted"),
        count(lit(1)).as("n_distinct_chars"),
        round(log(sum("c")) -
          sum(col("c").cast("double") * log(col("c"))) / sum("c"), 6)
          .as("entropy"))
      .orderBy("doc_id")

  val charEntropySql: String =
    """WITH cc AS (
      |  SELECT doc_id, ch, count(*) AS c FROM (
      |    SELECT doc_id, unnest(string_split_regex(text, '')) AS ch
      |    FROM documents)
      |  GROUP BY doc_id, ch)
      |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_chars_counted,
      |  count(*) AS n_distinct_chars,
      |  CASE WHEN round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 6) = 0 THEN 0.0 ELSE round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 6) END AS entropy
      |FROM cc GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // Training pipeline: per-source median quality gate — "keep each
  // source's better half", the relative quality filter used when
  // sources have incomparable score distributions (an absolute
  // threshold keeps 99% of one source and 4% of another). The median
  // comes from a FIXED-GRID histogram (scores rounded to 3 decimals →
  // ≤ ~1001 buckets per source), so the cumulative-sum window runs over
  // the tiny histogram, never over per-document rows — the shape that
  // survives a source with 10^10 documents. Grid precision (0.001) is
  // the documented approximation; the gate itself compares the SAME
  // rounded score, so keep decisions are exact wrt the gridded median.
  // -------------------------------------------------------------------
  def qualityGate(s: SparkSession, d: String): DataFrame = {
    val len = length(col("text")).cast("double")
    val nAlpha =
      length(regexp_replace(col("text"), "[^a-zA-Z]", "")).cast("double")
    val nDigit =
      length(regexp_replace(col("text"), "[^0-9]", "")).cast("double")
    val nSpace =
      length(regexp_replace(col("text"), "[^ ]", "")).cast("double")
    val nPunct = len - nAlpha - nDigit - nSpace
    val wordLen = (len - nSpace) / (nSpace + lit(1.0))
    val score = (nAlpha / len) * lit(0.6) +
      (lit(1.0) - nPunct / len) * lit(0.3) +
      when(wordLen >= 3 && wordLen <= 10, lit(0.1)).otherwise(lit(0.0))
    val scored = documents(s, d).select(col("source"),
      size(toks).cast("long").as("n_toks"), round(score, 3).as("q"))
    val hist = scored.groupBy("source", "q").agg(count(lit(1)).as("c"))
    val cumW = Window.partitionBy("source").orderBy("q")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totW = Window.partitionBy("source")
    // lower median: smallest grid value whose cumulative count reaches
    // half the source's documents
    val med = hist
      .withColumn("cum", sum("c").over(cumW))
      .withColumn("tot", sum("c").over(totW))
      .filter(col("cum") * 2 >= col("tot"))
      .groupBy("source").agg(min("q").as("median_q"))
    scored.join(broadcast(med), "source")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("q") >= col("median_q"), 1L).otherwise(0L))
          .as("n_kept"),
        sum(when(col("q") >= col("median_q"), col("n_toks"))
          .otherwise(0L)).as("kept_tokens"),
        max("median_q").as("median_q"))
      .withColumn("kept_ratio",
        round(col("n_kept").cast("double") / col("n_docs"), 6))
      .select("source", "n_docs", "n_kept", "kept_ratio", "kept_tokens",
        "median_q")
      .orderBy("source")
  }

  val qualityGateSql: String =
    """WITH scored AS (
      |  SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
      |    CASE WHEN round((nalpha / len) * 0.6
      |      + (1.0 - (len - nalpha - ndigit - nspace) / len) * 0.3
      |      + (CASE WHEN (len - nspace) / (nspace + 1.0) >= 3
      |               AND (len - nspace) / (nspace + 1.0) <= 10
      |              THEN 0.1 ELSE 0.0 END), 3) = 0 THEN 0.0 ELSE round((nalpha / len) * 0.6
      |      + (1.0 - (len - nalpha - ndigit - nspace) / len) * 0.3
      |      + (CASE WHEN (len - nspace) / (nspace + 1.0) >= 3
      |               AND (len - nspace) / (nspace + 1.0) <= 10
      |              THEN 0.1 ELSE 0.0 END), 3) END AS q
      |  FROM (
      |    SELECT source, text,
      |      CAST(length(text) AS DOUBLE) AS len,
      |      CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) AS nalpha,
      |      CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) AS ndigit,
      |      CAST(length(regexp_replace(text, '[^ ]', '', 'g')) AS DOUBLE) AS nspace
      |    FROM documents)),
      |hist AS (SELECT source, q, count(*) AS c FROM scored GROUP BY source, q),
      |med AS (
      |  SELECT source, min(q) AS median_q FROM (
      |    SELECT source, q,
      |      sum(c) OVER (PARTITION BY source ORDER BY q
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |      sum(c) OVER (PARTITION BY source) AS tot
      |    FROM hist)
      |  WHERE cum * 2 >= tot GROUP BY source)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN q >= median_q THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_kept,
      |  CASE WHEN round(CAST(sum(CASE WHEN q >= median_q THEN 1 ELSE 0 END) AS DOUBLE)
      |    / count(*), 6) = 0 THEN 0.0 ELSE round(CAST(sum(CASE WHEN q >= median_q THEN 1 ELSE 0 END) AS DOUBLE)
      |    / count(*), 6) END AS kept_ratio,
      |  CAST(sum(CASE WHEN q >= median_q THEN n_toks ELSE 0 END) AS BIGINT)
      |    AS kept_tokens,
      |  max(median_q) AS median_q
      |FROM scored JOIN med USING (source)
      |GROUP BY source ORDER BY source""".stripMargin

  // -------------------------------------------------------------------
  // Dedup: edit-distance-verified near-dup pairs — MinHash-LSH
  // candidates (the same 4-band signature join as dedup_neardup_pairs)
  // re-verified with NORMALIZED LEVENSHTEIN distance instead of shingle
  // Jaccard. Edit distance catches character-level rewrites (typo
  // injection, token-internal edits) that token-shingle Jaccard treats
  // as wholly different shingles. Levenshtein is O(len²) per pair, so
  // verification runs on a fixed 200-char prefix — bounded 40k char-ops
  // per candidate regardless of document length — and only over LSH
  // candidates, never all pairs. norm_dist = dist / max(prefix lens).
  // -------------------------------------------------------------------
  def editVerify(s: SparkSession, d: String): DataFrame = {
    val sigs = minhashSignatures(s, d)
    val bandKeys = array((0 until 4).map { b =>
      concat_ws("_", col(s"sig_${2 * b}"), col(s"sig_${2 * b + 1}"))
    }: _*)
    val bands = sigs.select(col("doc_id"),
      posexplode(bandKeys).as(Seq("band", "bkey")))
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val prefix = documents(s, d).select(col("doc_id"),
      substring(col("text"), 1, 200).as("p"),
      length(col("text")).as("len"))
    cand
      .join(prefix.select(col("doc_id").as("doc_a"), col("p").as("pa"),
        col("len").as("len_a")), "doc_a")
      .join(prefix.select(col("doc_id").as("doc_b"), col("p").as("pb"),
        col("len").as("len_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("len_a"), col("len_b"),
        levenshtein(col("pa"), col("pb")).as("edit_dist"))
      .withColumn("norm_dist", round(col("edit_dist").cast("double") /
        greatest(least(col("len_a"), lit(200)),
          least(col("len_b"), lit(200)), lit(1)), 6))
      .withColumn("is_dup", col("norm_dist") <= 0.2)
      .orderBy("doc_a", "doc_b")
  }

  val editVerifySql: String = {
    val sigsSql = minhashSignaturesSql.replace("ORDER BY doc_id", "")
    s"""WITH sigs AS ($sigsSql),
       |bands AS (
       |  SELECT doc_id, 0 AS band, CAST(sig_0 AS VARCHAR) || '_' || CAST(sig_1 AS VARCHAR) AS bkey FROM sigs
       |  UNION ALL SELECT doc_id, 1, CAST(sig_2 AS VARCHAR) || '_' || CAST(sig_3 AS VARCHAR) FROM sigs
       |  UNION ALL SELECT doc_id, 2, CAST(sig_4 AS VARCHAR) || '_' || CAST(sig_5 AS VARCHAR) FROM sigs
       |  UNION ALL SELECT doc_id, 3, CAST(sig_6 AS VARCHAR) || '_' || CAST(sig_7 AS VARCHAR) FROM sigs),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
       |pfx AS (SELECT doc_id, substr(text, 1, 200) AS p,
       |        CAST(length(text) AS INT) AS len FROM documents)
       |SELECT doc_a, doc_b, a.len AS len_a, b.len AS len_b,
       |  CAST(levenshtein(a.p, b.p) AS INT) AS edit_dist,
       |  CASE WHEN round(CAST(levenshtein(a.p, b.p) AS DOUBLE) /
       |    greatest(least(a.len, 200), least(b.len, 200), 1), 6) = 0 THEN 0.0 ELSE round(CAST(levenshtein(a.p, b.p) AS DOUBLE) /
       |    greatest(least(a.len, 200), least(b.len, 200), 1), 6) END
       |    AS norm_dist,
       |  round(CAST(levenshtein(a.p, b.p) AS DOUBLE) /
       |    greatest(least(a.len, 200), least(b.len, 200), 1), 6) <= 0.2
       |    AS is_dup
       |FROM cand
       |JOIN pfx a ON doc_a = a.doc_id
       |JOIN pfx b ON doc_b = b.doc_id
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_edit_verify" -> (editVerify _),
    "text_skipgrams" -> (skipgrams _),
    "text_char_entropy" -> (charEntropy _),
    "train_quality_gate" -> (qualityGate _),
    "text_inverted_index" -> (invertedIndex _),
    "text_bm25" -> (bm25 _),
    "text_collocations" -> (collocations _),
    "text_bpe_pairs" -> (bpePairs _),
    "text_bpe_merge2" -> (bpeMerge2 _),
    "text_bpe_train" -> (bpeTrain _),
    "train_split_assign" -> (splitAssign _),
    "train_shard_balance" -> (shardBalance _),
    "train_weighted_sample" -> (weightedSample _),
    "text_vocab_growth" -> (vocabGrowth _),
    "train_epoch_plan" -> (epochPlan _),
    "train_length_buckets" -> (lengthBuckets _),
    "dedup_substring" -> (substringDedup _),
    "train_sampling_temperature" -> (samplingTemperature _),
    "dedup_source_overlap" -> (sourceOverlap _),
    "text_zipf_fit" -> (zipfFit _),
    "text_chunk_overlap" -> (chunkOverlap _),
    "train_dataset_card" -> (datasetCard _),
    "train_interleave" -> (trainInterleave _),
    "text_source_mix" -> (sourceMix _),
    "text_vocab_coverage" -> (vocabCoverage _),
    "dedup_bag" -> (bagDedup _),
    "dedup_minhash_est" -> (minhashCalibration _),
    "train_token_budget" -> (tokenBudget _),
    "text_templates" -> (templates _),
    "text_lm_score" -> (lmScore _),
    "dedup_keep" -> (dedupKeep _),
    "text_scrub" -> (textScrub _),
    "train_shuffle" -> (trainShuffle _),
    "text_stopword_strip" -> (stopwordStrip _),
    "dedup_containment" -> (containment _),
    "dedup_rare_gram" -> (rareGramRetrieval _),
    "dedup_retrieval_agreement" -> (retrievalAgreement _),
    "dedup_agreement" -> (dedupAgreement _),
    "text_bpe_apply" -> (bpeApply _),
    "text_bpe_encode" -> (bpeEncode _),
    "text_bpe_vocab" -> (bpeVocab _),
    "train_packing" -> (trainPacking _),
    "train_curriculum" -> (trainCurriculum _),
    "text_heavy_hitters" -> (heavyHitters _),
    "dedup_decontaminate" -> (decontaminate _),
    "dedup_split_leakage" -> (splitLeakage _),
    "train_mixture" -> (trainMixture _),
    "text_repetition" -> (repetition _),
    "text_bigram_lm" -> (bigramLm _),
    "dedup_incremental" -> (incrementalDedup _),
    "dedup_incremental_near" -> (incrementalNear _),
    "dedup_bloom_prefilter" -> (bloomPrefilter _),
    "train_assemble" -> (trainAssemble _),
    "train_pipeline_e2e" -> (trainPipeline _),
    "text_tfidf" -> (tfidf _),
    "dedup_passages" -> (passageDedup _),
    "text_curation_funnel" -> (curationFunnel _),
    "dedup_clusters" -> (neardupClusters _),
    "dedup_ngram_jaccard" -> (ngramJaccard _),
    "text_langid_ngram" -> (langidNgram _),
    "text_quality" -> (qualityScore _),
    "text_rolling_fp" -> (rollingFingerprint _),
    "text_token_regex" -> (tokenRegex _),
    "text_top_terms" -> (topTerms _),
    "text_stats" -> (textStats _),
    "text_fingerprint" -> (fingerprint _),
    "dedup_exact_text" -> (dedupExactText _),
    "dedup_minhash_sig" -> (minhashSignatures _),
    "dedup_neardup_pairs" -> (neardupPairs _),
    "dedup_simhash" -> (simhash _)
  )

  val oracles: Map[String, String] = Map(
    "dedup_edit_verify" -> editVerifySql,
    "text_skipgrams" -> skipgramsSql,
    "text_char_entropy" -> charEntropySql,
    "train_quality_gate" -> qualityGateSql,
    "text_inverted_index" -> invertedIndexSql,
    "text_bm25" -> bm25Sql,
    "text_collocations" -> collocationsSql,
    "text_bpe_pairs" -> bpePairsSql,
    "text_bpe_merge2" -> bpeMerge2Sql,
    "text_bpe_train" -> bpeTrainSql,
    "train_split_assign" -> splitAssignSql,
    "train_shard_balance" -> shardBalanceSql,
    "train_weighted_sample" -> weightedSampleSql,
    "text_vocab_growth" -> vocabGrowthSql,
    "train_epoch_plan" -> epochPlanSql,
    "train_length_buckets" -> lengthBucketsSql,
    "dedup_substring" -> substringDedupSql,
    "train_sampling_temperature" -> samplingTemperatureSql,
    "dedup_source_overlap" -> sourceOverlapSql,
    "text_zipf_fit" -> zipfFitSql,
    "text_chunk_overlap" -> chunkOverlapSql,
    "train_dataset_card" -> datasetCardSql,
    "train_interleave" -> trainInterleaveSql,
    "text_source_mix" -> sourceMixSql,
    "text_vocab_coverage" -> vocabCoverageSql,
    "dedup_bag" -> bagDedupSql,
    "dedup_minhash_est" -> minhashCalibrationSql,
    "train_token_budget" -> tokenBudgetSql,
    "text_templates" -> templatesSql,
    "text_lm_score" -> lmScoreSql,
    "dedup_keep" -> dedupKeepSql,
    "text_scrub" -> textScrubSql,
    "train_shuffle" -> trainShuffleSql,
    "text_stopword_strip" -> stopwordStripSql,
    "dedup_containment" -> containmentSql,
    "dedup_rare_gram" -> rareGramRetrievalSql,
    "dedup_retrieval_agreement" -> retrievalAgreementSql,
    "dedup_agreement" -> dedupAgreementSql,
    "text_bpe_apply" -> bpeApplySql,
    "text_bpe_encode" -> bpeEncodeSql,
    "text_bpe_vocab" -> bpeVocabSql,
    "train_packing" -> trainPackingSql,
    "train_curriculum" -> trainCurriculumSql,
    "text_heavy_hitters" -> heavyHittersSql,
    "dedup_decontaminate" -> decontaminateSql,
    "dedup_split_leakage" -> splitLeakageSql,
    "train_mixture" -> trainMixtureSql,
    "text_repetition" -> repetitionSql,
    "text_bigram_lm" -> bigramLmSql,
    "dedup_incremental" -> incrementalDedupSql,
    "dedup_incremental_near" -> incrementalNearSql,
    "dedup_bloom_prefilter" -> bloomPrefilterSql,
    "train_assemble" -> trainAssembleSql,
    "train_pipeline_e2e" -> trainPipelineSql,
    "text_tfidf" -> tfidfSql,
    "dedup_passages" -> passageDedupSql,
    "text_curation_funnel" -> curationFunnelSql,
    "dedup_clusters" -> neardupClustersSql,
    "dedup_ngram_jaccard" -> ngramJaccardSql,
    "text_langid_ngram" -> langidNgramSql,
    "text_quality" -> qualityScoreSql,
    "text_rolling_fp" -> rollingFingerprintSql,
    "text_token_regex" -> tokenRegexSql,
    "text_top_terms" -> topTermsSql,
    "text_stats" -> textStatsSql,
    "text_fingerprint" -> fingerprintSql,
    "dedup_exact_text" -> dedupExactTextSql,
    "dedup_minhash_sig" -> minhashSignaturesSql,
    "dedup_neardup_pairs" -> neardupPairsSql,
    "dedup_simhash" -> simhashSql
  )
}
