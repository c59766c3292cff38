package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic sf-multiplier for the scaling study (SCALING.md): from
  * the read-only driver corpus at `src`, write `copies`× the data to
  * `out` by replicating every fact table with disjoint key ranges.
  * Copy 0 is the identity, so the output is a superset of the source.
  *
  * Replication is NOT naive duplication where that would distort the
  * operators under study:
  *   - every foreign key shifts by `copy × (max_key + 1)` consistently
  *     across tables, so join fan-outs and group cardinalities scale
  *     linearly (10× keys, same per-key row counts) instead of
  *     inflating per-key history 10×;
  *   - event timestamps shift by `copy × (ts_span + 1 h)` — disjoint
  *     time ranges per copy — because the reference's CDC dedup key IS
  *     the (system-unique) event timestamp; the replica corpus is a
  *     longer ordered history, not an interleaved replay;
  *   - document text gets a copy-tagged token spliced in every 3rd
  *     position (copy > 0), which breaks cross-copy 3-shingles and
  *     4-grams — near-dup structure stays per-copy and pair counts
  *     scale ~linearly, the honest 10× shape for the dedup family
  *     (naive copies would make every doc a 10-way exact duplicate and
  *     measure an artificial quadratic pair blowup);
  *   - embeddings get a hash-derived jitter (copy > 0) so cross-copy
  *     cosine sits well below near-dup thresholds;
  *   - region/nation stay single-copy (fixed dimensions, as in TPC-H).
  *
  * Everything derives from hash()/arithmetic on existing values — no
  * RNG — so reruns are byte-stable.
  *
  * Schema note: the source events table stores ts as parquet
  * TIMESTAMP(NANOS); this tool reads it with
  * `spark.sql.legacy.parquet.nanosAsLong` (Tables.eventsRawNanos) and
  * therefore WRITES ts as a plain INT64 column. Every engine reader
  * sets the same conf, so behavior is identical — but a third-party
  * tool reading the source and a replica side by side without the conf
  * sees different parquet logical types for ts.
  */
object GenScale {

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else "testdata_sf1"
    val copies = if (args.length > 2) args(2).toInt else 10
    // "docs" replicates only the documents table — the dedup family's
    // input — for scale decades where the full corpus would waste disk
    // (the sf10 blocking validation needs 100× documents, nothing else);
    // "vecs" likewise replicates only embeddings (the banded-LSH
    // candidate-growth study's fourth decade)
    val mode = args.lift(3)
    val docsOnly = mode.contains("docs")
    val vecsOnly = mode.contains("vecs")
    // "evs" replicates only the events table — the time-series decade
    // probes need 100× event history, nothing else
    val evsOnly = mode.contains("evs")
    val spark = Session.local("graft-genscale", shufflePartitions = Some(32))

    def tbl(name: String): DataFrame =
      spark.read.parquet(s"$src/$name.parquet")
    // getAs[Number]: key columns are BIGINT in the driver corpus, but a
    // narrower integer type (e.g. INT32 doc ids in a re-generated
    // corpus) must widen, not ClassCastException
    def keySpan(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getAs[Number](0).longValue() + 1
    /** Cross-join with copy ids 0..copies-1 and shift the given keys. */
    def replicate(df: DataFrame, shifts: (String, Long)*): DataFrame = {
      val withCp = df.select(col("*"),
        explode(expr(s"sequence(0, ${copies - 1})")).as("cp"))
      shifts.foldLeft(withCp) { case (acc, (key, span)) =>
        acc.withColumn(key, col(key) + col("cp") * lit(span))
      }
    }
    def write(df: DataFrame, name: String): Unit = {
      df.drop("cp").repartition(32)
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[genscale] $name written")
    }

    if (!docsOnly && !vecsOnly && !evsOnly) {
      val (ck, sk, pk, ok) = (
        keySpan(tbl("customer"), "c_custkey"),
        keySpan(tbl("supplier"), "s_suppkey"),
        keySpan(tbl("part"), "p_partkey"),
        keySpan(tbl("orders"), "o_orderkey"))

      write(tbl("region").withColumn("cp", lit(0)), "region")
      write(tbl("nation").withColumn("cp", lit(0)), "nation")
      write(replicate(tbl("customer"), "c_custkey" -> ck), "customer")
      write(replicate(tbl("supplier"), "s_suppkey" -> sk), "supplier")
      write(replicate(tbl("part"), "p_partkey" -> pk), "part")
      write(replicate(tbl("orders"), "o_orderkey" -> ok, "o_custkey" -> ck),
        "orders")
      write(replicate(tbl("lineitem"), "l_orderkey" -> ok,
        "l_partkey" -> pk, "l_suppkey" -> sk), "lineitem")
    }

    if ((!docsOnly && !vecsOnly) || evsOnly) {
      // events.ts is parquet TIMESTAMP(NANOS); keep it as raw nanos longs
      // (the engine's scan operators read that shape natively).
      // ts SHIFTS per copy (disjoint time ranges, 1 h guard gap): event
      // timestamps are globally unique by the reference system's
      // invariant (the CDC dedup key is cluster/timestamp,
      // runner.go:602), so an unshifted replica would be 90% true
      // duplicates — the relay would correctly suppress them and every
      // throughput number would measure dedup, not relay. A 10× corpus
      // is an ordered CDC history 10× LONGER, not 10 interleaved
      // replays of the same one.
      val ev = Tables.eventsRawNanos(spark, src)
      val ek = keySpan(ev, "event_id"); val uk = keySpan(ev, "user_id")
      val (tsMin, tsMax) = {
        val r = ev.agg(min(col("ts")), max(col("ts"))).head()
        (r.getAs[Number](0).longValue(), r.getAs[Number](1).longValue())
      }
      val tsSpan = tsMax - tsMin + 3600L * 1000000000L
      write(replicate(ev, "event_id" -> ek, "user_id" -> uk, "ts" -> tsSpan),
        "events")
    }

    if (!vecsOnly && !evsOnly) {
    val docs = tbl("documents")
    val dk = keySpan(docs, "doc_id")
    write(replicate(docs, "doc_id" -> dk)
      .withColumn("text", when(col("cp") === 0, col("text")).otherwise(
        array_join(flatten(expr(
          "transform(split(text, ' '), (w, i) -> CASE WHEN i % 3 = 2 " +
            "THEN array(w, concat('zq', CAST(cp AS STRING), 'x', " +
            "CAST(i AS STRING))) ELSE array(w) END)")), " ")))
      .withColumn("n_chars", length(col("text")).cast("long")), "documents")
    }

    if (!docsOnly && !evsOnly) {
      val emb = tbl("embeddings")
      val vk = keySpan(emb, "vec_id")
      write(replicate(emb, "vec_id" -> vk)
        .withColumn("embedding", when(col("cp") === 0, col("embedding"))
          .otherwise(expr(
            "transform(embedding, (x, i) -> CAST(x + " +
              "(CAST(pmod(hash(vec_id, i), 1000) AS FLOAT) / 1000.0 - 0.5) " +
              "* 0.2 AS FLOAT))"))), "embeddings")
    }

    println(s"[genscale] done: $copies x $src -> $out")
    spark.stop()
  }
}
