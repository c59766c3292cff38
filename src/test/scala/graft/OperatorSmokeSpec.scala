package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.graftbridge.DatasetBridge
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Every registered operator runs on sf0.001 under the test session and
  * yields a sane result (value correctness is the DuckDB oracle's job —
  * this catches runtime regressions fast).
  */
class OperatorSmokeSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  // Queries whose correct result may legitimately be empty at sf0.001.
  private val mayBeEmpty =
    Set("rel_anti_join", "dedup_neardup_pairs", "vec_cosine_neardup",
      "dedup_ngram_jaccard", "dedup_clusters")

  // Queries that are intentionally rows-only (no deterministic oracle).
  // empty since round 5: every registered query is oracle-paired (the
  // approx sketches are certified via within-tolerance booleans against
  // exact values, so even they hash-compare)
  private val rowsOnly = Set.empty[String]

  // No sanctioned DecimalType outputs remain: the diag_decimal38
  // canary delivered its driver verdict in round 16 (red hash on
  // identical values) and was retired from the registry in round 17;
  // its teeth live on in tools/check.py's DUALREAD_INCLUDE_CANARY leg.
  private val decimalAllowed = Set.empty[String]

  // DecimalType output columns are NOT hash-portable across the
  // driver's two read paths (r15 judge reproduction: DuckDB .df()
  // renders DECIMAL(38,0) as float64 while pyarrow reading Spark's
  // parquet yields decimal.Decimal — identical values, different
  // canonical form, red hash). Wide integers travel as canonical
  // decimal VARCHAR (the cdc_u128_sum discipline, SURVEY §1.2).
  private def decimalPaths(dt: org.apache.spark.sql.types.DataType,
      at: String): Seq[String] = dt match {
    case _: org.apache.spark.sql.types.DecimalType => Seq(at)
    case a: org.apache.spark.sql.types.ArrayType =>
      decimalPaths(a.elementType, s"$at[]")
    case m: org.apache.spark.sql.types.MapType =>
      decimalPaths(m.keyType, s"$at.key") ++
        decimalPaths(m.valueType, s"$at.value")
    case st: org.apache.spark.sql.types.StructType =>
      st.fields.toSeq.flatMap(f => decimalPaths(f.dataType, s"$at.${f.name}"))
    case _ => Nil
  }

  // Single-partition windows (WindowExec with an empty partitionSpec)
  // move every row of their input into ONE task — the "No Partition
  // Defined for Window operation!" warning. Each is listed here by
  // query and window output names; a new one, or one that goes, must
  // change this list (ROADMAP carries it).
  private val singlePartitionWindowsAllowed = Set(
    "cdc_gap_audit: _we0",
    "rel_gap_fill: _we0",
    "text_bpe_merge2: _we0",
    "text_bpe_pairs: _we0",
    "text_heavy_hitters: total",
    "text_vocab_growth: cum_tokens,cum_vocab",
    "text_vocab_growth: pn,pv",
    "text_zipf_fit: rk",
    "train_curriculum: cum_tokens",
    "train_interleave: position",
    "train_interleave: total_tokens,n_sources",
    "train_mixture: total_tokens,n_sources",
    "train_weighted_sample: _we0",
    "vec_pq_rerank: _we0",
    "vec_recall_curve: rk")

  /** "w1,w2" per WindowExec without partitionSpec under `p`, through
    * adaptive stages, cached relations and subqueries.
    */
  private def singlePartitionWindows(p: SparkPlan): Seq[String] = {
    val here = p match {
      case w: WindowExec if w.partitionSpec.isEmpty =>
        Seq(w.windowExpression.map(_.name).mkString(","))
      case _ => Nil
    }
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
      case _ => p.children
    }
    here ++ (inner ++ p.subqueries).flatMap(singlePartitionWindows)
  }

  // every SQL execution the session runs (staging jobs included) hears
  // of its plan through the listener bus
  private val windowsSeen = new ConcurrentLinkedQueue[String]()
  private lazy val windowAudit = {
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        singlePartitionWindows(qe.executedPlan).foreach(windowsSeen.add)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    l
  }
  private val windowsByQuery =
    scala.collection.concurrent.TrieMap.empty[String, Set[String]]

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name runs on sf0.001") {
      windowAudit
      DatasetBridge.drainListenerBus(spark)
      windowsSeen.clear()
      val df = fn(spark, sf)
      if (!decimalAllowed(name)) {
        val bad = df.schema.fields.toSeq
          .flatMap(f => decimalPaths(f.dataType, f.name))
        assert(bad.isEmpty,
          s"$name has DecimalType output column(s) ${bad.mkString(", ")} — " +
            "not hash-portable at the driver; emit wide integers as " +
            "canonical decimal VARCHAR (cdc_u128_sum discipline)")
      }
      // collect, not count: count's column pruning drops windows whose
      // outputs the count never reads, and the audit below must see the
      // plan the query's consumers run
      val n = df.collect().length
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned no rows")
      DatasetBridge.drainListenerBus(spark)
      windowsByQuery(name) = windowsSeen.asScala.map(w => s"$name: $w").toSet
    }
  }

  test("single-partition windows are exactly the listed ones") {
    assume(windowsByQuery.size == SparkEntry.queries.size,
      "needs every query's run above")
    spark.listenerManager.unregister(windowAudit)
    val found = windowsByQuery.values.flatten.toSet
    assert(found -- singlePartitionWindowsAllowed === Set.empty[String],
      "new single-partition windows")
    assert(singlePartitionWindowsAllowed -- found === Set.empty[String],
      "listed single-partition windows that no longer occur")
  }

  test("every query has an oracle or is knowingly rows-only") {
    val missing =
      SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet -- rowsOnly
    // keep this list tiny and intentional
    assert(missing.isEmpty, s"queries without oracle SQL: $missing")
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
