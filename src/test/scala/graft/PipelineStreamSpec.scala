package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.PipelineStream

/** The composed curation pipeline's streaming twin (PipelineStream)
  * must be (1) exactly-once across a mid-stream restart — identical
  * per-doc verdicts and stage card whether the corpus arrives in one
  * session or across a stop/resume; (2) batch-identical to
  * `train_pipeline_e2e`'s card on every stage whose semantics are
  * arrival-order-independent (00_raw, 10_curated, 20_exact under
  * doc_id-ordered arrival); (3) a superset on the prior-only near-dup
  * stages (the stream keeps the earliest representative of a mutual
  * near-dup cluster where the symmetric batch screen drops the whole
  * cluster — dedup_incremental_near's documented ingest semantics);
  * and (4) equal to the batch GLOBAL packing fold — the per-shard
  * token totals carried in the shard store must make the cross-epoch
  * bin assignment indistinguishable from one window over everything.
  */
class PipelineStreamSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  private val schema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  /** Stage the sf documents doc_id-ordered as `total` equal slices,
    * files [lo, hi); mtimes fixed by name so the file source's arrival
    * order is the doc_id order (the ordered-ingest contract).
    */
  private def stageDocs(in: String, lo: Int, hi: Int, total: Int): Unit = {
    val rows = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").orderBy("doc_id").collect().toSeq
    val per = math.ceil(rows.length / total.toDouble).toInt
    for (i <- lo until hi)
      StreamFiles.writeOneFile(spark, in, f"b$i%02d.parquet",
        rows.slice(i * per, math.min((i + 1) * per, rows.length)), schema)
    Stage.orderStagedFiles(in)
  }

  private def runStream(root: String): Unit = {
    val docs = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$root/in")
    val q = PipelineStream.start(spark, docs, sfDir,
      s"$root/out", s"$root/store", s"$root/chk")
    try q.processAllAvailable() finally q.stop()
  }

  private def verdicts(root: String): Map[Long, Row] =
    spark.read.parquet(s"$root/out/docs")
      .select("doc_id", "n_tokens", "curated", "exact_kept", "near_dup",
        "contaminated", "train", "shard", "bin")
      .collect().map(r => r.getLong(0) -> r).toMap

  private def cardMap(df: org.apache.spark.sql.DataFrame)
      : Map[String, (Long, Long, Long)] =
    df.collect().map(r => r.getString(0) ->
      ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap

  test("restart-invariant and batch-identical where semantics coincide") {
    val rootA = Files.createTempDirectory("pipe-restart").toString
    val rootB = Files.createTempDirectory("pipe-control").toString
    new java.io.File(s"$rootA/in").mkdirs()
    new java.io.File(s"$rootB/in").mkdirs()

    // run A: half the corpus, graceful stop, the rest, NEW query on the
    // same checkpoint + stores — the production stop/resume shape
    stageDocs(s"$rootA/in", 0, 4, 8)
    runStream(rootA)
    stageDocs(s"$rootA/in", 4, 8, 8)
    runStream(rootA)
    // run B: the whole corpus in one uninterrupted session
    stageDocs(s"$rootB/in", 0, 8, 8)
    runStream(rootB)

    val vA = verdicts(rootA)
    val vB = verdicts(rootB)
    assert(vA.size == 500 && vB.size == 500,
      s"every doc gets exactly one verdict: A=${vA.size} B=${vB.size}")
    assert(vA.keySet == vB.keySet)
    vA.keySet.foreach { id =>
      assert(vA(id) == vB(id),
        s"doc $id verdict differs across restart: ${vA(id)} vs ${vB(id)}")
    }

    val streamCard = cardMap(PipelineStream.card(spark, s"$rootA/out"))
    val batchCard = cardMap(
      graft.operators.TextQueries.trainPipeline(spark, sfDir))
    assert(streamCard.keySet == batchCard.keySet)
    // arrival-order-independent stages: batch-identical
    Seq("00_raw", "10_curated", "20_exact").foreach { st =>
      assert(streamCard(st) == batchCard(st),
        s"$st diverged: stream=${streamCard(st)} batch=${batchCard(st)}")
    }
    // prior-only near-dup stages: the stream keeps a superset (the
    // earliest representative of each mutual cluster survives)
    Seq("30_near_kept", "40_clean", "50_train", "60_sharded", "70_packed")
      .foreach { st =>
        assert(streamCard(st)._1 >= batchCard(st)._1 &&
          streamCard(st)._2 >= batchCard(st)._2,
          s"$st must keep at least the batch set: " +
            s"stream=${streamCard(st)} batch=${batchCard(st)}")
      }
    // funnel monotonicity — each stage is a filter of the previous
    val order = Seq("00_raw", "10_curated", "20_exact", "30_near_kept",
      "40_clean", "50_train")
    order.sliding(2).foreach { case Seq(a, b) =>
      assert(streamCard(a)._1 >= streamCard(b)._1, s"$a -> $b grew")
    }

    // the cross-epoch packing fold must equal ONE global window over
    // the accepted set: recompute every train doc's bin from the final
    // verdicts and compare with what the per-epoch store fold assigned
    import org.apache.spark.sql.expressions.Window
    val pd = spark.read.parquet(s"$rootA/out/docs")
    val expected = pd.filter(col("train"))
      .withColumn("expected_bin",
        floor(coalesce(sum(col("n_tokens")).over(
          Window.partitionBy("shard").orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
          / lit(graft.operators.TextQueries.PipePackTokens)).cast("long"))
    val mismatch = expected.filter(col("bin") =!= col("expected_bin")).count()
    assert(mismatch == 0L,
      s"$mismatch train docs packed differently than the global fold")
    assert(expected.count() > 0, "fixture produced no train docs")
  }

  test("stage semantics and replay idempotence on a crafted corpus") {
    val root = Files.createTempDirectory("pipe-replay").toString
    val out = s"$root/out"; val store = s"$root/store"

    // every text passes the curation gates: lowercase words, >12%
    // stopwords, healthy word length — the spec asserts that below so
    // a docFlags drift fails loudly instead of vacuously passing
    val common = "the quick brown fox and the lazy dog jumps over " +
      "the old wall in morning light"
    val mutual = common.replace("morning light", "morning shade")
    val long40 = ("the story of the river and the stone begins in " +
      "a valley of tall grass and slow water where the path turns " +
      "to the east and the light is soft over the low hills and " +
      "every morning opens the same way").trim
    val contained = long40.split(" ").take(16).mkString(" ")
    val evalText = "alpha beta gamma delta epsilon zeta eta theta " +
      "iota kappa lambda mu"
    val contam = "the tale is told and alpha beta gamma delta epsilon " +
      "zeta eta theta close it out in the end"
    val unique = "the garden grows and the gate is open to the road " +
      "in the cool of evening air"

    import scala.jdk.CollectionConverters._
    def frame(rows: Seq[(Long, String)]) = spark.createDataFrame(
      rows.map { case (id, t) => Row(id, t) }.asJava, schema)
    val evalSet = graft.operators.TextQueries
      .passageHashes(frame(Seq((0L, evalText))), stride = 1)
      .select(col("ph").as("eph")).distinct()

    // batch 0: the two "keep" anchors; batch 1: every drop/flag case
    val b0 = frame(Seq((10L, common), (30L, long40)))
    val b1 = frame(Seq(
      (20L, mutual), // mutual near-dup of 10 -> prior-only drops 20 only
      (40L, contained), // containment: near-dup of 30; 30 stays kept
      (50L, common), // exact dup of 10 across epochs -> dropped at 20_exact
      (60L, unique), // novel and clean -> kept
      (70L, contam))) // kept but contaminated (shares eval passages)
    PipelineStream.processBatch(b0, 0L, evalSet, out, store)
    PipelineStream.processBatch(b1, 1L, evalSet, out, store)

    def v(): Map[Long, (Boolean, Boolean, Boolean, Boolean)] =
      spark.read.parquet(s"$out/docs")
        .select("doc_id", "curated", "exact_kept", "near_dup",
          "contaminated")
        .collect()
        .map(r => r.getLong(0) ->
          ((r.getBoolean(1), r.getBoolean(2), r.getBoolean(3),
            r.getBoolean(4)))).toMap
    val first = v()
    assert(first.keySet == Set(10L, 20L, 30L, 40L, 50L, 60L, 70L))
    first.foreach { case (id, (curated, _, _, _)) =>
      assert(curated, s"fixture doc $id failed the curation gates")
    }
    // (exact_kept, near_dup, contaminated)
    assert(first(10L) == ((true, true, false, false)), s"anchor: ${first(10L)}")
    assert(first(30L) == ((true, true, false, false)))
    assert(first(20L)._2 && first(20L)._3,
      s"mutual near-dup must drop the LATER doc only: ${first(20L)}")
    assert(first(40L)._2 && first(40L)._3,
      s"contained doc must near-dup against its earlier source: ${first(40L)}")
    assert(!first(50L)._2, "cross-epoch exact dup must not survive 20_exact")
    assert(first(60L) == ((true, true, false, false)))
    assert(first(70L)._2 && !first(70L)._3 && first(70L)._4,
      s"eval-overlapping doc is kept but contaminated: ${first(70L)}")

    // replay epoch 1 (crash between sink write and commit): identical
    // verdicts, store sizes unchanged — the epoch reads batch_id < 1
    // only and overwrites its own partitions
    val md5N = spark.read.parquet(s"$store/md5").count()
    val phN = spark.read.parquet(s"$store/ph").count()
    PipelineStream.processBatch(b1, 1L, evalSet, out, store)
    assert(v() == first, "replayed epoch changed verdicts")
    assert(spark.read.parquet(s"$store/md5").count() == md5N)
    assert(spark.read.parquet(s"$store/ph").count() == phN)
  }

  test("shard-store sum compaction keeps the packing fold equal to one " +
      "global window, including across a compacting-epoch replay") {
    val root = Files.createTempDirectory("pipe-sumfold").toString
    val out = s"$root/out"; val store = s"$root/store"

    // curation-passing filler with a doc-unique token every 3rd
    // position (the GenScale splice trick): every 8-token passage
    // window contains a unique token, so no doc near-dups another and
    // the whole accepted set reaches the packing stage. Over
    // PipePackTokens (2048) tokens per doc, so every train doc moves
    // its shard's later docs to the next bin and a miscounted shard
    // total shows in `bin`
    def text(i: Long): String = {
      def tag(k: Long) = ('a' + (i % 26)).toChar.toString +
        ('a' + ((i / 26 + k) % 26)).toChar + ('a' + (k % 26)).toChar
      Seq.fill(100)(s"the ${tag(1)} road and the ${tag(2)} mill by the " +
        s"${tag(3)} gate near the ${tag(4)} stream in the ${tag(5)} " +
        s"light of ${tag(6)} day").mkString(" ")
    }
    import scala.jdk.CollectionConverters._
    def frame(rows: Seq[(Long, String)]) = spark.createDataFrame(
      rows.map { case (id, t) => Row(id, t) }.asJava, schema)
    val evalSet = frame(Seq((0L, "alpha beta gamma delta epsilon zeta " +
      "eta theta iota kappa lambda mu")))
    val eph = graft.operators.TextQueries
      .passageHashes(evalSet, stride = 1)
      .select(col("ph").as("eph")).distinct()

    // 8 epochs × 4 docs, compactEvery = 3: two sum-folds (-3, -6) plus
    // a base tail — the coverage-aware read must count every committed
    // epoch exactly once
    (0L to 7L).foreach { b =>
      val docs = (0L until 4L).map(j => (b * 100 + j, text(b * 100 + j)))
      PipelineStream.processBatch(frame(docs), b, eph, out, store,
        compactEvery = 3)
    }
    // replay the last compacting epoch (6): gen -6 exists, its inputs
    // not yet deleted — the coverage-aware read must not double-count
    val b6 = (0L until 4L).map(j => (600L + j, text(600L + j)))
    PipelineStream.processBatch(frame(b6), 6L, eph, out, store,
      compactEvery = 3)

    import org.apache.spark.sql.expressions.Window
    val pd = spark.read.parquet(s"$out/docs")
    val expected = pd.filter(col("train"))
      .withColumn("expected_bin",
        floor(coalesce(sum(col("n_tokens")).over(
          Window.partitionBy("shard").orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
          / lit(graft.operators.TextQueries.PipePackTokens)).cast("long"))
    assert(expected.count() > 0, "fixture produced no train docs")
    assert(expected.select("bin").distinct().count() >= 2,
      "every doc packed into bin 0: the fold's totals are never read")
    assert(expected.filter(col("bin") =!= col("expected_bin")).count() == 0,
      "sum-folded shard store diverged from the global packing fold")
    // the shard store is actually folded: generations present, early
    // base epochs retired
    val shardParts = new java.io.File(s"$store/shard").listFiles()
      .filter(_.getName.startsWith("batch_id="))
      .map(_.getName.stripPrefix("batch_id=").toLong).toSeq.sorted
    assert(shardParts.count(_ < 0) >= 2,
      s"expected sum-fold generations, got $shardParts")
    assert(!shardParts.exists(p => p >= 0 && p < 3),
      s"gen -3 base inputs leaked: $shardParts")
  }
}
