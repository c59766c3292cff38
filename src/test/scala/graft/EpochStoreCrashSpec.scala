package graft

import java.io.File
import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{EpochStore, IncrementalDedupStream, PipelineStream}

/** A crash at any write boundary inside an epoch replays to the same
  * output and store. Each case runs the epochs once, uninterrupted,
  * keeping a copy of the disk state before every epoch. For a crash
  * epoch it then rebuilds, from the copies taken before and after
  * that epoch, the state a crash leaves after each write: the output,
  * the store's epoch, the delete of covered bases, the generation. The
  * stream replays the epoch from there and runs on to the end; output
  * and store must equal the uninterrupted run's.
  */
class EpochStoreCrashSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private val schema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  private def frame(rows: Seq[(Long, String)]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      rows.map { case (id, t) => Row(Long.box(id), t) }.asJava, schema)
  }

  private def copyTree(from: Path, to: Path): Unit =
    if (Files.exists(from)) {
      val walk = Files.walk(from)
      try walk.forEach { p =>
        val dst = to.resolve(from.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(dst)
        else Files.copy(p, dst, StandardCopyOption.REPLACE_EXISTING)
      } finally walk.close()
    }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(q => Files.delete(q))
      finally walk.close()
    }

  private def partNames(dir: Path): Set[String] =
    Option(dir.toFile.listFiles()).toSeq.flatten.map(_.getName)
      .filter(_.startsWith("batch_id=")).toSet

  /** A write inside an epoch, replayed onto a copy of the state before
    * it: `Add` brings a partition over from the state after the epoch,
    * `DropCovered` deletes the partitions the epoch deleted.
    */
  private sealed trait Step
  private case class Add(rel: String, part: String) extends Step
  private case class DropCovered(rel: String) extends Step

  private def applyStep(step: Step, after: Path, crash: Path): Unit =
    step match {
      case Add(rel, part) =>
        copyTree(after.resolve(rel).resolve(part),
          crash.resolve(rel).resolve(part))
      case DropCovered(rel) =>
        val gone = partNames(crash.resolve(rel)) --
          partNames(after.resolve(rel))
        gone.foreach(p => deleteTree(crash.resolve(rel).resolve(p)))
    }

  /** Every partition under the state's tree. */
  private def layout(root: Path, rels: Seq[String]): Set[String] =
    rels.flatMap(r => partNames(root.resolve(r)).map(p => s"$r/$p")).toSet

  /** Run `epochs` over a fresh tree uninterrupted. Then, for each
    * `(b, boundary)` in `crashes`, rebuild the state a crash in epoch b
    * leaves after the writes of `steps(b)` up to `boundary` (each
    * boundary lists the writes done since the previous one), replay
    * epochs b.. from it and compare `summary` with the uninterrupted
    * run's. `rels` are the trees' partitioned directories.
    */
  private def crashMatrix[T](name: String, epochs: Int, rels: Seq[String],
      steps: Int => Seq[(String, Seq[Step])], crashes: Seq[(Int, String)])(
      runEpoch: (Int, String) => Unit)(summary: String => T): Unit = {
    val base = Files.createTempDirectory(s"crash-$name")
    val run = base.resolve("run")
    Files.createDirectories(run)
    // the uninterrupted run; before(b) is the state epoch b starts from
    def before(b: Int) = base.resolve(s"before-$b")
    (0 until epochs).foreach { b =>
      copyTree(run, before(b))
      runEpoch(b, run.toString)
    }
    val expected = summary(run.toString)
    for ((b, boundary) <- crashes) {
      val after = if (b + 1 < epochs) before(b + 1) else run
      val crash = base.resolve(s"crash-$b-$boundary")
      copyTree(before(b), crash)
      val upTo = steps(b).map(_._1).indexOf(boundary)
      assert(upTo >= 0, s"no $boundary write")
      def apply(writes: Seq[Step]) = writes.foreach(applyStep(_, after, crash))
      steps(b).take(upTo).foreach { case (_, writes) => apply(writes) }
      val previous = layout(crash, rels)
      apply(steps(b)(upTo)._2)
      assert(layout(crash, rels) != previous,
        s"epoch $b has no $boundary write to crash after")
      (b until epochs).foreach(e => runEpoch(e, crash.toString))
      assert(summary(crash.toString) == expected,
        s"crash in epoch $b after the $boundary write, replayed")
    }
    deleteTree(base)
  }

  test("Set store (incremental dedup): a crash after any write of an " +
      "epoch replays to the uninterrupted output and store") {
    val every = 3
    def batch(b: Int) = frame(Seq(
      (b * 10L, s"novel-$b"),
      (b * 10L + 1, "dup-of-epoch0"),
      (b * 10L + 2, s"novel-$b"), // within-batch dup
      // always novel: a replay that saw its own epoch's hashes would
      // keep only this row and overwrite the epoch's output with it
      (b * 10L + 3, null)))
    val store = "store"
    def steps(b: Int) = Seq(
      "output" -> Seq(Add("out", s"batch_id=$b")),
      "store epoch" -> Seq(Add(store, s"batch_id=$b")),
      "delete" -> Seq(DropCovered(store)),
      "generation" -> Seq(Add(store, s"batch_id=-$b")))
    // epoch 4 deletes the bases generation -3 covers; epoch 6 writes
    // generation -6 and is the last, so its crashes replay one epoch
    crashMatrix("dedup", epochs = 7, Seq("out", store), steps,
        crashes = Seq(6 -> "output", 6 -> "store epoch", 4 -> "delete",
          6 -> "generation")) { (b, root) =>
      IncrementalDedupStream.processBatch(batch(b), b.toLong, s"$root/out",
        s"$root/$store", compactEvery = every)
    } { root =>
      val out = spark.read.parquet(s"$root/out")
        .select("batch_id", "doc_id", "content_md5").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getString(2))).toSeq.sorted
      val hashes = spark.read.parquet(s"$root/$store").select("h")
        .collect().map(_.getString(0)).toSet
      (out, hashes)
    }
  }

  test("Sum store (pipeline shard tokens): a crash after any write of " +
      "an epoch replays to the uninterrupted output and stores") {
    // compacting every epoch, epoch 2 both deletes base 0 (covered by
    // generation -1) and writes generation -2: one epoch holds every
    // boundary
    val every = 1
    // curation-passing filler with a doc-unique token every 3rd
    // position, so no doc near-dups another and every doc reaches
    // packing; over PipePackTokens (2048) tokens, so every train doc
    // moves its shard's later docs to the next bin and a miscounted
    // shard total shows in `bin`. Doc 4 of every epoch carries doc 0's
    // text (doc 0 is held out as eval), so from epoch 1 on it is an
    // exact duplicate the md5 store must drop
    def text(i: Long): String = {
      def tag(k: Long) = ('a' + (i % 26)).toChar.toString +
        ('a' + ((i / 26 + k) % 26)).toChar + ('a' + (k % 26)).toChar
      Seq.fill(100)(s"the ${tag(1)} road and the ${tag(2)} mill by the " +
        s"${tag(3)} gate near the ${tag(4)} stream in the ${tag(5)} " +
        s"light of ${tag(6)} day").mkString(" ")
    }
    def batch(b: Int) = frame(
      (0L until 4L).map(j => (b * 100L + j, text(b * 100L + j))) :+
        ((b * 100L + 4, text(0L))))
    val eph = graft.operators.TextQueries
      .passageHashes(frame(Seq((0L, "alpha beta gamma delta epsilon " +
        "zeta eta theta iota kappa lambda mu"))), stride = 1)
      .select(col("ph").as("eph")).distinct()
    val shard = "store/shard"
    val stores = Seq("store/md5", "store/ph", shard)
    // the output, every store's epoch, the md5 and passage stores'
    // compactions with the shard store's delete, the shard store's
    // generation
    def steps(b: Int) = Seq(
      "output" -> Seq(Add("out/docs", s"batch_id=$b")),
      "store epochs" -> stores.map(Add(_, s"batch_id=$b")),
      "delete" -> (stores.filter(_ != shard).flatMap(s =>
        Seq(DropCovered(s), Add(s, s"batch_id=-$b"))) :+ DropCovered(shard)),
      "generation" -> Seq(Add(shard, s"batch_id=-$b")))
    crashMatrix("pipeline", epochs = 3, "out/docs" +: stores, steps,
        crashes = steps(2).map(2 -> _._1)) { (b, root) =>
      PipelineStream.processBatch(batch(b), b.toLong, eph, s"$root/out",
        s"$root/store", compactEvery = every)
    } { root =>
      val out = spark.read.parquet(s"$root/out/docs")
        .select("doc_id", "exact_kept", "near_dup", "train", "shard", "bin")
        .collect().map(_.toString).toSeq.sorted
      def keys(s: String) = spark.read.parquet(s"$root/store/$s")
        .select(col(if (s == "md5") "h" else "ph").cast("string"))
        .collect().map(_.getString(0)).toSet
      // the per-shard totals a reader sees: every generation plus the
      // bases at or past the newest generation boundary
      val parts = partNames(new File(s"$root/$shard").toPath)
        .map(_.stripPrefix("batch_id=").toLong)
      val cov = parts.filter(_ < 0).map(-_).foldLeft(0L)(math.max)
      val sums = spark.read.parquet(s"$root/$shard")
        .filter(col("batch_id") < 0 || col("batch_id") >= cov)
        .groupBy("shard").agg(sum("tok").as("tok"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      (out, keys("md5"), keys("ph"), sums)
    }
  }

  test("an epoch overwrite replaces the whole epoch, also when the new " +
      "rows are empty or cover other partitions") {
    val dir = Files.createTempDirectory("epoch-overwrite").toString
    val sess = spark; import sess.implicits._
    def plant(batchId: Long, hp: Long, h: String): Unit =
      Seq(h).toDF("h").write.mode("append")
        .parquet(s"$dir/batch_id=$batchId/hp=$hp")
    def contents = spark.read.parquet(dir)
      .select(col("batch_id").cast("long"), col("hp").cast("long"), col("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    plant(5, 1, "kept")
    plant(6, 7, "stale")
    EpochStore.overwrite(Seq.empty[(String, Long)].toDF("h", "hp"), dir, 6,
      "hp")
    assert(contents == Set((5L, 1L, "kept")))
    plant(6, 7, "stale")
    EpochStore.overwrite(Seq(("new", 3L)).toDF("h", "hp"), dir, 6, "hp")
    assert(contents == Set((5L, 1L, "kept"), (6L, 3L, "new")))
    deleteTree(java.nio.file.Paths.get(dir))
  }
}

