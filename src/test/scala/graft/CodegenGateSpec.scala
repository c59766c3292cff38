package graft

import org.scalatest.funsuite.AnyFunSuite

/** Wires the graft.tools.CodegenCheck audit into `sbt test` for a
  * representative subset: the dot-product-heavy vector family (the
  * queries that blew janino's 64 KB method limit in round 1) plus the
  * widest JSON envelope. With `codegen.fallback=false` a whole-stage
  * compile failure aborts, and with `factoryMode=CODEGEN_ONLY` an
  * expression-level (UnsafeProjection etc.) failure aborts too — so a
  * silent de-optimization to interpreted mode fails the build instead
  * of resurfacing as a 10× regression at scale.
  */
class CodegenGateSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private val names = Seq(
    "vec_knn_bruteforce", "vec_knn_multi", "vec_lsh_buckets", "vec_lsh_ann",
    "vec_ivf_lists", "vec_ivf_ann", "vec_ivf_multiprobe", "vec_cosine_neardup",
    "vec_quantize", "cdc_full_event_json",
    // round-5 additions: staged fan-outs + the sketch UDAF path
    "dedup_decontaminate", "text_heavy_hitters", "train_packing",
    "text_repetition")

  test("codegen-heavy queries run with all codegen fallbacks disabled") {
    val failed = tools.CodegenCheck.failures(spark, sf, names)
    assert(failed.isEmpty, failed.mkString("\n"))
  }
}
