package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions

/** No-silent-interpreter lint for every registered native expression
  * (VERDICT r11 #1/#3): `Md5Hash32`'s generated call never compiled under
  * Janino, and because `UnsafeProjection` falls back to interpreted mode on
  * codegen failure, every md5 hot path ran interpreted while staying
  * value-correct — invisible to both the oracle and the bench gate.
  *
  * Under `spark.sql.codegen.factoryMode=CODEGEN_ONLY` the fallback is
  * disabled and a codegen compile failure THROWS, so this spec fails the
  * build for exactly that regression class. Each registered `graft_*`
  * function runs over a representative row; `CodegenFallback`-based
  * expressions (the xpath family) still pass — their generated code is a
  * reference call by design, which compiles — while a native expression
  * whose emitted Java doesn't resolve breaks loudly.
  *
  * The spec also pins the generated-code cache's size: a repeated pass
  * over more distinct plans than Spark's default cap reuses its classes
  * instead of compiling them again.
  */
class CodegenLintSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  GraftFunctions.register(spark)

  // 3x2 PNG header (valid for graft_image_dims / graft_dhash input shape)
  private val png = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a,
    0, 0, 0, 13, 'I', 'H', 'D', 'R',
    0, 0, 0, 3, 0, 0, 0, 2).map(_.toByte)

  private val row = Seq((
    "some text token",
    "<doc><t>A</t><a href=\"/x\">l</a></doc>",
    Seq(1.0f, 2.0f), Seq(3.0f, 4.0f),
    png
  )).toDF("s", "xml", "va", "vb", "bin")

  /** One representative invocation per registered SQL function — keep in
    * sync with [[GraftFunctions.register]]; the registry-coverage test
    * below fails if a newly registered function has no entry here. */
  private val invocations: Map[String, String] = Map(
    "graft_dot" -> "graft_dot(va, vb)",
    "graft_lookup_sum" ->
      "graft_lookup_sum(array(0L, 2L, 2L), array(10L, 20L, 30L))",
    "graft_lookup_sums" ->
      "graft_lookup_sums(array(0L, 2L, 2L), array(10L, 11L, 20L, 21L, 30L, 31L), 2)",
    "graft_xml_fields" -> "graft_xml_fields(xml, '/doc/t/text()')",
    "graft_xml_labeled_links" -> "graft_xml_labeled_links(xml, '//a', 'href', 'text')",
    "graft_main_content" -> "graft_main_content(xml)",
    "graft_bpe" -> "graft_bpe(s, 'e n')",
    "graft_md5_window" -> "graft_md5_window(s, 1)",
    "graft_deflate_ratio" -> "graft_deflate_ratio(s)",
    "graft_md5_bucket" -> "graft_md5_bucket(s, 4096)",
    "graft_feature_buckets" -> "graft_feature_buckets(array(s, s), 4096)",
    "graft_image_dims" -> "graft_image_dims(bin)",
    "graft_wav_info" -> "graft_wav_info(bin)",
    "graft_mp4_info" -> "graft_mp4_info(bin)",
    "graft_mkv_info" -> "graft_mkv_info(bin)",
    "graft_mkv_audio_info" -> "graft_mkv_audio_info(bin)",
    "graft_mp3_info" -> "graft_mp3_info(bin)",
    "graft_flac_info" -> "graft_flac_info(bin)",
    "graft_ogg_info" -> "graft_ogg_info(bin)",
    "graft_avi_info" -> "graft_avi_info(bin)",
    "graft_pdf_info" -> "graft_pdf_info(bin)",
    "graft_dhash" -> "graft_dhash(bin)")

  test("every registered graft_* function has a lint invocation") {
    val registered = spark.catalog.listFunctions().collect()
      .map(_.name).filter(_.startsWith("graft_")).toSeq
    assert(registered.nonEmpty, "registry listing came back empty")
    val missing = registered.filterNot(invocations.contains)
    assert(missing.isEmpty,
      s"registered functions with no codegen-lint invocation: $missing")
  }

  test("a second pass over 150 distinct whole-stage plans reuses their " +
    "compiled classes (codegen cache sized by GraftSession)") {
    import org.apache.spark.metrics.source.CodegenMetrics
    // the inlined literal makes each plan's generated class distinct
    def pass(): Unit = (1 to 150).foreach { i =>
      spark.range(0, 10, 1, 1).selectExpr(s"id * $i + 1")
        .write.format("noop").mode("overwrite").save()
    }
    pass()
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    pass()
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    // Spark's default cap of 100 evicts every class before its reuse,
    // and the second pass compiles every one of them again
    assert(compiled <= 5, s"second pass compiled $compiled classes")
  }

  test("all graft_* expressions codegen-compile (no interpreter fallback)") {
    val prevFactory = spark.conf.getOption("spark.sql.codegen.factoryMode")
    val prevFallback = spark.conf.getOption("spark.sql.codegen.fallback")
    val prevExcluded = spark.conf.getOption("spark.sql.optimizer.excludedRules")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    // Without this, Project-over-LocalRelation is constant-folded on the
    // driver by ConvertToLocalRelation (interpreted, no codegen at all) and
    // the lint silently tests nothing — verified by re-breaking Md5Hash32.
    spark.conf.set("spark.sql.optimizer.excludedRules",
      "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
    try {
      invocations.toSeq.sortBy(_._1).foreach { case (name, call) =>
        try row.selectExpr(s"$call AS out").collect()
        catch { case e: Throwable =>
          fail(s"$name failed under CODEGEN_ONLY (codegen fallback " +
            s"would have masked this): ${e.getMessage}", e)
        }
      }
    } finally {
      prevFactory.fold(spark.conf.unset("spark.sql.codegen.factoryMode"))(
        spark.conf.set("spark.sql.codegen.factoryMode", _))
      prevFallback.fold(spark.conf.unset("spark.sql.codegen.fallback"))(
        spark.conf.set("spark.sql.codegen.fallback", _))
      prevExcluded.fold(spark.conf.unset("spark.sql.optimizer.excludedRules"))(
        spark.conf.set("spark.sql.optimizer.excludedRules", _))
    }
  }
}
