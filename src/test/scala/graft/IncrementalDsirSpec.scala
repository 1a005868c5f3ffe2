package graft

import org.apache.spark.sql.functions._
import graft.ext.{Dsir, IncrementalDsir}

/** Incrementally-maintained DSIR model (round 13): fold ≡ rebuild
  * bit-for-bit whatever the batch split, replay and compaction are
  * no-ops on the probe, retraction converges to the
  * rebuild-without-the-deleted-docs, scoring against the maintained
  * model equals the one-shot scorer, and the streaming face folds
  * micro-batches to the same model.
  */
class IncrementalDsirSpec extends SparkSpec {
  import spark.implicits._

  private val tgt = col("lang") === "en"

  private def corpus = Seq(
    (1L, "spark sql fast query engine", "en"),
    (2L, "spark shuffle partition join", "en"),
    (3L, "lorem ipsum dolor sit amet", "xx"),
    (4L, "ipsum lorem query dolor", "xx"),
    (5L, "spark fast lorem mixed bag", "xx"),
    (6L, "one two three four five six", "de")
  ).toDF("doc_id", "text", "lang")

  private def tmpState() = {
    val root = java.nio.file.Files.createTempDirectory("dsirinc")
    (root, root.toString + "/state")
  }
  private def rm(root: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
      .foreach(java.nio.file.Files.deleteIfExists(_))
  }

  private def modelSet(df: org.apache.spark.sql.DataFrame) =
    df.select("bucket", "n_raw", "n_target")
      .as[(Long, Long, Long)].collect().toSet

  test("fold == one-shot model for any batch split; replay rewrites " +
    "instead of double-counting") {
    val oneShot = modelSet(
      Dsir.modelCounts(corpus, "text", "doc_id", tgt))
    for (splits <- Seq(Seq(Seq(1L, 2L, 3L), Seq(4L, 5L, 6L)),
      Seq(Seq(6L), Seq(4L, 5L), Seq(1L, 2L, 3L)))) {
      val (root, dir) = tmpState()
      try {
        splits.zipWithIndex.foreach { case (ids, i) =>
          IncrementalDsir.fold(spark, dir,
            corpus.filter(col("doc_id").isin(ids: _*)), "text", "doc_id",
            tgt, batchNo = i + 1L)
        }
        assert(modelSet(IncrementalDsir.modelProbe(spark, dir)) == oneShot)
        // replay the last batch — LWW rewrite, not double-count
        IncrementalDsir.fold(spark, dir,
          corpus.filter(col("doc_id").isin(splits.last: _*)), "text",
          "doc_id", tgt, batchNo = splits.size.toLong)
        assert(modelSet(IncrementalDsir.modelProbe(spark, dir)) == oneShot)
      } finally rm(root)
    }
  }

  test("compaction preserves the probe, sets the watermark, and makes " +
    "a below-watermark replay a no-op") {
    val (root, dir) = tmpState()
    try {
      IncrementalDsir.fold(spark, dir,
        corpus.filter(col("doc_id") <= 3L), "text", "doc_id", tgt, 1L)
      IncrementalDsir.fold(spark, dir,
        corpus.filter(col("doc_id") > 3L), "text", "doc_id", tgt, 2L)
      val before = modelSet(IncrementalDsir.modelProbe(spark, dir))
      val wm = IncrementalDsir.compact(spark, dir)
      assert(wm == 2L)
      assert(modelSet(IncrementalDsir.modelProbe(spark, dir)) == before)
      IncrementalDsir.fold(spark, dir, corpus, "text", "doc_id", tgt, 2L)
      assert(modelSet(IncrementalDsir.modelProbe(spark, dir)) == before,
        "a replay at the watermark must be a no-op")
    } finally rm(root)
  }

  test("retraction converges to the rebuild-without-the-deleted-docs, " +
    "is retry-idempotent, and is rejected at or below the baseline") {
    val (root, dir) = tmpState()
    try {
      IncrementalDsir.fold(spark, dir, corpus, "text", "doc_id", tgt, 1L)
      val gone = corpus.filter(col("doc_id").isin(3L, 6L))
      IncrementalDsir.retractDocs(spark, dir, gone, "text", "doc_id",
        tgt, retractVer = 5L)
      val want = modelSet(Dsir.modelCounts(
        corpus.filter(!col("doc_id").isin(3L, 6L)), "text", "doc_id", tgt))
      assert(modelSet(IncrementalDsir.modelProbe(spark, dir)) == want)
      // a retried retraction LWW-rewrites its own negative deltas
      IncrementalDsir.retractDocs(spark, dir, gone, "text", "doc_id",
        tgt, retractVer = 5L)
      assert(modelSet(IncrementalDsir.modelProbe(spark, dir)) == want)
      // after compaction the retraction is in the baseline: re-issuing
      // at or below the baseline version must fail loudly
      IncrementalDsir.compact(spark, dir)
      assert(modelSet(IncrementalDsir.modelProbe(spark, dir)) == want)
      intercept[IllegalArgumentException] {
        IncrementalDsir.retractDocs(spark, dir, gone, "text", "doc_id",
          tgt, retractVer = 5L)
      }
    } finally rm(root)
  }

  test("weightsProbe against the maintained model == the one-shot " +
    "scorer; unseen grams take the smoothed default λ") {
    val (root, dir) = tmpState()
    try {
      IncrementalDsir.fold(spark, dir,
        corpus.filter(col("doc_id") <= 2L), "text", "doc_id", tgt, 1L)
      IncrementalDsir.fold(spark, dir,
        corpus.filter(col("doc_id") > 2L), "text", "doc_id", tgt, 2L)
      val got = IncrementalDsir.weightsProbe(spark, dir, corpus,
          "text", "doc_id")
        .orderBy("doc_id").as[(Long, Long, Long)].collect().toSeq
      val want = Dsir.logWeights(corpus, "text", "doc_id", tgt)
        .orderBy("doc_id").as[(Long, Long, Long)].collect().toSeq
      assert(got == want)
      // a NEW doc with never-folded grams scores through the default:
      // all its grams are unseen, so score = gram_n · unseenLambda
      val (tr, tt) = IncrementalDsir.modelProbe(spark, dir)
        .agg(sum("n_raw"), sum("n_target")).as[(Long, Long)].head()
      val lam0 = Dsir.unseenLambda(tr, tt)
      val novel = Seq((99L, "zzzq wwwk vvvj")).toDF("doc_id", "text")
      val (gn, sc) = IncrementalDsir.weightsProbe(spark, dir, novel,
          "text", "doc_id",
          )
        .select("gram_n", "score_mn").as[(Long, Long)].head()
      assert(gn == 5L)
      // every gram of the novel doc is absent from the model, so the
      // probe's built-in default-λ path is fully exercised: the score
      // must be the smoothed zero-count log-ratio per gram, NOT 0 (a
      // hardcoded 0 biased novel docs toward the raw corpus — r13
      // advisory)
      assert(sc == 5L * lam0,
        s"weightsProbe must smooth unseen grams: got $sc, want ${5L * lam0}")
      // and the explicit-λ seam agrees with what the probe now does
      val scored = Dsir.scoreAgainst(
        Dsir.lambdaFromCounts(IncrementalDsir.modelProbe(spark, dir)),
        novel, "text", "doc_id", unseenLam = lit(lam0))
        .select("score_mn").as[Long].head()
      assert(scored == sc)
    } finally rm(root)
  }

  test("streaming fold == batch fold over micro-batched crawl files") {
    val (root, dir) = tmpState()
    val srcDir = root.toString + "/src"
    val ckpt = root.toString + "/ckpt"
    try {
      corpus.filter(col("doc_id") <= 3L).coalesce(1)
        .write.parquet(srcDir + "/b1")
      corpus.filter(col("doc_id") > 3L).coalesce(1)
        .write.parquet(srcDir + "/b2")
      val stream = spark.readStream
        .schema("doc_id long, text string, lang string")
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir + "/*")
      graft.util.StateFold.stream(stream, ckpt)((s, b, v) =>
          IncrementalDsir.fold(s, dir, b, "text", "doc_id", tgt, v))
        .awaitTermination(120000)
      assert(modelSet(IncrementalDsir.modelProbe(spark, dir)) ==
        modelSet(Dsir.modelCounts(corpus, "text", "doc_id", tgt)))
    } finally rm(root)
  }
}
