package graft

import org.apache.spark.sql.functions._
import graft.ext.{IncrementalSketch, Sketches}

/** The incremental CMS fold: cell/vocab deltas are associative, so the
  * folded probe must be BIT-equal to the one-shot sketch over the
  * merged corpus — in any split, with replays, through the stream.
  */
class IncrementalSketchSpec extends SparkSpec {
  import spark.implicits._

  private def tmpState(): (java.nio.file.Path, String) = {
    val root = java.nio.file.Files.createTempDirectory("cms_spec")
    (root, root.toString + "/state")
  }

  private def rm(root: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
      .foreach(java.nio.file.Files.deleteIfExists(_))
  }

  private def probe(dir: String): Seq[(String, Long, Long, Long)] =
    IncrementalSketch.cmsProbe(spark, dir, depth = 4, width = 64, topK = 50)
      .orderBy("term").as[(String, Long, Long, Long)].collect().toSeq

  test("three folded batches == one-shot cmsTermCounts on the real corpus") {
    val docs = graft.source.Tables.documents(spark, sf)
      .select("doc_id", "text")
    val hi = docs.agg(max("doc_id")).head().getLong(0)
    val (c1, c2) = (hi / 3, 2 * hi / 3)
    val (root, dir) = tmpState()
    try {
      IncrementalSketch.cmsFold(spark, dir,
        docs.filter(col("doc_id") <= c1), "text", 1L)
      IncrementalSketch.cmsFold(spark, dir,
        docs.filter(col("doc_id") > c1 && col("doc_id") <= c2), "text", 2L)
      IncrementalSketch.cmsFold(spark, dir,
        docs.filter(col("doc_id") > c2), "text", 3L)
      val want = Sketches.cmsTermCounts(docs, "text", depth = 4,
          width = 64, topK = 50)
        .orderBy("term").as[(String, Long, Long, Long)].collect().toSeq
      assert(want.nonEmpty)
      assert(probe(dir) == want)
    } finally rm(root)
  }

  test("replayed batch rewrites its own deltas — counts never double") {
    val docs = Seq((1L, "a b a"), (2L, "b c"), (3L, "a c c d"))
      .toDF("doc_id", "text")
    val (root, dir) = tmpState()
    try {
      IncrementalSketch.cmsFold(spark, dir, docs.filter($"doc_id" <= 2), "text", 1L)
      IncrementalSketch.cmsFold(spark, dir, docs.filter($"doc_id" === 3), "text", 2L)
      val before = probe(dir)
      IncrementalSketch.cmsFold(spark, dir, docs.filter($"doc_id" <= 2), "text", 1L)
      assert(probe(dir) == before)
      // and the true counts are the exact merged-corpus counts
      val got = before.map(r => r._1 -> r._2).toMap
      assert(got == Map("a" -> 3L, "b" -> 2L, "c" -> 3L, "d" -> 1L))
      assert(before.forall(r => r._3 >= r._2), "CMS never underestimates")
    } finally rm(root)
  }

  test("compaction: probe unchanged, compacted replay is a no-op, later folds continue") {
    val docs = Seq((1L, "a b a"), (2L, "b c"), (3L, "a c c d"), (4L, "d d e"))
      .toDF("doc_id", "text")
    val (root, dir) = tmpState()
    try {
      IncrementalSketch.cmsFold(spark, dir, docs.filter($"doc_id" <= 2), "text", 1L)
      IncrementalSketch.cmsFold(spark, dir, docs.filter($"doc_id" === 3), "text", 2L)
      val before = probe(dir)
      val wm = IncrementalSketch.cmsCompact(spark, dir)
      assert(wm == 2L)
      assert(probe(dir) == before, "baseline sums == delta sums")
      // a replay of a compacted batch must NOT double-count
      IncrementalSketch.cmsFold(spark, dir, docs.filter($"doc_id" === 3), "text", 2L)
      assert(probe(dir) == before)
      // a genuinely new batch folds on top of the baseline
      IncrementalSketch.cmsFold(spark, dir, docs.filter($"doc_id" === 4), "text", 3L)
      val want = Sketches.cmsTermCounts(docs, "text", depth = 4,
          width = 64, topK = 50)
        .orderBy("term").as[(String, Long, Long, Long)].collect().toSeq
      assert(probe(dir) == want)
      // state is one baseline row per key + one delta row per batch-4 key
      val nCells = spark.read.parquet(dir).count()
      val distinctCells = spark.read.parquet(dir)
        .select("d", "b").distinct().count()
      assert(nCells <= 2 * distinctCells)
    } finally rm(root)
  }

  test("retraction then compaction: the watermark excludes retraction " +
    "deltas, so later folds CONTINUE; a compacted retraction cannot " +
    "be re-issued") {
    val docs = Seq((1L, "a b a"), (2L, "b c"), (3L, "a c c d"),
      (4L, "d d e"))
      .toDF("doc_id", "text")
    val (root, dir) = tmpState()
    try {
      IncrementalSketch.cmsFold(spark, dir, docs.filter($"doc_id" <= 2),
        "text", 1L)
      IncrementalSketch.cmsFold(spark, dir, docs.filter($"doc_id" === 3),
        "text", 2L)
      // retraction at a version far above the folds (the composite's
      // contract), then compaction: the replay watermark must stay at
      // the max FOLD version — pinning it at 100 would silently no-op
      // every later fold (the round-13 advisory bug)
      IncrementalSketch.cmsRetract(spark, dir,
        docs.filter($"doc_id" === 1), "text", retractVer = 100L)
      val wm = IncrementalSketch.cmsCompact(spark, dir)
      assert(wm == 2L, s"watermark $wm must exclude the retraction ver")
      // a genuinely new batch STILL FOLDS on top of the baseline
      IncrementalSketch.cmsFold(spark, dir, docs.filter($"doc_id" === 4),
        "text", 3L)
      val want = Sketches.cmsTermCounts(
          docs.filter($"doc_id" =!= 1), "text", depth = 4, width = 64,
          topK = 50)
        .orderBy("term").as[(String, Long, Long, Long)].collect().toSeq
      assert(probe(dir) == want, "fold after compacted retraction lost")
      // re-issuing the compacted retraction would double-subtract —
      // it must fail loudly at the baseline-version guard
      val e = intercept[IllegalArgumentException] {
        IncrementalSketch.cmsRetract(spark, dir,
          docs.filter($"doc_id" === 1), "text", retractVer = 100L)
      }
      assert(e.getMessage.contains("baseline"))
      // a FRESH retraction above the baseline version works
      IncrementalSketch.cmsRetract(spark, dir,
        docs.filter($"doc_id" === 3), "text", retractVer = 101L)
      assert(probe(dir) == Sketches.cmsTermCounts(
          docs.filter($"doc_id" =!= 1 && $"doc_id" =!= 3), "text",
          depth = 4, width = 64, topK = 50)
        .orderBy("term").as[(String, Long, Long, Long)].collect().toSeq)
    } finally rm(root)
  }

  test("vocab probe over the fold's audit table == one-shot buildVocab; survives compaction") {
    val docs = graft.source.Tables.documents(spark, sf)
      .select("doc_id", "text").filter(col("doc_id") <= 300)
    val hi = docs.agg(max("doc_id")).head().getLong(0)
    val (root, dir) = tmpState()
    try {
      IncrementalSketch.cmsFold(spark, dir,
        docs.filter(col("doc_id") <= hi / 2), "text", 1L)
      IncrementalSketch.cmsFold(spark, dir,
        docs.filter(col("doc_id") > hi / 2), "text", 2L)
      def got() = IncrementalSketch.vocabProbe(spark, dir, minCount = 2)
        .orderBy("vocab_id").as[(String, Long, Long)].collect().toSeq
      val want = graft.ext.TextAnalysis.buildVocab(docs, "text", minCount = 2)
        .select("token", "n", "vocab_id")
        .orderBy("vocab_id").as[(String, Long, Long)].collect().toSeq
      assert(want.nonEmpty && got() == want)
      // compaction folds the audit deltas to baselines; ranking unchanged
      IncrementalSketch.cmsCompact(spark, dir)
      assert(got() == want)
    } finally rm(root)
  }

  test("grid fold: three batches == one-shot gridQuantiles; compaction + replay hold") {
    val docs = graft.source.Tables.documents(spark, sf)
      .select("doc_id", "source", "n_chars")
    val hi = docs.agg(max("doc_id")).head().getLong(0)
    val (c1, c2) = (hi / 3, 2 * hi / 3)
    val (root, dir) = tmpState()
    try {
      IncrementalSketch.gridFold(spark, dir,
        docs.filter(col("doc_id") <= c1), "n_chars", "source", 1L)
      IncrementalSketch.gridFold(spark, dir,
        docs.filter(col("doc_id") > c1 && col("doc_id") <= c2),
        "n_chars", "source", 2L)
      IncrementalSketch.gridFold(spark, dir,
        docs.filter(col("doc_id") > c2), "n_chars", "source", 3L)
      def got() = IncrementalSketch.gridProbe(spark, dir, "source")
        .orderBy("source")
        .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
      val want = Sketches.gridQuantiles(docs, "n_chars", "source",
          grid = 64L)
        .orderBy("source")
        .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
      assert(want.nonEmpty)
      assert(got() == want)
      IncrementalSketch.gridCompact(spark, dir)
      assert(got() == want, "compaction preserves the probe")
      IncrementalSketch.gridFold(spark, dir,
        docs.filter(col("doc_id") > c2), "n_chars", "source", 3L)
      assert(got() == want, "compacted replay is a no-op")
    } finally rm(root)
  }

  test("streaming fold == batch fold over micro-batched docs") {
    val (root, dir) = tmpState()
    val srcDir = root.toString + "/src"
    val ckpt = root.toString + "/ckpt"
    try {
      Seq((1L, "x y"), (2L, "y z")).toDF("doc_id", "text").coalesce(1)
        .write.parquet(srcDir + "/b1")
      Seq((3L, "x x q")).toDF("doc_id", "text").coalesce(1)
        .write.parquet(srcDir + "/b2")
      val stream = spark.readStream
        .schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir + "/*")
      graft.util.StateFold.stream(stream, ckpt)((s, b, v) =>
          IncrementalSketch.cmsFold(s, dir, b, "text", v))
        .awaitTermination(120000)
      val want = Sketches.cmsTermCounts(
          Seq((1L, "x y"), (2L, "y z"), (3L, "x x q")).toDF("doc_id", "text"),
          "text", depth = 4, width = 64, topK = 50)
        .orderBy("term").as[(String, Long, Long, Long)].collect().toSeq
      assert(probe(dir) == want)
    } finally rm(root)
  }
}
