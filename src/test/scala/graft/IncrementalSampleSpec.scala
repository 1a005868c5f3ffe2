package graft

import org.apache.spark.sql.functions._
import graft.ext.{IncrementalSample, Sampling}

/** The bottom-k sample fold: folded state must equal the one-shot
  * exact-k sample over the merged corpus — in any arrival order, with
  * replays and re-crawled keys, in O(strata·k) state.
  */
class IncrementalSampleSpec extends SparkSpec {
  import spark.implicits._

  private def tmpState(): (java.nio.file.Path, String) = {
    val root = java.nio.file.Files.createTempDirectory("sample_spec")
    (root, root.toString + "/state")
  }

  private def rm(root: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
      .foreach(java.nio.file.Files.deleteIfExists(_))
  }

  private def got(dir: String): Seq[(Long, String)] =
    IncrementalSample.sample(spark, dir, "lang", "doc_id")
      .as[(Long, String)].collect().toSeq.sorted

  test("three folded batches == one-shot sampleExactK on the real corpus") {
    val docs = graft.source.Tables.documents(spark, sf)
      .select("doc_id", "lang")
    val hi = docs.agg(max("doc_id")).head().getLong(0)
    val (c1, c2) = (hi / 3, 2 * hi / 3)
    val (root, dir) = tmpState()
    try {
      IncrementalSample.fold(spark, dir,
        docs.filter(col("doc_id") <= c1), "lang", "doc_id", k = 40)
      IncrementalSample.fold(spark, dir,
        docs.filter(col("doc_id") > c1 && col("doc_id") <= c2),
        "lang", "doc_id", k = 40)
      IncrementalSample.fold(spark, dir,
        docs.filter(col("doc_id") > c2), "lang", "doc_id", k = 40)
      val want = Sampling.sampleExactK(docs, "lang", "doc_id", k = 40)
        .as[(Long, String)].collect().toSeq.sorted
      assert(want.nonEmpty)
      assert(got(dir) == want)
      // state is bounded: at most k rows per stratum
      val sizes = spark.read.parquet(dir).groupBy("stratum").count()
        .as[(String, Long)].collect()
      assert(sizes.forall(_._2 <= 40))
    } finally rm(root)
  }

  test("order independence + replay + re-crawled key idempotence") {
    val b1 = Seq((1L, "en"), (2L, "en"), (3L, "de"))
    val b2 = Seq((4L, "en"), (5L, "de"), (2L, "en")) // 2 re-crawled
    val b3 = Seq((6L, "en"), (7L, "fr"))
    def run(dir: String, order: Seq[Seq[(Long, String)]]): Unit =
      order.foreach(b => IncrementalSample.fold(spark, dir,
        b.toDF("doc_id", "lang"), "lang", "doc_id", k = 2))
    val (rootA, dirA) = tmpState()
    val (rootB, dirB) = tmpState()
    try {
      run(dirA, Seq(b1, b2, b3))
      run(dirB, Seq(b3, b1, b2, b2)) // reversed-ish + replayed b2
      val want = Sampling.sampleExactK(
          (b1 ++ b2 ++ b3).distinct.toDF("doc_id", "lang"),
          "lang", "doc_id", k = 2)
        .as[(Long, String)].collect().toSeq.sorted
      assert(got(dirA) == want)
      assert(got(dirB) == want)
    } finally { rm(rootA); rm(rootB) }
  }

  test("streaming fold == one-shot over the stream's rows") {
    val (root, dir) = tmpState()
    val srcDir = root.toString + "/src"
    val ckpt = root.toString + "/ckpt"
    try {
      Seq((1L, "en"), (2L, "en"), (3L, "en")).toDF("doc_id", "lang")
        .coalesce(1).write.parquet(srcDir + "/b1")
      Seq((4L, "en"), (5L, "de")).toDF("doc_id", "lang")
        .coalesce(1).write.parquet(srcDir + "/b2")
      val stream = spark.readStream
        .schema("doc_id long, lang string")
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir + "/*")
      graft.util.StateFold.stream(stream, ckpt)((s, b, _) =>
          IncrementalSample.fold(s, dir, b, "lang", "doc_id", k = 2))
        .awaitTermination(120000)
      val want = Sampling.sampleExactK(
          Seq((1L, "en"), (2L, "en"), (3L, "en"), (4L, "en"), (5L, "de"))
            .toDF("doc_id", "lang"), "lang", "doc_id", k = 2)
        .as[(Long, String)].collect().toSeq.sorted
      assert(got(dir) == want)
    } finally rm(root)
  }
}
