package graft

import org.apache.spark.sql.functions._
import graft.ext.IncrementalStats

/** The incremental per-source profile fold: folded sums (and the avg
  * derived from them) must be bit-equal to the one-shot aggregation.
  */
class IncrementalStatsSpec extends SparkSpec {
  import spark.implicits._

  private def tmpState(): (java.nio.file.Path, String) = {
    val root = java.nio.file.Files.createTempDirectory("stats_spec")
    (root, root.toString + "/state")
  }

  private def rm(root: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
      .foreach(java.nio.file.Files.deleteIfExists(_))
  }

  private def oneShot(docs: org.apache.spark.sql.DataFrame) =
    docs.select(col("source"),
        graft.ext.Tok.count(col("text")).cast("long").as("nt"),
        col("n_chars"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("nt").as("n_tokens"),
        sum("n_chars").as("n_chars_total"),
        round(sum("nt").cast("double") / count(lit(1)), 6).as("avg_tokens"))
      .orderBy("source")
      .as[(String, Long, Long, Long, Double)].collect().toSeq

  private def probe(dir: String): Seq[(String, Long, Long, Long, Double)] =
    IncrementalStats.probe(spark, dir)
      .orderBy("source").as[(String, Long, Long, Long, Double)]
      .collect().toSeq

  test("three folded batches == one-shot profile on the real corpus") {
    val docs = graft.source.Tables.documents(spark, sf)
      .select("doc_id", "source", "text", "n_chars")
    val hi = docs.agg(max("doc_id")).head().getLong(0)
    val (c1, c2) = (hi / 3, 2 * hi / 3)
    val (root, dir) = tmpState()
    try {
      IncrementalStats.fold(spark, dir,
        docs.filter(col("doc_id") <= c1), "text", "source", 1L)
      IncrementalStats.fold(spark, dir,
        docs.filter(col("doc_id") > c1 && col("doc_id") <= c2),
        "text", "source", 2L)
      IncrementalStats.fold(spark, dir,
        docs.filter(col("doc_id") > c2), "text", "source", 3L)
      val want = oneShot(docs)
      assert(want.nonEmpty)
      assert(probe(dir) == want)
    } finally rm(root)
  }

  test("replay rewrites its delta; averages derive from folded sums") {
    val docs = Seq(
      (1L, "web", "a b c", 5L), (2L, "web", "d e", 3L),
      (3L, "book", "f", 1L))
      .toDF("doc_id", "source", "text", "n_chars")
    val (root, dir) = tmpState()
    try {
      IncrementalStats.fold(spark, dir, docs.filter($"doc_id" <= 2),
        "text", "source", 1L)
      IncrementalStats.fold(spark, dir, docs.filter($"doc_id" === 3),
        "text", "source", 2L)
      val before = probe(dir)
      IncrementalStats.fold(spark, dir, docs.filter($"doc_id" <= 2),
        "text", "source", 1L)
      assert(probe(dir) == before)
      assert(before == Seq(("book", 1L, 1L, 1L, 1.0),
        ("web", 2L, 5L, 8L, 2.5)))
    } finally rm(root)
  }

  test("as-of probe reproduces the historical profile; below-watermark asks fail loudly") {
    val docs = graft.source.Tables.documents(spark, sf)
      .select("doc_id", "source", "text", "n_chars")
    val hi = docs.agg(max("doc_id")).head().getLong(0)
    val (c1, c2) = (hi / 3, 2 * hi / 3)
    val (root, dir) = tmpState()
    try {
      IncrementalStats.fold(spark, dir,
        docs.filter(col("doc_id") <= c1), "text", "source", 1L)
      IncrementalStats.fold(spark, dir,
        docs.filter(col("doc_id") > c1 && col("doc_id") <= c2),
        "text", "source", 2L)
      IncrementalStats.fold(spark, dir,
        docs.filter(col("doc_id") > c2), "text", "source", 3L)
      def asOf(v: Long) = IncrementalStats.probeAsOf(spark, dir, v)
        .orderBy("source").as[(String, Long, Long, Long, Double)]
        .collect().toSeq
      // each historical state probes back exactly, no snapshot taken
      assert(asOf(1L) == oneShot(docs.filter(col("doc_id") <= c1)))
      assert(asOf(2L) == oneShot(docs.filter(col("doc_id") <= c2)))
      assert(asOf(3L) == oneShot(docs))
      assert(asOf(3L) == probe(dir))
      // compaction retains only the final state; history below the
      // compacted baseline must refuse, not silently return the
      // baseline sum
      IncrementalStats.compact(spark, dir)
      assert(asOf(3L) == probe(dir))
      val e = intercept[IllegalArgumentException](asOf(2L))
      assert(e.getMessage.contains("baseline"))
    } finally rm(root)
  }

  test("compaction: probe unchanged, compacted replay no-op, later folds continue") {
    val docs = Seq(
      (1L, "web", "a b c", 5L), (2L, "web", "d e", 3L),
      (3L, "book", "f", 1L), (4L, "web", "g", 2L))
      .toDF("doc_id", "source", "text", "n_chars")
    val (root, dir) = tmpState()
    try {
      IncrementalStats.fold(spark, dir, docs.filter($"doc_id" <= 2),
        "text", "source", 1L)
      IncrementalStats.fold(spark, dir, docs.filter($"doc_id" === 3),
        "text", "source", 2L)
      val before = probe(dir)
      assert(IncrementalStats.compact(spark, dir) == 2L)
      assert(probe(dir) == before)
      IncrementalStats.fold(spark, dir, docs.filter($"doc_id" === 3),
        "text", "source", 2L)
      assert(probe(dir) == before, "compacted replay must not double-count")
      IncrementalStats.fold(spark, dir, docs.filter($"doc_id" === 4),
        "text", "source", 3L)
      assert(probe(dir) == Seq(("book", 1L, 1L, 1L, 1.0),
        ("web", 3L, 6L, 10L, 2.0)))
      assert(spark.read.parquet(dir).count() == 3L,
        "two baseline rows + one new delta row")
    } finally rm(root)
  }

  test("streaming fold == batch profile") {
    val (root, dir) = tmpState()
    val srcDir = root.toString + "/src"
    val ckpt = root.toString + "/ckpt"
    try {
      Seq((1L, "web", "a b", 3L)).toDF("doc_id", "source", "text", "n_chars")
        .coalesce(1).write.parquet(srcDir + "/b1")
      Seq((2L, "web", "c", 1L), (3L, "book", "d e f", 5L))
        .toDF("doc_id", "source", "text", "n_chars")
        .coalesce(1).write.parquet(srcDir + "/b2")
      val stream = spark.readStream
        .schema("doc_id long, source string, text string, n_chars long")
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir + "/*")
      graft.util.StateFold.stream(stream, ckpt)((s, b, v) =>
          IncrementalStats.fold(s, dir, b, "text", "source", v))
        .awaitTermination(120000)
      assert(probe(dir) == Seq(("book", 1L, 3L, 5L, 3.0),
        ("web", 2L, 3L, 4L, 1.5)))
    } finally rm(root)
  }
}
