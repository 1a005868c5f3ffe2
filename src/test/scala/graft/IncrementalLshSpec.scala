package graft

import org.apache.spark.sql.functions._
import graft.ext.{IncrementalLsh, VectorSearch}

/** The persisted multi-table LSH ANN tier (round 13): folds must be
  * batch-split invariant, probes byte-identical to the one-shot
  * multi-table kernel, retraction == rebuild-without-X, geometry
  * drift loud.
  */
class IncrementalLshSpec extends SparkSpec {
  import spark.implicits._

  private def emb = spark.read.parquet(s"$sf/embeddings.parquet")
    .select("vec_id", "embedding")

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/lsh"

  private def probeSeq(dir: String, queries: org.apache.spark.sql.DataFrame)
  : Seq[Seq[Any]] =
    IncrementalLsh.topK(spark, dir, queries, "vec_id", "embedding",
        k = 10)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq

  test("fold is batch-split invariant and the probe == one-shot annTopKMultiTable") {
    val all = emb.filter(col("vec_id") <= 400).persist()
    val queries = all.filter(col("vec_id") < 5)
    val split = tmp("lshsplit")
    val oneshot = tmp("lshone")
    IncrementalLsh.fold(spark, split, all.filter(col("vec_id") <= 150),
      "vec_id", "embedding", batchNo = 1L)
    IncrementalLsh.fold(spark, split,
      all.filter(col("vec_id") > 150 && col("vec_id") <= 300),
      "vec_id", "embedding", batchNo = 2L)
    IncrementalLsh.fold(spark, split, all.filter(col("vec_id") > 300),
      "vec_id", "embedding", batchNo = 3L)
    IncrementalLsh.fold(spark, oneshot, all, "vec_id", "embedding",
      batchNo = 1L)
    // table parity (modulo ver — arrival metadata, not content)
    def bucketTable(d: String) = spark.read.parquet(d)
      .select("vec_id", "key").orderBy("vec_id", "key")
      .collect().map(_.toSeq).toSeq
    assert(bucketTable(split) == bucketTable(oneshot))
    // probe parity: folded state == one-shot in-session kernel
    val got = probeSeq(split, queries)
    val want = VectorSearch.annTopKMultiTable(all, queries, "vec_id",
        "embedding", k = 10)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(got == want && got.nonEmpty)
    // replay idempotent
    IncrementalLsh.fold(spark, split, all.filter(col("vec_id") > 300),
      "vec_id", "embedding", batchNo = 3L)
    assert(probeSeq(split, queries) == want)
    // geometry drift is loud, not silently disjoint
    val e = intercept[IllegalArgumentException] {
      IncrementalLsh.fold(spark, split, all.limit(1), "vec_id",
        "embedding", batchNo = 4L, bits = 8, tables = 2)
    }
    assert(e.getMessage.contains("geometry"))
    all.unpersist()
  }

  test("retract == rebuild-without-X; both tables partition-pruned clean") {
    val all = emb.filter(col("vec_id") <= 400).persist()
    val queries = all.filter(col("vec_id") < 5)
    val retro = tmp("lshretr")
    val rebuilt = tmp("lshrb")
    IncrementalLsh.fold(spark, retro, all.filter(col("vec_id") <= 200),
      "vec_id", "embedding", batchNo = 1L)
    IncrementalLsh.fold(spark, retro, all.filter(col("vec_id") > 200),
      "vec_id", "embedding", batchNo = 2L)
    val x = all.filter(col("vec_id") % 6 === 0).select("vec_id")
    IncrementalLsh.retract(spark, retro, x, "vec_id")
    IncrementalLsh.fold(spark, rebuilt,
      all.filter(col("vec_id") % 6 =!= 0), "vec_id", "embedding",
      batchNo = 1L)
    def tables(d: String) = (
      spark.read.parquet(d).select("vec_id", "key")
        .orderBy("vec_id", "key").collect().map(_.toSeq).toSeq,
      spark.read.parquet(d + IncrementalLsh.VecsSuffix)
        .select("vec_id").orderBy("vec_id").as[Long].collect().toSeq)
    assert(tables(retro) == tables(rebuilt))
    // probes agree with the one-shot over the surviving corpus, and
    // no retracted id can ever be returned
    val want = VectorSearch.annTopKMultiTable(
        all.filter(col("vec_id") % 6 =!= 0), queries, "vec_id",
        "embedding", k = 10)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val got = probeSeq(retro, queries)
    assert(got == want && got.nonEmpty)
    assert(IncrementalLsh.topK(spark, retro, queries, "vec_id",
        "embedding", k = 10)
      .filter(col("vec_id") % 6 === 0).isEmpty)
    all.unpersist()
  }

  test("streaming fold == batch fold") {
    val all = emb.filter(col("vec_id") <= 200)
    val rootP = java.nio.file.Files.createTempDirectory("lshstream")
    val root = rootP.toString
    val dir = s"$root/lsh"
    val batchDir = s"$root/batch"
    all.filter(col("vec_id") <= 100).coalesce(1)
      .write.parquet(s"$root/src/b1")
    all.filter(col("vec_id") > 100).coalesce(1)
      .write.parquet(s"$root/src/b2")
    val stream = spark.readStream.schema(all.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$root/src/*")
    graft.util.StateFold.stream(stream, s"$root/ckpt")((s, b, v) =>
        IncrementalLsh.fold(s, dir, b, "vec_id", "embedding", v))
      .awaitTermination(300000)
    IncrementalLsh.fold(spark, batchDir, all, "vec_id", "embedding", 1L)
    def bucketTable(d: String) = spark.read.parquet(d)
      .select("vec_id", "key").orderBy("vec_id", "key")
      .collect().map(_.toSeq).toSeq
    assert(bucketTable(dir) == bucketTable(batchDir))
    assert(bucketTable(dir).nonEmpty)
  }

  test("portable family: retract+probe == one-shot portable over survivors") {
    val all = emb.filter(col("vec_id") <= 400).persist()
    val queries = all.filter(col("vec_id") < 5)
    val dir = tmp("lshport")
    IncrementalLsh.fold(spark, dir, all.filter(col("vec_id") <= 200),
      "vec_id", "embedding", batchNo = 1L, portable = true)
    IncrementalLsh.fold(spark, dir, all.filter(col("vec_id") > 200),
      "vec_id", "embedding", batchNo = 2L, portable = true)
    IncrementalLsh.retract(spark, dir,
      all.filter(col("vec_id") % 6 === 0).select("vec_id"), "vec_id")
    val want = VectorSearch.annTopKMultiTable(
        all.filter(col("vec_id") % 6 =!= 0), queries, "vec_id",
        "embedding", k = 10, portable = true)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val got = probeSeq(dir, queries)
    assert(got == want && got.nonEmpty)
    all.unpersist()
  }

  test("family drift is loud; pre-family conf reads back as native") {
    val all = emb.filter(col("vec_id") <= 100)
    val dir = tmp("lshfam")
    IncrementalLsh.fold(spark, dir, all, "vec_id", "embedding",
      batchNo = 1L, portable = true)
    val e = intercept[IllegalArgumentException] {
      IncrementalLsh.fold(spark, dir, all.limit(1), "vec_id",
        "embedding", batchNo = 2L) // native into a portable root
    }
    assert(e.getMessage.contains("family"))
    assert(IncrementalLsh.geometryFull(spark, dir)._3 == "portable")
    // a conf written before the family column existed is a native root
    val old = tmp("lshold")
    Seq((6, 4)).toDF("bits", "tables").coalesce(1)
      .write.parquet(old + IncrementalLsh.ConfSuffix)
    assert(IncrementalLsh.geometryFull(spark, old)._3 == "native")
    val e2 = intercept[IllegalArgumentException] {
      IncrementalLsh.fold(spark, old, all.limit(1), "vec_id",
        "embedding", batchNo = 1L, portable = true)
    }
    assert(e2.getMessage.contains("family"))
  }
}
