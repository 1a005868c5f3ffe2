package graft

import org.apache.spark.sql.functions._
import graft.ext.{IncrementalAnn, VectorSearch}

/** Incremental ANN index maintenance (round 12): frozen-quantizer
  * folds must be batch-split invariant, replay-idempotent, and carry
  * a drift audit that actually moves under distribution shift.
  */
class IncrementalAnnSpec extends SparkSpec {
  import spark.implicits._

  private def emb = spark.read.parquet(s"$sf/embeddings.parquet")
    .select("vec_id", "embedding")

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("IVF fold is batch-split invariant: two-batch fold == one-shot fold, table- and probe-identical; replays idempotent") {
    val all = emb.filter(col("vec_id") <= 360).persist()
    val base = all.filter(col("vec_id") <= 300)
    val d1 = all.filter(col("vec_id") > 300 && col("vec_id") <= 330)
    val d2 = all.filter(col("vec_id") > 330)
    val split = tmp("ivfsplit") + "/ivf"
    val oneshot = tmp("ivfone") + "/ivf"
    IncrementalAnn.ivfInit(spark, split, base, "vec_id", "embedding", nLists = 4)
    IncrementalAnn.ivfInit(spark, oneshot, base, "vec_id", "embedding", nLists = 4)
    IncrementalAnn.ivfFold(spark, split, d1, "vec_id", "embedding", batchNo = 1L)
    IncrementalAnn.ivfFold(spark, split, d2, "vec_id", "embedding", batchNo = 2L)
    IncrementalAnn.ivfFold(spark, oneshot, d1.unionByName(d2), "vec_id",
      "embedding", batchNo = 1L)
    def table(d: String) = spark.read.parquet(d)
      .select("vec_id", "ivf_list", "adist")
      .orderBy("vec_id").collect().map(_.toSeq).toSeq
    // the same frozen centroids assign the same lists regardless of
    // how the delta was batched (ver differs by construction — it
    // records arrival, not content)
    assert(table(split) == table(oneshot))
    // probes against the folded index are the one-shot probes
    def probe(d: String) = VectorSearch.ivfTopK(
      IncrementalAnn.ivfIndex(spark, d, "vec_id", "embedding"),
      all.filter(col("vec_id") < 5), k = 5, nprobe = 2)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(probe(split) == probe(oneshot))
    assert(probe(split).nonEmpty)
    // replaying batch 2 re-merges idempotently — no row count change,
    // no assignment change, audit row REWRITTEN not duplicated
    val before = table(split)
    IncrementalAnn.ivfFold(spark, split, d2, "vec_id", "embedding", batchNo = 2L)
    assert(table(split) == before)
    assert(IncrementalAnn.ivfAudit(spark, split)
      .filter(col("batch_no") === 2L).count() == 1L)
    // frozen contract: a second init on the same dir is a REPLAY —
    // no retrain (centroids byte-identical), base re-folds to the
    // identical assignment rows (crash-safe init for the composite)
    val centBefore = spark.read
      .parquet(split + IncrementalAnn.CentroidsSuffix)
      .collect().map(_.toSeq).toSeq
    IncrementalAnn.ivfInit(spark, split, base, "vec_id", "embedding",
      nLists = 4)
    assert(spark.read.parquet(split + IncrementalAnn.CentroidsSuffix)
      .collect().map(_.toSeq).toSeq == centBefore)
    assert(table(split) == before)
    all.unpersist()
  }

  test("ivfRetract: post-delete index == fresh fold over remaining; probes agree; audit decremented") {
    val all = emb.filter(col("vec_id") <= 360).persist()
    val base = all.filter(col("vec_id") <= 300)
    val delta = all.filter(col("vec_id") > 300)
    val retro = tmp("ivfretr") + "/ivf"
    val rebuilt = tmp("ivfrb") + "/ivf"
    IncrementalAnn.ivfInit(spark, retro, base, "vec_id", "embedding",
      nLists = 4)
    IncrementalAnn.ivfFold(spark, retro, delta, "vec_id", "embedding",
      batchNo = 1L)
    val x = all.filter(col("vec_id") % 6 === 0).select("vec_id")
    IncrementalAnn.ivfRetract(spark, retro, x, "vec_id", retractVer = 2L)
    // the rebuild trains on the SAME frozen centroids (copy the
    // centroid table) and folds only the surviving vectors — the
    // retracted index must match it table-for-table and probe-for-probe
    spark.read.parquet(retro + IncrementalAnn.CentroidsSuffix)
      .write.parquet(rebuilt + IncrementalAnn.CentroidsSuffix)
    IncrementalAnn.ivfFold(spark, rebuilt,
      all.filter(col("vec_id") % 6 =!= 0), "vec_id", "embedding",
      batchNo = 1L)
    def table(d: String) = spark.read.parquet(d)
      .select("vec_id", "ivf_list", "adist")
      .orderBy("vec_id").collect().map(_.toSeq).toSeq
    assert(table(retro) == table(rebuilt) && table(retro).nonEmpty)
    def probe(d: String) = VectorSearch.ivfTopK(
      IncrementalAnn.ivfIndex(spark, d, "vec_id", "embedding"),
      all.filter(col("vec_id") < 5), k = 5, nprobe = 2)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(probe(retro) == probe(rebuilt))
    // no retracted id can ever surface from a probe
    val surfaced = VectorSearch.ivfTopK(
      IncrementalAnn.ivfIndex(spark, retro, "vec_id", "embedding"),
      all.filter(col("vec_id") < 20), k = 10, nprobe = 4)
      .select("vec_id").as[Long].collect().toSet
    assert(surfaced.forall(_ % 6 != 0))
    // audit: one negative row keyed disjointly from the folds
    val audit = IncrementalAnn.ivfAudit(spark, retro)
      .select("batch_no", "n_rows").as[(Long, Long)].collect().toMap
    assert(audit(-2L) < 0L)
    assert(audit.keySet.count(_ >= 0) == 2) // init batch 0 + fold 1
    // absent ids: a second retract of the same set is a no-op
    val before = table(retro)
    IncrementalAnn.ivfRetract(spark, retro, x, "vec_id", retractVer = 3L)
    assert(table(retro) == before)
    all.unpersist()
  }

  test("drift audit: an in-distribution batch sits near ratio 1, a shifted batch far above") {
    val base = emb.filter(col("vec_id") <= 300)
    val inDist = emb.filter(col("vec_id") > 300 && col("vec_id") <= 360)
    val dir = tmp("ivfdrift") + "/ivf"
    IncrementalAnn.ivfInit(spark, dir, base, "vec_id", "embedding", nLists = 4)
    IncrementalAnn.ivfFold(spark, dir, inDist, "vec_id", "embedding", 1L)
    // a shifted batch: the same vectors displaced far outside the
    // training distribution (embedding + 10 per dim)
    val shifted = inDist
      .withColumn("vec_id", col("vec_id") + 10000L)
      .withColumn("embedding",
        expr("transform(embedding, x -> x + CAST(10.0 AS FLOAT))"))
    IncrementalAnn.ivfFold(spark, dir, shifted, "vec_id", "embedding", 2L)
    val audit = IncrementalAnn.ivfAudit(spark, dir)
      .collect().map(r => r.getAs[Long]("batch_no") ->
        r.getAs[Double]("drift_ratio")).toMap
    assert(audit(1L) < 2.0, s"in-dist ratio ${audit(1L)}")
    assert(audit(2L) > 10.0, s"shifted ratio ${audit(2L)}")
  }

  test("retrain resets the drift baseline; the streaming fold converges to the batch fold") {
    val base = emb.filter(col("vec_id") <= 300)
    val shift = (d: org.apache.spark.sql.DataFrame, off: Long) => d
      .withColumn("vec_id", col("vec_id") + off)
      .withColumn("embedding",
        expr("transform(embedding, x -> x + CAST(10.0 AS FLOAT))"))
    val dir = tmp("ivfretrain") + "/ivf"
    IncrementalAnn.ivfInit(spark, dir, base, "vec_id", "embedding", nLists = 4)
    // a shifted-domain batch drifts hard...
    val s1 = shift(emb.filter(col("vec_id") > 300 && col("vec_id") <= 330), 10000L)
    IncrementalAnn.ivfFold(spark, dir, s1, "vec_id", "embedding", 1L)
    def ratio(b: Long) = IncrementalAnn.ivfAudit(spark, dir)
      .filter(col("batch_no") === b).head().getAs[Double]("drift_ratio")
    assert(ratio(1L) > 10.0)
    // ...retrain on the current (mixed) state resets the baseline:
    // the retrain audit row is 1.0 by construction, and the NEXT
    // shifted-domain batch now sits inside the new distribution
    IncrementalAnn.ivfRetrain(spark, dir, "vec_id", "embedding",
      batchNo = 10L, nLists = 4)
    assert(math.abs(ratio(10L) - 1.0) < 1e-9)
    val s2 = shift(emb.filter(col("vec_id") > 330 && col("vec_id") <= 360), 20000L)
    IncrementalAnn.ivfFold(spark, dir, s2, "vec_id", "embedding", 11L)
    assert(ratio(11L) < 2.0, s"post-retrain ratio ${ratio(11L)}")
    // a retrain versioned at-or-below folded state is refused (it
    // would LOSE the LWW merge and leave a half-reassigned table)
    intercept[IllegalArgumentException] {
      IncrementalAnn.ivfRetrain(spark, dir, "vec_id", "embedding",
        batchNo = 5L, nLists = 4)
    }
    // probes still serve against the retrained index
    assert(VectorSearch.ivfTopK(
      IncrementalAnn.ivfIndex(spark, dir, "vec_id", "embedding"),
      emb.filter(col("vec_id") < 5), k = 5, nprobe = 2).count() > 0)

    // STREAMING face: the same two-delta fold as a file stream
    // converges to the batch-fold table, and a checkpointed restart
    // with no new files replays nothing
    val d1 = emb.filter(col("vec_id") > 300 && col("vec_id") <= 330)
    val d2 = emb.filter(col("vec_id") > 330 && col("vec_id") <= 360)
    val bDir = tmp("ivfsb") + "/ivf"
    IncrementalAnn.ivfInit(spark, bDir, base, "vec_id", "embedding", nLists = 4)
    IncrementalAnn.ivfFold(spark, bDir, d1, "vec_id", "embedding", 1L)
    IncrementalAnn.ivfFold(spark, bDir, d2, "vec_id", "embedding", 2L)
    val sroot = tmp("ivfss")
    val sDir = sroot + "/ivf"
    val ckp = sroot + "/ckp"
    IncrementalAnn.ivfInit(spark, sDir, base, "vec_id", "embedding", nLists = 4)
    d1.coalesce(1).write.parquet(sroot + "/f1")
    Thread.sleep(1100) // distinct mod times -> deterministic batch order
    d2.coalesce(1).write.parquet(sroot + "/f2")
    def runStream(): Unit = {
      val st = spark.readStream
        .schema("vec_id bigint, embedding array<float>")
        .option("maxFilesPerTrigger", "1").parquet(sroot + "/f*")
      graft.util.StateFold.stream(st, ckp)((s, b, v) =>
          IncrementalAnn.ivfFold(s, sDir, b, "vec_id", "embedding", v))
        .awaitTermination(180000)
    }
    runStream()
    def table(d: String) = spark.read.parquet(d)
      .select("vec_id", "ivf_list", "adist")
      .orderBy("vec_id").collect().map(_.toSeq).toSeq
    assert(table(sDir) == table(bDir))
    runStream() // checkpointed restart: no new files, no replay
    assert(table(sDir) == table(bDir))
  }

  test("PQ fold is batch-split invariant code-for-code and probes equal the one-shot index") {
    val all = emb.filter(col("vec_id") <= 360).persist()
    val base = all.filter(col("vec_id") <= 300)
    val d1 = all.filter(col("vec_id") > 300 && col("vec_id") <= 330)
    val d2 = all.filter(col("vec_id") > 330)
    val split = tmp("pqsplit") + "/pq"
    val oneshot = tmp("pqone") + "/pq"
    for (d <- Seq(split, oneshot))
      IncrementalAnn.pqInit(spark, d, base, "vec_id", "embedding",
        m = 8, kCent = 8)
    IncrementalAnn.pqFold(spark, split, d1, "vec_id", "embedding", 1L)
    IncrementalAnn.pqFold(spark, split, d2, "vec_id", "embedding", 2L)
    IncrementalAnn.pqFold(spark, oneshot, d1.unionByName(d2), "vec_id",
      "embedding", 1L)
    def codes(d: String) = spark.read.parquet(d)
      .select("vec_id", "codes")
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1))).toSeq
    assert(codes(split) == codes(oneshot))
    assert(codes(split).size == 361) // vec_id 0..360 inclusive
    def probe(d: String) = VectorSearch.pqTopK(
      IncrementalAnn.pqIndex(spark, d, "vec_id", "embedding"),
      all.filter(col("vec_id") < 5), k = 5)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(probe(split) == probe(oneshot))
    assert(probe(split).nonEmpty)
    all.unpersist()
  }
}
