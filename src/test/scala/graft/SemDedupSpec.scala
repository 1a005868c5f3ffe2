package graft

import org.apache.spark.sql.functions._
import graft.ext.VectorSearch

/** Semantic dedup (sign-cell SemDeDup): planted near-duplicate vectors
  * pin the dominance-drop contract, the within-cell-only pairing, and
  * the maxCell escape hatch.
  */
class SemDedupSpec extends SparkSpec {
  import spark.implicits._

  // all-positive leading signs => cell 15 (signBits 4); the "neg" family
  // flips dim 0 => cell 14 — near-identical across families never pairs
  private def v(head: Float, tail: Float*): Array[Float] =
    (head +: tail).toArray

  private val planted = Seq(
    (1L, v(1f, 1f, 1f, 1f, 0.9f, 0.1f)),          // cell 15, keeper
    (2L, v(1f, 1f, 1f, 1f, 0.9f, 0.11f)),         // ~dup of 1 => dropped
    (3L, v(1f, 1f, 1f, 1f, 0.91f, 0.12f)),        // ~dup of 1 and 2 => dropped
    (4L, v(1f, 1f, 1f, 1f, -20f, 19f)),           // cell 15 but far => survives
    (5L, v(-1f, 1f, 1f, 1f, 0.9f, 0.1f)),         // cell 14: near 1 but other cell
    (6L, v(-1f, 1f, 1f, 1f, 0.9f, 0.105f)))       // ~dup of 5 in cell 14 => dropped
    .toDF("vec_id", "embedding")

  test("dominance drop within cells; cross-cell near-dups survive") {
    val got = VectorSearch.semDedup(planted, "vec_id", "embedding",
      signBits = 4, threshold = 0.9)
      .orderBy("vec_id").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 15L), (4L, 15L), (5L, 14L)))
  }

  test("dominance, not greedy: a doc is dropped by ANY lower-id cell-mate") {
    // 3 is similar to 2 (dropped) and to 1 (kept) — under dominance it
    // drops either way; pin the documented rule by checking 3 is gone
    // even when only 2 (itself dropped) is above the threshold
    val chain = Seq(
      (1L, v(1f, 1f, 1f, 1f, 10f, 0f)),
      (2L, v(1f, 1f, 1f, 1f, 9f, 4f)),   // cos(1,2) ~ 0.93 => dropped by 1
      (3L, v(1f, 1f, 1f, 1f, 7f, 7f)))   // cos(2,3) ~ 0.97, cos(1,3) ~ 0.83
      .toDF("vec_id", "embedding")
    val got = VectorSearch.semDedup(chain, "vec_id", "embedding",
      signBits = 4, threshold = 0.9)
      .select("vec_id").as[Long].collect().toSeq.sorted
    assert(got == Seq(1L), "3 dominated by the already-dropped 2 still drops")
  }

  test("maxCell: oversized cells opt out of pairing and fully survive") {
    val got = VectorSearch.semDedup(planted, "vec_id", "embedding",
      signBits = 4, threshold = 0.9, maxCell = 3L)
      .select("vec_id").as[Long].collect().toSeq.sorted
    // cell 15 has 4 members (> 3) => all survive unpaired; cell 14 (2
    // members) still dedups 6 away
    assert(got == Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("matches a brute-force reference on the real embeddings table") {
    val emb = graft.source.Tables.embeddings(spark, sf)
    val got = VectorSearch.semDedup(emb, "vec_id", "embedding",
      signBits = 4, threshold = 0.45)
      .select("vec_id").as[Long].collect().toSeq.sorted
    val cell = (0 until 4).map(j =>
      when(element_at(col("embedding"), j + 1) > lit(0f), lit(1L << j))
        .otherwise(lit(0L))).reduce(_ + _)
    val b = emb.select(col("vec_id"), cell.as("cell"), col("embedding"))
    val dropped = b.as("x").join(b.as("y"),
        col("x.cell") === col("y.cell") && col("y.vec_id") < col("x.vec_id"))
      .filter(VectorSearch.cosine(col("x.embedding"), col("y.embedding")) > 0.45)
      .select(col("x.vec_id")).distinct().as[Long].collect().toSet
    val want = b.select("vec_id").as[Long].collect().toSeq
      .filterNot(dropped).sorted
    assert(got == want)
    assert(dropped.nonEmpty, "the planted near-dups must make this bite")
  }

  private def foldAll(dir: String, batches: Seq[(Long, Seq[Long])],
                      df: org.apache.spark.sql.DataFrame): Unit =
    batches.foreach { case (no, ids) =>
      graft.ext.IncrementalSemDedup.fold(spark, dir,
        df.filter(col("vec_id").isin(ids: _*)), "vec_id", "embedding",
        batchNo = no)
    }

  test("incremental fold converges to the one-shot on the real embeddings table; replay idempotent") {
    val emb = graft.source.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding")
    val hi = emb.agg(max("vec_id")).head().getLong(0)
    val dir = java.nio.file.Files.createTempDirectory("isem").toString + "/s"
    graft.ext.IncrementalSemDedup.fold(spark, dir,
      emb.filter(col("vec_id") <= hi / 2), "vec_id", "embedding", 1L)
    graft.ext.IncrementalSemDedup.fold(spark, dir,
      emb.filter(col("vec_id") > hi / 2), "vec_id", "embedding", 2L)
    val folded = graft.ext.IncrementalSemDedup.survivors(spark, dir, "vec_id")
      .select("vec_id", "cell").as[(Long, Long)].collect().toSeq.sorted
    val oneShot = VectorSearch.semDedup(emb, "vec_id", "embedding",
      signBits = 4, threshold = 0.45)
      .select("vec_id", "cell").as[(Long, Long)].collect().toSeq.sorted
    assert(folded == oneShot)
    assert(folded.size < emb.count(), "the planted near-dups must bite")
    // replay batch 2 with its original rows: state must not change
    graft.ext.IncrementalSemDedup.fold(spark, dir,
      emb.filter(col("vec_id") > hi / 2), "vec_id", "embedding", 2L)
    val replayed = graft.ext.IncrementalSemDedup.survivors(spark, dir, "vec_id")
      .select("vec_id", "cell").as[(Long, Long)].collect().toSeq.sorted
    assert(replayed == folded)
  }

  test("incremental fold: cross-batch dominance by a DROPPED state row; out-of-order guard; cap contract") {
    // ids 1..3 are a dup chain in cell 15: 2 and 3 die to 1 in batch 1;
    // a batch-2 clone of 3 must STILL die (dropped rows dominate)
    val later = Seq((7L, v(1f, 1f, 1f, 1f, 0.91f, 0.121f)))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("isem2").toString + "/s"
    foldAll(dir, Seq(1L -> Seq(1L, 2L, 3L, 4L, 5L, 6L)), planted)
    graft.ext.IncrementalSemDedup.fold(spark, dir, later,
      "vec_id", "embedding", batchNo = 2L)
    val surv = graft.ext.IncrementalSemDedup.survivors(spark, dir, "vec_id")
      .select("vec_id").as[Long].collect().toSet
    assert(surv == Set(1L, 4L, 5L), s"got $surv")
    // out-of-order: a NEW batchNo carrying an id below state must die
    val e = intercept[IllegalArgumentException] {
      graft.ext.IncrementalSemDedup.fold(spark, dir,
        Seq((0L, v(1f, 1f, 1f, 1f, 2f, 2f))).toDF("vec_id", "embedding"),
        "vec_id", "embedding", batchNo = 3L)
    }
    assert(e.getMessage.contains("out-of-order"))
    // cap contract: a fold that would push a cell past maxCell fails
    // loudly instead of silently diverging from the one-shot
    val e2 = intercept[IllegalArgumentException] {
      graft.ext.IncrementalSemDedup.fold(spark, dir,
        Seq((8L, v(1f, 1f, 1f, 1f, 30f, -2f)),
          (9L, v(1f, 1f, 1f, 1f, -30f, 40f))).toDF("vec_id", "embedding"),
        "vec_id", "embedding", batchNo = 3L, maxCell = 5L)
    }
    assert(e2.getMessage.contains("maxCell"))
  }

  test("retract: cell-local resurrection; equals rebuild-without-X; sequential + replay guard") {
    import graft.ext.IncrementalSemDedup
    val dir = java.nio.file.Files.createTempDirectory("isemR").toString + "/s"
    IncrementalSemDedup.fold(spark, dir, planted, "vec_id", "embedding", 1L)
    def surv() = IncrementalSemDedup.survivors(spark, dir, "vec_id")
      .select("vec_id").as[Long].collect().toSet
    assert(surv() == Set(1L, 4L, 5L))
    // retract the cell-15 keeper: 2 resurrects (new cell minimum);
    // 3 stays dead (dominated by the resurrected 2); cell 14 untouched
    IncrementalSemDedup.retract(spark, dir, Seq(1L).toDF("vec_id"),
      "vec_id")
    assert(surv() == Set(2L, 4L, 5L))
    assert(surv() == VectorSearch.semDedup(
        planted.filter(col("vec_id") =!= 1L), "vec_id", "embedding",
        signBits = 4, threshold = 0.45)
      .select("vec_id").as[Long].collect().toSet)
    // sequential: retract the resurrected keeper too — 3 resurrects
    IncrementalSemDedup.retract(spark, dir, Seq(2L).toDF("vec_id"),
      "vec_id")
    assert(surv() == Set(3L, 4L, 5L))
    // the cell-stats decrements of BOTH retractions survive (disjoint
    // r-keys): cumulative cell sizes reflect the four remaining rows
    val cellSums = spark.read
      .parquet(dir + IncrementalSemDedup.CellStatsSuffix)
      .groupBy("cell").agg(sum("n_delta").as("n"))
      .as[(Long, Long)].collect().toMap
    assert(cellSums == Map(15L -> 2L, 14L -> 2L), s"got $cellSums")
    // pre-retraction replay is rejected (it would re-merge deleted rows)
    val e = intercept[IllegalArgumentException] {
      IncrementalSemDedup.fold(spark, dir, planted, "vec_id",
        "embedding", 1L)
    }
    assert(e.getMessage.contains("retraction"))
    // a fresh batch above the watermark folds against the post-delete
    // state: a clone of the RETRACTED keeper is new content now and
    // dies only to the current cell members
    IncrementalSemDedup.fold(spark, dir,
      Seq((9L, v(1f, 1f, 1f, 1f, 0.9f, 0.1f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", batchNo = 2L)
    assert(surv() == Set(3L, 4L, 5L)) // 9 dies to the resurrected 3
  }

  test("retract on the real embeddings table equals rebuild-without-X") {
    import graft.ext.IncrementalSemDedup
    val emb = graft.source.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding")
    val hi = emb.agg(max("vec_id")).head().getLong(0)
    val dir = java.nio.file.Files.createTempDirectory("isemR2").toString + "/s"
    IncrementalSemDedup.fold(spark, dir,
      emb.filter(col("vec_id") <= hi / 2), "vec_id", "embedding", 1L)
    IncrementalSemDedup.fold(spark, dir,
      emb.filter(col("vec_id") > hi / 2), "vec_id", "embedding", 2L)
    IncrementalSemDedup.retract(spark, dir,
      emb.filter(col("vec_id") % 7 === 0).select("vec_id"), "vec_id")
    val got = IncrementalSemDedup.survivors(spark, dir, "vec_id")
      .select("vec_id", "cell").as[(Long, Long)].collect().toSeq.sorted
    val want = VectorSearch.semDedup(
        emb.filter(col("vec_id") % 7 =!= 0), "vec_id", "embedding",
        signBits = 4, threshold = 0.45)
      .select("vec_id", "cell").as[(Long, Long)].collect().toSeq.sorted
    assert(got == want && want.nonEmpty)
  }

  test("incremental fold: streaming face equals the batch fold") {
    val emb = graft.source.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").filter(col("vec_id") < 400)
    val root = java.nio.file.Files.createTempDirectory("isem3").toString
    // two coalesced files so maxFilesPerTrigger=1 yields two ordered
    // micro-batches (the rule 11 lesson: file assignment = batch order)
    emb.filter(col("vec_id") < 200).coalesce(1)
      .write.parquet(root + "/in/b1")
    emb.filter(col("vec_id") >= 200).coalesce(1)
      .write.parquet(root + "/in/b2")
    val src = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", "1").parquet(root + "/in/b*")
    val q = graft.util.StateFold.stream(src, root + "/ck")((s, b, v) =>
      graft.ext.IncrementalSemDedup.fold(s, root + "/state", b, "vec_id",
        "embedding", v))
    q.awaitTermination()
    val streamed = graft.ext.IncrementalSemDedup
      .survivors(spark, root + "/state", "vec_id")
      .select("vec_id", "cell").as[(Long, Long)].collect().toSeq.sorted
    val oneShot = VectorSearch.semDedup(emb, "vec_id", "embedding",
      signBits = 4, threshold = 0.45)
      .select("vec_id", "cell").as[(Long, Long)].collect().toSeq.sorted
    assert(streamed == oneShot)
  }
}
