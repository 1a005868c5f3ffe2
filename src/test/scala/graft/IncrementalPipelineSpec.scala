package graft

import org.apache.spark.sql.functions._
import graft.op.Dedup
import graft.pipeline.Pipeline
import graft.sink.Sinks

/** Pipeline-LEVEL incremental test (round-5 verdict #6): a
  * Trigger.AvailableNow file stream over day-snapshot parquet drives
  * collect → dedup → price → JDBC upsert across two simulated days
  * (one micro-batch per day via maxFilesPerTrigger=1, same
  * composition as the reference's daily DAG), then day 1 is
  * RE-DELIVERED. The resulting Derby table must equal the one-shot
  * batch backfill (Pipeline.backfillPrices) over the same range — the
  * incremental and batch paths are the same pipeline at two cadences,
  * and the upsert makes replay idempotent.
  */
class IncrementalPipelineSpec extends SparkSpec {
  import spark.implicits._

  test("two-day AvailableNow incremental run equals the batch backfill, replay included") {
    val url = "jdbc:derby:memory:incrpipe;create=true"
    val c = java.sql.DriverManager.getConnection(url)
    c.createStatement().execute(
      "CREATE TABLE prices (location_id VARCHAR(40), fuel_type VARCHAR(40), " +
        "price DOUBLE, date DATE, PRIMARY KEY (location_id, fuel_type, date))")
    c.close()

    val d1 = java.sql.Date.valueOf("2024-06-01")
    val d2 = java.sql.Date.valueOf("2024-06-02")
    val dir = java.nio.file.Files.createTempDirectory("incr_days").toString
    // full daily snapshots (the reference's collection DAGs re-fetch
    // everything daily); day files carry an intra-day duplicate row the
    // dedup stage must collapse before pricing
    val snapshot = Seq("st-a" -> "BP", "st-b" -> "Z", "st-b" -> "Z",
      "st-c" -> "Mobil")
    snapshot.map { case (id, b) => (id, b, d1) }
      .toDF("location_id", "brand", "day")
      .coalesce(1).write.parquet(s"$dir/f1")
    Thread.sleep(1100) // distinct file mod times -> deterministic batch order
    snapshot.map { case (id, b) => (id, b, d2) }
      .toDF("location_id", "brand", "day")
      .coalesce(1).write.parquet(s"$dir/f2")
    Thread.sleep(1100)
    // day-1 REPLAY (late re-delivery): must be a no-op under the upsert
    snapshot.map { case (id, b) => (id, b, d1) }
      .toDF("location_id", "brand", "day")
      .coalesce(1).write.parquet(s"$dir/f3")

    val stream = spark.readStream
      .schema("location_id string, brand string, day date")
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/*")
    val q = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val day = batch.agg(max(col("day"))).head().getDate(0)
          val deduped = Dedup.firstSeen(batch, Seq("location_id"),
            Seq(col("brand"), col("day")))
          val prices = Pipeline.dailyPrices(spark, deduped, "location_id",
            None, lit(day))
          Sinks.jdbcUpsert(prices, url, "prices",
            Seq("location_id", "fuel_type", "date"),
            dialect = Sinks.ansiMergeDialect)
        }
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(180000)

    val incremental = spark.read.jdbc(url, "prices", new java.util.Properties)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getDouble(2), r.getDate(3).toString)).toSet

    val stations = snapshot.map { case (id, b) => (id, b) }.distinct
      .toDF("location_id", "brand")
    val batchBackfill = Pipeline.backfillPrices(spark, stations,
      "location_id", None, d1.toLocalDate, d2.toLocalDate)
      .collect().map(r => (r.getAs[String]("location_id"),
        r.getAs[String]("fuel_type"), r.getAs[Double]("price"),
        r.getAs[java.sql.Date]("date").toString)).toSet

    assert(incremental == batchBackfill)
    assert(incremental.size == 3 * 4 * 2) // 3 stations x 4 fuels x 2 days
  }

  test("incremental curation converges to the from-scratch rebuild; tombstones close the loser gap; replay idempotent") {
    import graft.pipeline.{Curation, IncrementalCuration}
    // 20-word docs sharing a fixed 12-word middle; prefix/suffix edits
    // tune pairwise jaccard precisely (18 3-shingles each):
    //   d1~d2 (suffix edit)  = 14/22 ≈ 0.64  -> pair, d2 loses
    //   d2~d4 (prefix edit)  = 14/22 ≈ 0.64  -> pair, d4 loses
    //   d1~d4 (both edits)   = 10/26 ≈ 0.38  -> NO pair
    // d4 is killed ONLY by tombstone d2 — the case a survivors-only
    // incremental fold gets wrong.
    val mid = "delta the foxtrot golf hotel the juliet kilo lima mike november oscar"
    val d1t = s"alpha bravo charlie dingo $mid papa quebec romeo sierra"
    val d2t = s"alpha bravo charlie dingo $mid tango uniform victor whiskey"
    val d4t = s"yankee zulu aardvark badger $mid tango uniform victor whiskey"
    val d3t = "one two three four " + mid + " five six seven eight"
    val d7t = "red blue green cyan " + mid + " pink gray black white"
    val docs = Seq(
      (1L, d1t), (2L, d2t), (3L, d3t),          // batch 1
      (4L, d4t), (5L, d3t),                     // d5: exact dup of d3
      (6L, "tiny doc"),                         // fails the quality gate
      (7L, d7t)                                 // clean survivor
    ).toDF("doc_id", "text")
    val b1 = docs.filter(col("doc_id") <= 3)
    val b2 = docs.filter(col("doc_id") > 3)
    val dir = java.nio.file.Files.createTempDirectory("inccur").toString + "/st"
    IncrementalCuration.curateBatch(spark, dir, b1, "text", "doc_id",
      batchNo = 1L, jaccardThreshold = 0.5)
    IncrementalCuration.curateBatch(spark, dir, b2, "text", "doc_id",
      batchNo = 2L, jaccardThreshold = 0.5)
    def surv() = IncrementalCuration.survivors(spark, dir)
      .select("doc_id").as[Long].collect().toSet
    assert(surv() == Set(1L, 3L, 7L))
    // state keeps the losers as tombstones, flagged
    val state = spark.read.parquet(dir)
    assert(state.filter(!col("is_survivor"))
      .select("doc_id").as[Long].collect().toSet == Set(2L, 4L))
    assert(state.count() == 5) // d5 exact-dropped, d6 quality-dropped
    // converges to the one-shot rebuild, full row contract included
    val fromScratch = Curation.curate(docs, "text", "doc_id",
      minQuality = 0.7, jaccardThreshold = 0.5)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val got = IncrementalCuration.survivors(spark, dir)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(got == fromScratch)
    // batch-2 replay (at-least-once delivery) re-merges to the same table
    IncrementalCuration.curateBatch(spark, dir, b2, "text", "doc_id",
      batchNo = 2L, jaccardThreshold = 0.5)
    assert(surv() == Set(1L, 3L, 7L))
    assert(spark.read.parquet(dir).count() == 5)

    // the STREAMING face: the same two batches as a file stream (one
    // micro-batch per file) must converge to the identical table, and
    // a checkpointed restart with no new files must replay nothing
    val sdir = java.nio.file.Files.createTempDirectory("inccurS").toString
    val stDir = sdir + "/state"
    val ckp = sdir + "/ckp"
    b1.coalesce(1).write.parquet(sdir + "/f1")
    Thread.sleep(1100) // distinct mod times -> deterministic batch order
    b2.coalesce(1).write.parquet(sdir + "/f2")
    def runStream(): Unit = {
      val st = spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", "1").parquet(sdir + "/f*")
      graft.util.StateFold.stream(st, ckp)((s, b, v) =>
        IncrementalCuration.curateBatch(s, stDir, b, "text", "doc_id", v,
          jaccardThreshold = 0.5)).awaitTermination(180000)
    }
    runStream()
    def sSurv() = IncrementalCuration.survivors(spark, stDir)
      .select("doc_id").as[Long].collect().toSet
    assert(sSurv() == Set(1L, 3L, 7L))
    assert(spark.read.parquet(stDir).count() == 5)
    runStream() // checkpointed restart: no new files, no replay, no drift
    assert(sSurv() == Set(1L, 3L, 7L))
  }

  test("indexed fold == plain fold state-for-state; posting table replays idempotently and carries tombstone shingles") {
    import graft.pipeline.{Curation, IncrementalCuration}
    // same fixture as the convergence test: d4 is killed ONLY via
    // tombstone d2 — the indexed probe must see tombstone shingles
    // from the POSTING table to reproduce it
    val mid = "delta the foxtrot golf hotel the juliet kilo lima mike november oscar"
    val docs = Seq(
      (1L, s"alpha bravo charlie dingo $mid papa quebec romeo sierra"),
      (2L, s"alpha bravo charlie dingo $mid tango uniform victor whiskey"),
      (3L, "one two three four " + mid + " five six seven eight"),
      (4L, s"yankee zulu aardvark badger $mid tango uniform victor whiskey"),
      (5L, "one two three four " + mid + " five six seven eight"),
      (6L, "tiny doc"),
      (7L, "red blue green cyan " + mid + " pink gray black white")
    ).toDF("doc_id", "text")
    val b1 = docs.filter(col("doc_id") <= 3)
    val b2 = docs.filter(col("doc_id") > 3)
    val plainDir = java.nio.file.Files.createTempDirectory("incP").toString + "/st"
    val idxDir = java.nio.file.Files.createTempDirectory("incI").toString + "/st"
    for ((d, indexed) <- Seq((plainDir, false), (idxDir, true))) {
      def foldB(b: org.apache.spark.sql.DataFrame, n: Long) =
        if (indexed) IncrementalCuration.curateBatchIndexed(spark, d, b,
          "text", "doc_id", n, jaccardThreshold = 0.5)
        else IncrementalCuration.curateBatch(spark, d, b,
          "text", "doc_id", n, jaccardThreshold = 0.5)
      foldB(b1, 1L); foldB(b2, 2L)
    }
    def stateOf(d: String) = spark.read.parquet(d)
      .select("doc_id", "ver", "n_words", "quality_score", "is_survivor")
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(stateOf(idxDir) == stateOf(plainDir)) // full state equality
    // …and both equal the from-scratch rebuild on the survivor contract
    assert(IncrementalCuration.survivors(spark, idxDir).orderBy("doc_id")
      .collect().map(_.toSeq).toSeq ==
      Curation.curate(docs, "text", "doc_id", minQuality = 0.7,
        jaccardThreshold = 0.5).orderBy("doc_id")
        .collect().map(_.toSeq).toSeq)
    // the posting table holds shingles for every state row — tombstone
    // d2 and d4 included (the convergence clause), quality-dropped d6
    // and exact-dup d5 excluded
    val postDocs = spark.read
      .parquet(idxDir + IncrementalCuration.PostingsSuffix)
      .select("doc").distinct().as[Long].collect().toSet
    assert(postDocs == Set(1L, 2L, 3L, 4L, 7L))
    // the df summary is TRUE: sum(df_delta) per shingle CODE equals
    // the posting-list length the plain path's window would count —
    // and the summary's string copy recomputes to exactly that code
    // (the collision-audit contract: postings are 8-byte codes only,
    // the summary holds the one string copy per distinct shingle)
    def dfSums() = spark.read
      .parquet(idxDir + IncrementalCuration.DfSuffix)
      .groupBy("shc").agg(sum("df_delta").as("df"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val postingDf = spark.read
      .parquet(idxDir + IncrementalCuration.PostingsSuffix)
      .groupBy("shc").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dfSums() == postingDf)
    assert(spark.read.parquet(idxDir + IncrementalCuration.DfSuffix)
      .filter(xxhash64(col("sh")) =!= col("shc")).count() == 0)
    // replaying batch 2 re-merges ALL THREE tables idempotently (an
    // additive df table would double-count exactly here)
    val before = spark.read
      .parquet(idxDir + IncrementalCuration.PostingsSuffix).count()
    IncrementalCuration.curateBatchIndexed(spark, idxDir, b2,
      "text", "doc_id", 2L, jaccardThreshold = 0.5)
    assert(spark.read
      .parquet(idxDir + IncrementalCuration.PostingsSuffix).count() == before)
    assert(dfSums() == postingDf)
    assert(stateOf(idxDir) == stateOf(plainDir))
  }

  test("out-of-order batch fails the ascending-id guard loudly; replays of a folded batchNo stay exempt") {
    import graft.pipeline.IncrementalCuration
    val mid = "delta the foxtrot golf hotel the juliet kilo lima mike november oscar"
    val docs = Seq(
      (1L, s"alpha bravo charlie dingo $mid papa quebec romeo sierra"),
      (5L, "one two three four " + mid + " five six seven eight"),
      (9L, "red blue green cyan " + mid + " pink gray black white")
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("incguard").toString +
      "/st"
    IncrementalCuration.curateBatch(spark, dir,
      docs.filter(col("doc_id") >= 5), "text", "doc_id", batchNo = 1L,
      jaccardThreshold = 0.5)
    // a NEW batch number carrying an id below the folded state violates
    // the convergence contract -> loud failure, not silent drift
    val e = intercept[IllegalArgumentException] {
      IncrementalCuration.curateBatch(spark, dir,
        docs.filter(col("doc_id") === 1), "text", "doc_id", batchNo = 2L,
        jaccardThreshold = 0.5)
    }
    assert(e.getMessage.contains("out-of-order batch"))
    // state is untouched by the rejected fold
    assert(IncrementalCuration.survivors(spark, dir)
      .select("doc_id").as[Long].collect().toSet == Set(5L, 9L))
    // a REPLAY (batchNo <= folded max version) is exempt even though its
    // ids precede nothing new — at-least-once redelivery must not kill
    // the stream
    IncrementalCuration.curateBatch(spark, dir,
      docs.filter(col("doc_id") >= 5), "text", "doc_id", batchNo = 1L,
      jaccardThreshold = 0.5)
    assert(IncrementalCuration.survivors(spark, dir)
      .select("doc_id").as[Long].collect().toSet == Set(5L, 9L))
  }

  test("replay exemption is version-scoped: a reused batchNo with new data fails; quality-dropped stragglers don't") {
    import graft.pipeline.IncrementalCuration
    val mid = "delta the foxtrot golf hotel the juliet kilo lima mike november oscar"
    def doc(i: Long, pre: String, post: String) =
      (i, s"$pre $mid $post")
    val b1 = Seq(
      doc(5L, "one two three four", "five six seven eight"),
      doc(9L, "red blue green cyan", "pink gray black white"))
      .toDF("doc_id", "text")
    val b2 = Seq(
      doc(20L, "alpha bravo charlie dingo", "papa quebec romeo sierra"),
      doc(21L, "june july august sept", "octo novem decem jan"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("incguard2").toString +
      "/st"
    IncrementalCuration.curateBatch(spark, dir, b1, "text", "doc_id",
      batchNo = 1L, jaccardThreshold = 0.5)
    IncrementalCuration.curateBatch(spark, dir, b2, "text", "doc_id",
      batchNo = 2L, jaccardThreshold = 0.5)
    // fresh-checkpoint restart: foreachBatch renumbers from 1, but the
    // "replayed" batchNo carries NEW ids above later versions' rows —
    // the old batchNo-only exemption folded this silently; now loud
    val fresh = Seq(
      doc(30L, "kappa sigma theta zeta", "iota omega psi chi"))
      .toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      IncrementalCuration.curateBatch(spark, dir, fresh, "text", "doc_id",
        batchNo = 1L, jaccardThreshold = 0.5)
    }
    assert(e.getMessage.contains("out-of-order batch"))
    assert(e.getMessage.contains("later-version"))
    // a GENUINE replay of batch 1 (its original ids, sandwiched between
    // no earlier versions and batch 2's ids) still passes idempotently
    IncrementalCuration.curateBatch(spark, dir, b1, "text", "doc_id",
      batchNo = 1L, jaccardThreshold = 0.5)
    assert(IncrementalCuration.survivors(spark, dir)
      .select("doc_id").as[Long].collect().toSet == Set(5L, 9L, 20L, 21L))
    // a late low-id straggler that the QUALITY GATE drops anyway cannot
    // affect convergence (it never enters state on either path) — the
    // guard must ignore it instead of killing the stream
    val straggler = Seq(
      (2L, "tiny doc"), // below min quality — dropped pre-state
      doc(25L, "lorem ipsum dolor sit", "amet consectetur adipiscing elit"))
      .toDF("doc_id", "text")
    IncrementalCuration.curateBatch(spark, dir, straggler, "text", "doc_id",
      batchNo = 3L, jaccardThreshold = 0.5)
    assert(IncrementalCuration.survivors(spark, dir)
      .select("doc_id").as[Long].collect().toSet ==
      Set(5L, 9L, 20L, 21L, 25L))
  }
}
