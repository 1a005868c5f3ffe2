package graft

import org.apache.spark.sql.functions._
import graft.ext.{Dsir, IncrementalAnn, IncrementalBm25,
  IncrementalClusters, IncrementalDsir, IncrementalMinhash,
  IncrementalSample, IncrementalSemDedup, IncrementalSimhash,
  IncrementalStats, IncrementalWinnow, Sampling, TextAnalysis, TextDedup,
  VectorSearch}
import graft.pipeline.{Curation, IncrementalCuration, IncrementalPipeline}

/** The composite nightly fold: curation admission feeds every
  * maintained index at one version, and each index's probe must equal
  * the one-shot build over the curation survivors — the cross-fold
  * consistency contract.
  */
class IncrementalPipelineCompositeSpec extends SparkSpec {
  import spark.implicits._

  private def rm(root: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
      .foreach(java.nio.file.Files.deleteIfExists(_))
  }

  test("two nightly folds == one-shot builds over the merged survivors") {
    val docs = graft.source.Tables.documents(spark, sf)
      .select("doc_id", "text", "lang", "source")
      .filter(col("doc_id") <= 400)
    val mid = 200L
    val rootP = java.nio.file.Files.createTempDirectory("nightly")
    val root = rootP.toString
    try {
      val r1 = IncrementalPipeline.nightly(spark, root,
        docs.filter(col("doc_id") <= mid), "text", "doc_id", batchNo = 1L)
      val r2 = IncrementalPipeline.nightly(spark, root,
        docs.filter(col("doc_id") > mid), "text", "doc_id", batchNo = 2L)
      assert(r1.nBatch > 0 && r2.nBatch > 0)
      assert(r1.nAdmitted > 0 && r2.nAdmitted > 0)

      // curation state == one-shot curate over the merged corpus
      val survivorIds = IncrementalCuration
        .survivors(spark, s"$root/curation").select("doc_id")
      val oneShotIds = Curation.curate(docs, "text", "doc_id",
        minQuality = 0.7, jaccardThreshold = 0.3).select("doc_id")
      assert(survivorIds.as[Long].collect().sorted.toSeq ==
        oneShotIds.as[Long].collect().sorted.toSeq)

      // the admitted docs (what the indexes saw)
      val admitted = docs.join(survivorIds, Seq("doc_id"), "left_semi")
        .persist()

      // BM25: folded-index probe == one-shot topK over admitted
      val terms = Seq("the", "data", "lorem")
      val gotBm = IncrementalBm25.topK(spark, s"$root/bm25", terms, k = 10)
        .as[(Int, Long, Long, Long)].collect().toSeq
      val wantBm = TextAnalysis.bm25TopK(admitted, "text", "doc_id",
          terms, k = 10)
        .as[(Int, Long, Long, Long)].collect().toSeq
      assert(gotBm == wantBm)

      // MinHash: folded-band-index verified matches == one-shot
      val gotMh = IncrementalMinhash.matchesVerified(spark,
          s"$root/minhash", admitted, "text", "doc_id")
        .select("id_a", "id_b").as[(Long, Long)].collect().toSeq.sorted
      val wantMh = TextDedup.minhashVerifiedPairs(admitted, "text",
          "doc_id")
        .select("id_a", "id_b").as[(Long, Long)].collect().toSeq.sorted
      assert(gotMh == wantMh)

      // profile: folded sums == one-shot aggregation over admitted
      // (n_chars derived from text length, the composite's convention)
      val gotSt = IncrementalStats.probe(spark, s"$root/stats")
        .orderBy("source")
        .as[(String, Long, Long, Long, Double)].collect().toSeq
      val wantSt = admitted
        .withColumn("n_chars", length(col("text")).cast("long"))
        .select(col("source"),
          graft.ext.Tok.count(col("text")).cast("long").as("nt"),
          col("n_chars"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("nt").as("n_tokens"),
          sum("n_chars").as("n_chars_total"),
          round(sum("nt").cast("double") / count(lit(1)), 6)
            .as("avg_tokens"))
        .orderBy("source")
        .as[(String, Long, Long, Long, Double)].collect().toSeq
      assert(gotSt == wantSt)

      // sample: folded bottom-k == one-shot exact-k over admitted
      val gotSm = IncrementalSample.sample(spark, s"$root/sample",
          "lang", "doc_id")
        .as[(Long, String)].collect().toSeq.sorted
      val wantSm = Sampling.sampleExactK(
          admitted.select("doc_id", "lang"), "lang", "doc_id", k = 40)
        .as[(Long, String)].collect().toSeq.sorted
      assert(gotSm == wantSm)

      // SimHash: folded signature matches == one-shot over admitted
      val gotSh = IncrementalSimhash.matches(spark, s"$root/simhash")
        .select("id_a", "id_b").as[(Long, Long)].collect().toSeq.sorted
      val wantSh = TextDedup.simhashPairsPortable(admitted, "text",
          "doc_id")
        .select("id_a", "id_b").as[(Long, Long)].collect().toSeq.sorted
      assert(gotSh == wantSh)

      // winnowing: folded fingerprint matches == one-shot
      val gotWn = IncrementalWinnow.matches(spark, s"$root/winnow")
        .select("id_a", "id_b", "n_shared")
        .as[(Long, Long, Long)].collect().toSeq.sorted
      val wantWn = TextDedup.winnowingMatches(admitted, "text", "doc_id")
        .select("id_a", "id_b", "n_shared")
        .as[(Long, Long, Long)].collect().toSeq.sorted
      assert(gotWn == wantWn)

      // CC: folded labels == one-shot contraction over the maintained
      // pair-edge table (the graph the labeling tracks)
      val edgesDir = s"$root/curation" + IncrementalCuration.EdgesSuffix
      if (new java.io.File(edgesDir).exists) {
        val gotCc = IncrementalClusters.labels(spark, s"$root/cc")
          .as[(Long, Long)].collect().toSeq.sorted
        val wantCc = TextDedup.nearDupClusters(
            spark.read.parquet(edgesDir).select("id_a", "id_b"))
          .as[(Long, Long)].collect().toSeq.sorted
        assert(gotCc == wantCc && gotCc.nonEmpty)
        assert(IncrementalClusters.auditRedirects(spark, s"$root/cc")
          .isEmpty)
      }

      // DSIR: folded selection model == one-shot over admitted
      assert(IncrementalDsir.modelProbe(spark, s"$root/dsir")
        .orderBy("bucket").as[(Long, Long, Long)].collect().toSeq ==
        Dsir.modelCounts(admitted, "text", "doc_id",
            col("lang") === "en")
          .orderBy("bucket").as[(Long, Long, Long)].collect().toSeq)

      // the maintenance pass ran: each nightly compacted what its own
      // folds fragmented, and no probe above changed under it
      assert((r1.compaction ++ r2.compaction)
        .forall(c => c.filesAfter > 0 && c.filesAfter < c.filesBefore))

      // replay of batch 2: every sub-fold must no-op — all probes stable
      IncrementalPipeline.nightly(spark, root,
        docs.filter(col("doc_id") > mid), "text", "doc_id", batchNo = 2L)
      assert(IncrementalBm25.topK(spark, s"$root/bm25", terms, k = 10)
        .as[(Int, Long, Long, Long)].collect().toSeq == wantBm)
      assert(IncrementalStats.probe(spark, s"$root/stats")
        .orderBy("source")
        .as[(String, Long, Long, Long, Double)].collect().toSeq == wantSt)
      assert(IncrementalSample.sample(spark, s"$root/sample",
          "lang", "doc_id")
        .as[(Long, String)].collect().toSeq.sorted == wantSm)
      admitted.unpersist()
    } finally rm(rootP)
  }

  test("retractNightly propagates one delete through every maintained index") {
    import graft.pipeline.IncrementalPipeline
    import graft.ext.{IncrementalSketch, Sketches}
    // the IncrementalRetractSpec geometry, with lang/source so every
    // composite fold runs: retracting {1} promotes 8 (exact group),
    // resurrects 2 (only suppressor gone), and fells 9 (newly paired
    // with the promoted elder) — membership moves BOTH ways
    val mid = "delta the foxtrot golf hotel the juliet kilo lima mike november oscar"
    val docs = Seq(
      (1L, s"alpha bravo charlie dingo $mid papa quebec romeo sierra", "en", "web"),
      (2L, s"alpha bravo charlie dingo $mid tango uniform victor whiskey", "en", "web"),
      (3L, "one two three four " + mid + " five six seven eight", "de", "books"),
      (4L, s"yankee zulu aardvark badger $mid tango uniform victor whiskey", "en", "web"),
      (5L, "one two three four " + mid + " five six seven eight", "de", "books"),
      (6L, "tiny doc", "en", "web"),
      (7L, "red blue green cyan " + mid + " pink gray black white", "de", "books"),
      (8L, s"alpha, bravo, charlie, dingo, $mid papa quebec romeo sierra", "en", "web"),
      (9L, s"alpha, bravo, charlie, dingo, $mid magenta indigo maroon teal", "en", "web")
    ).toDF("doc_id", "text", "lang", "source")
    val rootP = java.nio.file.Files.createTempDirectory("nightly_r")
    val root = rootP.toString
    try {
      IncrementalPipeline.nightly(spark, root,
        docs.filter(col("doc_id") <= 3), "text", "doc_id", batchNo = 1L,
        jaccardThreshold = 0.5, sampleK = 3)
      IncrementalPipeline.nightly(spark, root,
        docs.filter(col("doc_id") > 3), "text", "doc_id", batchNo = 2L,
        jaccardThreshold = 0.5, sampleK = 3)
      IncrementalPipeline.retractNightly(spark, root,
        Seq(1L).toDF("doc_id"), "text", "doc_id", retractVer = 3L,
        jaccardThreshold = 0.5, sampleK = 3)

      // the admitted set of the never-retracted corpus
      val remaining = docs.filter(col("doc_id") =!= 1L)
      val admitted = remaining.join(
          Curation.curate(remaining, "text", "doc_id", minQuality = 0.7,
            jaccardThreshold = 0.5).select("doc_id"),
          Seq("doc_id"), "left_semi")
        .withColumn("n_chars", length(col("text")).cast("long"))
        .persist()
      assert(admitted.select("doc_id").as[Long].collect().toSet ==
        Set(2L, 3L, 7L, 8L))

      // curation face
      assert(IncrementalCuration.survivors(spark, s"$root/curation")
        .select("doc_id").as[Long].collect().toSet == Set(2L, 3L, 7L, 8L))
      // BM25: folded index (post-retraction) == one-shot over admitted
      val terms = Seq("the", "alpha,", "tango")
      assert(IncrementalBm25.topK(spark, s"$root/bm25", terms, k = 5)
        .collect().map(_.toSeq).toSeq ==
        TextAnalysis.bm25TopK(admitted, "text", "doc_id", terms, k = 5)
          .collect().map(_.toSeq).toSeq)
      // MinHash: verified matches over the maintained band index
      assert(IncrementalMinhash.matchesVerified(spark, s"$root/minhash",
          admitted, "text", "doc_id", threshold = 0.5)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSeq.sorted ==
        TextDedup.minhashVerifiedPairs(admitted, "text", "doc_id",
          threshold = 0.5)
          .select("id_a", "id_b").as[(Long, Long)].collect().toSeq.sorted)
      // profile: negative removal deltas + positive addition folds
      assert(IncrementalStats.probe(spark, s"$root/stats")
        .orderBy("source")
        .as[(String, Long, Long, Long, Double)].collect().toSeq ==
        admitted.select(col("source"),
            graft.ext.Tok.count(col("text")).cast("long").as("nt"),
            col("n_chars"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum("nt").as("n_tokens"),
            sum("n_chars").as("n_chars_total"),
            round(sum("nt").cast("double") / count(lit(1)), 6)
              .as("avg_tokens"))
          .orderBy("source")
          .as[(String, Long, Long, Long, Double)].collect().toSeq)
      // CMS audit: exact negative cells == one-shot sketch over admitted
      assert(IncrementalSketch.cmsProbe(spark, s"$root/cms")
        .orderBy("term").as[(String, Long, Long, Long)].collect().toSeq ==
        Sketches.cmsTermCounts(admitted, "text")
          .orderBy("term").as[(String, Long, Long, Long)].collect().toSeq)
      // grid quantiles over n_chars by source
      assert(IncrementalSketch.gridProbe(spark, s"$root/cms", "source")
        .orderBy("source").collect().map(_.toSeq).toSeq ==
        Sketches.gridQuantiles(admitted, "n_chars", "source")
          .orderBy("source").collect().map(_.toSeq).toSeq)
      // sample: rebuilt from the docmeta sidecar
      assert(IncrementalSample.sample(spark, s"$root/sample",
          "lang", "doc_id")
        .as[(Long, String)].collect().toSeq.sorted ==
        Sampling.sampleExactK(admitted.select("doc_id", "lang"),
          "lang", "doc_id", k = 3)
          .as[(Long, String)].collect().toSeq.sorted)
      // SimHash: signature table converged to the admitted set
      assert(IncrementalSimhash.matches(spark, s"$root/simhash")
        .select("id_a", "id_b").as[(Long, Long)].collect().toSeq.sorted ==
        TextDedup.simhashPairsPortable(admitted, "text", "doc_id")
          .select("id_a", "id_b").as[(Long, Long)].collect().toSeq.sorted)
      // winnowing: fingerprint table converged to the admitted set
      assert(IncrementalWinnow.matches(spark, s"$root/winnow")
        .select("id_a", "id_b", "n_shared")
        .as[(Long, Long, Long)].collect().toSeq.sorted ==
        TextDedup.winnowingMatches(admitted, "text", "doc_id")
          .select("id_a", "id_b", "n_shared")
          .as[(Long, Long, Long)].collect().toSeq.sorted)
      // CC: labels == one-shot contraction over the POST-retraction
      // edge table (surviving old edges + the promotion's fresh pairs)
      val edgesDir = s"$root/curation" + IncrementalCuration.EdgesSuffix
      val wantCc =
        if (new java.io.File(edgesDir).exists)
          TextDedup.nearDupClusters(
              spark.read.parquet(edgesDir).select("id_a", "id_b"))
            .as[(Long, Long)].collect().toSeq.sorted
        else Seq.empty[(Long, Long)]
      val gotCc =
        if (new java.io.File(s"$root/cc").exists)
          IncrementalClusters.labels(spark, s"$root/cc")
            .as[(Long, Long)].collect().toSeq.sorted
        else Seq.empty[(Long, Long)]
      assert(gotCc == wantCc && wantCc.nonEmpty,
        s"cc labels diverged: got $gotCc want $wantCc")
      assert(IncrementalClusters.auditRedirects(spark, s"$root/cc")
        .isEmpty)
      // DSIR: the selection model converged to the admitted set
      // (negative removal deltas + positive promotion folds)
      assert(IncrementalDsir.modelProbe(spark, s"$root/dsir")
        .orderBy("bucket").as[(Long, Long, Long)].collect().toSeq ==
        Dsir.modelCounts(admitted, "text", "doc_id",
            col("lang") === "en")
          .orderBy("bucket").as[(Long, Long, Long)].collect().toSeq)
      // a post-retraction nightly fold continues above the watermark
      val b4 = Seq((12L, "the lazy owl reads " + mid +
        " under warm lamp light", "en", "web")).toDF(
        "doc_id", "text", "lang", "source")
      IncrementalPipeline.nightly(spark, root, b4, "text", "doc_id",
        batchNo = 4L, jaccardThreshold = 0.5, sampleK = 3)
      assert(IncrementalCuration.survivors(spark, s"$root/curation")
        .select("doc_id").as[Long].collect().toSet ==
        Set(2L, 3L, 7L, 8L, 12L))
      admitted.unpersist()
    } finally rm(rootP)
  }

  test("embedding nightly: semdedup admission feeds the ANN folds; " +
    "retraction converges; init replays safely") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").filter(col("vec_id") <= 360)
      .persist()
    val rootP = java.nio.file.Files.createTempDirectory("nightly_e")
    val root = rootP.toString
    try {
      val b0 = emb.filter(col("vec_id") <= 200)
      val b1 = emb.filter(col("vec_id") > 200 && col("vec_id") <= 300)
      val b2 = emb.filter(col("vec_id") > 300)
      val r0 = IncrementalPipeline.nightlyEmbed(spark, root, b0,
        "vec_id", "embedding", batchNo = 0L, nLists = 4)
      val r1 = IncrementalPipeline.nightlyEmbed(spark, root, b1,
        "vec_id", "embedding", batchNo = 1L, nLists = 4)
      val r2 = IncrementalPipeline.nightlyEmbed(spark, root, b2,
        "vec_id", "embedding", batchNo = 2L, nLists = 4)
      assert(r0.nAdmitted > 0 && r1.nBatch > 0 && r2.nBatch > 0)
      assert(r1.driftRatio > 0.0)

      // admission == one-shot semDedup over the merged corpus
      def survIds() = IncrementalSemDedup
        .survivors(spark, s"$root/semdedup", "vec_id")
        .select("vec_id").as[Long].collect().toSet
      val oneShot = VectorSearch.semDedup(emb, "vec_id", "embedding")
        .select("vec_id").as[Long].collect().toSet
      assert(survIds() == oneShot)

      // the ANN artifacts hold exactly the admitted vectors
      def ivfIds() = spark.read.parquet(s"$root/ivf")
        .select("vec_id").as[Long].collect().toSet
      def pqIds() = spark.read.parquet(s"$root/pq")
        .select("vec_id").as[Long].collect().toSet
      def lshIds() = spark.read
        .parquet(s"$root/lsh" + graft.ext.IncrementalLsh.VecsSuffix)
        .select("vec_id").as[Long].collect().toSet
      assert(ivfIds() == oneShot && pqIds() == oneShot)
      assert(lshIds() == oneShot)
      // LSH probe parity: folded tier == one-shot multi-table kernel
      // over the admitted vectors
      def lshProbe() = graft.ext.IncrementalLsh.topK(spark,
          s"$root/lsh", emb.filter(col("vec_id") < 3), "vec_id",
          "embedding", k = 5)
        .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
      def lshWant(ids: Set[Long]) = VectorSearch.annTopKMultiTable(
          emb.filter(col("vec_id").isInCollection(ids)),
          emb.filter(col("vec_id") < 3), "vec_id", "embedding", k = 5)
        .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
      assert(lshProbe() == lshWant(oneShot) && lshProbe().nonEmpty)
      // the audit row-count trail sums to the table's true size
      def auditSum() = IncrementalAnn.ivfAudit(spark, s"$root/ivf")
        .agg(sum("n_rows")).head().getLong(0)
      assert(auditSum() == oneShot.size.toLong)
      // probes run unchanged against the maintained index
      val probe = VectorSearch.ivfTopK(
        IncrementalAnn.ivfIndex(spark, s"$root/ivf", "vec_id",
          "embedding"),
        emb.filter(col("vec_id") < 3), k = 5, nprobe = 2)
      assert(probe.count() > 0)

      // retraction: one call settles admission AND the ANN artifacts
      val x = emb.filter(col("vec_id") % 7 === 0).select("vec_id")
      IncrementalPipeline.retractNightlyEmbed(spark, root, x,
        "vec_id", "embedding", retractVer = 3L)
      val remaining = emb.filter(col("vec_id") % 7 =!= 0)
      val oneShotAfter = VectorSearch.semDedup(remaining, "vec_id",
          "embedding")
        .select("vec_id").as[Long].collect().toSet
      assert(survIds() == oneShotAfter)
      assert(ivfIds() == oneShotAfter && pqIds() == oneShotAfter)
      assert(lshIds() == oneShotAfter)
      assert(lshProbe() == lshWant(oneShotAfter))
      assert(auditSum() == oneShotAfter.size.toLong)
      // resurrections really happened (a % 7 dominator freed someone)
      // OR nothing resurrected — either way the sets converged above;
      // pin that at least the removals were non-trivial
      assert(oneShotAfter != oneShot)

      // a replayed pre-retraction night must fail LOUDLY (re-merging
      // it would resurrect retracted vectors — the SemDedup
      // retraction-watermark contract); the artifacts stay put
      intercept[IllegalArgumentException] {
        IncrementalPipeline.nightlyEmbed(spark, root, b0, "vec_id",
          "embedding", batchNo = 0L, nLists = 4)
      }
      assert(survIds() == oneShotAfter && ivfIds() == oneShotAfter)
      emb.unpersist()
    } finally rm(rootP)
  }

  test("streaming nightly == batch nightly") {
    val docs = graft.source.Tables.documents(spark, sf)
      .select("doc_id", "text", "lang", "source")
      .filter(col("doc_id") <= 120)
    val rootP = java.nio.file.Files.createTempDirectory("nightly_s")
    val root = rootP.toString
    val srcDir = s"$root/src"
    try {
      docs.filter(col("doc_id") <= 60).coalesce(1)
        .write.parquet(srcDir + "/b1")
      docs.filter(col("doc_id") > 60).coalesce(1)
        .write.parquet(srcDir + "/b2")
      val stream = spark.readStream
        .schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir + "/*")
      graft.util.StateFold.stream(stream, s"$root/ckpt") { (s, b, v) =>
          IncrementalPipeline.nightly(s, s"$root/stream", b, "text",
            "doc_id", v)
          ()
        }
        .awaitTermination(300000)
      IncrementalPipeline.nightly(spark, s"$root/batch",
        docs.filter(col("doc_id") <= 60), "text", "doc_id", 1L)
      IncrementalPipeline.nightly(spark, s"$root/batch",
        docs.filter(col("doc_id") > 60), "text", "doc_id", 2L)
      val a = IncrementalCuration.survivors(spark, s"$root/stream/curation")
        .select("doc_id").as[Long].collect().sorted.toSeq
      val b = IncrementalCuration.survivors(spark, s"$root/batch/curation")
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(a == b && a.nonEmpty)
      val sa = IncrementalStats.probe(spark, s"$root/stream/stats")
        .orderBy("source")
        .as[(String, Long, Long, Long, Double)].collect().toSeq
      val sb = IncrementalStats.probe(spark, s"$root/batch/stats")
        .orderBy("source")
        .as[(String, Long, Long, Long, Double)].collect().toSeq
      assert(sa == sb)
    } finally rm(rootP)
  }
}
