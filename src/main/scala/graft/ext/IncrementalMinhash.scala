package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.StateFold

/** Incrementally-maintained MinHash-LSH band index — the fifth
  * instance of the repo's state-fold pattern
  * ([[graft.pipeline.IncrementalCuration]], [[IncrementalAnn]],
  * [[IncrementalBm25]], [[IncrementalWinnow]]), completing the
  * incremental family across the dedup ladder: every near-dup tier
  * that a nightly crawl pipeline probes (n-gram postings, winnowing
  * fingerprints, BM25 postings, IVF cells, and now MinHash band
  * buckets) has a fold-maintained stored artifact.
  *
  * Like the winnow fold, this one is ORACLE-verifiable: the band
  * bucket ids are a pure per-document function of the text
  * ([[TextDedup.bandBuckets]] — the fixed h1 + i·h2 permutation
  * family, no corpus context), so the folded table is batch-split
  * invariant, and a verified-match pass over it must hash-match the
  * one-shot [[TextDedup.minhashVerifiedPairs]] SQL twin over the
  * merged corpus (candidate recall ≈ 0.9999 at j ≥ 0.5 with the
  * r = 2 / b = 32 banding, so the verified output IS the exact
  * jaccard pair set — the same argument `ns_dedup_minhash_verified`
  * rests on).
  *
  * What the stored table buys at scale: candidate generation against
  * a 100 TB corpus WITHOUT re-signing the corpus. The nightly probe
  * signs only the day's batch (O(batch·perms) map-side), joins its
  * band rows against the stored buckets, and fetches corpus text only
  * for the candidate docs a bucket collision produced — the
  * O(corpus) signature pass is paid once at fold time, amortized
  * forever.
  *
  * Layout at `dir`: `(part = pmod(bucket, StateParts),
  * pk = doc:band, ver, doc, band, bucket)` — one bucket id per
  * (doc, band), LWW on re-fold. Partitioning by hashed bucket value
  * co-locates each bucket's member list, so the matcher's per-bucket
  * self-join reads bucket-complete partitions. The over-cap bucket
  * guard is applied at MATCH time over the merged table (not at fold
  * time): a bucket that outgrows the cap across folds is dropped
  * exactly as a one-shot build over the merged corpus would drop it —
  * the property that keeps fold ≡ rebuild.
  */
object IncrementalMinhash {

  val StateParts: Int = graft.util.StateConf.parts(8)

  /** Fold one batch's band rows into the stored table. Same contract
    * as the other folds: `batchNo` is the merge version, replays
    * re-merge idempotently; re-crawled doc identity goes through the
    * curation fold first (append-only corpus here).
    */
  def fold(spark: SparkSession, dir: String, batch: DataFrame,
           text: String, id: String, batchNo: Long,
           shingleN: Int = 3, numPerms: Int = 64, bands: Int = 32): Unit =
    StateFold.bound(spark, dir, StateParts) {
      StateFold.upsert(spark, dir, StateFold.stamp(
        TextDedup.bandBuckets(
          TextDedup.docShingles(batch, text, id, shingleN), numPerms, bands),
        pmod(col("bucket"), lit(StateParts.toLong)),
        concat_ws(":", col("doc"), col("band")).as("pk"), batchNo,
        "doc", "band", "bucket"))
    }

  /** Stored band rows, narrowed to the matcher's columns. */
  private def stored(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir).select(col("doc"), col("band"), col("bucket"))

  /** RETRACT a doc set from the band index: drop their band rows.
    * Band rows are bucket-partitioned (probe locality), so finding a
    * doc's rows costs one index scan — the price of a retraction, not
    * of a probe; the rewrite itself is partition-scoped. Membership is
    * per-doc-pure, so the post-delete table equals a fresh fold over
    * the surviving docs exactly.
    */
  def retractDocs(spark: SparkSession, dir: String,
                  docIds: DataFrame, id: String): Unit =
    StateFold.bound(spark, dir, StateParts) {
      StateFold.retract(spark, dir, docIds.select(col(id).as("doc")))
    }

  /** All-pairs verified near-dup matches over the folded table — the
    * unchanged one-shot kernels ([[TextDedup.bucketCandidates]] +
    * [[TextDedup.verifyPairsExact]]) reading stored band rows instead
    * of re-signing the corpus. `docs` supplies the text for the exact
    * per-candidate verify (full shingle universe, no pruning — the
    * oracle's exact similarity).
    */
  def matchesVerified(spark: SparkSession, dir: String, docs: DataFrame,
                      text: String, id: String, shingleN: Int = 3,
                      threshold: Double = 0.5,
                      maxBucket: Int = 1000): DataFrame = {
    val cand = TextDedup.bucketCandidates(stored(spark, dir), maxBucket)
    TextDedup.verifyPairsExact(cand,
      TextDedup.docShingles(docs, text, id, shingleN), threshold)
  }

  /** Ingest-time probe: which docs of a NEW batch near-duplicate the
    * folded corpus. Signs ONLY the batch; candidate pairs come from
    * joining the batch's band rows against the stored buckets (cap
    * evaluated over the union, as a one-shot build over
    * corpus ∪ batch would); corpus text is then fetched ONLY for the
    * candidate old docs (semi-join BEFORE shingling — the
    * candidate-bounded read is the point of the index). Probe-only:
    * does NOT fold the batch; call [[fold]] after if it is admitted.
    *
    * Returns (id_new, id_old, jaccard) at exact n-gram jaccard ≥
    * `threshold`.
    */
  def crossProbe(spark: SparkSession, dir: String, batch: DataFrame,
                 corpus: DataFrame, text: String, id: String,
                 shingleN: Int = 3, numPerms: Int = 64, bands: Int = 32,
                 threshold: Double = 0.5, maxBucket: Int = 1000): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val batchSh = TextDedup.docShingles(batch, text, id, shingleN)
      .persist(lvl)
    val batchBuckets = TextDedup.bandBuckets(batchSh, numPerms, bands)
      .persist(lvl)
    val corpusBuckets = stored(spark, dir)
    // cap over the union: per-(band,bucket) size = stored members +
    // batch members, mirroring the one-shot guard on the merged corpus
    val sizes = corpusBuckets.groupBy("band", "bucket")
      .agg(count(lit(1)).as("_nold"))
      .join(batchBuckets.groupBy("band", "bucket")
          .agg(count(lit(1)).as("_nnew")),
        Seq("band", "bucket"), "full_outer")
      .select(col("band"), col("bucket"),
        (coalesce(col("_nold"), lit(0L)) +
          coalesce(col("_nnew"), lit(0L))).as("_bsize"))
    val okBuckets = sizes.filter(col("_bsize") <= maxBucket)
      .select("band", "bucket")
    val cand = batchBuckets.select(col("band"), col("bucket"),
        col("doc").as("id_new"))
      .join(okBuckets, Seq("band", "bucket"))
      .join(corpusBuckets.select(col("band"), col("bucket"),
        col("doc").as("id_old")), Seq("band", "bucket"))
      .filter(col("id_new") =!= col("id_old"))
      .select("id_new", "id_old").distinct()
      .persist(lvl)
    // candidate-bounded corpus read: semi-join the RAW docs frame on
    // the candidate old ids, then shingle — tokenization cost scales
    // with candidates, not corpus
    val oldDocs = corpus.join(
      cand.select(col("id_old").as(id)).distinct(), Seq(id), "left_semi")
    val shingles = batchSh.unionByName(
      TextDedup.docShingles(oldDocs, text, id, shingleN))
    TextDedup.verifyPairsExact(cand, shingles, threshold,
      leftId = "id_new", rightId = "id_old")
  }
}
