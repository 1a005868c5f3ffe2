package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.StateFold

/** Incrementally-maintained winnowing-fingerprint table — the fourth
  * instance of the repo's state-fold pattern
  * ([[graft.pipeline.IncrementalCuration]], [[IncrementalAnn]],
  * [[IncrementalBm25]]) and, like the BM25 fold, ORACLE-verifiable:
  * fingerprinting is a pure per-document function
  * ([[TextDedup.winnowingFingerprints]] — one map-side projection per
  * doc, no corpus context), so the folded table is trivially
  * batch-split invariant and a match pass over it must hash-match the
  * one-shot [[TextDedup.winnowingMatches]] SQL twin over the merged
  * corpus.
  *
  * This is the shape a plagiarism / passage-reuse pipeline actually
  * runs nightly: fingerprint the day's crawl (O(batch) map-side),
  * fold into the stored table (partition-scoped LWW merge — replays
  * idempotent), then run whatever match policies the day needs
  * against the artifact ([[matches]] for all-pairs,
  * [[TextDedup.winnowingCrossFromFps]] with the batch side for
  * ingest-time probes) without ever re-fingerprinting the corpus.
  *
  * Layout at `dir`: `(part = pmod(fp, StateParts), doc:fp, ver, doc,
  * fp)` — distinct fingerprints per doc (the match contract).
  * Partitioning by fingerprint value co-locates each posting list, so
  * the matcher's per-fp window never shuffles a partition's rows
  * apart at read time.
  */
object IncrementalWinnow {

  val StateParts: Int = graft.util.StateConf.parts(8)

  /** Fold one batch's fingerprints into the stored table. Same
    * contract as the other folds: `batchNo` is the merge version,
    * replays re-merge idempotently; docs arrive once (append-only
    * corpus — re-crawled identity goes through the curation fold
    * first).
    */
  def fold(spark: SparkSession, dir: String, batch: DataFrame,
           text: String, id: String, batchNo: Long,
           k: Int = 3, w: Int = 4, portableHash: Boolean = true): Unit =
    StateFold.bound(spark, dir, StateParts) {
      StateFold.upsert(spark, dir, StateFold.stamp(
        TextDedup.winnowingFingerprints(batch, text, id, k, w, portableHash)
          .select(col("doc"), col("fp")).distinct(),
        pmod(col("fp"), lit(StateParts.toLong)),
        concat_ws(":", col("doc"), col("fp")).as("pk"), batchNo,
        "doc", "fp"))
    }

  /** RETRACT a doc set: drop their fingerprint rows. Fingerprints are
    * per-doc-pure, so the post-delete table equals a fresh fold over
    * the surviving docs exactly — no fate recompute. The table is
    * fp-partitioned for probe locality, so finding a doc's rows costs
    * one index scan (the retraction-rare-path trade the band index
    * makes too); the rewrite itself is partition-scoped.
    */
  def retractDocs(spark: SparkSession, dir: String, docIds: DataFrame,
                  id: String): Unit =
    StateFold.bound(spark, dir, StateParts) {
      StateFold.retract(spark, dir, docIds.select(col(id).as("doc")))
    }

  /** All-pairs passage-reuse matches over the folded table — the
    * unchanged [[TextDedup.winnowingMatchesFromFps]] kernel reading
    * stored fingerprints instead of re-fingerprinting text.
    */
  def matches(spark: SparkSession, dir: String, minShared: Long = 3,
              maxPostings: Long = 1000): DataFrame =
    TextDedup.winnowingMatchesFromFps(
      spark.read.parquet(dir).select(col("doc"), col("fp")),
      minShared, maxPostings)

  /** Ingest-time probe: which docs of a NEW batch reuse passages from
    * the folded corpus — fingerprint the batch, broadcast it into the
    * stored-table scan ([[TextDedup.winnowingCrossFromFps]] shape).
    * Probe-only: does NOT fold the batch; call [[fold]] after if the
    * batch is being admitted.
    */
  def crossMatches(spark: SparkSession, dir: String, batch: DataFrame,
                   text: String, id: String, minShared: Long = 3,
                   k: Int = 3, w: Int = 4,
                   portableHash: Boolean = true): DataFrame =
    TextDedup.winnowingCrossFromFps(
      TextDedup.winnowingFingerprints(batch, text, id, k, w, portableHash)
        .select(col("doc"), col("fp")).distinct(),
      spark.read.parquet(dir).select(col("doc"), col("fp")),
      minShared)
}
