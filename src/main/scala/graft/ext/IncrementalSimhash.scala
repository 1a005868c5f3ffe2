package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.StateFold

/** Incrementally-maintained SimHash signature index — the sixth
  * instance of the repo's state-fold pattern
  * ([[graft.pipeline.IncrementalCuration]], [[IncrementalAnn]],
  * [[IncrementalBm25]], [[IncrementalWinnow]], [[IncrementalMinhash]]),
  * closing the dedup ladder: every signature family the reference-style
  * nightly pipeline could probe (n-gram postings, winnowing
  * fingerprints, BM25 postings, IVF cells, MinHash band buckets, and
  * now SimHash signatures) has a fold-maintained stored artifact.
  *
  * This is the LIGHTEST of the folds, and the only one whose probe
  * reads NO document text at all: the stored state is one 8-byte
  * signature per document (the engine-portable 32-bit
  * [[TextDedup.portableSimhashSig]], so the fold stays
  * oracle-verifiable — the DuckDB twin recomputes the identical bits),
  * and hamming distance is computed from signatures alone. A 10-billion
  * document corpus is an ~160 GB signature table; the nightly probe
  * signs only the day's batch map-side and joins it against the stored
  * table through the same pigeonhole chunk keys as the one-shot
  * matcher — O(batch·chunks) explode, one hash join, zero corpus
  * re-tokenization and zero text fetch.
  *
  * Signatures are a pure per-document function of the text, so the
  * folded table is batch-split invariant and a matcher pass over it
  * hash-matches the one-shot [[TextDedup.simhashPairsPortable]] twin
  * over the merged corpus — the fold ≡ rebuild property, enforced BY
  * HASH through `ns_simhash_incremental`.
  *
  * Layout at `dir`: `(part = pmod(xxhash64(doc), StateParts),
  * pk = doc, ver, doc, sim)` — one row per doc, LWW on re-fold.
  * Partitioning is by DOC identity, not by signature: the matcher
  * joins on pigeonhole chunk pieces (a map-side explode of `sim`), so
  * signature-value partitioning would co-locate nothing — while
  * doc-identity partitioning makes a re-crawled doc's new signature
  * land in the SAME partition as its stale row, which the
  * partition-scoped LWW merge then supersedes (re-sign-in-place is
  * safe here, unlike the exploded-row folds, whose contract routes
  * identity changes through the curation fold first).
  */
object IncrementalSimhash {

  val StateParts: Int = graft.util.StateConf.parts(8)

  /** Sign one batch map-side and fold the `(doc, sim)` rows into the
    * stored signature table. `batchNo` is the merge version; replays
    * re-merge idempotently (partition-scoped LWW).
    */
  def fold(spark: SparkSession, dir: String, batch: DataFrame,
           text: String, id: String, batchNo: Long): Unit =
    StateFold.bound(spark, dir, StateParts) {
      StateFold.upsert(spark, dir, StateFold.stamp(signed(batch, text, id),
        docPart(col("doc")), col("doc").cast("string").as("pk"), batchNo,
        "doc", "sim"))
    }

  /** A doc's partition: doc-identity hashed. */
  private def docPart(doc: Column): Column =
    pmod(xxhash64(doc), lit(StateParts.toLong))

  /** `(doc, sim)` signatures of a batch, computed map-side. */
  private def signed(batch: DataFrame, text: String, id: String): DataFrame =
    batch
      .select(col(id).as("doc"), TextDedup.tokens(col(text)).as("toks"))
      .select(col("doc"), TextDedup.portableSimhashSig("toks").as("sim"))

  /** RETRACT a doc set: drop their signature rows. Signatures are
    * per-doc-pure and the table is doc-identity-partitioned, so the
    * delete is a partition-pruned rewrite and the post-delete table
    * equals a fresh fold over the surviving docs exactly. The
    * partitions to open are DERIVED from the retract ids (the same
    * derived-partition filter the IVF/LSH retract faces use), so the
    * locate step never scans the corpus-sized table whatever
    * StateParts a large deployment raises it to.
    */
  def retractDocs(spark: SparkSession, dir: String, docIds: DataFrame,
                  id: String): Unit =
    StateFold.bound(spark, dir, StateParts) {
      StateFold.retract(spark, dir, docIds.select(col(id).as("doc")),
        partOf = Some(docPart _))
    }

  /** Stored signature rows, narrowed to the matcher's columns. */
  private def stored(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir).select(col("doc"), col("sim"))

  /** All-pairs near-dup matches over the folded signature table — the
    * unchanged one-shot pigeonhole kernel reading stored signatures
    * instead of re-signing the corpus. Returns (id_a, id_b, hamming)
    * at hamming ≤ `maxHamming`; needs no document text.
    */
  def matches(spark: SparkSession, dir: String,
              maxHamming: Int = 3): DataFrame =
    TextDedup.simhashPairsFromSigs(stored(spark, dir), sigBits = 32,
      maxHamming)

  /** Ingest-time probe: which docs of a NEW batch simhash-near-dup the
    * folded corpus. Signs ONLY the batch; the corpus contributes its
    * stored signatures and is never read beyond them. Probe-only —
    * does NOT fold the batch; call [[fold]] after if it is admitted.
    *
    * Returns (doc_id, corpus_id, hamming) at hamming ≤ `maxHamming` —
    * the [[TextDedup.simhashCrossPortable]] contract with the corpus
    * side served from state.
    */
  def crossProbe(spark: SparkSession, dir: String, batch: DataFrame,
                 text: String, id: String,
                 maxHamming: Int = 3): DataFrame = {
    TextDedup.simhashCrossFromSigs(signed(batch, text, id),
      stored(spark, dir), maxHamming)
  }
}
