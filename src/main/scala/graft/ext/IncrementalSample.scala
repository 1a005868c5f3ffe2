package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained exact-k uniform sample — the bottom-k
  * sketch as a state fold: [[Sampling.sampleExactK]] picks each
  * stratum's k smallest rows under the deterministic key-hash order,
  * and "k smallest of a union" = "k smallest of (k smallest of each
  * part)", so a persisted k-row-per-stratum state folded batch by
  * batch lands on EXACTLY the one-shot sample over the merged corpus
  * — the property that lets `ns_sample_incremental` share
  * `ns_sample_exact_k`'s oracle SQL verbatim. This is the mergeable
  * uniform-sample primitive a 100 TB corpus needs: the sample of the
  * whole crawl history is maintained in O(strata · k) state, no
  * corpus re-scan, ever.
  *
  * State layout at `dir`: the CURRENT sample — at most k rows
  * `(stratum, key)` per stratum — rewritten wholesale each fold (the
  * state is tiny by construction; there is nothing to merge
  * partition-wise). Folds are set-semantic: the union is
  * deduplicated on (stratum, key) before re-ranking, so replays and
  * re-crawled keys are idempotent by construction, in any arrival
  * order.
  */
object IncrementalSample {

  /** Fold one batch into the stored sample: per stratum, keep the k
    * smallest (hash, key) rows of state ∪ batch.
    */
  def fold(spark: SparkSession, dir: String, batch: DataFrame,
           stratum: String, key: String, k: Int): Unit = {
    val b = batch.select(col(stratum), col(key))
    rebuild(spark, dir,
      if (graft.util.StateFold.exists(spark, dir))
        spark.read.parquet(dir)
          .select(col("stratum").as(stratum), col("key").as(key)
            .cast(b.schema(key).dataType))
          .unionByName(b)
      else b,
      stratum, key, k)
  }

  /** The current sample — the same `(key, stratum)` row set
    * [[Sampling.sampleExactK]] returns over the merged corpus.
    */
  def sample(spark: SparkSession, dir: String, stratum: String,
             key: String): DataFrame =
    spark.read.parquet(dir)
      .select(col("key").as(key), col("stratum").as(stratum))

  /** REBUILD the sample state from a full membership frame — the
    * retraction path: a bottom-k sketch is not subtractive (evicted
    * candidates are gone), so when membership SHRINKS the only honest
    * move is recomputing from the surviving population. `docs` is
    * O(corpus) rows but only (stratum, key) wide — the caller keeps a
    * thin metadata sidecar precisely so this never touches text.
    */
  def rebuild(spark: SparkSession, dir: String, docs: DataFrame,
              stratum: String, key: String, k: Int): Unit = {
    require(k >= 1, "k must be >= 1")
    val next = Sampling.sampleExactK(
        docs.select(col(stratum), col(key)).dropDuplicates(stratum, key),
        stratum, key, k)
      .select(col(stratum).as("stratum"), col(key).as("key"))
      // materialize before overwriting the parquet this plan reads
      .localCheckpoint(true)
    next.write.mode("overwrite").parquet(dir)
  }
}
