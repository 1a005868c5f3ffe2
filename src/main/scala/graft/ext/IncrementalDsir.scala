package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained DSIR model — the state-fold pattern
  * ([[IncrementalSketch]]) applied to the importance-resampling
  * model: a document batch's hashed-gram bucket counts fold into a
  * persisted (bucket, n_raw, n_target) delta table by plain integer
  * addition (multinomial counts are the textbook mergeable summary),
  * so the folded model is EXACTLY the one-shot [[Dsir.modelCounts]]
  * over the merged corpus — bit-equal, and therefore so are the λ
  * table and every document score derived from it. The probes share
  * the one-shot `ns_dsir_model` / `ns_dsir_weights` oracle SQL
  * verbatim: the hash gate IS the fold ≡ rebuild proof.
  *
  * This is the production shape of DSIR at crawl scale: the target
  * corpus is fixed, the raw model grows nightly with each crawl
  * batch, and new documents are scored (for selection or routing)
  * against the maintained model without ever re-reading history.
  *
  * State layout (`dir`): `(part = 0, pk = "<bucket>:<batchNo><tag>",
  * ver = batchNo, bucket, raw_delta, target_delta)` — one delta row
  * per touched bucket per batch (≤ m rows/batch), LWW-keyed on
  * (bucket, batch) so a replayed batch REWRITES its own delta instead
  * of double-counting. Read-time model = sum of deltas per bucket.
  * [[compact]] folds old deltas into one baseline row per bucket and
  * records the replay watermark ([[DeltaCompact]] contract), bounding
  * state at O(m) regardless of batch count.
  *
  * Scale shape per fold: one map-side gram pass over the BATCH + one
  * partial-agg shuffle bounded by O(m) — the corpus is never re-read.
  * Probes: model read is O(m·deltas); scoring broadcasts the λ table.
  */
object IncrementalDsir {

  /** Delta layout: one row per (bucket, batch), tag trailing. */
  private val Layout = DeltaCompact.Table(Seq("bucket"),
    Seq("raw_delta", "target_delta"), lit(0L), tagLeads = false)

  /** Fold one document batch into the stored model. `targetPred`
    * marks the batch's target-corpus rows (same predicate every fold
    * — the model's target slice accumulates alongside raw).
    * Replay-idempotent; a batch at or below the compaction watermark
    * is a no-op (already inside the baseline).
    */
  def fold(spark: SparkSession, dir: String, docs: DataFrame,
           text: String, id: String, targetPred: Column, batchNo: Long,
           m: Int = Dsir.DefaultBuckets): Unit =
    DeltaCompact.fold(spark, dir, batchNo)(
      delta(spark, dir, docs, text, id, targetPred, m))

  /** RETRACT a doc set's grams from the model (right-to-be-forgotten):
    * counts are exact, so subtraction is sound — one NEGATIVE delta
    * row per touched bucket ([[DeltaCompact.retract]]).
    */
  def retractDocs(spark: SparkSession, dir: String, docs: DataFrame,
                  text: String, id: String, targetPred: Column,
                  retractVer: Long,
                  m: Int = Dsir.DefaultBuckets): Unit =
    DeltaCompact.retract(spark, dir, retractVer)(
      delta(spark, dir, docs, text, id, targetPred, m))

  private def delta(spark: SparkSession, dir: String, docs: DataFrame,
                    text: String, id: String, targetPred: Column,
                    m: Int)(d: DeltaCompact.Delta): Unit =
    d.write(spark, dir, Layout,
      Dsir.modelCounts(docs, text, id, targetPred, m)
        .select(col("bucket"), col("n_raw").as("raw_delta"),
          col("n_target").as("target_delta")))

  /** Compact the delta table to one baseline row per bucket and
    * record the replay watermark — O(m) state forever after. Probe
    * output is unchanged (the sums are associative).
    */
  def compact(spark: SparkSession, dir: String): Long =
    DeltaCompact.compact(spark, dir, Layout)

  /** The maintained model, summed at read time — identical columns
    * and values to the one-shot [[Dsir.modelCounts]] over the folded
    * corpus (fully-retracted buckets vanish, as they never existed).
    */
  def modelProbe(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)
      .groupBy("bucket")
      .agg(sum("raw_delta").as("n_raw"),
        sum("target_delta").as("n_target"))
      .filter(col("n_raw") > 0L)

  /** Score a document frame against the MAINTAINED model — the
    * nightly routing/selection probe: λ derives from the stored
    * counts (≤ m rows) and broadcasts; only the probe batch is
    * scanned. Identical output to [[Dsir.logWeights]] when the frame
    * equals the folded corpus. NEW documents can carry grams the
    * model never folded; those buckets score the smoothed
    * zero-count log-ratio [[Dsir.unseenLambda]] (from the maintained
    * model's own totals — one O(m) aggregate on the ≤ m-row model),
    * not 0: a hardcoded 0 would bias every novel document toward the
    * raw corpus.
    */
  def weightsProbe(spark: SparkSession, dir: String, docs: DataFrame,
                   text: String, id: String,
                   m: Int = Dsir.DefaultBuckets): DataFrame = {
    val model = modelProbe(spark, dir)
    val t = model
      .agg(coalesce(sum("n_raw"), lit(0L)),
        coalesce(sum("n_target"), lit(0L))).head()
    val unseen = Dsir.unseenLambda(t.getLong(0), t.getLong(1), m)
    Dsir.scoreAgainst(Dsir.lambdaFromCounts(model, m),
      docs, text, id, m, unseenLam = lit(unseen))
  }
}
