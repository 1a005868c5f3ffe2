package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained per-source corpus profile — the
  * state-fold pattern applied to corpus monitoring: each document
  * batch contributes one (source, batch) delta row of associative
  * totals (doc / token / char sums), and the probe re-aggregates the
  * delta table to EXACTLY the one-shot per-source profile — the
  * nightly corpus dashboard without a corpus re-scan.
  *
  * The ratio column (`avg_tokens`) is derived at PROBE time from the
  * folded exact integer sums (one double division over totals, same
  * expression as the one-shot), so it is bit-equal to the rebuild —
  * the reason the folded probe can share `ns_source_stats`' oracle
  * SQL verbatim. This is the moments-fold rule every mergeable
  * profile in this repo follows: fold sums, never fold averages.
  *
  * State layout at `dir`: `(part = pmod(xxhash64(source), 4), pk =
  * batchNo:source, ver, source, n_docs, n_tokens, n_chars_total)` —
  * LWW-keyed per (batch, source), so a replayed batch REWRITES its
  * own delta instead of double-counting. State is O(sources ·
  * batches); a compaction pass could fold history into one baseline
  * row per source through the same LWW table.
  *
  * Scale shape per fold: one map-side tokenize-and-count + one
  * partial-aggregated shuffle to O(batch sources) rows.
  */
object IncrementalStats {

  /** Delta layout: one row per (batch, source), tag leading. */
  private val Layout = DeltaCompact.Table(Seq("source"),
    Seq("n_docs", "n_tokens", "n_chars_total"),
    pmod(xxhash64(col("source")), lit(4L)), tagLeads = true)

  /** Fold one document batch's per-source totals into the state.
    * `docs` must carry `sourceCol`, `text`, and `n_chars`. A replay of
    * a batch already folded into the compacted baseline is a no-op
    * (the [[DeltaCompact]] watermark contract).
    */
  def fold(spark: SparkSession, dir: String, docs: DataFrame,
           text: String, sourceCol: String, batchNo: Long): Unit =
    DeltaCompact.fold(spark, dir, batchNo)(
      delta(spark, dir, docs, text, sourceCol))

  /** RETRACT a doc set's totals: one NEGATIVE delta row per source
    * ([[DeltaCompact.retract]]). Note `probeAsOf` semantics: the
    * negative row carries `retractVer`, so as-of probes at earlier
    * versions still reconstruct the PRE-retraction history — time
    * travel and retraction compose.
    */
  def retractFold(spark: SparkSession, dir: String, docs: DataFrame,
                  text: String, sourceCol: String,
                  retractVer: Long): Unit =
    DeltaCompact.retract(spark, dir, retractVer)(
      delta(spark, dir, docs, text, sourceCol))

  private def delta(spark: SparkSession, dir: String, docs: DataFrame,
                    text: String, sourceCol: String)
                   (d: DeltaCompact.Delta): Unit =
    d.write(spark, dir, Layout, docs
      .select(col(sourceCol).as("source"),
        Tok.count(col(text)).cast("long").as("_nt"), col("n_chars"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum("_nt"), lit(0L)).as("n_tokens"),
        coalesce(sum("n_chars"), lit(0L)).as("n_chars_total")))

  /** Compact the delta table to one baseline row per source and
    * record the replay watermark — state becomes O(sources) however
    * many batches have folded ([[DeltaCompact]]).
    */
  def compact(spark: SparkSession, dir: String): Long =
    DeltaCompact.compact(spark, dir, Layout)

  /** The folded per-source profile — the same `(source, n_docs,
    * n_tokens, n_chars_total, avg_tokens)` shape the one-shot
    * `ns_source_stats` query returns, derived from exact integer sums
    * so the two share one oracle.
    */
  def probe(spark: SparkSession, dir: String): DataFrame =
    aggProfile(spark.read.parquet(dir))

  /** The profile AS OF a fold version — TIME TRAVEL over the
    * versioned delta table: every delta row carries `ver`, so summing
    * only rows at `ver <= asOfVer` reproduces the profile exactly as
    * it stood after that batch folded, without any snapshot having
    * been taken. This is a property of the whole fold family's state
    * layout (per-(key, batch) LWW delta rows), surfaced here on the
    * profile because it is the fold whose history a curation team
    * actually asks about ("what did the mix look like before
    * Tuesday's crawl?").
    *
    * Answerable versions are bounded below by the compaction
    * watermark: [[compact]] folds all history into one baseline row
    * AT the watermark version, so earlier states no longer exist —
    * the standard retention trade; compact on the cadence you need
    * history for. Asking below the watermark fails loudly rather
    * than returning the (wrong) baseline-inclusive sum.
    *
    * Scale shape: one filter + partial-aggregated groupBy over the
    * O(sources · batches) delta table; the corpus is never touched.
    */
  def probeAsOf(spark: SparkSession, dir: String, asOfVer: Long): DataFrame = {
    // the floor is the BASELINE version (max ver folded into the
    // baseline, compacted retractions included) — the replay
    // watermark can sit below it, but baseline rows carry baseVer,
    // so a probe between the two would silently exclude the baseline
    DeltaCompact.baselineVer(spark, dir).foreach { bv =>
      require(asOfVer >= bv,
        s"as-of version $asOfVer predates the compacted baseline $bv — " +
          "that state was folded into the baseline and no longer exists")
    }
    aggProfile(spark.read.parquet(dir).filter(col("ver") <= asOfVer))
  }

  private def aggProfile(deltas: DataFrame): DataFrame =
    deltas
      .groupBy("source")
      .agg(sum("n_docs").as("n_docs"), sum("n_tokens").as("n_tokens"),
        sum("n_chars_total").as("n_chars_total"))
      // a source fully emptied by retraction vanishes, as a rebuild's
      // groupBy over zero rows would
      .filter(col("n_docs") > 0L)
      .withColumn("avg_tokens",
        round(col("n_tokens").cast("double") / col("n_docs"), 6))
      .select("source", "n_docs", "n_tokens", "n_chars_total", "avg_tokens")
}
