package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained count-min sketch — the state-fold pattern
  * applied to the sketch family: a new document batch's token counts
  * fold into a persisted CMS cell matrix by plain integer addition
  * (CMS cells are associative, the textbook mergeable-summary
  * property), so the folded matrix is EXACTLY the one-shot matrix
  * over the merged corpus — bit-equal, not approximately equal. The
  * probe then shares the one-shot `ns_cms_counts` oracle verbatim:
  * the hash gate proves fold ≡ rebuild for the whole estimate path
  * (cells, top-k selection, min-over-rows estimate, overestimate
  * audit).
  *
  * State layout:
  *  - cell deltas at `dir`: `(part=0, pk = d:b:batchNo, ver, d, b,
  *    cell_n)` — one delta row per touched cell per batch, LWW-keyed
  *    on (cell, batch) so a replay REWRITES its own delta instead of
  *    double-counting. Read-time cells = sum of deltas. Total state
  *    is O(depth · width · batches); a compaction pass could fold
  *    old deltas into one baseline row, same LWW table.
  *  - vocab audit at `dir + VocabSuffix`: per-(term, batch) true-count
  *    deltas. This is the AUDIT sidecar (the `true_n`/`over_n`
  *    columns of the registered query) — a production deployment
  *    keeps only the O(depth·width) cell state and drops this
  *    vocabulary-sized table; the sketch estimate path never reads it
  *    except to select/verify the top-k.
  *
  * Scale shape per fold: one map-side tokenize + two partial-agg
  * shuffles bounded by O(depth·width) and O(batch vocab); the corpus
  * is never re-read.
  */
object IncrementalSketch {

  val VocabSuffix = "_vocab"

  /** Delta layouts: cells tag trailing (`d:b:<ver><tag>`), vocab tag
    * leading (`<ver><tag>:t` — the colon-free batch prefix keeps the
    * pk injective whatever characters the term carries). */
  private val CellLayout = DeltaCompact.Table(Seq("d", "b"), Seq("cell_n"),
    lit(0L), tagLeads = false)
  private val VocabLayout = DeltaCompact.Table(Seq("t"), Seq("n_delta"),
    pmod(expr(Sketches.tokCodeSql), lit(8L)), tagLeads = true)

  /** Fold one document batch's token counts into the stored cell
    * matrix + vocab audit. Replay-idempotent via the (key, batchNo)
    * LWW delta rows; a replay of a batch that [[cmsCompact]] already
    * folded into the baseline is a no-op (cells and vocab are always
    * compacted together, so the cell watermark governs both).
    */
  def cmsFold(spark: SparkSession, dir: String, docs: DataFrame,
              text: String, batchNo: Long, depth: Int = 4,
              width: Int = 64): Unit =
    DeltaCompact.fold(spark, dir, batchNo)(
      cmsDelta(spark, dir, docs, text, depth, width))

  /** RETRACT a doc set's token counts from the CMS + vocab state: the
    * cells are EXACT per-(d, b) counts here, so subtraction is sound —
    * one NEGATIVE delta row per touched cell/term
    * ([[DeltaCompact.retract]], guarded by the cell table's baseline).
    */
  def cmsRetract(spark: SparkSession, dir: String, docs: DataFrame,
                 text: String, retractVer: Long, depth: Int = 4,
                 width: Int = 64): Unit =
    DeltaCompact.retract(spark, dir, retractVer)(
      cmsDelta(spark, dir, docs, text, depth, width))

  private def cmsDelta(spark: SparkSession, dir: String, docs: DataFrame,
                       text: String, depth: Int, width: Int)
                      (d: DeltaCompact.Delta): Unit = {
    require(depth >= 1 && width >= 1)
    val toks = docs.select(explode(Tok.tokens(col(text))).as("t"))
      .withColumn("c", expr(Sketches.tokCodeSql))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    d.write(spark, dir, CellLayout, toks
      .select(explode(expr(s"transform(sequence(0, ${depth - 1}), d -> " +
        s"struct(d AS d, ${Sketches.cmsBucketSql("d", width)} AS b))")).as("db"))
      .groupBy(col("db.d").as("d"), col("db.b").as("b"))
      .agg(count(lit(1)).as("cell_n")))
    d.write(spark, dir + VocabSuffix, VocabLayout,
      toks.groupBy("t").agg(count(lit(1)).as("n_delta")))
    toks.unpersist()
  }

  /** Compact both delta tables to one baseline row per key and record
    * the replay watermark — bounds state at O(depth·width + vocab)
    * regardless of batch count. Probe output is unchanged (the sums
    * are associative; [[DeltaCompact]]).
    */
  def cmsCompact(spark: SparkSession, dir: String): Long = {
    val wm = DeltaCompact.compact(spark, dir, CellLayout)
    DeltaCompact.compact(spark, dir + VocabSuffix, VocabLayout)
    wm
  }

  /** Frequency-ranked vocabulary derived from the MAINTAINED vocab
    * audit table — one fold, many probes: the per-(term, batch)
    * exact-count deltas that audit the CMS estimates double as the
    * corpus vocabulary, so the ranked contiguous-id vocab (the
    * [[TextAnalysis.buildVocab]] shape) probes straight out of
    * already-folded state with no corpus re-scan. Counts re-sum
    * associatively and the ranking is the two-pass distributed
    * numbering, so fold ≡ rebuild exactly — the probe shares
    * `ns_vocab`'s oracle SQL verbatim.
    */
  def vocabProbe(spark: SparkSession, dir: String,
                 minCount: Long = 1): DataFrame = {
    require(minCount >= 1, "minCount must be >= 1")
    val counts = spark.read.parquet(dir + VocabSuffix)
      .groupBy("t").agg(sum("n_delta").as("n"))
      .filter(col("n") >= minCount)
      .withColumnRenamed("t", "token")
    graft.op.Scale.globalRowNumbers(
        counts.withColumn("_neg_n", -col("n")), Seq("_neg_n", "token"),
        idCol = "vocab_id")
      .drop("_neg_n")
      .select("token", "n", "vocab_id")
  }

  val GridSuffix = "_grid"

  /** Grid delta layout: one row per (batch, group, cell), tag leading
    * (the anchor keeps a group name carrying "r"/":" from matching). */
  private val GridLayout = DeltaCompact.Table(Seq("grp", "cell"),
    Seq("cell_n"), pmod(xxhash64(col("grp")), lit(4L)), tagLeads = true)

  /** Fold one batch's fixed-grid cell counts (the
    * [[Sketches.gridQuantiles]] state) into a persisted delta table —
    * same associative-cells argument as the CMS: the folded cell sums
    * are bit-equal to a one-shot count over the merged corpus, so the
    * quantile probe shares `ns_quantile_grid`'s oracle verbatim.
    * State is O(groups · occupied cells · batches) until
    * [[gridCompact]] folds it to one baseline row per (group, cell).
    */
  def gridFold(spark: SparkSession, dir: String, docs: DataFrame,
               valueCol: String, groupCol: String, batchNo: Long,
               grid: Long = 64L): Unit =
    DeltaCompact.fold(spark, dir + GridSuffix, batchNo)(
      gridDelta(spark, dir, docs, valueCol, groupCol, grid))

  /** RETRACT a doc set's cells from the grid state — exact counts, so
    * subtraction is sound; same negative-delta contract as
    * [[cmsRetract]].
    */
  def gridRetract(spark: SparkSession, dir: String, docs: DataFrame,
                  valueCol: String, groupCol: String, retractVer: Long,
                  grid: Long = 64L): Unit =
    DeltaCompact.retract(spark, dir + GridSuffix, retractVer)(
      gridDelta(spark, dir, docs, valueCol, groupCol, grid))

  private def gridDelta(spark: SparkSession, dir: String, docs: DataFrame,
                        valueCol: String, groupCol: String, grid: Long)
                       (d: DeltaCompact.Delta): Unit = {
    require(grid >= 1)
    // cell math copied verbatim from Sketches.gridQuantiles (integer
    // DIV with the pmod floor trick — exact for negatives too)
    d.write(spark, dir + GridSuffix, GridLayout, docs
      .select(col(groupCol).as("grp"),
        expr(s"(CAST($valueCol AS BIGINT) - " +
          s"pmod(CAST($valueCol AS BIGINT), ${grid}L)) DIV ${grid}L")
          .as("cell"))
      .groupBy("grp", "cell").agg(count(lit(1)).as("cell_n")))
  }

  /** Per-group quantiles over the folded cells — the same output shape
    * as [[Sketches.gridQuantiles]] (n, p50_lo/p90_lo/p95_lo/p99_lo as
    * cell lower bounds), recomputed from exact folded sums.
    */
  def gridProbe(spark: SparkSession, dir: String, groupCol: String,
                grid: Long = 64L,
                qs: Seq[Int] = Seq(50, 90, 95, 99)): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("grp").orderBy("cell")
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy("grp")
    val cum = spark.read.parquet(dir + GridSuffix)
      .groupBy("grp", "cell").agg(sum("cell_n").as("cell_n"))
      .withColumn("cum", sum("cell_n").over(w))
      .withColumn("n", sum("cell_n").over(wAll))
    val qCols = qs.map(q =>
      min(when(col("cum") * lit(100L) >= col("n") * lit(q.toLong),
        col("cell") * lit(grid))).as(s"p${q}_lo"))
    cum.groupBy("grp")
      .agg(max("n").as("n"), qCols: _*)
      // a group fully emptied by retraction must vanish, not emit n=0
      .filter(col("n") > 0L)
      .withColumnRenamed("grp", groupCol)
      .select((Seq(groupCol, "n") ++ qs.map(q => s"p${q}_lo")).map(col): _*)
  }

  /** Compact the grid delta table ([[DeltaCompact]]). */
  def gridCompact(spark: SparkSession, dir: String): Long =
    DeltaCompact.compact(spark, dir + GridSuffix, GridLayout)

  /** Top-k estimate-vs-true audit over the folded state — the same
    * `(term, true_n, est_n, over_n)` shape [[Sketches.cmsTermCounts]]
    * returns over a one-shot corpus, which is what lets the two share
    * one oracle. Cells and true counts both re-aggregate by plain
    * sums (associative), so every value is bit-equal to the one-shot.
    */
  def cmsProbe(spark: SparkSession, dir: String, depth: Int = 4,
               width: Int = 64, topK: Int = 50): DataFrame = {
    val cells = spark.read.parquet(dir)
      .groupBy("d", "b").agg(sum("cell_n").as("cell_n"))
    val top = spark.read.parquet(dir + VocabSuffix)
      .groupBy("t").agg(sum("n_delta").as("true_n"))
      // terms fully retracted must vanish, not rank at 0
      .filter(col("true_n") > 0L)
      .orderBy(desc("true_n"), col("t")).limit(topK)
      .withColumn("c", expr(Sketches.tokCodeSql))
    top
      .select(col("t").as("term"), col("true_n"),
        explode(expr(s"transform(sequence(0, ${depth - 1}), d -> " +
          s"struct(d AS d, ${Sketches.cmsBucketSql("d", width)} AS b))")).as("db"))
      .join(broadcast(cells),
        col("db.d") === col("d") && col("db.b") === col("b"))
      .groupBy("term", "true_n")
      .agg(min(col("cell_n")).as("est_n"))
      .withColumn("over_n", col("est_n") - col("true_n"))
  }
}
