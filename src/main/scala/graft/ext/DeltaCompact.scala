package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.StateFold

/** The signed-delta protocol of the ASSOCIATIVE delta-state tables
  * ([[IncrementalSketch]] cells/vocab/grid, [[IncrementalStats]]
  * profiles, [[IncrementalDsir]] model), in one place: each table's
  * layout ([[Table]]), the positive fold and the negative retraction
  * ([[fold]]/[[retract]]), and baseline compaction ([[compact]]).
  * A fold appends one LWW delta row per (key, batch), so state grows
  * O(keys · batches) — at a batch per hour that is the table's real
  * 100 TB failure mode, not row width. Compaction folds the whole
  * history into ONE baseline row per key (the sums are associative —
  * that is the fold family's admission test) and records a replay
  * WATERMARK so the delta/replay contract survives:
  *
  *  - baseline rows take `pk = "base:" + key` — disjoint from every
  *    live delta pk (both layouts lead with a numeric batchNo or a
  *    numeric key where "base" cannot appear), so a later fold's LWW
  *    merge never collides with the baseline.
  *  - the watermark (max folded `ver` OVER FOLD ROWS ONLY at
  *    compaction time, stored as a one-row parquet at `dir + "_wm"`)
  *    turns a REPLAY of a compacted batch into a documented no-op in
  *    the folds: the batch's delta row no longer exists to be
  *    rewritten, so re-adding it would double-count — exactly the
  *    divergence the pk-per-batch LWW rule otherwise prevents.
  *    Batches at `ver <= watermark` are already inside the baseline
  *    by construction (checkpointed streams only redeliver the LAST
  *    committed batch, which the fold-then-compact ordering has
  *    already folded). RETRACTION deltas (`r`-tagged pks) are
  *    EXCLUDED from the watermark via the table's
  *    [[Table.foldRow]]: a retraction's `retractVer` exceeds every folded
  *    batch by contract, so including it would pin the watermark
  *    above all future batchNos and every later fold would silently
  *    no-op — new data dropped with no error.
  *  - the BASELINE VERSION (max `ver` over ALL compacted rows,
  *    including retraction deltas; second column of the watermark
  *    file) stamps the baseline rows and is the floor for both as-of
  *    probes (earlier states were folded away) and retraction
  *    versions (a retraction at or below it was already folded into
  *    the baseline — re-issuing it would double-subtract, so the
  *    retract faces reject it loudly).
  *
  * Scale shape: one partial-aggregated groupBy over the (small) delta
  * table + a full-table overwrite of O(keys) rows; the corpus is
  * never touched.
  */
object DeltaCompact {

  val WatermarkSuffix = "_wm"

  /** A delta table's layout: its key and associative-sum columns, its
    * partition expression over the keys, and where the batch tag
    * `<ver><tag>` sits in the pk — LEADING (`<ver><tag>:k1:k2`, for
    * free-text keys: the batch prefix is colon-free, so the pk stays
    * injective whatever the key holds) or TRAILING (`k1:k2:<ver><tag>`,
    * numeric keys).
    */
  final case class Table(keys: Seq[String], sums: Seq[String],
                         part: Column, tagLeads: Boolean) {
    def pk(tag: String): Column =
      if (tagLeads)
        concat(lit(tag) +: keys.flatMap(k => Seq(lit(":"), col(k))): _*)
      else concat_ws(":", keys.map(col) :+ lit(tag): _*)

    /** FOLD delta rows (true) vs retraction rows: a fold's tag is all
      * digits, a retraction's ends in `r` — anchored for leading tags,
      * so a key carrying "r" never matches. */
    def foldRow: Column =
      if (tagLeads) !col("pk").rlike("^\\d+r:") else !col("pk").endsWith("r")
  }

  /** One signed delta: the version its rows carry, the sign applied to
    * every sum, and the pk tag (`r` for retractions — disjoint from
    * every fold's delta, and a retried retraction at the same version
    * LWW-rewrites its own rows).
    */
  final case class Delta(ver: Long, sign: Long, tag: String) {
    /** Write `rows` (the table's keys and unsigned sums) as this
      * delta's rows of the table at `dir`. */
    def write(spark: SparkSession, dir: String, t: Table,
              rows: DataFrame): Unit =
      StateFold.upsert(spark, dir, StateFold.stamp(
        rows.select(t.keys.map(col) ++
          t.sums.map(c => (col(c) * sign).as(c)): _*),
        t.part, t.pk(s"$ver$tag").as("pk"), ver, t.keys ++ t.sums: _*))
  }

  /** Fold one batch as a positive delta — a no-op at or below the
    * watermark of `dir` (the batch is already inside the baseline). */
  def fold(spark: SparkSession, dir: String, batchNo: Long)
          (body: Delta => Unit): Unit =
    if (!watermark(spark, dir).exists(batchNo <= _))
      body(Delta(batchNo, 1L, ""))

  /** Retract as a negative `r`-tagged delta. Sums are associative, so
    * subtraction is exact; valid before or after compaction, but a
    * `retractVer` at or below the compacted baseline version of `dir`
    * is rejected loudly: deltas at that version were folded into the
    * baseline, so re-issuing would double-subtract.
    */
  def retract(spark: SparkSession, dir: String, retractVer: Long)
             (body: Delta => Unit): Unit = {
    baselineVer(spark, dir).foreach { bv =>
      require(retractVer > bv,
        s"retractVer $retractVer is at or below the compacted baseline " +
          s"version $bv — any deltas at that version were folded into " +
          "the baseline, so re-issuing would double-subtract; use a " +
          s"fresh retractVer above $bv")
    }
    body(Delta(retractVer, -1L, "r"))
  }

  /** The replay watermark of a compacted table; None if never
    * compacted. Folds skip (no-op) any `batchNo <= watermark`.
    */
  private def watermark(spark: SparkSession, dir: String): Option[Long] =
    if (StateFold.exists(spark, dir + WatermarkSuffix))
      Some(spark.read.parquet(dir + WatermarkSuffix)
        .agg(max("wm")).head().getLong(0))
    else None

  /** The baseline version of a compacted table (max `ver` over
    * everything folded into the baseline, retraction deltas
    * included); None if never compacted. The floor for as-of probes
    * and for new retraction versions.
    */
  def baselineVer(spark: SparkSession, dir: String): Option[Long] =
    if (StateFold.exists(spark, dir + WatermarkSuffix))
      Some(spark.read.parquet(dir + WatermarkSuffix)
        .agg(max("base_ver")).head().getLong(0))
    else None

  /** Compact the delta table at `dir` (laid out as `t`) to one
    * baseline row per key. Returns the recorded replay watermark (max
    * ver over fold rows).
    */
  def compact(spark: SparkSession, dir: String, t: Table): Long = {
    val cur = spark.read.parquet(dir)
    // replay watermark over FOLD rows only — a retraction's ver is
    // above every batchNo by contract and would otherwise no-op all
    // future folds (see the class doc)
    val wmRow = cur.filter(t.foldRow).agg(max("ver")).head()
    val wm = if (wmRow.isNullAt(0)) 0L else wmRow.getLong(0)
    val baseVer = cur.agg(max("ver")).head().getLong(0)
    val aggs = t.sums.map(c => sum(col(c)).as(c))
    val base = cur.groupBy(t.keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("part", t.part)
      .withColumn("pk",
        concat_ws(":", lit("base") +: t.keys.map(col): _*))
      // baseline rows carry the baseline version (not the fold
      // watermark): they contain every compacted retraction, so an
      // as-of probe below baseVer must not see them — and cannot,
      // that history no longer exists
      .withColumn("ver", lit(baseVer))
      .select((Seq("part", "pk", "ver") ++ t.keys ++ t.sums).map(col): _*)
      // materialize BEFORE the overwrite of the table it reads
      .localCheckpoint(true)
    base.write.mode("overwrite")
      .option("partitionOverwriteMode", "static")
      .partitionBy("part").parquet(dir)
    spark.range(1).select(lit(wm).as("wm"), lit(baseVer).as("base_ver"))
      .write.mode("overwrite").parquet(dir + WatermarkSuffix)
    wm
  }
}
