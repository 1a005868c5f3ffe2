package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sink.ParquetMerge
import graft.util.StateFold

/** Incrementally-maintained SemDeDup state — the nightly-fold pattern
  * ([[graft.pipeline.IncrementalCuration]], [[IncrementalAnn]],
  * [[IncrementalBm25]]) applied to embedding-level semantic dedup,
  * closing the round's incremental-index family: a new embedding
  * batch is deduplicated against the accumulated corpus WITHOUT ever
  * re-pairing the corpus against itself.
  *
  * Why this folds exactly: [[VectorSearch.semDedup]]'s drop rule is
  * pairwise DOMINANCE — x is dropped iff some lower-id cell-mate
  * (dropped or not) lies above the cosine threshold — which is
  * order-independent. Under the ascending-id arrival contract
  * (enforced loudly, the curation fold's guard) every dominator of a
  * batch row is either already in state or in the same batch, so ONE
  * within-cell batch×state join plus ONE within-cell batch self-join
  * decides every new row's fate, and the folded survivor set equals
  * the one-shot [[VectorSearch.semDedup]] over the merged corpus —
  * the registered query's oracle gate IS that convergence proof
  * (`ns_semdedup_incremental` hash-matches `ns_semdedup`'s SQL twin).
  *
  * Stored layout at `dir`:
  *  - rows `(part, pk=vid, ver, vid, cell, vec, is_survivor)` —
  *    every seen embedding with its verdict, PARTITIONED BY CELL HASH
  *    (`pmod(cell, StateParts)`): a fold reads only the partitions
  *    the batch's cells land in, and dropped rows are KEPT (a dropped
  *    row still dominates later arrivals — the tombstone clause the
  *    curation fold also needs).
  *  - cell stats `(part, pk=cell:batchNo, ver, cell, n_delta)` — one
  *    delta row per (cell, batch), LWW-keyed so replays rewrite
  *    instead of double-counting; cumulative sums drive the maxCell
  *    contract below at O(distinct cells) cost, never a corpus scan.
  *
  * The maxCell contract: the one-shot form excludes over-cap cells
  * from pairing entirely (all their members survive — the quantizer,
  * not the data, failed). A fold cannot retroactively un-drop rows it
  * dropped while the cell was under cap, so instead of silently
  * diverging the fold FAILS LOUDLY when a fold would push any cell
  * past `maxCell` — the operator re-bins with more signBits (or a
  * trained quantizer) and rebuilds, exactly what the one-shot's
  * audit would have told them.
  *
  * Scale shape per fold: cell-assign + two within-cell joins sized
  * O(batch × cell-mates) + one partition-scoped LWW merge. Nothing
  * corpus-sized shuffles; the corpus never self-joins.
  */
object IncrementalSemDedup {

  /** Cell-hash partition count of the state table: bounds both merge
    * granularity and how much state a fold reads. 8 suits the 2^4
    * sign cells of the test scales; a trained-quantizer deployment
    * with thousands of cells wants more.
    */
  val StateParts: Int = graft.util.StateConf.parts(8)

  val CellStatsSuffix = "_cells"

  /** Suffix of the one-row retraction watermark (and sequence). */
  val RetractWmSuffix = "_rwm"

  /** Fold one batch of embeddings into the state. `batchNo` is the
    * merge version — replaying a batch re-merges idempotently (LWW on
    * vid; the cross join's extra self-pairs from the prior attempt
    * reproduce the intra-batch verdicts, dominance being
    * order-independent).
    */
  def fold(spark: SparkSession, dir: String, batch: DataFrame,
           id: String, vec: String, batchNo: Long, signBits: Int = 4,
           threshold: Double = 0.45, maxCell: Long = 100000L): Unit =
    StateFold.bound(spark, dir, StateParts) {
      // the retraction replay guard (the curation fold's contract): a
      // fold at or below the retraction watermark would re-merge rows
      // retraction deleted — resurrecting retracted vectors
      if (StateFold.exists(spark, dir + RetractWmSuffix)) {
        val rwm = spark.read.parquet(dir + RetractWmSuffix)
          .agg(max("wm")).head().getLong(0)
        require(batchNo > rwm,
          s"fold batchNo=$batchNo is at or below the retraction " +
            s"watermark $rwm — fold post-retraction batches under " +
            "fresh (higher) batch numbers")
      }
      val state: Option[DataFrame] =
        if (StateFold.exists(spark, dir)) Some(spark.read.parquet(dir))
        else None
      val b = batch
        .select(col(id).cast("long").as("vid"), col(vec).as("vec"))
        .withColumn("cell", VectorSearch.signCell(col("vec"), signBits))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // an AvailableNow restart can deliver an empty micro-batch — a
      // no-op fold, not an error
      if (!b.isEmpty) {
        // the ascending-id arrival contract (the curation guard, same
        // version-scoped form): batch ids must sit strictly between
        // earlier-version and later-version state ids, so a genuine
        // replay passes and an interleaving batch fails loudly BEFORE
        // its wrong-way dominance verdicts could enter state
        state.foreach { st =>
          val bounds = st.agg(
            max(when(col("ver") < batchNo, col("vid"))),
            min(when(col("ver") > batchNo, col("vid")))).head()
          val bRange = b.agg(min(col("vid")), max(col("vid"))).head()
          if (!bRange.isNullAt(0)) {
            val (minB, maxB) = (bRange.getLong(0), bRange.getLong(1))
            def fail(detail: String): Nothing =
              throw new IllegalArgumentException(
                s"out-of-order batch: batchNo=$batchNo $detail — the " +
                  "ascending-id dominance contract is violated and the " +
                  "incremental fold would silently diverge from the " +
                  "one-shot semDedup; re-deliver batches in id order " +
                  "(a REPLAY of an already-folded batchNo with its " +
                  "original ids is allowed and idempotent)")
            if (!bounds.isNullAt(0) && minB <= bounds.getLong(0))
              fail(s"carries id $minB <= max id ${bounds.getLong(0)} of " +
                "earlier-version state")
            if (!bounds.isNullAt(1) && maxB >= bounds.getLong(1))
              fail(s"carries id $maxB >= min id ${bounds.getLong(1)} of " +
                "later-version state (a reused batchNo must carry its " +
                "original ids, not new data)")
          }
        }
        // the maxCell contract: cumulative cell sizes AFTER this fold may
        // not cross the cap (prior sums exclude this batchNo's own delta
        // rows so a replay prices its batch once, not twice)
        val bCells = b.groupBy("cell").agg(count(lit(1)).as("n_delta"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val prior: Option[DataFrame] =
          if (StateFold.exists(spark, dir + CellStatsSuffix))
            Some(spark.read.parquet(dir + CellStatsSuffix)
              .filter(col("ver") =!= batchNo)
              .groupBy("cell").agg(sum("n_delta").as("n_prior")))
          else None
        val overCap = prior.fold(bCells.withColumn("n_prior", lit(0L)))(p =>
          bCells.join(p, Seq("cell"), "left")
            .withColumn("n_prior", coalesce(col("n_prior"), lit(0L))))
          .filter(col("n_prior") + col("n_delta") > maxCell)
          .limit(1).collect()
        require(overCap.isEmpty, {
          val r = overCap.head
          s"fold would push cell ${r.getAs[Long]("cell")} past maxCell=" +
            s"$maxCell — the sign quantizer has failed on this corpus " +
            "(the one-shot form would exclude the cell from pairing); " +
            "re-bin with more signBits or a trained quantizer and rebuild"
        })
        // dominance verdicts: a batch row dies to any lower-id cell-mate
        // above the threshold — in state (dropped rows included: they
        // still dominate) or in the batch itself. State is read only in
        // the batch's cell partitions (the partition-pruned filter below
        // is a handful of literals — at most 2^signBits values).
        val bParts = bCells.select(
          pmod(col("cell"), lit(StateParts.toLong)).as("p"))
          .distinct().collect().map(_.getLong(0)).toSeq
        val crossDropped = state.map { st =>
          st.filter(col("part").isin(bParts: _*))
            .select(col("cell"), col("vid").as("_ovid"), col("vec").as("_ovec"))
            .join(b.select(col("cell"), col("vid"), col("vec")), Seq("cell"))
            .filter(col("_ovid") < col("vid") &&
              VectorSearch.cosine(col("vec"), col("_ovec")) > threshold)
            .select(col("vid")).distinct()
        }
        val intraDropped = b.select(col("cell"), col("vid").as("_ovid"),
          col("vec").as("_ovec"))
          .join(b.select(col("cell"), col("vid"), col("vec"))
            .hint("shuffle_hash"), Seq("cell"))
          .filter(col("_ovid") < col("vid") &&
            VectorSearch.cosine(col("vec"), col("_ovec")) > threshold)
          .select(col("vid")).distinct()
        val dropped = crossDropped
          .fold(intraDropped)(_.unionByName(intraDropped)).distinct()
        StateFold.upsert(spark, dir, StateFold.stamp(b
            .join(dropped.withColumn("_dead", lit(true)), Seq("vid"), "left")
            .withColumn("is_survivor",
              coalesce(col("_dead"), lit(false)) === false),
          pmod(col("cell"), lit(StateParts.toLong)), col("vid").as("pk"),
          batchNo, "vid", "cell", "vec", "is_survivor"))
        cellDelta(spark, dir, bCells, lit(batchNo), batchNo)
        bCells.unpersist()
      }
      b.unpersist()
    }

  /** One cell-stats delta row per cell of `cells` (`cell`, `n_delta`),
    * keyed `cell:<tag>`. */
  private def cellDelta(spark: SparkSession, dir: String, cells: DataFrame,
                        tag: Column, ver: Long): Unit =
    StateFold.upsert(spark, dir + CellStatsSuffix, StateFold.stamp(cells,
      lit(0L), concat_ws(":", col("cell"), tag).as("pk"), ver,
      "cell", "n_delta"))

  /** Surviving embeddings of the folded state — the same (id, cell)
    * shape [[VectorSearch.semDedup]] returns, which is what lets the
    * two share one oracle.
    */
  def survivors(spark: SparkSession, dir: String, id: String): DataFrame =
    spark.read.parquet(dir)
      .filter(col("is_survivor"))
      .select(col("vid").as(id), col("cell"))

  /** RETRACT a vector set — the right-to-be-forgotten face of the
    * embedding dedup, and the cheapest retraction in the family:
    * dominance is a WITHIN-CELL property and the state keeps every
    * seen vector (tombstones included) with its embedding, so the
    * delete recomputes fates by re-running dominance inside ONLY the
    * affected cells — each bounded by the `maxCell` contract, so the
    * whole operation is O(affected cells × cap²) with nothing
    * corpus-sized moving. Vectors suppressed solely by retracted
    * dominators RESURRECT here; unaffected cells' files stay
    * byte-identical (partition-scoped rewrite). Afterwards the
    * survivor set equals the one-shot [[VectorSearch.semDedup]] over
    * the never-retracted corpus — the registered query's shared
    * oracle. Cell stats take one negative `r`-tagged delta row per
    * affected cell, and the retraction watermark makes pre-retraction
    * batch replays fail loudly (they would re-merge deleted rows).
    */
  def retract(spark: SparkSession, dir: String, retractIds: DataFrame,
              id: String, threshold: Double = 0.45): Unit = {
    graft.util.StateConf.bind(spark, dir, StateParts)
    val st = spark.read.parquet(dir)
    val x = retractIds.select(col(id).cast("long").as("vid")).distinct()
    val removed = st.join(x, Seq("vid"), "left_semi")
      .localCheckpoint(true)
    val wm = st.agg(max("ver")).head().getLong(0)
    val affectedCells = removed.select("cell").distinct()
    // full re-dominance inside the affected cells only, over the
    // surviving members (each cell is ≤ maxCell by the fold contract)
    val mates = st.join(x, Seq("vid"), "left_anti")
      .join(affectedCells, Seq("cell"), "left_semi")
      .localCheckpoint(true)
    val dead = mates.select(col("cell"), col("vid").as("_ovid"),
        col("vec").as("_ovec"))
      .join(mates.select(col("cell"), col("vid"), col("vec"))
        .hint("shuffle_hash"), Seq("cell"))
      .filter(col("_ovid") < col("vid") &&
        VectorSearch.cosine(col("vec"), col("_ovec")) > threshold)
      .select(col("vid")).distinct()
    val updates = mates
      .join(dead.withColumn("_dead", lit(true)), Seq("vid"), "left")
      .withColumn("_new_surv", coalesce(col("_dead"), lit(false)) === false)
      .drop("_dead")
      .filter(col("_new_surv") =!= col("is_survivor"))
      .withColumn("is_survivor", col("_new_surv"))
      .drop("_new_surv")
      .select(st.columns.map(col): _*)
    ParquetMerge.deleteAndUpsertPartitions(spark, dir,
      removed.select(col("part"), col("pk")), updates,
      "part", "pk", "ver")
    // the retraction SEQUENCE (carried in the watermark file) keys
    // each retraction's negative stats rows disjointly — a second
    // retraction must never LWW-replace the first's decrements
    val rseq =
      if (StateFold.exists(spark, dir + RetractWmSuffix))
        spark.read.parquet(dir + RetractWmSuffix)
          .agg(max("rseq")).head().getLong(0) + 1L
      else 1L
    cellDelta(spark, dir,
      removed.groupBy("cell").agg((-count(lit(1))).as("n_delta")),
      lit(s"r$rseq"), wm)
    spark.range(1).select(lit(wm).as("wm"), lit(rseq).as("rseq"))
      .write.mode("overwrite").parquet(dir + RetractWmSuffix)
  }
}
