package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.{BloomGuard, TextAnalysis, TextDedup}
import graft.sink.ParquetMerge
import graft.util.StateFold

/** The daily-crawl-update path END TO END: fold document batches into a
  * persistent curated-corpus table — quality gate → cross-batch exact
  * dedup (bloom-guarded) → cross-batch + intra-batch near-dup → LWW
  * partition merge — such that after every batch the table's survivors
  * EQUAL the from-scratch [[Curation.curate]] over everything ingested
  * so far. That equality is the whole point: it makes the incremental
  * pipeline verifiable against the one-shot oracle, and it is what a
  * production corpus wants (no drift between the nightly incremental
  * and a quarterly rebuild).
  *
  * Convergence contract and why it holds:
  *
  *  - Batches arrive in ASCENDING id order (batch N's smallest id
  *    exceeds batch N−1's largest — the natural crawl layout). The
  *    from-scratch near-dup rule removes the HIGHER id of a pair, so
  *    under ascending arrival an already-settled row's fate can never
  *    be changed by later data: new rows always lose to old rows,
  *    never the reverse.
  *  - The state table keeps near-dup LOSERS as tombstones
  *    (`is_survivor = false`) instead of deleting them. From-scratch
  *    curation compares each doc against every exact-deduped
  *    quality-passing doc — including ones that lost their own
  *    near-dup pairing — so an incremental fold that compared against
  *    survivors only would KEEP docs the rebuild removes. Tombstones
  *    are exactly the rows that close that gap.
  *  - Exact dedup keeps the smallest id per normalized text; state
  *    rows (smaller ids) always predate the batch, so dropping batch
  *    rows whose text already occurs in state — plus first-id-wins
  *    within the batch — reproduces the global rule.
  *  - Shingle df-pruning (`maxPostings`) is computed per side here but
  *    globally in the rebuild; the folds agree whenever no shingle
  *    crosses the cap in the combined corpus (the cap exists for
  *    pathological boilerplate; engagement is audited, not silent).
  *
  * Scale shape: each batch pays quality scoring + hashing on the BATCH
  * only; the corpus-sized state is touched by one bloom-prefiltered
  * key anti-join ([[BloomGuard.newDocs]]) and one broadcast-batch
  * shingle probe ([[TextDedup.crossNearDups]] — the batch side
  * broadcasts, the corpus never self-joins), and the write rewrites
  * only the partitions the batch lands in
  * ([[ParquetMerge.upsertPartitions]]).
  */
object IncrementalCuration {

  /** Number of hash partitions the state table is laid out in. The
    * partition value is a pure function of the key, so the
    * partition-scoped LWW merge can never see a migrating key.
    */
  val StateParts: Int = graft.util.StateConf.parts(8)

  /** Suffix of the stored shingle-posting table maintained by
    * [[curateBatchIndexed]] next to the state table. */
  val PostingsSuffix = "_sh"

  /** Suffix of the stored per-shingle document-frequency SUMMARY
    * maintained next to the posting table: one (shc, sh, ver,
    * df_delta) row per (batch, distinct shingle), keyed shc:ver so a
    * replayed batch LWW-overwrites its own deltas (idempotent — an
    * additive table would double-count on at-least-once redelivery).
    * The true df of a shingle is `sum(df_delta)` over its rows,
    * recomputed at probe time from a table whose size is O(distinct
    * shingles), not O(postings) — this is what removes the per-probe
    * O(corpus) posting-frequency window. The summary is also the only
    * place the shingle STRING survives (postings store 8-byte codes),
    * which is what makes the probe's code-collision audit possible.
    */
  val DfSuffix = "_df"

  /** Suffix of the near-dup PAIR-EDGE table maintained by
    * [[curateBatchRetractable]]: one (id_a, id_b) row per qualifying
    * jaccard pair among the deduped docs, id_a < id_b (the loser is
    * always id_b under the ascending contract). Folds append each
    * batch's cross + intra pairs, so by induction the table holds the
    * COMPLETE pair graph over everything deduped so far — which is
    * what lets [[retract]] recompute every fate without re-shingling
    * the corpus: after removing a doc set X, doc d survives iff no
    * edge (a, d) remains with a outside X. State is O(near-dup
    * pairs) — the same pair-graph artifact the cluster-labeling
    * family already materializes.
    */
  val EdgesSuffix = "_edges"

  /** Suffix of the one-row retraction watermark. After a retraction,
    * folds at `batchNo <= watermark` are REJECTED loudly: a replayed
    * pre-retraction batch would re-merge rows that retraction deleted
    * — silently resurrecting retracted docs. (Contrast DeltaCompact's
    * watermark, where a compacted replay is a SAFE no-op.) Quiesce the
    * stream before retracting; post-retraction folds use fresh batch
    * numbers above the watermark.
    */
  val RetractWmSuffix = "_rwm"

  /** Fold one batch into the state table at `stateDir` (created on
    * first use). `batchNo` becomes the merge version — replaying a
    * batch re-merges idempotently.
    */
  def curateBatch(spark: SparkSession, stateDir: String, batch: DataFrame,
                  text: String, id: String, batchNo: Long,
                  minQuality: Double = 0.7,
                  jaccardThreshold: Double = 0.3,
                  maxPostings: Long = 5000): Unit =
    fold(spark, stateDir, batch, text, id, batchNo, minQuality,
      jaccardThreshold, maxPostings, indexed = false)

  /** [[curateBatch]] with RETRACTION support ([[retract]] — the
    * right-to-be-forgotten path): the state additionally keeps
    *
    *  - EXACT-dup losers as rows (`in_deduped = false`) with the
    *    normalized-text group key (`text_hash`) on every row, so a
    *    retracted exact winner's group can promote its next-smallest
    *    member without re-reading the corpus;
    *  - the near-dup pair-edge table ([[EdgesSuffix]]), so every
    *    fate recomputes from stored edges.
    *
    * Survivor semantics are IDENTICAL to [[curateBatch]] (the
    * near-dup probes still run against the deduped rows only, and
    * [[survivors]] reads the same flag) — the extra rows/tables exist
    * solely so deletion can converge to the rebuild-without-X oracle.
    * Do not mix fold flavors on one stateDir.
    */
  def curateBatchRetractable(spark: SparkSession, stateDir: String,
                             batch: DataFrame, text: String, id: String,
                             batchNo: Long, minQuality: Double = 0.7,
                             jaccardThreshold: Double = 0.3,
                             maxPostings: Long = 5000): Unit =
    fold(spark, stateDir, batch, text, id, batchNo, minQuality,
      jaccardThreshold, maxPostings, indexed = false, retractable = true)

  /** [[curateBatchIndexed]] + [[curateBatchRetractable]] combined: the
    * maintained shingle-posting index AND retraction support on one
    * state. [[retract]] then also maintains the posting + df-summary
    * tables through the delete: removed deduped docs' postings are
    * dropped, promoted docs' shingles are appended (with the same
    * injectivity audit the fold runs), and every affected shingle's
    * df rows consolidate to one corrected total — so post-retraction
    * folds prune against exactly the df the rebuild-without-X would
    * compute.
    */
  def curateBatchIndexedRetractable(spark: SparkSession, stateDir: String,
                                    batch: DataFrame, text: String,
                                    id: String, batchNo: Long,
                                    minQuality: Double = 0.7,
                                    jaccardThreshold: Double = 0.3,
                                    maxPostings: Long = 5000): Unit =
    fold(spark, stateDir, batch, text, id, batchNo, minQuality,
      jaccardThreshold, maxPostings, indexed = true, retractable = true)

  /** [[curateBatch]] with a MAINTAINED shingle posting index: the
    * cross-batch near-dup probe reads a stored (doc, shingle-code)
    * posting table instead of re-tokenizing and re-shingling the whole
    * corpus text every fold, and each fold appends the batch's
    * shingles into that table through the same idempotent
    * partition-scoped LWW merge the state rows use (key = doc:code,
    * version = batchNo — a replayed batch re-merges to the identical
    * index). Postings carry 8-byte `xxhash64(sh)` codes, not strings
    * (the win is 8-byte JOIN keys — see TUNING.md's measured
    * correction of the IO claim); code injectivity is an INVARIANT
    * this fold maintains — batch-internal codes are checked before
    * every append and batch-vs-corpus codes by the probe itself — so
    * the per-probe audit is O(batch), never an O(distinct-shingles)
    * string shuffle. That per-shingle df SUMMARY ([[DfSuffix]]) also
    * lets the maxPostings prune read O(distinct shingles) summary rows
    * instead of window-counting the posting table — no O(corpus)
    * shuffle per probe. This is the amortized nightly shape: the same
    * state-vs-artifact trade the IVF/PQ index caches make for ANN.
    * Semantics are IDENTICAL to [[curateBatch]] —
    * [[graft.ext.TextDedup.crossNearDupsHashed]] applies the same
    * df-prune/sizes/jaccard math, so survivors still converge to the
    * from-scratch rebuild (the shared oracle), and the spec pins
    * plain-vs-indexed state equality plus df-summary truth.
    * The two fold flavors must not be mixed on one stateDir: the
    * plain fold leaves the posting/summary tables stale.
    */
  def curateBatchIndexed(spark: SparkSession, stateDir: String,
                         batch: DataFrame, text: String, id: String,
                         batchNo: Long, minQuality: Double = 0.7,
                         jaccardThreshold: Double = 0.3,
                         maxPostings: Long = 5000): Unit =
    fold(spark, stateDir, batch, text, id, batchNo, minQuality,
      jaccardThreshold, maxPostings, indexed = true)

  private def fold(spark: SparkSession, stateDir: String, batch: DataFrame,
                   text: String, id: String, batchNo: Long,
                   minQuality: Double,
                   jaccardThreshold: Double,
                   maxPostings: Long, indexed: Boolean,
                   retractable: Boolean = false): Unit =
    StateFold.bound(spark, stateDir, StateParts) {
      // a fold at or below the retraction watermark would re-merge rows
      // retraction deleted — resurrecting retracted docs; fail loudly
      if (StateFold.exists(spark, stateDir + RetractWmSuffix)) {
        val rwm = spark.read.parquet(stateDir + RetractWmSuffix)
          .agg(max("wm")).head().getLong(0)
        require(batchNo > rwm,
          s"fold batchNo=$batchNo is at or below the retraction " +
            s"watermark $rwm — replaying a pre-retraction batch would " +
            "resurrect retracted docs; fold post-retraction batches " +
            "under fresh (higher) batch numbers")
      }
      val state: Option[DataFrame] =
        if (StateFold.exists(spark, stateDir))
          Some(spark.read.parquet(stateDir))
        else None
      // r15: fan out the batch before the quality regexes — a single-file
      // batch scan otherwise runs the whole quality gate (and everything
      // fused above the first exchange) on one core; no-op on multi-split
      // inputs (util.FanOut)
      val qualified = TextAnalysis.qualityScore(graft.util.FanOut(batch), text)
        .filter(col("quality_score") >= minQuality)
        .select(col(id), col(text),
          col("n_words").cast("long").as("n_words"), col("quality_score"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // ENFORCE the ascending-id arrival contract the convergence proof
      // rests on (class doc, first bullet): a batch whose ids interleave
      // with other batches' ids would fold with the near-dup "remove the
      // higher id" rule pointing the WRONG way and silently diverge from
      // the one-shot rebuild. The check is VERSION-SCOPED, so a genuine
      // REPLAY (foreachBatch at-least-once re-delivery) passes while a
      // reused batchNo carrying DIFFERENT ids — the fresh-checkpoint
      // restart that re-numbers foreachBatch ids from 0 — fails loudly:
      // the batch's qualified ids must sit strictly BETWEEN everything
      // folded under smaller versions and everything folded under larger
      // ones. (For a fresh batchNo > max ver this degenerates to the
      // plain "above all of state" rule; for a replay, the batch lands
      // back in its original id slot by construction.) Bounds are taken
      // over the QUALIFIED rows, not the raw batch: a quality-dropped
      // straggler never enters state in either the incremental or the
      // one-shot path, so it cannot affect convergence and must not kill
      // the stream. Cost: one column-pruned (id, ver) conditional-agg
      // scan of state per batch — state is read for the bloom prefilter
      // anyway, and a silently wrong corpus costs more.
      state.foreach { st =>
        val bounds = st.agg(
          max(when(col("ver") < batchNo, col(id))),
          min(when(col("ver") > batchNo, col(id)))).head()
        val bRange = qualified.agg(min(col(id)), max(col(id))).head()
        if (!bRange.isNullAt(0)) {
          val (minB, maxB) = (bRange.getLong(0), bRange.getLong(1))
          def fail(detail: String): Nothing =
            throw new IllegalArgumentException(
              s"out-of-order batch: batchNo=$batchNo $detail — the " +
                "ascending-id convergence contract is violated and the " +
                "incremental fold would silently diverge from the " +
                "from-scratch rebuild; re-deliver batches in id order " +
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
      // cross-batch exact dedup: a batch text already present in state
      // (survivor OR tombstone — both predate the batch and hold the
      // smaller id) is dropped; first-id-wins settles intra-batch copies
      val newb = state match {
        case None => qualified
        case Some(st) =>
          // r15: pass the sketch capacity explicitly — parquet count() is
          // a metadata-only job, while BloomGuard's own fallback count
          // re-scans state WITH the normalize expression evaluated. Row
          // count over-estimates the distinct-normal key count, which
          // only lowers the realized fpp (capacity-independent
          // correctness is BloomGuard's documented contract).
          BloomGuard.newDocs(qualified, st.select(col(text)), text,
            expectedItems = st.count())
      }
      val dedupedB = TextDedup.exactNormalized(newb, text, id)
        .drop("text_hash")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // near-dup losers: new vs ALL state rows (tombstones included —
      // the convergence clause), plus pairs within the batch itself.
      // Indexed mode probes the stored posting table; plain mode
      // re-shingles the state text. Retractable mode excludes the
      // stored EXACT-dup rows from the probe — the one-shot pairs docs
      // among the exact-deduped set only, and an exact loser's RAW text
      // (which shingling sees) can differ from its keeper's.
      // r15: shingle the deduped batch ONCE — the intra-pair pass, the
      // plain-mode cross probe, and the indexed posting fold all consume
      // the same exploded (doc, sh) table instead of re-tokenizing the
      // batch per kernel
      val shB = TextDedup.docShingles(dedupedB, text, id, n = 3)
        .select(col("doc"), explode(col("sh")).as("sh"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val crossPairs = state match {
        case None => None
        case Some(st) if indexed =>
          Some(TextDedup.crossNearDupsHashed(dedupedB,
            spark.read.parquet(stateDir + PostingsSuffix)
              .select(col("doc"), col("shc")),
            spark.read.parquet(stateDir + DfSuffix)
              .select(col("shc"), col("sh"), col("df_delta")),
            text, id, shingleN = 3, threshold = jaccardThreshold,
            maxPostings = maxPostings)
            .select(col("id_old").as("id_a"), col("id_new").as("id_b")))
        case Some(st) =>
          val probeSide =
            if (retractable) st.filter(col("in_deduped")) else st
          Some(TextDedup.crossNearDupsFromNewShingles(
            shB.select(col("doc").as("id_new"), col("sh")),
            probeSide, text, id,
            shingleN = 3, threshold = jaccardThreshold,
            maxPostings = maxPostings)
            .select(col("id_old").as("id_a"), col("id_new").as("id_b")))
      }
      val intraPairs = TextDedup.ngramJaccardPairsFromShingles(shB,
        threshold = jaccardThreshold, maxPostings = maxPostings)
        .select(col("id_a"), col("id_b"))
      val pairs0 = crossPairs.fold(intraPairs)(_.unionByName(intraPairs))
      // retractable mode writes the edge table AFTER the state upsert
      // has overwritten the very files the cross probe reads — pin the
      // pair set NOW (eager local checkpoint; it is O(batch pairs)) or
      // the second action would re-probe the mutated state and record
      // the batch's docs as their own near-dup pairs
      val pairs =
        if (retractable) pairs0.localCheckpoint(true) else pairs0
      val losers = pairs.select(col("id_b").as(id)).distinct()
      val keptRows = dedupedB
        .join(losers.withColumn("_lost", lit(true)), Seq(id), "left")
        .withColumn("is_survivor", coalesce(col("_lost"), lit(false)) === false)
        .drop("_lost")
      val payload = Seq(text, "n_words", "quality_score", "is_survivor")
      val rows =
        if (!retractable) StateFold.stamp(keptRows, idPart(col(id)), col(id),
          batchNo, payload: _*)
        else {
          // exact-dup losers of THIS batch: qualified rows that did not
          // reach the deduped set (dropped cross-batch by the bloom
          // guard or intra-batch by first-id-wins). Stored so [[retract]]
          // can promote a group's next member when its keeper leaves.
          val exactLosers = qualified
            .join(dedupedB.select(col(id)), Seq(id), "left_anti")
            .withColumn("is_survivor", lit(false))
            .withColumn("in_deduped", lit(false))
          StateFold.stamp(keptRows.withColumn("in_deduped", lit(true))
              .unionByName(exactLosers)
              .withColumn("text_hash",
                TextDedup.normalizedHash(col(text), col(id))),
            idPart(col(id)), col(id), batchNo,
            payload ++ Seq("in_deduped", "text_hash"): _*)
        }
      StateFold.upsert(spark, stateDir, rows, key = id)
      // append this batch's pair edges (complete by induction: every
      // pair among deduped docs is discovered exactly once, when its
      // higher member's batch folds); pk = id_a:id_b so a replayed batch
      // LWW-rewrites its own identical edges
      if (retractable)
        StateFold.upsert(spark, stateDir + EdgesSuffix,
          edgeRows(pairs, batchNo))
      if (indexed) {
        // fold the batch's shingles into the posting table through the
        // same idempotent LWW partition merge; tombstoned docs' shingles
        // are included on purpose — future batches must probe them, the
        // same convergence clause the state tombstones serve
        // postings store the 8-byte xxhash64 code, NOT the shingle
        // string (~3× smaller IO on the probe's dominant read); the df
        // SUMMARY keeps one string per distinct shingle so the probe
        // can audit code injectivity — see
        // [[graft.ext.TextDedup.crossNearDupsHashed]]
        // r15: derives from the shared batch-shingle table (shB above)
        val shBatch = shB
          .withColumn("shc", xxhash64(col("sh")))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        StateFold.upsert(spark, stateDir + PostingsSuffix,
          postingRows(shBatch, batchNo))
        // the fold-side half of the code-injectivity INVARIANT
        // (crossNearDupsHashed class doc): the batch's distinct shingles
        // must be internally injective before their (code, string) rows
        // enter the summary. The batch-vs-CORPUS half is proved by the
        // crossLosers probe above whenever state exists (it fails loudly
        // on a cross clash before this append runs); on the very first
        // fold there is no corpus to clash with. Together, by induction,
        // a summary maintained only through this fold can never hold two
        // strings for one code — which is what lets every subsequent
        // probe skip the O(distinct-shingle-strings) corpus audit.
        val dup = shBatch.select("sh", "shc").distinct()
          .groupBy("shc").agg(count(lit(1)).as("_n"))
          .filter(col("_n") > 1).limit(1).collect()
        require(dup.isEmpty,
          s"xxhash64 shingle-code collision within batch $batchNo (code " +
            s"${if (dup.isEmpty) "" else dup.head.getLong(0)}): the " +
            "hashed posting index would miscount intersections — this " +
            "regime needs 128-bit codes")
        // this batch's df contribution, keyed shc:ver → replay rewrites
        // its own rows instead of double-counting
        StateFold.upsert(spark, stateDir + DfSuffix, dfRows(
          shBatch.groupBy("sh", "shc").agg(count(lit(1)).as("df_delta")),
          concat_ws(":", col("shc"), lit(batchNo)), batchNo))
        shBatch.unpersist()
      }
      shB.unpersist()
      dedupedB.unpersist()
      qualified.unpersist()
    }

  /** A row's partition: id-hashed (state rows and postings). */
  private def idPart(id: Column): Column = pmod(id, lit(StateParts.toLong))

  /** Pair-edge rows, partitioned by the loser id. */
  private def edgeRows(pairs: DataFrame, ver: Long): DataFrame =
    StateFold.stamp(pairs, pmod(col("id_b"), lit(StateParts.toLong)),
      concat_ws(":", col("id_a"), col("id_b")).as("pk"), ver, "id_a", "id_b")

  /** `(doc, shc)` posting rows, partitioned by doc. */
  private def postingRows(sh: DataFrame, ver: Long): DataFrame =
    StateFold.stamp(sh, idPart(col("doc")),
      concat_ws(":", col("doc"), col("shc")).as("pk"), ver, "doc", "shc")

  /** `(shc, sh, df_delta)` df-summary rows, partitioned by code. */
  private def dfRows(df: DataFrame, pk: Column, ver: Long): DataFrame =
    StateFold.stamp(df, pmod(col("shc"), lit(StateParts.toLong)),
      pk.as("pk"), ver, "shc", "sh", "df_delta")

  /** The curated corpus as of the last folded batch: survivors only,
    * in the from-scratch output contract (id, n_words, quality_score).
    */
  def survivors(spark: SparkSession, stateDir: String,
                id: String = "doc_id"): DataFrame =
    spark.read.parquet(stateDir)
      .filter(col("is_survivor"))
      .select(col(id), col("n_words"), col("quality_score"))

  /** RETRACT a document set from a [[curateBatchRetractable]] state —
    * the right-to-be-forgotten path, with the same convergence
    * contract as the folds: afterwards the state equals what
    * re-folding everything EXCEPT the retracted ids would have built,
    * so `survivors` hash-matches the from-scratch rebuild over the
    * remaining corpus (the registered query's oracle).
    *
    * Deletion is not row removal — fates depend on the removed docs:
    *
    *  1. EXACT PROMOTION: a retracted exact-dup keeper's group
    *     promotes its smallest remaining member into the deduped set
    *     (groups are found by the stored `text_hash`, never by
    *     re-normalizing the corpus).
    *  2. FRESH PAIRS for the promoted docs only: promoted text probes
    *     the remaining deduped docs (both orientations — a promoted
    *     doc can suppress a YOUNGER doc that used to survive) plus
    *     promoted-vs-promoted. The batch side is O(promoted); the
    *     corpus side pays ONE shingle scan (the same cross-probe cost
    *     a single fold pays) — and only when a promotion occurred at
    *     all; the common keeper-free retraction skips this entirely.
    *  3. FATE RECOMPUTE from edges: with the stored pair graph
    *     ([[EdgesSuffix]] — complete over the deduped set by fold
    *     induction) minus edges touching the retracted set, plus the
    *     fresh promoted pairs, doc d survives iff no remaining edge
    *     (a, d) exists. Near-dup losers whose every suppressor was
    *     retracted RESURRECT here; docs newly paired with a promoted
    *     elder fall.
    *  4. The rewrite deletes retracted rows and rewrites only changed
    *     rows AT THEIR ORIGINAL `ver`
    *     ([[ParquetMerge.deleteAndUpsertPartitions]] — partition-
    *     scoped, untouched partitions stay byte-identical), and
    *     records a retraction watermark: later folds at
    *     `batchNo <= watermark` are rejected loudly, because a
    *     replayed pre-retraction batch would re-merge deleted rows —
    *     quiesce the stream before retracting.
    *
    * Retracting an id that is absent (or already retracted) is a
    * no-op for that id. Not supported on `curateBatchIndexed` states
    * (the posting/df tables would keep retracted docs) — the folds
    * enforce that pairing.
    */
  def retract(spark: SparkSession, stateDir: String, retractIds: DataFrame,
              text: String = "text", id: String = "doc_id",
              jaccardThreshold: Double = 0.3,
              maxPostings: Long = 5000): Unit = {
    graft.util.StateConf.bind(spark, stateDir, StateParts)
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val st = spark.read.parquet(stateDir)
    require(st.columns.contains("in_deduped"),
      "retract needs a state folded with curateBatchRetractable")
    val x = retractIds.select(col(id)).distinct().persist(lvl)
    // EAGER checkpoints (not persist) for every frame consumed after
    // the state table is overwritten below — a cache-evicted recompute
    // would re-read the post-delete state and silently see nothing.
    // r15: ONE flagged pass over state (a single join + a single eager
    // materialization) instead of separate semi/anti joins each
    // reading state — removed/kept are then in-memory filters of the
    // pinned RDD, and both stay valid after the rewrite below.
    val flagged = st
      .join(x.withColumn("_rm", lit(true)), Seq(id), "left")
      .withColumn("_rm", coalesce(col("_rm"), lit(false)))
      .localCheckpoint(true)
    val removed = flagged.filter(col("_rm")).drop("_rm")
    val kept = flagged.filter(!col("_rm")).drop("_rm")
    // 1. exact promotion
    val removedDedupHashes = removed.filter(col("in_deduped"))
      .select("text_hash")
    val groupRemain = kept.filter(!col("in_deduped"))
      .join(removedDedupHashes, Seq("text_hash"), "left_semi")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("text_hash").orderBy(col(id))
    val promoted = groupRemain.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
      .localCheckpoint(true)
    // plain filter of the checkpointed flagged frame — re-reads pinned
    // RDD blocks, no extra persist needed (r15)
    val dedupedOld = kept.filter(col("in_deduped"))
    // 2. fresh pairs for the promoted docs (the only shingling here;
    // skipped entirely when no group promoted — the common retraction
    // has no exact-dup keeper in it and pays zero shingle work)
    val promDocs = promoted.select(col(id), col(text))
    val newEdges = (if (promoted.isEmpty)
      promDocs.select(col(id).as("id_a"), col(id).as("id_b")).limit(0)
    else {
      val crossP = TextDedup.crossNearDups(promDocs,
        dedupedOld.select(col(id), col(text)), text, id,
        shingleN = 3, threshold = jaccardThreshold,
        maxPostings = maxPostings)
        .select(least(col("id_new"), col("id_old")).as("id_a"),
          greatest(col("id_new"), col("id_old")).as("id_b"))
      val intraP = TextDedup.ngramJaccardPairs(promDocs, text, id,
        shingleN = 3, threshold = jaccardThreshold,
        maxPostings = maxPostings)
        .select(col("id_a"), col("id_b"))
      crossP.unionByName(intraP).distinct()
      // EAGER checkpoint, not persist: this frame's lineage reads the
      // state files the rewrite below overwrites, and the edge-table
      // write re-evaluates it AFTER that overwrite — a cache-evicted
      // recompute would silently find no promoted docs and lose the
      // fresh edges
    }).localCheckpoint(true)
    // 3. fate recompute from the surviving edge graph
    val edgesDir = stateDir + EdgesSuffix
    val hasEdges = StateFold.exists(spark, edgesDir)
    val oldEdges =
      if (hasEdges)
        spark.read.parquet(edgesDir).select("id_a", "id_b").persist(lvl)
      else newEdges.limit(0).select("id_a", "id_b")
    val liveOld = oldEdges
      .join(x.withColumnRenamed(id, "id_a"), Seq("id_a"), "left_anti")
      .join(x.withColumnRenamed(id, "id_b"), Seq("id_b"), "left_anti")
    val losersAfter = liveOld.unionByName(newEdges)
      .select(col("id_b").as(id)).distinct()
    val rede = dedupedOld
      .unionByName(promoted.withColumn("in_deduped", lit(true))
        .select(dedupedOld.columns.map(col): _*))
    val fates = rede
      .join(losersAfter.withColumn("_lost", lit(true)), Seq(id), "left")
      .withColumn("_new_surv", coalesce(col("_lost"), lit(false)) === false)
      .drop("_lost")
    val promotedIds = promoted.select(col(id))
      .withColumn("_promoted", lit(true))
    val updates = fates
      .join(promotedIds, Seq(id), "left")
      .filter(col("_new_surv") =!= col("is_survivor") ||
        coalesce(col("_promoted"), lit(false)))
      .withColumn("is_survivor", col("_new_surv"))
      .drop("_new_surv", "_promoted")
      .select(st.columns.map(col): _*)
    // 4. partition-scoped rewrite at ORIGINAL versions + watermark
    val wm = st.agg(max("ver")).head().getLong(0)
    ParquetMerge.deleteAndUpsertPartitions(spark, stateDir,
      removed.select(col("part"), col(id)), updates, "part", id, "ver")
    val edgeGone = edgeRows(oldEdges
      .join(liveOld.select("id_a", "id_b"), Seq("id_a", "id_b"),
        "left_anti"), wm).select("part", "pk")
    val edgeNew = edgeRows(newEdges, wm)
    if (hasEdges)
      ParquetMerge.deleteAndUpsertPartitions(spark, edgesDir,
        edgeGone, edgeNew, "part", "pk", "ver")
    else if (!edgeNew.isEmpty)
      StateFold.upsert(spark, edgesDir, edgeNew)
    // 5. indexed states: carry the posting + df-summary tables through
    // the delete, so post-retraction folds prune against exactly the
    // df the rebuild-without-X computes
    val postDir = stateDir + PostingsSuffix
    if (StateFold.exists(spark, postDir)) {
      val dfDir = stateDir + DfSuffix
      // removed DEDUPED docs are the only ones indexed; their posting
      // rows (and the per-shingle doc counts to subtract) come from
      // the table itself — no re-shingling of removed text
      val remPost = StateFold.locate(spark.read.parquet(postDir),
        removed.filter(col("in_deduped")).select(col(id).as("doc"))
          .localCheckpoint(true),
        Seq("part", "pk", "doc", "shc")).get
      val remCnt = remPost.groupBy("shc")
        .agg(count(lit(1)).as("_rm"))
      // promoted docs join the deduped set: index their shingles (the
      // same distinct-(doc, shc) the fold's LWW key enforces), with
      // the fold's injectivity audit before anything is written
      val promSh = TextDedup.docShingles(promoted, text, id, n = 3)
        .select(col("doc"), explode(col("sh")).as("sh"))
        .withColumn("shc", xxhash64(col("sh")))
        .distinct()
        .localCheckpoint(true)
      val promDistinct = promSh.select("sh", "shc").distinct()
      val dfCur = spark.read.parquet(dfDir)
      val clash = dfCur.select(col("shc"), col("sh").as("_cs"))
        .join(promDistinct, Seq("shc"))
        .filter(col("_cs") =!= col("sh")).select("shc")
        .unionByName(promDistinct.groupBy("shc")
          .agg(count(lit(1)).as("_n")).filter(col("_n") > 1).select("shc"))
        .limit(1).collect()
      require(clash.isEmpty,
        "xxhash64 shingle-code collision on promoted docs during " +
          "retraction — the hashed posting index would miscount; " +
          "this regime needs 128-bit codes")
      ParquetMerge.deleteAndUpsertPartitions(spark, postDir,
        remPost.select("part", "pk"), postingRows(promSh, wm),
        "part", "pk", "ver")
      // df consolidation: every shingle touched by the delete or the
      // promotion collapses to ONE corrected-total row (pk = shc:r —
      // disjoint from the folds' numeric shc:batchNo keys, so a later
      // fold's delta never collides; a later retraction rewrites it)
      val promCnt = promSh.groupBy("shc")
        .agg(count(lit(1)).as("_add"))
        .join(promDistinct.groupBy("shc").agg(first("sh").as("_psh")),
          Seq("shc"))
      val affected = remCnt.select("shc")
        .unionByName(promCnt.select("shc")).distinct()
      val dfAff = dfCur.join(affected, Seq("shc"), "left_semi")
        .localCheckpoint(true)
      val oldTotals = dfAff.groupBy("shc")
        .agg(sum("df_delta").as("_old"), first("sh").as("_osh"))
      val consolidated = dfRows(affected
        .join(oldTotals, Seq("shc"), "left")
        .join(remCnt, Seq("shc"), "left")
        .join(promCnt, Seq("shc"), "left")
        .withColumn("df_delta",
          coalesce(col("_old"), lit(0L)) - coalesce(col("_rm"), lit(0L))
            + coalesce(col("_add"), lit(0L)))
        .filter(col("df_delta") > 0L)
        .withColumn("sh", coalesce(col("_osh"), col("_psh"))),
        concat(col("shc"), lit(":r")), wm)
      ParquetMerge.deleteAndUpsertPartitions(spark, dfDir,
        dfAff.select("part", "pk"), consolidated, "part", "pk", "ver")
    }
    spark.range(1).select(lit(wm).as("wm"))
      .write.mode("overwrite").parquet(stateDir + RetractWmSuffix)
    // oldEdges unconditionally: a re-checked fs.exists would read
    // false when the retraction emptied the edge table (the directory
    // was just deleted) and leak the persisted frame
    Seq(x, flagged, promoted, newEdges, oldEdges)
      .foreach(_.unpersist())
    ()
  }
}
