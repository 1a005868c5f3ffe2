package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.{IncrementalAnn, IncrementalBm25, IncrementalClusters,
  IncrementalDsir, IncrementalLsh, IncrementalMinhash, IncrementalSample,
  IncrementalSemDedup, IncrementalSimhash, IncrementalSketch,
  IncrementalStats, IncrementalWinnow}
import graft.sink.ParquetMerge
import graft.util.StateFold

/** The composite NIGHTLY fold — the orchestration layer that makes the
  * incremental family one job instead of eleven: a crawl batch goes
  * through curation ADMISSION ([[IncrementalCuration.curateBatch]] —
  * quality gate + exact dedup + near-dup tombstones against the
  * corpus state), and the docs that SURVIVE admission fold into every
  * maintained downstream artifact at the same `batchNo` version:
  * BM25 postings, MinHash band buckets, SimHash signatures, winnowing
  * fingerprints, the CMS + grid-quantile + per-source profiles, and
  * the bottom-k sample — plus the batch's near-dup PAIR EDGES fold
  * into the connected-component labeling (clusters are over the pair
  * graph, not the admitted set, so the CC fold runs even on a night
  * where every batch doc lost its pairing).
  *
  * Why this composes exactly: the curation fold is keep-first under
  * ascending-id arrival — near-dup LOSERS are always the newer doc
  * (`IncrementalCuration`'s cross losers select `id_new`; intra
  * losers select `id_b`, the larger id) — so an admitted doc is NEVER
  * retroactively tombstoned by a later batch. Each index therefore
  * holds exactly the admitted docs of the batches folded so far, and
  * a probe over any index equals the one-shot build over
  * `IncrementalCuration.survivors` — the cross-fold consistency the
  * spec pins. The CC labeling holds the min-id contraction over the
  * union of every batch's edges — equal to the one-shot contraction
  * over the full maintained edge table (min-label composition).
  *
  * Versioning: every sub-fold shares the caller's `batchNo`, so an
  * at-least-once redelivery replays through each sub-fold's own
  * idempotence clause (curation replay exemption, LWW delta rewrite,
  * set-semantic sample union, self-loop contraction). A crash between
  * sub-folds resumes by replaying the batch: completed sub-folds
  * no-op, missing ones fold — the same effective-exactly-once story
  * as the streaming face ([[graft.util.StateFold.stream]]).
  *
  * MAINTENANCE is part of the nightly, not a separate job: after the
  * sub-folds, every partitioned state table runs a small-file
  * compaction pass ([[ParquetMerge.compactPartitions]]). No
  * touched-partition list is threaded through — none is needed: the
  * pass rewrites ONLY partitions whose file count exceeds what their
  * bytes justify, and a partition this nightly did NOT touch was left
  * compacted by the last nightly that did, so it skips on the listing
  * alone. In steady state the sweep therefore does exactly
  * touched-partition work (each touched partition was just rewritten
  * by its fold's dynamic-overwrite as N task files; compaction folds
  * them to `ceil(bytes/target)`), plus one O(partitions) directory
  * listing per table — the lakehouse contract that partition count is
  * a dimension, not a fact. Reports surface in the
  * [[NightlyReport]]. Disable with `compact = false` when an external
  * table service owns maintenance.
  *
  * State layout under `root`: `curation/` (+ `_edges`), `docmeta/`,
  * `bm25/`, `minhash/`, `simhash/`, `winnow/`, `cc/` (+ `_redir`),
  * `cms/` (+ `_vocab`, `_grid`), `stats/`, `sample/`.
  */
object IncrementalPipeline {

  /** Per-fold admission/row report for the nightly log line, plus the
    * compaction decisions the maintenance pass took (table-qualified
    * partition names; rewritten partitions only — skips are silent).
    */
  final case class NightlyReport(batchNo: Long, nBatch: Long,
                                 nAdmitted: Long,
                                 compaction: Seq[ParquetMerge.CompactionReport]
                                 = Seq.empty)

  /** One maintained index of a composite: its directory, its
    * partitioned state tables (the compaction worklist), its fold of
    * admitted rows at a version, and its removal at a version of the
    * docs that left admission, given as their ids and as their rows —
    * None for an index a retraction rebuilds instead. A retraction
    * runs every removal, then folds the newly admitted rows into the
    * same indexes. (Id-keyed removals take the one-column id frame:
    * their locate joins it, and the wider rows frame would size the
    * join past a broadcast.)
    */
  private final case class Index(
      dir: String, tables: Seq[String], fold: (DataFrame, Long) => Unit,
      remove: Option[(DataFrame, DataFrame, Long) => Unit])

  /** The text composite's indexes over the admitted docs, in fold
    * order. Rows carry `id`, `text` and the docmeta columns. */
  private def textIndexes(spark: SparkSession, root: String, text: String,
                          id: String, sampleK: Int,
                          dsirTargetLang: String): Seq[Index] = {
    val Seq(bm25, minhash, simhash, winnow, cms, stats, sample, dsir) =
      Seq("bm25", "minhash", "simhash", "winnow", "cms", "stats", "sample",
        "dsir").map(t => s"$root/$t")
    val target = col("lang") === dsirTargetLang
    Seq(
      Index(bm25, Seq(bm25, bm25 + IncrementalBm25.StatsSuffix),
        (d, v) => IncrementalBm25.fold(spark, bm25, d, text, id, v),
        Some((x, _, v) => IncrementalBm25.retractDocs(spark, bm25, x, id, v))),
      Index(minhash, Seq(minhash),
        (d, v) => IncrementalMinhash.fold(spark, minhash, d, text, id, v),
        Some((x, _, _) =>
          IncrementalMinhash.retractDocs(spark, minhash, x, id))),
      Index(simhash, Seq(simhash),
        (d, v) => IncrementalSimhash.fold(spark, simhash, d, text, id, v),
        Some((x, _, _) =>
          IncrementalSimhash.retractDocs(spark, simhash, x, id))),
      Index(winnow, Seq(winnow),
        (d, v) => IncrementalWinnow.fold(spark, winnow, d, text, id, v),
        Some((x, _, _) => IncrementalWinnow.retractDocs(spark, winnow, x, id))),
      Index(cms, Seq(cms, cms + IncrementalSketch.VocabSuffix),
        (d, v) => IncrementalSketch.cmsFold(spark, cms, d, text, v),
        Some((_, d, v) =>
          IncrementalSketch.cmsRetract(spark, cms, d, text, v))),
      Index(cms, Seq(cms + IncrementalSketch.GridSuffix),
        (d, v) => IncrementalSketch.gridFold(spark, cms, d, "n_chars",
          "source", v),
        Some((_, d, v) => IncrementalSketch.gridRetract(spark, cms, d,
          "n_chars", "source", v))),
      Index(stats, Seq(stats),
        (d, v) => IncrementalStats.fold(spark, stats, d, text, "source", v),
        Some((_, d, v) => IncrementalStats.retractFold(spark, stats, d, text,
          "source", v))),
      // a bottom-k sketch is not subtractive: retraction rebuilds it
      Index(sample, Nil,
        (d, _) => IncrementalSample.fold(spark, sample, d, "lang", id,
          sampleK), None),
      // the DSIR selection model: raw counts from every admitted doc,
      // target counts from the target-language slice — the importance
      // scorer stays current with the corpus the nightly curates
      Index(dsir, Seq(dsir),
        (d, v) => IncrementalDsir.fold(spark, dsir, d, text, id, target, v),
        Some((_, d, v) => IncrementalDsir.retractDocs(spark, dsir, d, text, id,
          target, v))))
  }

  /** The partitioned state tables a text nightly maintains under
    * `root` — the compaction sweep's worklist. */
  private def textTables(root: String, ix: Seq[Index]): Seq[String] = {
    val cur = s"$root/curation"
    Seq(cur, cur + IncrementalCuration.EdgesSuffix, s"$root/docmeta") ++
      ix.flatMap(_.tables) ++
      Seq(s"$root/cc", s"$root/cc" + IncrementalClusters.RedirectSuffix)
  }

  /** The in-nightly maintenance sweep — EAGER by design (`minFiles =
    * 2`: any partition with a delta file rewrites). The x25
    * steady-state A/B (TUNING.md) tested the amortization alternative
    * (`minFiles = 4`, each partition carries up to 3 delta files
    * before rewriting) and it LOST: 30-night total 3097 s vs 2830 s,
    * last-third median 90.5 s vs 71.5 s — every fold and probe reads
    * the state tables, so the read amplification of the extra delta
    * files outweighs the saved rewrite volume. The knob stays for
    * deployments whose read:write ratio differs; the measured default
    * is eager.
    */
  private def compactSweep(spark: SparkSession, tables: Seq[String],
                           minFiles: Int = 2)
  : Seq[ParquetMerge.CompactionReport] =
    tables.flatMap { t =>
      ParquetMerge.compactPartitions(spark, t, "part", minFiles = minFiles)
        .filter(_.filesAfter > 0)
        .map(r => r.copy(partition = s"$t#${r.partition}"))
    }

  /** Fold one batch end-to-end. `batch` carries `id`, `text`, and
    * optionally `lang`/`source` (defaulted when absent so the profile
    * and sample folds always run).
    */
  def nightly(spark: SparkSession, root: String, batch: DataFrame,
              text: String, id: String, batchNo: Long,
              minQuality: Double = 0.7, jaccardThreshold: Double = 0.3,
              sampleK: Int = 40, compact: Boolean = true,
              dsirTargetLang: String = "en"): NightlyReport = {
    val cur = s"$root/curation"
    val b = batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nBatch = b.count()
    // an empty crawl night is a semantic no-op for every fold (the
    // quality gate admits nothing, no edges form) — skip rather than
    // pay the curation fold's state-side probe for zero batch rows
    if (nBatch == 0L) {
      b.unpersist()
      return NightlyReport(batchNo, 0L, 0L)
    }
    // RETRACTABLE curation (since the composite gained retractNightly):
    // same survivor semantics, plus the tombstone/edge state deletion
    // needs. The thin docmeta sidecar keeps every batch doc's
    // (lang, source, n_chars) — what the sample REBUILD and the
    // retraction-time negative folds need without re-crawling (text
    // itself lives in the curation state).
    IncrementalCuration.curateBatchRetractable(spark, cur, b,
      text, id, batchNo, minQuality = minQuality,
      jaccardThreshold = jaccardThreshold)
    val withMeta = (d: DataFrame) => d
      .withColumn("lang",
        if (b.columns.contains("lang")) col("lang") else lit("und"))
      .withColumn("source",
        if (b.columns.contains("source")) col("source") else lit("crawl"))
      .withColumn("n_chars", length(col(text)).cast("long"))
    StateFold.upsert(spark, s"$root/docmeta", StateFold.stamp(withMeta(b),
      pmod(col(id), lit(8L)), col(id), batchNo, "lang", "source", "n_chars"),
      key = id)
    // the docs THIS batch admitted: survivor rows at this version
    // (keep-first means they are final; see the class doc)
    val admittedIds = spark.read.parquet(cur)
      .filter(col("is_survivor") && col("ver") === batchNo)
      .select(col(id))
    val admitted = withMeta(b.join(admittedIds, Seq(id), "left_semi"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nAdmitted = admitted.count()
    val ix = textIndexes(spark, root, text, id, sampleK, dsirTargetLang)
    if (nAdmitted > 0L) ix.foreach(_.fold(admitted, batchNo))
    // the CC labeling folds THIS batch's pair edges (the curation fold
    // just wrote them at ver = batchNo) — outside the admitted guard:
    // a night where every batch doc lost still produced edges, and
    // those edges are exactly what the labeling must learn. A replay
    // re-reads the identical LWW-rewritten edges and contracts to
    // self-loops (no-op).
    val edgesDir = cur + IncrementalCuration.EdgesSuffix
    if (StateFold.exists(spark, edgesDir)) {
      val batchEdges = spark.read.parquet(edgesDir)
        .filter(col("ver") === batchNo).select("id_a", "id_b")
      IncrementalClusters.fold(spark, s"$root/cc", batchEdges, batchNo)
    }
    admitted.unpersist(); b.unpersist()
    val reports =
      if (compact) compactSweep(spark, textTables(root, ix)) else Seq.empty
    NightlyReport(batchNo, nBatch, nAdmitted, reports)
  }

  /** RETRACT a doc set through EVERY maintained artifact — one delete
    * call propagates the right-to-be-forgotten request end to end,
    * and afterwards each index equals the one-shot build over the
    * admitted set of the never-retracted corpus:
    *
    *  1. [[IncrementalCuration.retract]] settles admission: exact
    *     promotion, tombstone resurrection, promoted-suppresses —
    *     membership can move BOTH ways (docs leave, docs enter).
    *  2. The admission DELTA (removals = was-admitted, no longer;
    *     additions = newly admitted, e.g. resurrected) drives each
    *     index: BM25, MinHash, SimHash and winnowing drop
    *     posting/band/signature/fingerprint rows of removals and fold
    *     additions; CMS/grid/profile take exact NEGATIVE delta rows
    *     for removals and positive folds for additions (their
    *     cells/sums are associative — subtraction is sound); the
    *     bottom-k sample REBUILDS from the docmeta sidecar (a
    *     bottom-k sketch is not subtractive — evicted candidates are
    *     gone — so shrink means recompute over O(corpus) thin rows,
    *     never text).
    *  3. The CC labeling takes the EDGE delta, not the admission
    *     delta (clusters live over the pair graph): the surviving old
    *     edges (minus everything touching the retracted set) drive
    *     [[IncrementalClusters.retract]]'s affected-component
    *     re-contraction, and the retraction's FRESH promotion edges
    *     fold in after at `retractVer` — composing to the one-shot
    *     contraction over the post-retraction edge table.
    *  4. Removal text is captured BEFORE the curation delete (a
    *     retracted doc's text must leave the corpus — it survives
    *     only inside this job's transient frames); `retractVer` is
    *     recorded as the curation retraction watermark so every later
    *     fold runs strictly above it — no version can collide with
    *     the retraction's own delta rows.
    *
    * `retractVer` must exceed every folded batch version. Quiesce the
    * nightly stream first (the [[IncrementalCuration.retract]]
    * replay contract).
    */
  def retractNightly(spark: SparkSession, root: String,
                     retractIds: DataFrame, text: String, id: String,
                     retractVer: Long, jaccardThreshold: Double = 0.3,
                     sampleK: Int = 40,
                     dsirTargetLang: String = "en",
                     compact: Boolean = true): Unit = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val cur = s"$root/curation"
    val stBefore = spark.read.parquet(cur)
    val maxVer = stBefore.agg(max("ver")).head().getLong(0)
    require(retractVer > maxVer,
      s"retractVer $retractVer must exceed every folded version ($maxVer)")
    // and every PRIOR retraction version (pinned as the curation
    // watermark below) — reusing one would LWW-collide the negative
    // stats deltas of two different retractions
    val rwmDir = cur + IncrementalCuration.RetractWmSuffix
    if (StateFold.exists(spark, rwmDir)) {
      val rwm = spark.read.parquet(rwmDir)
        .agg(max("wm")).head().getLong(0)
      require(retractVer > rwm,
        s"retractVer $retractVer must exceed the prior retraction " +
          s"watermark $rwm")
    }
    val x = retractIds.select(col(id)).distinct().persist(lvl)
    val before = stBefore.filter(col("is_survivor")).select(col(id))
      .localCheckpoint(true)
    // capture retracted survivors' text NOW — the curation delete is
    // about to erase it, and the negative folds need it once more
    val xSurvText = stBefore.filter(col("is_survivor"))
      .join(x, Seq(id), "left_semi").select(col(id), col(text))
      .localCheckpoint(true)
    // the surviving OLD pair edges, pinned BEFORE the curation delete
    // rewrites the edge table — the CC re-contraction's edge set
    val edgesDir = cur + IncrementalCuration.EdgesSuffix
    val emptyEdges = spark.range(0)
      .select(col("id").as("id_a"), col("id").as("id_b"))
    val liveOld: DataFrame =
      if (StateFold.exists(spark, edgesDir))
        spark.read.parquet(edgesDir).select("id_a", "id_b")
          .join(x.withColumnRenamed(id, "id_a"), Seq("id_a"), "left_anti")
          .join(x.withColumnRenamed(id, "id_b"), Seq("id_b"), "left_anti")
          .localCheckpoint(true)
      else emptyEdges
    IncrementalCuration.retract(spark, cur, x, text, id,
      jaccardThreshold = jaccardThreshold)
    // pin the watermark AT retractVer (retract records max folded ver;
    // the composite needs later folds above ITS version too)
    spark.range(1).select(lit(retractVer).as("wm"))
      .write.mode("overwrite")
      .parquet(cur + IncrementalCuration.RetractWmSuffix)
    val stAfter = spark.read.parquet(cur)
    val after = stAfter.filter(col("is_survivor")).select(col(id))
      .localCheckpoint(true)
    val removals = before.join(after, Seq(id), "left_anti")
      .localCheckpoint(true)
    val additions = after.join(before, Seq(id), "left_anti")
      .localCheckpoint(true)
    // newly-fallen removals (not retracted themselves) keep their
    // state row — their text reads back; retracted ones were captured
    val removalDocs = stAfter.select(col(id), col(text))
      .join(removals, Seq(id), "left_semi")
      .unionByName(xSurvText.join(removals, Seq(id), "left_semi"))
      .localCheckpoint(true)
    val additionDocs = stAfter.select(col(id), col(text))
      .join(additions, Seq(id), "left_semi")
      .localCheckpoint(true)
    val metaDir = s"$root/docmeta"
    val meta = spark.read.parquet(metaDir)
    val withMeta = (d: DataFrame) => d
      .join(meta.select(col(id), col("lang"), col("source"),
        col("n_chars")), Seq(id))
      .localCheckpoint(true)
    val remFull = withMeta(removalDocs)
    val addFull = withMeta(additionDocs)
    // docmeta loses the retracted rows (thin table, key-partitioned)
    StateFold.locate(meta, x, Seq("part", id))
      .foreach(StateFold.delete(spark, metaDir, meta, _, key = id))
    val ix = textIndexes(spark, root, text, id, sampleK, dsirTargetLang)
    val live =
      ix.filter(i => i.remove.isDefined && StateFold.exists(spark, i.dir))
    if (!removals.isEmpty)
      live.foreach(_.remove.get(removals, remFull, retractVer))
    if (!additions.isEmpty) live.foreach(_.fold(addFull, retractVer))
    // CC: remove the retracted nodes over the PINNED surviving-old
    // edge set (every removed edge lies inside an affected component —
    // its endpoints were connected), then fold the retraction's fresh
    // promotion edges; min-label composition makes the result the
    // one-shot contraction over the post-retraction edge table
    val ccDir = s"$root/cc"
    if (StateFold.exists(spark, ccDir)) {
      IncrementalClusters.retract(spark, ccDir, x, liveOld)
      val newEdges: DataFrame =
        if (StateFold.exists(spark, edgesDir))
          spark.read.parquet(edgesDir).select("id_a", "id_b")
            .join(liveOld, Seq("id_a", "id_b"), "left_anti")
            .localCheckpoint(true)
        else emptyEdges
      if (!newEdges.isEmpty)
        IncrementalClusters.fold(spark, ccDir, newEdges, retractVer)
    }
    // the sample is the one non-subtractive artifact: rebuild it from
    // the post-retraction admitted set's thin metadata
    IncrementalSample.rebuild(spark, s"$root/sample",
      spark.read.parquet(metaDir).join(after, Seq(id), "left_semi")
        .select(col("lang"), col(id)),
      "lang", id, sampleK)
    // sweep HERE, not on the next night: a retraction writes one
    // negative-delta file per touched (table, partition) — at
    // StateParts = 64 the r14 x25 run measured 419 → 1,301 files,
    // and the NEXT two nights paid the read amplification (279 s /
    // 700 s vs a ~100 s steady night). The cleanup belongs in the
    // retraction's own accounting.
    if (compact) { compactSweep(spark, textTables(root, ix)); () }
    x.unpersist()
  }

  /** Per-night report of the EMBEDDING-side composite: batch/admitted
    * counts, the night's IVF drift ratio (the re-train trigger — a
    * value ≫ 1 means the frozen quantizer no longer fits the
    * distribution; see [[IncrementalAnn.ivfRetrain]]), and the
    * maintenance pass's compaction decisions.
    */
  final case class EmbedNightlyReport(batchNo: Long, nBatch: Long,
                                      nAdmitted: Long, driftRatio: Double,
                                      compaction: Seq[ParquetMerge.CompactionReport]
                                      = Seq.empty)

  /** The embedding composite's indexes over the admitted vectors, in
    * fold order. Version 0 is the init night: it trains and freezes
    * the IVF centroids and PQ codebooks. Rows carry `id` and `vec`. */
  private def embedIndexes(spark: SparkSession, root: String, id: String,
                           vec: String, lshGeometry: => (Int, Int),
                           nLists: Int = 16, m: Int = 8, kCent: Int = 16,
                           seed: Long = 42L): Seq[Index] = {
    val Seq(ivf, pq, lsh) = Seq("ivf", "pq", "lsh").map(t => s"$root/$t")
    Seq(
      Index(ivf, Seq(ivf, ivf + IncrementalAnn.AuditSuffix),
        (d, v) =>
          if (v == 0L) IncrementalAnn.ivfInit(spark, ivf, d, id, vec, nLists,
            seed)
          else IncrementalAnn.ivfFold(spark, ivf, d, id, vec, v),
        Some((x, _, v) => IncrementalAnn.ivfRetract(spark, ivf, x, id, v))),
      Index(pq, Seq(pq),
        (d, v) =>
          if (v == 0L) IncrementalAnn.pqInit(spark, pq, d, id, vec, m, kCent,
            seed)
          else IncrementalAnn.pqFold(spark, pq, d, id, vec, v),
        // the PQ code table has the IVF assignment table's layout
        Some((x, _, v) => IncrementalAnn.ivfRetract(spark, pq, x, id, v))),
      // the LSH tier needs no training, so it folds every night
      // including night 0 — geometry is frozen by its own config table
      Index(lsh, Seq(lsh, lsh + IncrementalLsh.VecsSuffix),
        (d, v) => {
          val (bits, tables) = lshGeometry
          IncrementalLsh.fold(spark, lsh, d, id, vec, v, bits = bits,
            tables = tables)
        },
        Some((x, _, _) => IncrementalLsh.retract(spark, lsh, x, id))))
  }

  /** The EMBEDDING-side nightly — the sibling composite for the vector
    * half of a training-data pipeline: a batch of embeddings goes
    * through SemDedup ADMISSION ([[IncrementalSemDedup.fold]] —
    * cell-bucketed dominance against the corpus state), and the
    * vectors that SURVIVE fold into EVERY maintained ANN artifact at
    * the same version: the IVF assignment table, the PQ code table
    * (frozen quantizers, O(batch) folds), and the multi-table LSH
    * bucket index ([[IncrementalLsh]] — the best-recall tier, no
    * training, folds from night 0). The per-night drift audit row is
    * surfaced in the report — the operational re-train trigger.
    *
    * NIGHT 0 is the INIT night: it trains the IVF centroids and PQ
    * codebooks on the first batch's admitted vectors and freezes them
    * ([[IncrementalAnn.ivfInit]]/[[IncrementalAnn.pqInit]] — both
    * replay-safe, so a crashed init re-delivers idempotently). Later
    * nights fold at `batchNo >= 1` against the frozen quantizers.
    * Same composition argument as the text nightly: dominance is
    * keep-first under ascending-id arrival, so an admitted vector is
    * never retroactively tombstoned and each index holds exactly the
    * admitted vectors folded so far.
    *
    * State layout under `root`: `semdedup/` (+ `_cells`), `ivf/`
    * (+ `_centroids`, `_audit`), `pq/` (+ `_codebooks`).
    */
  def nightlyEmbed(spark: SparkSession, root: String, batch: DataFrame,
                   id: String, vec: String, batchNo: Long,
                   signBits: Int = 4, threshold: Double = 0.45,
                   maxCell: Long = 100000L, nLists: Int = 16, m: Int = 8,
                   kCent: Int = 16, seed: Long = 42L,
                   lshBits: Int = 6, lshTables: Int = 4,
                   compact: Boolean = true): EmbedNightlyReport = {
    val sem = s"$root/semdedup"
    val ivf = s"$root/ivf"
    val b = batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nBatch = b.count()
    IncrementalSemDedup.fold(spark, sem, b, id, vec, batchNo,
      signBits = signBits, threshold = threshold, maxCell = maxCell)
    // this batch's admitted vectors: survivor rows at this version
    // (keep-first dominance means they are final — class doc)
    val admitted = spark.read.parquet(sem)
      .filter(col("is_survivor") && col("ver") === batchNo)
      .select(col("vid").as(id), col("vec").as(vec))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nAdmitted = admitted.count()
    val ix = embedIndexes(spark, root, id, vec, (lshBits, lshTables),
      nLists, m, kCent, seed)
    if (batchNo == 0L ||
      !StateFold.exists(spark, ivf + IncrementalAnn.CentroidsSuffix)) {
      require(batchNo == 0L,
        s"no trained quantizers at $ivf — the first embed night must " +
          s"run at batchNo 0 (the init night); got batchNo $batchNo")
      require(nAdmitted > 0L,
        "init night admitted no vectors — cannot train the quantizers")
    }
    if (nAdmitted > 0L) ix.foreach(_.fold(admitted, batchNo))
    admitted.unpersist(); b.unpersist()
    // the night's drift signal: the latest FOLD audit row (negative
    // batch_no rows are retraction decrements, not fits)
    val driftRow = IncrementalAnn.ivfAudit(spark, ivf)
      .filter(col("batch_no") >= 0L)
      .orderBy(desc("batch_no")).select("drift_ratio").limit(1).head()
    val reports =
      if (compact) compactSweep(spark, embedTables(root, ix)) else Seq.empty
    EmbedNightlyReport(batchNo, nBatch, nAdmitted,
      driftRow.getDouble(0), reports)
  }

  private def embedTables(root: String, ix: Seq[Index]): Seq[String] =
    Seq(s"$root/semdedup",
      s"$root/semdedup" + IncrementalSemDedup.CellStatsSuffix) ++
      ix.flatMap(_.tables)

  /** RETRACT a vector set through the embedding-side composite:
    * [[IncrementalSemDedup.retract]] settles admission (vectors
    * suppressed solely by retracted dominators RESURRECT — additions;
    * retracted survivors leave — removals), and the delta drives
    * every ANN artifact: removals delete from the IVF assignment, PQ
    * code and LSH bucket/vector tables (all partition-pruned; IVF/PQ
    * audit-decremented), additions fold in against the frozen
    * quantizers/geometry at `retractVer`. Afterwards each artifact
    * equals the one-shot build over the admitted set of the
    * never-retracted corpus.
    *
    * `retractVer` must exceed every folded batch version; quiesce the
    * embed stream first (the SemDedup retraction watermark makes
    * pre-retraction replays fail loudly).
    */
  def retractNightlyEmbed(spark: SparkSession, root: String,
                          retractIds: DataFrame, id: String, vec: String,
                          retractVer: Long,
                          threshold: Double = 0.45,
                          compact: Boolean = true): Unit = {
    val sem = s"$root/semdedup"
    val st = spark.read.parquet(sem)
    val maxVer = st.agg(max("ver")).head().getLong(0)
    require(retractVer > maxVer,
      s"retractVer $retractVer must exceed every folded version ($maxVer)")
    val before = st.filter(col("is_survivor")).select("vid")
      .localCheckpoint(true)
    IncrementalSemDedup.retract(spark, sem, retractIds, id,
      threshold = threshold)
    val stAfter = spark.read.parquet(sem)
    val after = stAfter.filter(col("is_survivor")).select("vid")
      .localCheckpoint(true)
    val removals = before.join(after, Seq("vid"), "left_anti")
      .select(col("vid").as(id)).localCheckpoint(true)
    val additions = after.join(before, Seq("vid"), "left_anti")
      .localCheckpoint(true)
    val ix = embedIndexes(spark, root, id, vec,
      IncrementalLsh.geometry(spark, s"$root/lsh"))
    val live = ix.filter(i => StateFold.exists(spark, i.dir))
    if (!removals.isEmpty)
      live.foreach(_.remove.get(removals, removals, retractVer))
    if (!additions.isEmpty) {
      // resurrected vectors re-read from the SemDedup state (it keeps
      // every seen vector precisely for fate recomputes)
      val addVecs = stAfter.join(additions, Seq("vid"), "left_semi")
        .select(col("vid").as(id), col("vec").as(vec))
        .localCheckpoint(true)
      live.foreach(_.fold(addVecs, retractVer))
    }
    // same post-retraction sweep rule as retractNightly: the delete's
    // per-(table, partition) delta files are this operation's cost,
    // not the next fold's
    if (compact) { compactSweep(spark, embedTables(root, ix)); () }
  }
}
