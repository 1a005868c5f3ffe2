package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.StateFold

/** Incremental maintenance of the persisted ANN index artifacts — the
  * [[graft.pipeline.IncrementalCuration]] state-fold pattern applied
  * to the IVF assignment table and the PQ code table: quantizers
  * (KMeans centroids / PQ codebooks) are trained ONCE on the base
  * corpus and FROZEN; each new embedding batch is assigned/encoded
  * map-side against the frozen quantizer and folded into the stored
  * table through the same idempotent partition-scoped LWW merge the
  * curation state uses (key = vector id, version = batchNo — a
  * replayed batch re-merges to the identical index).
  *
  * Convergence contract (the [[graft.IncrementalPipelineSpec]]-style
  * verifiable claim): because the quantizer is frozen and assignment
  * is a pure per-row function of (vector, quantizer), the folded
  * index is BATCH-SPLIT INVARIANT — folding the corpus in any number
  * of batches produces the identical assignment/code table a one-shot
  * fold of the merged corpus produces, and probes against the folded
  * index return exactly the probe results of the one-shot index. (A
  * full RE-TRAIN on the merged corpus is a different index by design
  * — new centroids; the drift audit below is what tells an operator
  * when that re-train is due.)
  *
  * Drift audit: every fold appends one row per batch recording the
  * batch's mean squared assignment distance against the BUILD-TIME
  * mean — the standard IVF health signal. A distribution shift (new
  * domain, new embedder version) shows up as drift_ratio ≫ 1 long
  * before recall visibly degrades; the audit row is the re-train
  * trigger, LWW-keyed by batchNo so replays re-write rather than
  * double-append (see TUNING.md round-12 note for the threshold
  * guidance).
  *
  * 100 TB shape: the quantizer is codebook-bounded driver state
  * (nLists·dim / m·kCent·(dim/m) doubles — KBs); each fold touches
  * the BATCH only (one broadcast of the centroids, one O(batch)
  * partition-scoped merge — the corpus-sized table is never
  * rewritten, only the partitions the batch lands in); probes read
  * the stored table exactly like the in-session
  * [[VectorSearch.ivfBuild]]/[[VectorSearch.pqBuild]] artifacts.
  * Reference behavior context: the reference system has no vector
  * path at all (SURVEY.md §2) — this extends the incremental-curation
  * nightly shape to the ANN side of a training-data pipeline.
  */
object IncrementalAnn {

  /** Hash-partition count of the stored tables (same layout contract
    * as [[graft.pipeline.IncrementalCuration.StateParts]]).
    */
  val StateParts: Int = graft.util.StateConf.parts(8)

  /** Suffixes of the stored tables next to the assignment table. */
  val CentroidsSuffix = "_centroids"
  val AuditSuffix = "_audit"
  val CodebooksSuffix = "_codebooks"

  private def sqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => {
      val d = x.cast("double") - y.cast("double"); d * d
    }), lit(0.0), (acc, v) => acc + v)

  /** Train the coarse quantizer on `base` (the one-time offline step),
    * persist the frozen centroids + build-time mean assignment
    * distance, and fold `base` in as batch 0. Same KMeans settings as
    * [[VectorSearch.ivfBuild]] — deterministic seed, few iterations.
    *
    * REPLAY-safe: if the centroid table already exists (a crashed
    * first night re-delivered — the nightlyEmbed composite's init
    * contract), training is skipped and `base` re-folds against the
    * FROZEN stored centroids at batch 0 — assignment is pure, so the
    * LWW merge rewrites identical rows and the batch-0 audit row is
    * rewritten, never duplicated.
    */
  def ivfInit(spark: SparkSession, dir: String, base: DataFrame,
              id: String, vec: String, nLists: Int = 16,
              seed: Long = 42L): Unit = {
    if (StateFold.exists(spark, dir + CentroidsSuffix)) {
      val cent = spark.read.parquet(dir + CentroidsSuffix)
      val buildMean = cent.select("build_mean_dist").head().getDouble(0)
      foldAssigned(spark, dir,
        assignIvf(base, cent.select("ivf_list", "centroid"), id, vec),
        id, vec, batchNo = 0L, buildMean = buildMean)
      return
    }
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    import spark.implicits._
    val feat = base.withColumn("_fv",
      array_to_vector(transform(col(vec), v => v.cast("double"))))
    val model = new KMeans().setK(nLists).setSeed(seed).setMaxIter(5)
      .setFeaturesCol("_fv").setPredictionCol("_list").fit(feat)
    val centDf = model.clusterCenters.zipWithIndex.map { case (c, i) =>
      (i, c.toArray)
    }.toSeq.toDF("ivf_list", "centroid")
    // build-time mean squared assignment distance — the drift
    // baseline every later fold compares against. Computed with the
    // SAME SQL assignment kernel the folds use, so the ratio can
    // never drift on kernel differences.
    val assignedBase = assignIvf(base, centDf, id, vec)
    val buildMean = assignedBase.agg(avg(col("adist"))).head().getDouble(0)
    centDf.withColumn("build_mean_dist", lit(buildMean))
      .coalesce(1)
      .write.mode("errorifexists").parquet(dir + CentroidsSuffix)
    foldAssigned(spark, dir, assignedBase, id, vec, batchNo = 0L,
      buildMean = buildMean)
  }

  /** Fold one new embedding batch into the persisted IVF assignment
    * table against the FROZEN centroids, appending the batch's drift
    * audit row. Replaying a batchNo re-merges idempotently (LWW).
    */
  def ivfFold(spark: SparkSession, dir: String, batch: DataFrame,
              id: String, vec: String, batchNo: Long): Unit = {
    require(batchNo > 0L, "batchNo 0 is the init fold")
    val cent = spark.read.parquet(dir + CentroidsSuffix)
    val buildMean = cent.select("build_mean_dist").head().getDouble(0)
    val assigned = assignIvf(batch, cent.select("ivf_list", "centroid"),
      id, vec)
    foldAssigned(spark, dir, assigned, id, vec, batchNo, buildMean)
  }

  /** The frozen-quantizer assignment kernel: nearest centroid by
    * squared L2 (the KMeans metric), lowest list on exact ties —
    * one broadcast of the KB-sized centroid table, one O(batch)
    * aggregation; the corpus is never touched.
    */
  private def assignIvf(batch: DataFrame, cent: DataFrame, id: String,
                        vec: String): DataFrame =
    batch.select(col(id), col(vec))
      .crossJoin(broadcast(cent.select(col("ivf_list"), col("centroid"))))
      .withColumn("_d", sqDist(col(vec), col("centroid")))
      .groupBy(col(id))
      .agg(min(struct(col("_d"), col("ivf_list"), col(vec))).as("_b"))
      .select(col(id), col("_b._d").as("adist"),
        col("_b.ivf_list").as("ivf_list"),
        col(s"_b.${vec}").as(vec))

  private def foldAssigned(spark: SparkSession, dir: String,
                           assigned: DataFrame, id: String, vec: String,
                           batchNo: Long, buildMean: Double): Unit =
    StateFold.bound(spark, dir, StateParts) {
      val rows = StateFold.stamp(assigned, idPart(col(id)), col(id),
          batchNo, "ivf_list", "adist", vec)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val stats = rows.agg(count(lit(1)), avg(col("adist"))).head()
      StateFold.upsert(spark, dir, rows, key = id)
      // one audit row per batch, LWW-keyed by batchNo: a replayed batch
      // REWRITES its row (an append-only audit would double-count —
      // the df-summary lesson); drift_ratio ≫ 1 is the re-train trigger
      val meanD = if (stats.isNullAt(1)) 0.0 else stats.getDouble(1)
      auditRow(spark, dir, batchNo, batchNo, stats.getLong(0), meanD,
        buildMean, if (buildMean > 0) meanD / buildMean else 0.0)
      rows.unpersist()
    }

  /** A vector row's partition: id-hashed (assignment and code tables). */
  private def idPart(id: Column): Column = pmod(id, lit(StateParts.toLong))

  /** One drift-audit row, LWW-keyed by `batch_no`. */
  private def auditRow(spark: SparkSession, dir: String, batchNo: Long,
                       ver: Long, nRows: Long, meanD: Double,
                       buildMean: Double, drift: Double): Unit = {
    import spark.implicits._
    StateFold.upsert(spark, dir + AuditSuffix,
      Seq((0L, batchNo, ver, nRows, meanD, buildMean, drift))
        .toDF("part", "batch_no", "ver", "n_rows", "mean_dist",
          "build_mean_dist", "drift_ratio"),
      key = "batch_no")
  }

  /** The RE-TRAIN the drift audit triggers: fit fresh centroids on the
    * CURRENT state vectors (base + every folded batch — the offline
    * step, same KMeans settings as [[ivfInit]]), REPLACE the frozen
    * centroid table, and re-assign every stored vector at version
    * `batchNo` through the same LWW merge (rewrites all partitions —
    * the full-rebuild cost, paid only when the audit says it is due;
    * `batchNo` must exceed every folded version so the re-assignment
    * wins LWW). Resets the drift baseline: the audit row this writes
    * reads drift_ratio 1.0 by construction, and subsequent folds
    * compare against the NEW build-time mean.
    */
  def ivfRetrain(spark: SparkSession, dir: String, id: String, vec: String,
                 batchNo: Long, nLists: Int = 16, seed: Long = 42L): Unit = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    import spark.implicits._
    val maxVer = spark.read.parquet(dir).agg(max(col("ver"))).head().getLong(0)
    require(batchNo > maxVer,
      s"retrain batchNo $batchNo must exceed every folded version " +
        s"(state max ver $maxVer) so the re-assignment wins the LWW merge")
    val cur = spark.read.parquet(dir).select(col(id), col(vec))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val feat = cur.withColumn("_fv",
      array_to_vector(transform(col(vec), v => v.cast("double"))))
    val model = new KMeans().setK(nLists).setSeed(seed).setMaxIter(5)
      .setFeaturesCol("_fv").setPredictionCol("_list").fit(feat)
    val centDf = model.clusterCenters.zipWithIndex.map { case (c, i) =>
      (i, c.toArray)
    }.toSeq.toDF("ivf_list", "centroid")
    val assigned = assignIvf(cur, centDf, id, vec)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val buildMean = assigned.agg(avg(col("adist"))).head().getDouble(0)
    centDf.withColumn("build_mean_dist", lit(buildMean))
      .coalesce(1)
      .write.mode("overwrite").parquet(dir + CentroidsSuffix)
    foldAssigned(spark, dir, assigned, id, vec, batchNo, buildMean)
    assigned.unpersist()
    cur.unpersist()
  }

  /** The probe face: reconstruct a [[VectorSearch.IvfIndex]] from the
    * stored tables, so [[VectorSearch.ivfTopK]] runs unchanged against
    * the incrementally-maintained index (probes read stored blocks —
    * the written-index cost model of the in-session caches).
    */
  def ivfIndex(spark: SparkSession, dir: String, id: String,
               vec: String): VectorSearch.IvfIndex = {
    val cent = spark.read.parquet(dir + CentroidsSuffix)
      .select("ivf_list", "centroid")
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    val mat = new org.apache.spark.ml.linalg.DenseMatrix(
      cent.length, cent.head._2.length, cent.flatMap(_._2),
      isTransposed = true)
    VectorSearch.IvfIndex(spark.read.parquet(dir), mat, id, vec)
  }

  /** The per-batch drift audit trail (batch_no, n_rows, mean_dist,
    * build_mean_dist, drift_ratio) — the re-train trigger signal.
    */
  def ivfAudit(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir + AuditSuffix)
      .select("batch_no", "n_rows", "mean_dist", "build_mean_dist",
        "drift_ratio")

  /** RETRACT vectors from the IVF assignment table — the
    * right-to-be-forgotten face of the ANN index, and the simplest in
    * the family: assignments are per-vector-pure (frozen centroids),
    * so deleting the rows IS the converged state — the post-delete
    * index equals a fresh fold over the surviving vectors exactly,
    * with no resurrection semantics to settle. The table is
    * id-partitioned, so the delete is a partition-pruned rewrite —
    * `part = pmod(id, StateParts)` is DERIVED from the retract ids
    * (the same derived-partition filter the other retract faces use),
    * so the state read opens only the partitions the ids can live in,
    * whatever StateParts a large-corpus deployment raises it to.
    * One negative audit row (`batch_no = -retractVer`, disjoint from
    * every fold's key) keeps the row-count trail honest; drift stats
    * are left untouched (retraction says nothing about distribution
    * fit). The audit row is written BEFORE the delete: a crash
    * between the two writes leaves the rows still present, so a
    * retried retraction recomputes the same count and LWW-rewrites
    * the identical audit row, then deletes — the trail stays
    * consistent through any partial failure (audit-after-delete
    * would lose the decrement forever: the retry finds n == 0 and
    * returns). Works unchanged for the PQ code table — same layout.
    */
  def ivfRetract(spark: SparkSession, dir: String, retractIds: DataFrame,
                 id: String, retractVer: Long): Unit = {
    require(retractVer > 0, "retractVer must be positive")
    StateFold.bound(spark, dir, StateParts) {
      val st = spark.read.parquet(dir)
      StateFold.locate(st, retractIds.select(col(id)), Seq("part", id),
          Some(idPart _))
        .foreach { gone =>
          val n = gone.count()
          if (n > 0L) {
            if (StateFold.exists(spark, dir + AuditSuffix))
              auditRow(spark, dir, -retractVer, retractVer, -n, 0.0, 0.0, 0.0)
            StateFold.delete(spark, dir, st, gone, key = id)
          }
        }
    }
  }

  /** Train the PQ codebooks on `base` and freeze them (stored table),
    * encoding `base` as batch 0 — the PQ face of the same fold. Same
    * training as [[VectorSearch.pqBuild]].
    *
    * REPLAY-safe like [[ivfInit]]: an existing codebook table skips
    * training and re-encodes `base` against the FROZEN stored
    * codebooks at batch 0 (encoding is pure — the LWW merge rewrites
    * identical rows). The quantizer itself is never silently
    * retrained; that is [[ivfRetrain]]'s explicit, audited move.
    */
  def pqInit(spark: SparkSession, dir: String, base: DataFrame,
             id: String, vec: String, m: Int = 8, kCent: Int = 16,
             seed: Long = 42L): Unit = {
    if (StateFold.exists(spark, dir + CodebooksSuffix)) {
      foldCodes(spark, dir, encodeAgainstStored(spark, dir, base, id, vec),
        id, batchNo = 0L)
      return
    }
    val built = VectorSearch.pqBuild(base, id, vec, m, kCent, seed)
    import spark.implicits._
    built.codebooks.toSeq.toDF("sub", "j", "cvec")
      .withColumn("m", lit(m)).withColumn("k_cent", lit(kCent))
      .coalesce(1)
      .write.mode("errorifexists").parquet(dir + CodebooksSuffix)
    foldCodes(spark, dir, built.codes, id, batchNo = 0L)
    built.close()
  }

  /** Encode one new batch against the FROZEN codebooks and fold the
    * codes in (LWW, replay-idempotent). Encoding reuses the exact
    * [[VectorSearch.pqBuild]] kernel (normalize → per-subspace argmin
    * against the broadcast codebooks), so batch-split invariance holds
    * code-for-code: normalization is per-row and the codebooks are
    * constant.
    */
  def pqFold(spark: SparkSession, dir: String, batch: DataFrame,
             id: String, vec: String, batchNo: Long): Unit = {
    require(batchNo > 0L, "batchNo 0 is the init fold")
    foldCodes(spark, dir, encodeAgainstStored(spark, dir, batch, id, vec),
      id, batchNo)
  }

  /** The frozen-codebook encode kernel shared by [[pqFold]] and
    * [[pqInit]]'s replay path. */
  private def encodeAgainstStored(spark: SparkSession, dir: String,
                                  batch: DataFrame, id: String,
                                  vec: String): DataFrame = {
    val (codebooks, m, _) = readCodebooks(spark, dir)
    import spark.implicits._
    val cbDf = codebooks.toSeq.toDF("sub", "j", "cvec")
    val dim = codebooks.head._3.length * m
    val sub = dim / m
    val unit = VectorSearch.normalized(batch.select(col(id), col(vec)), vec)
    val subvecs = unit.select(col(id),
      posexplode(transform(sequence(lit(0), lit(m - 1)),
        i => slice(col(vec), i * sub + lit(1), lit(sub)))).as(Seq("sub", "sv")))
    val dist = aggregate(zip_with(col("sv"), col("cvec"), (x, y) => {
      val d = x - y; d * d
    }), lit(0.0), (acc, v) => acc + v)
    subvecs.join(broadcast(cbDf), Seq("sub"))
      .withColumn("_d", dist)
      .groupBy(col(id), col("sub"))
      .agg(min(struct(col("_d"), col("j"))).as("_best"))
      .groupBy(col(id))
      .agg(array_sort(collect_list(struct(col("sub"), col("_best.j").as("c"))))
        .as("_sc"))
      .select(col(id), expr("transform(_sc, x -> x.c)").as("codes"))
  }

  private def foldCodes(spark: SparkSession, dir: String, codes: DataFrame,
                        id: String, batchNo: Long): Unit =
    StateFold.bound(spark, dir, StateParts) {
      StateFold.upsert(spark, dir,
        StateFold.stamp(codes, idPart(col(id)), col(id), batchNo, "codes"),
        key = id)
    }

  private def readCodebooks(spark: SparkSession, dir: String)
  : (Array[(Int, Int, Array[Double])], Int, Int) = {
    val rows = spark.read.parquet(dir + CodebooksSuffix).collect()
    val m = rows.head.getAs[Int]("m")
    val kCent = rows.head.getAs[Int]("k_cent")
    val cbs = rows.map(r => (r.getAs[Int]("sub"), r.getAs[Int]("j"),
      r.getSeq[Double](r.fieldIndex("cvec")).toArray))
      .sortBy(t => (t._1, t._2))
    (cbs, m, kCent)
  }

  /** The probe face of the PQ fold: a [[VectorSearch.PqIndex]] over
    * the stored code + codebook tables, so [[VectorSearch.pqTopK]] /
    * [[VectorSearch.pqTopKRefined]] run unchanged.
    */
  def pqIndex(spark: SparkSession, dir: String, id: String,
              vec: String): VectorSearch.PqIndex = {
    val (codebooks, m, kCent) = readCodebooks(spark, dir)
    VectorSearch.PqIndex(spark.read.parquet(dir).select(col(id), col("codes")),
      codebooks, id, vec, m, kCent)
  }
}
