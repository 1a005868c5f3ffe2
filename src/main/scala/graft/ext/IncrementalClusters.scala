package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sink.ParquetMerge
import graft.util.StateFold

/** Incrementally-maintained connected-component labels over the
  * near-dup pair graph — the state-fold pattern
  * ([[graft.pipeline.IncrementalCuration]], [[IncrementalAnn]],
  * [[IncrementalBm25]], [[IncrementalWinnow]], [[IncrementalMinhash]],
  * [[IncrementalSimhash]], [[IncrementalSemDedup]]) applied to the
  * CLUSTERING step: a nightly crawl's new near-dup edges (intra-batch
  * pairs plus batch-vs-corpus cross-probe hits) fold into a persisted
  * component labeling WITHOUT ever re-contracting the full historical
  * edge set.
  *
  * Why this folds exactly: [[TextDedup.nearDupClusters]] labels every
  * node with the MINIMUM id reachable through the pair graph. Min-id
  * labels compose under edge arrival: if each stored component's label
  * is the min id of its members, then contracting a new edge batch
  * over the quotient graph — endpoints mapped to their current
  * component labels — and star-contracting only THAT delta graph
  * yields, for every merged group, min(labels ∪ new ids) = the true
  * min id of the merged component (each label already IS its
  * component's min). So folded labels equal the one-shot contraction
  * over the union of all edges ever folded, in ANY arrival order —
  * unlike the dominance folds, this one needs no ascending-id
  * contract, and a replayed batch contracts to self-loops and writes
  * nothing (idempotence for free).
  *
  * State layout — a batched union-find with an eagerly-flattened
  * redirect table, so component merges never rewrite member rows:
  *  - doc table at `dir`: `(part = batchNo, pk = doc, ver, doc, r0)`
  *    — each node's component label AT INSERT TIME. Append-only (a
  *    doc row is written once and never touched again), so it
  *    partitions by INSERT BATCH: every fold's upsert touches
  *    exactly its own new partition and historical partitions are
  *    never re-read or rewritten, whatever the corpus size.
  *  - redirect table at `dir + "_redir"`: `(part = pmod(src, ...), pk
  *    = src, ver, src, dst)` — formerly-terminal labels pointing at
  *    the CURRENT terminal label. Kept FLAT as a fold invariant:
  *    when a fold demotes label r to r', every existing redirect
  *    `x -> r` is rewritten to `x -> r'` in the same fold (a
  *    redirect-table-sized join — O(merge events), not O(members)),
  *    so [[labels]] resolves with ONE left join, never a chain walk.
  *
  * Scale shape per fold: two lookups of the batch's endpoints against
  * the doc table (map-side scans — the batch side is the small side,
  * nothing corpus-sized shuffles), a star contraction of the DELTA
  * graph only (O(batch edges · log)), and LWW merges sized O(new
  * docs + merged roots). The 100 TB pain this removes: the one-shot
  * contraction re-shuffles the ENTIRE historical edge set O(log n)
  * times per nightly run; the fold's cost is bounded by the delta.
  */
object IncrementalClusters {

  val StateParts: Int = graft.util.StateConf.parts(8)

  val RedirectSuffix = "_redir"

  /** Fold one batch of undirected near-dup pair edges `(id_a, id_b)`
    * into the stored labeling. `batchNo` is the LWW merge version; a
    * replayed batch contracts entirely to self-loops and writes
    * nothing — idempotent. CONTENT-order independent: the min-label
    * algebra makes the folded labeling the same whatever order the
    * edges are split across batches — but `batchNo` itself must be
    * MONOTONIC (non-decreasing), enforced loudly below: redirect
    * re-points are LWW-versioned by `batchNo`, so a late batch folded
    * at a SMALLER number than an already-stored version would write
    * redirect rewrites that LOSE the merge to the existing
    * higher-ver rows — a chained/stale redirect that breaks the
    * flatness invariant and silently mislabels. Equal `batchNo` is
    * allowed only as a REPLAY of the same batch (crash recovery —
    * the recomputed rewrites re-derive the missing redirect rows);
    * reusing a number for different edges is the caller's contract
    * violation, same as the curation fold.
    */
  def fold(spark: SparkSession, dir: String, pairs: DataFrame,
           batchNo: Long, maxIterations: Int = 30): Unit =
    // the redirect table is the pmod(src, StateParts)-laid-out one
    // (doc rows partition by insert batch — batch-number layout, not
    // a hash of this count)
    StateFold.bound(spark, dir + RedirectSuffix, StateParts)(
      foldEdges(spark, dir, pairs, batchNo, maxIterations))

  private def foldEdges(spark: SparkSession, dir: String, pairs: DataFrame,
                        batchNo: Long, maxIterations: Int): Unit = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val e0 = pairs.select(col("id_a").cast("long").as("id_a"),
        col("id_b").cast("long").as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
      .persist(lvl)
    val hasState = StateFold.exists(spark, dir)
    // current terminal labels of the batch's KNOWN endpoints: the
    // O(batch) endpoint set broadcasts into an inner join against the
    // doc table (one map-side scan — the corpus-sized state never
    // shuffles), then composes through the flat redirect table
    val ids = e0.select(col("id_a").as("doc"))
      .unionByName(e0.select(col("id_b").as("doc"))).distinct()
    val known: DataFrame = (if (hasState) {
      val docT = spark.read.parquet(dir).select(col("doc"), col("r0"))
      val redir: DataFrame =
        if (StateFold.exists(spark, dir + RedirectSuffix))
          spark.read.parquet(dir + RedirectSuffix)
            .select(col("src"), col("dst"))
        else spark.range(0).select(col("id").as("src"), col("id").as("dst"))
      // after the broadcast endpoint semi-join the left side is
      // O(batch); the redirect side is O(merge events) — let AQE pick
      // the build side rather than pinning a broadcast of a table
      // that grows with corpus history
      docT.join(broadcast(ids), Seq("doc"))
        .join(redir, docT("r0") === redir("src"), "left")
        .select(col("doc"), coalesce(col("dst"), col("r0")).as("lbl"))
    } else spark.range(0).select(col("id").as("doc"), col("id").as("lbl")))
      .persist(lvl)
    val mapped = e0
      .join(broadcast(known.select(col("doc").as("id_a"),
        col("lbl").as("_la"))), Seq("id_a"), "left")
      .join(broadcast(known.select(col("doc").as("id_b"),
        col("lbl").as("_lb"))), Seq("id_b"), "left")
      .select(coalesce(col("_la"), col("id_a")).as("la"),
        coalesce(col("_lb"), col("id_b")).as("lb"))
    val contracted = mapped.filter(col("la") =!= col("lb"))
      .select(col("la").as("id_a"), col("lb").as("id_b"))
    // labels the delta-graph quotient: nodes are current terminal
    // labels + first-seen ids; each gets its merged group's min.
    // Everything derived from the state parquet is EAGERLY
    // localCheckpoint'd before the upserts below rewrite that same
    // parquet — a lazily-recomputed plan would otherwise read the
    // post-write table (the read-before-write hazard every fold in
    // this family guards the same way).
    val (delta0, _) = TextDedup.starContract(contracted, maxIterations)
    val delta = delta0.localCheckpoint(true)
    if (delta.isEmpty) { e0.unpersist(); known.unpersist(); return }
    // monotonic-batchNo guard (see the method doc) — placed AFTER the
    // empty-delta return so clean replays of old batches still no-op.
    // The doc table's max version reads from its partition DIRECTORIES
    // (part = insert batchNo — O(partitions) driver work, no file
    // opens); the redirect table is O(merge events), scanned. The max
    // of the two covers folds that wrote only redirect rows.
    if (hasState) {
      val hp = new org.apache.hadoop.fs.Path(dir)
      val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
      val maxDocPart = fs.listStatus(hp).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("part="))
        .map(_.getPath.getName.stripPrefix("part=").toLong)
        .foldLeft(Long.MinValue)(math.max)
      val maxRedirVer =
        if (StateFold.exists(spark, dir + RedirectSuffix)) {
          val r = spark.read.parquet(dir + RedirectSuffix)
            .agg(max("ver")).head()
          if (r.isNullAt(0)) Long.MinValue else r.getLong(0)
        } else Long.MinValue
      val stored = math.max(maxDocPart, maxRedirVer)
      require(batchNo >= stored,
        s"out-of-order fold: batchNo=$batchNo is below the stored max " +
          s"version $stored — its redirect re-points would lose the LWW " +
          "merge to the existing higher-ver rows, leaving stale chained " +
          "redirects; fold batches at non-decreasing batchNo")
    }
    // which delta nodes are EXISTING terminal labels vs first-seen
    // docs: a known endpoint always maps to its terminal label, so the
    // known-node ids of the delta graph are exactly the touched
    // components' labels
    val touchedRoots = known.select(col("lbl").as("node"))
      .distinct().localCheckpoint(true)
    val relabel = delta.join(touchedRoots, delta("doc") === touchedRoots("node"))
      .filter(col("cluster") =!= col("node"))
      .select(col("node").as("old_lbl"), col("cluster").as("new_lbl"))
      .localCheckpoint(true)
    // new doc rows: delta nodes that are not labels of known components
    val newDocs = delta.join(touchedRoots, delta("doc") === touchedRoots("node"),
        "left_anti")
      .select(col("doc"), col("cluster").as("r0"))
    // append-only rows partition by batch — the upsert touches ONLY
    // this fold's partition, historical partitions stay untouched
    val docRows = StateFold.stamp(newDocs, lit(batchNo),
      col("doc").as("pk"), batchNo, "doc", "r0")
    // redirect maintenance, keeping the table FLAT:
    //  (a) demoted terminal labels point at their new terminal
    //  (b) existing redirects into a demoted label re-point at the new
    //      terminal — a redirect-sized join, O(merge events)
    val newRedirects = relabel.select(col("old_lbl").as("src"),
      col("new_lbl").as("dst"))
    val rewritten: DataFrame =
      if (StateFold.exists(spark, dir + RedirectSuffix))
        spark.read.parquet(dir + RedirectSuffix)
          .select(col("src"), col("dst"))
          .join(relabel, col("dst") === col("old_lbl"))
          .select(col("src"), col("new_lbl").as("dst"))
      else newRedirects.limit(0)
    val redirRows = StateFold.stamp(newRedirects.unionByName(rewritten),
        pmod(col("src"), lit(StateParts.toLong)), col("src").as("pk"),
        batchNo, "src", "dst")
      // materialize BEFORE the doc-table write: redirRows reads the
      // redirect parquet, which its own upsert is about to rewrite
      .localCheckpoint(true)
    StateFold.upsert(spark, dir, docRows)
    StateFold.upsert(spark, dir + RedirectSuffix, redirRows)
    e0.unpersist(); known.unpersist()
  }

  /** Current component labels — the same `(doc, cluster)` shape
    * [[TextDedup.nearDupClusters]] returns, which is what lets the
    * folded state share the one-shot query's oracle. One left join
    * through the flat redirect table; no iteration at read time.
    */
  def labels(spark: SparkSession, dir: String): DataFrame = {
    val docT = spark.read.parquet(dir).select(col("doc"), col("r0"))
    val redir: DataFrame =
      if (StateFold.exists(spark, dir + RedirectSuffix))
        spark.read.parquet(dir + RedirectSuffix).select(col("src"), col("dst"))
      else spark.range(0).select(col("id").as("src"), col("id").as("dst"))
    docT.join(redir, docT("r0") === redir("src"), "left")
      .select(col("doc"), coalesce(col("dst"), col("r0")).as("cluster"))
  }

  /** RETRACT nodes from the labeling — DECREMENTAL connectivity, the
    * hard direction: removing a node can SPLIT its component, which
    * the min-label redirect machinery cannot express (a redirect maps
    * one old label to one new label; a split needs per-member
    * relabeling). So the delete re-contracts ONLY the affected
    * components' induced subgraph over the caller-supplied CURRENT
    * edge set (`edges` — the pair graph is a maintained artifact
    * everywhere this fold runs: the curation retractable state keeps
    * it as its edge table, the one-shot path materializes it as the
    * pairGraph artifact) and rewrites those members' doc rows IN
    * PLACE at their original insert partition/version. Work is
    * O(affected components' members + their edges); everything else
    * stays byte-identical.
    *
    * Semantics match the one-shot over the surviving graph: members
    * left with NO induced edge leave the labeling entirely (only
    * nodes that appear in the pair graph are labeled — the
    * [[TextDedup.nearDupClusters]] contract), and every rewritten
    * row's `r0` is its new terminal label directly, so the redirect
    * table needs no entries for the re-contracted components: all
    * redirects into an affected label are deleted (their users were
    * just rewritten), preserving the flatness invariant.
    */
  def retract(spark: SparkSession, dir: String, removeIds: DataFrame,
              edges: DataFrame, maxIterations: Int = 30): Unit = {
    graft.util.StateConf.bind(spark, dir + RedirectSuffix, StateParts)
    val x = removeIds
      .select(col(removeIds.columns.head).cast("long").as("doc"))
      .distinct().localCheckpoint(true)
    val lbl = labels(spark, dir).localCheckpoint(true)
    val affected = lbl.join(x, Seq("doc"), "left_semi")
      .select("cluster").distinct().localCheckpoint(true)
    if (affected.isEmpty) return
    val members = lbl.join(affected, Seq("cluster"), "left_semi")
      .select("doc").localCheckpoint(true)
    val remaining = members.join(x, Seq("doc"), "left_anti")
    // induced surviving edges of the affected components only
    val e = edges
      .select(col("id_a").cast("long").as("id_a"),
        col("id_b").cast("long").as("id_b"))
      .join(remaining.select(col("doc").as("id_a")), Seq("id_a"),
        "left_semi")
      .join(remaining.select(col("doc").as("id_b")), Seq("id_b"),
        "left_semi")
    val relab = TextDedup.starContract(e, maxIterations)._1
      .localCheckpoint(true)
    // doc-table rewrite: members keep their original (part, ver) —
    // rows relabel in place; removed and edge-less members leave
    val docT = spark.read.parquet(dir)
    val memberRows = docT.join(members, Seq("doc"), "left_semi")
      .localCheckpoint(true)
    val updates = memberRows.drop("r0")
      .join(relab, Seq("doc"))
      .withColumnRenamed("cluster", "r0")
      .select(docT.columns.map(col): _*)
    val goneDocs = memberRows
      .join(relab.select("doc"), Seq("doc"), "left_anti")
      .select("part", "pk")
    ParquetMerge.deleteAndUpsertPartitions(spark, dir, goneDocs, updates,
      "part", "pk", "ver")
    // redirects into an affected label are obsolete (their users were
    // rewritten with terminal labels); none may survive, or labels()
    // would re-route the rewritten rows
    StateFold.retract(spark, dir + RedirectSuffix,
      affected.withColumnRenamed("cluster", "dst"))
  }

  /** Partition-count maintenance for the doc table — the one table in
    * the fold family whose partition COUNT grows with time instead of
    * being a fixed hash layout: doc rows partition by INSERT BATCH
    * (so folds never rewrite history), which after a year of
    * nightlies is ~365 directories. This rewrites the table into
    * `parts` doc-hash partitions — labels, versions and pks are
    * unchanged, so every reader and [[retract]] (which takes each
    * row's (part, ver) from the table itself) work identically, and
    * future folds simply resume appending batch partitions on top
    * (the monotonic-batchNo guard keeps their numbers above every
    * folded version, and the partition-scoped LWW merges by doc key
    * either way). Run it on the cadence that keeps the directory
    * count a dimension — the [[graft.sink.ParquetMerge.compactPartitions]]
    * contract, one level up.
    */
  def rebucket(spark: SparkSession, dir: String,
               parts: Int = StateParts): Unit = {
    require(parts >= 1)
    // materialize BEFORE the overwrite of the files this plan reads
    val cur = spark.read.parquet(dir)
      .withColumn("part", pmod(col("doc"), lit(parts.toLong)))
      .localCheckpoint(true)
    cur.write.mode("overwrite")
      .option("partitionOverwriteMode", "static")
      .partitionBy("part").parquet(dir)
    spark.catalog.refreshByPath(dir)
  }

  /** Flatness audit of the redirect table — the maintenance sweep a
    * deployment runs after restoring state from backup or any
    * out-of-band mutation (the fold maintains flatness inductively, so
    * a table only ever touched by [[fold]] always passes): no redirect
    * destination may itself be a redirect source, and no doc-table
    * label may redirect twice removed. Returns offending rows (empty =
    * healthy).
    */
  def auditRedirects(spark: SparkSession, dir: String): DataFrame = {
    if (!StateFold.exists(spark, dir + RedirectSuffix))
      return spark.range(0).select(col("id").as("src"), col("id").as("dst"))
    val r = spark.read.parquet(dir + RedirectSuffix)
      .select(col("src"), col("dst"))
    r.join(r.select(col("src").as("dst"), lit(true).as("_chained")),
        Seq("dst"))
      .select(col("src"), col("dst"))
  }
}
