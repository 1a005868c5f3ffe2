package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.util.StateFold

/** Incrementally-maintained multi-table LSH bucket index — the missing
  * ANN tier of the fold family ([[IncrementalAnn]] covers IVF and PQ):
  * the BEST-recall approximate tier
  * ([[VectorSearch.annTopKMultiTable]] — L independent sign-hyperplane
  * tables, geometric miss decay) becomes a persisted, foldable,
  * retractable artifact instead of a per-(session, dir) build.
  *
  * Why this folds exactly: bucket keys are a PURE per-vector function
  * (both plane families regenerate from fixed seeds on every
  * executor — no trained model, nothing corpus-shaped), so the folded
  * table is batch-split invariant by construction and the probe over
  * it returns byte-identical rows to the one-shot multi-table kernel
  * over the merged corpus — pinned by unit parity. With the r15
  * `portable` family ([[VectorSearch.lshBucketPortableExpr]]) the
  * whole fold→retract→probe pipeline is additionally DuckDB-
  * recomputable, which is what promoted `ns_ann_lsh_incremental` to a
  * full hash oracle (the splitmix64 native family remains the
  * codegen'd default).
  *
  * Two stored tables:
  *  - bucket rows at `dir`: `(part = pmod(key, StateParts),
  *    pk = vec_id:key, ver, vec_id, key)` — one row per (vector,
  *    table-slice key), key-partitioned so a probe's equi-join reads
  *    bucket-co-located partitions. The key embeds the table id
  *    (`t·2^bits + slice`, the [[VectorSearch.annTopKMultiTable]]
  *    layout), so L tables stay one long column.
  *  - vectors at `dir + VecsSuffix`: `(part = pmod(vec_id,
  *    StateParts), pk = vec_id, ver, vec_id, vec)` — stored ONCE per
  *    vector (not per table row: at `tables = 4` inlining vectors
  *    into bucket rows would 4× the dominant storage), id-partitioned
  *    so retraction is a derived-partition pruned delete. The probe
  *    fetches vectors ONLY for bucket-collision candidates — the
  *    candidate-bounded read the [[IncrementalMinhash]] cross-probe
  *    established.
  *  - config at `dir + ConfSuffix`: the (bits, tables) geometry,
  *    written by the first fold and ENFORCED on every later fold and
  *    probe — mixed geometries would silently hash into disjoint key
  *    spaces and the probe would return garbage with no error.
  *
  * 100 TB shape per fold: one map-side bucket expression + explode
  * over the BATCH, two partition-scoped LWW merges sized O(batch ·
  * tables) and O(batch); the corpus-sized tables rewrite only the
  * partitions the batch lands in. A probe broadcasts O(queries ·
  * tables · (1 + bits)) keys into the bucket-table scan, dedups
  * candidates, and reads vectors for the candidate set only.
  */
object IncrementalLsh {

  val StateParts: Int = graft.util.StateConf.parts(8)

  val VecsSuffix = "_vecs"
  val ConfSuffix = "_conf"

  /** The per-table join keys of a vector column under the (bits,
    * tables) geometry — verbatim [[VectorSearch.annTopKMultiTable]]
    * math, factored so fold and probe can never drift.
    */
  private def subkeysSql(bits: Int, tables: Int): String = {
    val width = 1L << bits
    val mask = width - 1L
    s"transform(sequence(0, ${tables - 1}), " +
      s"t -> cast(t as long) * ${width}L + " +
      s"(shiftright(_bf, t * $bits) & ${mask}L))"
  }

  /** Stored-geometry check-or-create: the first fold records (bits,
    * tables, family); every later call must match (a mismatched
    * geometry OR hash family probes a disjoint key space — loud beats
    * silent-empty). `family` is "native" (splitmix64 planes — the
    * codegen'd fast path) or "portable" (seeded Rademacher planes over
    * quantized integers — the r15 oracle-recomputable form,
    * [[VectorSearch.lshBucketPortableExpr]]); roots written before the
    * field existed read back as "native", which is what they are.
    */
  private def conf(spark: SparkSession, dir: String, bits: Int,
                   tables: Int, portable: Boolean): Unit = {
    require(bits >= 2, "bits must be >= 2")
    require(tables >= 1 && tables * bits <= 63,
      "tables >= 1 and tables*bits <= 63 (one long of sign bits)")
    val family = if (portable) "portable" else "native"
    if (StateFold.exists(spark, dir + ConfSuffix)) {
      val (b0, t0, f0) = geometryFull(spark, dir)
      require(b0 == bits && t0 == tables && f0 == family,
        s"LSH geometry mismatch: stored (bits=$b0, tables=$t0, " +
          s"family=$f0), called with (bits=$bits, tables=$tables, " +
          s"family=$family) — keys would hash into a disjoint space; " +
          "rebuild to change geometry")
    } else {
      import spark.implicits._
      Seq((bits, tables, family)).toDF("bits", "tables", "family")
        .coalesce(1).write.mode("errorifexists").parquet(dir + ConfSuffix)
    }
  }

  /** The stored geometry, for probes called without parameters. */
  def geometry(spark: SparkSession, dir: String): (Int, Int) = {
    val (b, t, _) = geometryFull(spark, dir)
    (b, t)
  }

  /** Stored geometry + hash family ("native" for pre-family roots —
    * the only family that existed when they were written).
    */
  def geometryFull(spark: SparkSession, dir: String): (Int, Int, String) = {
    val df = spark.read.parquet(dir + ConfSuffix)
    val r = df.head()
    val family =
      if (df.columns.contains("family")) r.getAs[String]("family")
      else "native"
    (r.getAs[Int]("bits"), r.getAs[Int]("tables"), family)
  }

  /** Fold one embedding batch into the bucket + vector tables.
    * `batchNo` is the LWW merge version — replays re-merge
    * idempotently; bucketing is per-vector-pure, so folds are
    * batch-split invariant in any arrival order.
    */
  def fold(spark: SparkSession, dir: String, batch: DataFrame,
           id: String, vec: String, batchNo: Long, bits: Int = 6,
           tables: Int = 4, portable: Boolean = false): Unit = {
    conf(spark, dir, bits, tables, portable)
    StateFold.bound(spark, dir, StateParts) {
      StateFold.upsert(spark, dir, bucketRows(batch
        .withColumn("_bf",
          VectorSearch.bucketExprOf(tables * bits, vec, portable))
        .select(col(id).cast("long").as("vec_id"),
          explode(expr(subkeysSql(bits, tables))).as("key")), batchNo))
      StateFold.upsert(spark, dir + VecsSuffix, StateFold.stamp(
        batch.select(col(id).cast("long").as("vec_id"), col(vec).as("vec")),
        vecPart(col("vec_id")), col("vec_id").as("pk"), batchNo,
        "vec_id", "vec"))
    }
  }

  /** `(vec_id, key)` bucket rows as stamped state rows. */
  private def bucketRows(keyed: DataFrame, ver: Long): DataFrame =
    StateFold.stamp(keyed, pmod(col("key"), lit(StateParts.toLong)),
      concat_ws(":", col("vec_id"), col("key")).as("pk"), ver,
      "vec_id", "key")

  /** A vector row's partition: id-hashed. */
  private def vecPart(vecId: Column): Column =
    pmod(vecId, lit(StateParts.toLong))

  /** Multi-table LSH top-k against the STORED index — byte-identical
    * output to [[VectorSearch.annTopKMultiTable]] over the folded
    * corpus (same key math, same candidate dedup, same cosine
    * rounding and tie order), without re-bucketing a single corpus
    * vector. The query side is bucketed map-side and broadcast;
    * corpus vectors are read only for bucket-collision candidates.
    */
  def topK(spark: SparkSession, dir: String, queries: DataFrame,
           id: String, vec: String, k: Int,
           probeNeighbors: Int = 1): DataFrame = {
    require(probeNeighbors >= 0 && probeNeighbors <= 2,
      "probeNeighbors must be 0-2 for the multi-table form")
    val (bits, tables, family) = geometryFull(spark, dir)
    // flips2 below builds sequence(0, bits-2): at bits < 2 that is a
    // DESCENDING Spark SQL sequence ([0,-1]) whose negative shift
    // amounts XOR keys outside the table's key block — output would
    // stay correct (candidates are exact-cosine verified) but the
    // probe would silently query garbage keys. conf() already rejects
    // bits < 2 at creation; this guards states written by anything
    // else (loud beats silently-wasted probes).
    require(bits >= 2 || probeNeighbors <= 1,
      s"depth-2 probe needs bits >= 2 (stored geometry has bits=$bits)")
    val subkeys = subkeysSql(bits, tables)
    // Hamming-≤d flips of the low `bits` stay inside each table's key
    // block (the flipped bits sit below the t·2^bits offset). Depth 2
    // adds C(bits,2) keys per table on the QUERY side only — the
    // candidate read stays collision-bounded
    val flips1 = s"transform(sequence(0, ${bits - 1}), " +
      "b -> base ^ shiftleft(1L, b))"
    val flips2 = s"flatten(transform(sequence(0, ${bits - 2}), b1 -> " +
      s"transform(sequence(b1 + 1, ${bits - 1}), b2 -> " +
      "base ^ shiftleft(1L, b1) ^ shiftleft(1L, b2))))"
    val qkeys = probeNeighbors match {
      case 0 => subkeys
      case 1 =>
        s"array_distinct(flatten(transform($subkeys, base -> " +
          s"array_union(array(base), $flips1))))"
      case _ =>
        s"array_distinct(flatten(transform($subkeys, base -> " +
          s"array_union(array_union(array(base), $flips1), $flips2))))"
    }
    val q = queries
      .withColumn("_bf", VectorSearch.bucketExprOf(tables * bits, vec,
        family == "portable"))
      .select(col(id).cast("long").as("query_id"), col(vec).as("qv"),
        explode(expr(qkeys)).as("key"))
    val cand = spark.read.parquet(dir).select("key", "vec_id")
      .join(broadcast(q), Seq("key"))
      .filter(col("query_id") =!= col("vec_id"))
      .dropDuplicates("query_id", "vec_id")
    // candidate-bounded vector read: only collision candidates' rows
    val withVec = cand.join(
      spark.read.parquet(dir + VecsSuffix).select(col("vec_id"),
        col("vec").as("cv")),
      Seq("vec_id"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("vec_id"))
    withVec
      .withColumn("sim", round(VectorSearch.cosine(col("cv"), col("qv")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("sim"))
  }

  /** RETRACT a vector set — the right-to-be-forgotten face of the LSH
    * tier, closing the last per-(session, dir) gap in the ANN family:
    * bucket membership is per-vector-pure, so deleting the rows IS the
    * converged state (post-delete index == fresh fold over survivors,
    * no fates to settle). Both deletes are partition-pruned: the
    * vector table by `part = pmod(id, StateParts)` DERIVED from the
    * retract ids, the bucket table by keys recomputed from the stored
    * vectors (read BEFORE the vector delete — the keys are a pure
    * function of (vector, frozen geometry), so no scan of the
    * corpus-sized bucket table is needed to locate a doc's rows).
    */
  def retract(spark: SparkSession, dir: String, retractIds: DataFrame,
              id: String): Unit = {
    val (bits, tables, family) = geometryFull(spark, dir)
    StateFold.bound(spark, dir, StateParts) {
      // the retracted vectors' rows, read before their delete — their
      // bucket keys recompute map-side from the stored vector
      val vecs = spark.read.parquet(dir + VecsSuffix)
      StateFold.locate(vecs,
        retractIds.select(col(id).cast("long").as("vec_id")),
        Seq("part", "pk", "vec_id", "vec"), Some(vecPart _))
        .foreach { xVecs =>
          val bucketGone = bucketRows(xVecs
            .withColumn("_bf", VectorSearch.bucketExprOf(tables * bits,
              "vec", family == "portable"))
            .select(col("vec_id"),
              explode(expr(subkeysSql(bits, tables))).as("key")), 0L)
            .select("part", "pk").localCheckpoint(true)
          if (StateFold.exists(spark, dir))
            StateFold.delete(spark, dir, spark.read.parquet(dir), bucketGone)
          StateFold.delete(spark, dir + VecsSuffix, vecs,
            xVecs.select("part", "pk"))
        }
    }
  }
}
