package graft.op

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Scale utilities: the shuffle-shaping tools a 100 TB deployment needs
  * around the core operators — skew-salted joins and bucketed tables for
  * co-located (shuffle-free) repeat joins.
  */
object Scale {

  /** Salted inner equi-join for skewed keys.
    *
    * When a handful of hot keys dominate (`left` skewed), a plain hash
    * join puts an entire hot key in one task. Salting splits each left
    * row into one of `saltFactor` sub-keys and replicates the right side
    * across all of them, so a hot key fans out over `saltFactor` tasks.
    * AQE's skew-join handles moderate skew automatically; explicit
    * salting is for the pathological keys AQE can't split (e.g. a single
    * key bigger than an executor).
    *
    * Use for the skewed-fact ⋈ dimension shape; `right` is replicated
    * `saltFactor`× (keep it the smaller side).
    */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
                 saltFactor: Int): DataFrame = {
    require(saltFactor > 1)
    val salted = left.withColumn("_salt",
      pmod(hash(col(key), monotonically_increasing_id()), lit(saltFactor)))
    val replicated = right.withColumn("_salt",
      explode(sequence(lit(0), lit(saltFactor - 1))))
    salted.join(replicated, Seq(key, "_salt")).drop("_salt")
  }

  /** Key-distribution probe: rows per key for the top-n keys plus the
    * skew ratio (max / mean). Cheap (one aggregation) — run it before
    * choosing between plain, AQE, and salted joins.
    */
  def skewReport(df: DataFrame, key: String, topN: Int = 10): DataFrame = {
    val counts = df.groupBy(key).agg(count(lit(1)).as("rows"))
    val stats = counts.agg(avg("rows").as("mean_rows")).crossJoin(
      counts.orderBy(col("rows").desc).limit(topN))
    stats.withColumn("skew_ratio", col("rows") / col("mean_rows"))
      .select(col(key), col("rows"), round(col("skew_ratio"), 2).as("skew_ratio"))
      .orderBy(col("rows").desc)
  }

  /** Write a bucketed + sorted managed table. Two tables bucketed the
    * same way on the join key co-locate: repeated joins between them are
    * planned with zero shuffle (SortMergeJoin over pre-bucketed scans).
    * This is the storage-level answer for the fact tables the price/
    * merge pipelines re-join every day.
    */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    buckets: Int, mode: SaveMode = SaveMode.Overwrite,
                    path: Option[String] = None): Unit = {
    val w = df.write.mode(mode)
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet")
    // explicit path ⇒ external table: data location is independent of
    // spark.sql.warehouse.dir (which is fixed at session start and
    // defaults to the process cwd — not somewhere a library should write)
    path.fold(w.saveAsTable(table))(p => w.option("path", p).saveAsTable(table))
  }

  /** Size a frame to `targetBytes` output files using Catalyst's size
    * estimate — the small-file compaction step every long-running
    * 100 TB table needs (a daily pipeline writing 32 shuffle partitions
    * of a few MB each produces thousands of tiny files a month, and
    * file-open overhead then dominates every downstream scan).
    * Compaction is a SHRINK: `coalesce(files)` caps the partition count
    * with no shuffle and is a no-op when the frame already has fewer —
    * decided purely from plan statistics, never by materializing the
    * frame (reading `df.rdd.getNumPartitions` under AQE executes the
    * upstream query stages once before the write runs them again).
    * Pass `allowGrow = true` to instead force exactly `files`
    * partitions via one shuffle, for frames whose few huge partitions
    * would exceed the per-file target.
    */
  def sizedForWrite(df: DataFrame, targetBytes: Long = 128L << 20,
                    allowGrow: Boolean = false): DataFrame = {
    require(targetBytes > 0)
    val estimate = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val files = (((estimate + targetBytes - 1) / targetBytes) max BigInt(1)).toLong
    if (allowGrow) df.repartition(files.toInt) else df.coalesce(files.toInt)
  }

  /** Exclusive global running sum of `valueCol` (integral) in the total
    * order of `sortCols` — the distributed prefix-sum primitive behind
    * sequence packing and offset assignment, built the same two-pass way
    * as [[globalRowNumbers]]: range-partition on the sort key, sum
    * locally, add each range's starting offset (per-partition totals are
    * an O(tasks) driver-side scan, never O(rows)). "Exclusive" = the sum
    * of all STRICTLY-preceding rows (0 for the first row), which is the
    * form packing arithmetic wants. `sortCols` must be a total order.
    */
  def globalRunningSum(df: DataFrame, sortCols: Seq[String], valueCol: String,
                       numPartitions: Int = 0,
                       outCol: String = "running_sum"): DataFrame = {
    val parts = if (numPartitions > 0) numPartitions
      else df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt
    val cols = sortCols.map(col)
    val ranged = df.repartitionByRange(parts, cols: _*)
      .withColumn("_pid", spark_partition_id())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // O(parts) rows to the driver — partition TOTALS, never data
    val sums = ranged.groupBy("_pid")
      .agg(sum(col(valueCol).cast("long")).as("_s"))
      .collect().map(r => r.getInt(0) -> (if (r.isNullAt(1)) 0L else r.getLong(1)))
      .toMap
    val offsets = (0 until parts).scanLeft(0L) {
      case (acc, pid) => acc + sums.getOrElse(pid, 0L)
    }
    val spark = df.sparkSession
    import spark.implicits._
    val offsetDf = (0 until parts).map(p => (p, offsets(p))).toDF("_pid", "_offset")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("_pid").orderBy(cols: _*)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    ranged
      .join(broadcast(offsetDf), Seq("_pid"))
      .withColumn(outCol,
        col("_offset") + sum(col(valueCol).cast("long")).over(w)
          - col(valueCol).cast("long"))
      .drop("_pid", "_offset")
  }

  /** Contiguous global row numbers (1..N) in the total order of
    * `sortCols` — WITHOUT the single-partition bottleneck of
    * `row_number() OVER (ORDER BY ...)`, whose empty-partitionBy window
    * funnels the whole table through one task.
    *
    * Classic two-pass shape: range-partition on the sort key, number
    * locally within each range, then add each range's starting offset
    * (per-partition counts are a `numPartitions`-row driver-side
    * cumulative sum — the only non-distributed step, and it is O(tasks)
    * not O(rows)). `sortCols` must be a total order (unique), or ties
    * make the numbering nondeterministic — same contract as any ORDER BY
    * based numbering.
    */
  def globalRowNumbers(df: DataFrame, sortCols: Seq[String],
                       numPartitions: Int = 0, idCol: String = "row_id"): DataFrame = {
    val parts = if (numPartitions > 0) numPartitions
      else df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt
    val cols = sortCols.map(col)
    val ranged = df.repartitionByRange(parts, cols: _*)
      .withColumn("_pid", spark_partition_id())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // O(parts) rows to the driver — partition SIZES, never data
    val counts = ranged.groupBy("_pid").agg(count(lit(1)).as("_n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets = (0 until parts).scanLeft(0L) {
      case (acc, pid) => acc + counts.getOrElse(pid, 0L)
    }
    val spark = df.sparkSession
    import spark.implicits._
    val offsetDf = (0 until parts).map(p => (p, offsets(p))).toDF("_pid", "_offset")
    // local numbering: window partitioned by _pid — rows are already
    // range-placed, so every partition numbers independently in parallel
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("_pid").orderBy(cols: _*)
    ranged
      .join(broadcast(offsetDf), Seq("_pid"))
      .withColumn(idCol, col("_offset") + row_number().over(w))
      .drop("_pid", "_offset")
  }

  /** Deterministic training-order shuffle: a reproducible pseudorandom
    * permutation position for every row — the corpus shuffle a
    * training run does before sharding, WITHOUT `rand()`: rerun-,
    * engine- and partitioning-stable, so restarting a preprocessing
    * job cannot silently reorder the training data. Position =
    * contiguous global row number (1..N) in the
    * (multiplicative-hash(key), key) total order, computed with the
    * two-pass range numbering of [[globalRowNumbers]] — never a
    * single-partition window. Keys non-negative integral (the
    * [[graft.ext.Sampling.bucket1000]] overflow contract); the hash
    * key tiebreaks on `key` itself, so collisions keep a total order.
    */
  def shuffleOrder(df: DataFrame, key: String, numPartitions: Int = 0,
                   outCol: String = "shuffle_pos"): DataFrame = {
    val tmp = Iterator.from(0).map(i => s"_shk$i")
      .find(n => !df.columns.contains(n)).get
    globalRowNumbers(
      df.withColumn(tmp, pmod(pmod(col(key), lit(1000000007L)) *
        lit(2654435761L), lit(1000000007L))),
      Seq(tmp, key), numPartitions, outCol)
      .drop(tmp)
  }

  /** Morton (Z-order) value of two non-negative dimension columns: the
    * low `bits` bits of x and y interleaved (x in even positions, y in
    * odd). Pure integer shift/mask arithmetic — exact on any engine —
    * and monotone locality: rows close in z-value are close in BOTH
    * dimensions, which is what makes a z-sorted file layout prunable
    * on either column, not just the leading one of a lexicographic
    * sort. Inputs are masked to `bits` bits, so out-of-range values
    * wrap rather than collide across rows of different magnitude —
    * callers bucket/normalize dimensions first (as any z-order writer
    * does). NEGATIVE inputs are part of that contract: two's-complement
    * low bits of a negative long interleave to a garbage (non-local)
    * z-value, so normalize to non-negative first — e.g.
    * `(x % 1024 + 1024) % 1024` or an offset shift.
    */
  def zValue(x: Column, y: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, "bits in [1, 31] (2*bits must fit a long)")
    (0 until bits).map { i =>
      val xi = shiftleft(shiftright(x.cast("long"), i).bitwiseAND(lit(1L)), 2 * i)
      val yi = shiftleft(shiftright(y.cast("long"), i).bitwiseAND(lit(1L)), 2 * i + 1)
      xi.bitwiseOR(yi)
    }.reduce(_.bitwiseOR(_))
  }

  /** Z-order layout for a two-dimension write: range-partition on the
    * Morton value, then sort within partitions — every output file
    * covers a compact rectangle in (x, y) space, so parquet min/max
    * stats prune scans filtered on EITHER dimension. This is the
    * data-layout lever at 100 TB: a lexicographic (x, y) sort prunes
    * x-filters only; z-order prunes both at a small constant factor in
    * each. Partition count comes from `numPartitions` (0 = session
    * shuffle partitions), matching the sizedForWrite convention.
    */
  def zorderBy(df: DataFrame, xCol: String, yCol: String,
               bits: Int = 16, numPartitions: Int = 0): DataFrame = {
    val parts = if (numPartitions > 0) numPartitions
      else df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt
    // collision-safe temp name: withColumn would silently OVERWRITE a
    // caller column of the same name and drop() would then delete it
    val tmp = Iterator.from(0).map(i => s"_zv$i")
      .find(n => !df.columns.contains(n)).get
    val zv = zValue(col(xCol), col(yCol), bits)
    df.withColumn(tmp, zv)
      .repartitionByRange(parts, col(tmp))
      .sortWithinPartitions(tmp)
      .drop(tmp)
  }
}
