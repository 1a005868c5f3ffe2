package graft.util

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.sink.ParquetMerge

/** The state-fold protocol every `Incremental*` family shares. A state
  * table is `(part, <key>, ver, payload...)`, partitioned by `part` —
  * a pure function of the row key and the root's [[StateConf]] count —
  * and written only through:
  *
  *  - [[bound]]: the entry and exit [[StateConf.bind]] of the root;
  *  - [[stamp]] + [[upsert]]: rows laid out and LWW-merged by `ver`
  *    into exactly the partitions they touch
  *    ([[ParquetMerge.upsertPartitions]]), so a replayed batch
  *    rewrites its own rows (idempotent);
  *  - [[locate]] + [[delete]] (together: [[retract]]): the retraction
  *    write, dropping a doc set's rows found either by one scan of the
  *    table or, when the partition is derivable from the doc key, in
  *    the derived partitions only;
  *  - [[stream]]: the one streaming face — each micro-batch of a
  *    checkpointed AvailableNow stream folds at version `batchId + 1`
  *    (0 is left for init folds), so checkpoint + LWW = effective
  *    exactly-once.
  *
  * The signed-delta tables (sums folded per (key, batch) and
  * compacted) add their watermark and sign rules on top, in
  * [[graft.ext.DeltaCompact]].
  */
object StateFold {

  /** Existence through the path's Hadoop FileSystem (java.io.File is
    * always false on hdfs:// and s3a://). */
  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  /** Run `body` between the entry and the exit [[StateConf.bind]] of
    * `dir`: the entry bind refuses a root laid out under another
    * partition count, the exit bind records the layout of a root the
    * body has just created.
    */
  def bound(spark: SparkSession, dir: String, parts: Int)
           (body: => Unit): Unit = {
    StateConf.bind(spark, dir, parts)
    body
    StateConf.bind(spark, dir, parts)
  }

  /** `rows` as state rows: `part`, the merge key, `ver`, then the
    * payload columns. `key` carries its own name — `pk` for a composed
    * key, the id column itself for id-keyed tables.
    */
  def stamp(rows: DataFrame, part: Column, key: Column, ver: Long,
            payload: String*): DataFrame =
    rows.select((Seq(part.as("part"), key, lit(ver).as("ver")) ++
      payload.map(col)): _*)

  /** LWW-merge stamped rows into the partitions they touch. */
  def upsert(spark: SparkSession, dir: String, rows: DataFrame,
             key: String = "pk"): Unit =
    ParquetMerge.upsertPartitions(spark, dir, rows, "part", key, "ver")

  /** The rows of the state table `st` whose doc column matches a row
    * of `docs` (one column, named as the table's doc column), narrowed
    * to `cols` and pinned eagerly — they are read before the write that
    * deletes them. With `partOf` (the table's partition expression
    * over the doc column) only the derived partitions are opened, and
    * an empty doc set opens none (None); without it the table is
    * scanned once, the price of a retraction on a table partitioned
    * for probe locality.
    */
  def locate(st: DataFrame, docs: DataFrame, cols: Seq[String],
             partOf: Option[Column => Column] = None): Option[DataFrame] = {
    val doc = docs.columns.head
    val scoped = partOf match {
      case None => Some((st, docs))
      case Some(f) =>
        val x = docs.distinct().localCheckpoint(true)
        val parts = x.select(f(col(doc))).distinct().collect()
          .map(_.getLong(0))
        if (parts.isEmpty) None
        else Some((st.filter(col("part").isin(parts.toIndexedSeq: _*)), x))
    }
    scoped.map { case (s, x) =>
      s.join(x, Seq(doc), "left_semi").select(cols.map(col): _*)
        .localCheckpoint(true)
    }
  }

  /** Delete the `(part, key)` rows of `gone` from the table at `dir`,
    * read as `st` — a partition-scoped rewrite. */
  def delete(spark: SparkSession, dir: String, st: DataFrame,
             gone: DataFrame, key: String = "pk"): Unit =
    ParquetMerge.deleteAndUpsertPartitions(spark, dir, gone, st.limit(0),
      "part", key, "ver")

  /** [[locate]] a doc set's rows in the table at `dir` and [[delete]]
    * them; an absent table is left absent. */
  def retract(spark: SparkSession, dir: String, docs: DataFrame,
              key: String = "pk",
              partOf: Option[Column => Column] = None): Unit =
    if (exists(spark, dir)) {
      val st = spark.read.parquet(dir)
      locate(st, docs, Seq("part", key), partOf)
        .foreach(delete(spark, dir, st, _, key))
    }

  /** The streaming face of any fold: `fold(session, microBatch,
    * batchId + 1)` per micro-batch of a checkpointed AvailableNow
    * stream. A replayed micro-batch refolds at the same version, which
    * every fold absorbs idempotently.
    */
  def stream(src: DataFrame, checkpoint: String)
            (fold: (SparkSession, DataFrame, Long) => Unit): StreamingQuery =
    src.writeStream
      .foreachBatch { (b: Dataset[Row], batchId: Long) =>
        fold(b.sparkSession, b.toDF(), batchId + 1L)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
}
