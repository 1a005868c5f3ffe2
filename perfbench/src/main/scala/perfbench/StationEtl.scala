package perfbench

import java.time.LocalDate
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.op.Dedup
import graft.pipeline.Pipeline
import graft.sink.ParquetMerge
import graft.source.JsonIngest

/** The reference's nightly collection path. One op is one night: the
  * bp, mobil and places payloads go through `Pipeline.collect` against
  * the accumulated station table, the new stations are appended, the
  * day's prices are generated for every station (every `backfill_every`
  * nights the last three days are backfilled) and upserted into the
  * date-partitioned price table.
  *
  * Inputs (`gen.py`): `stations0/` (the existing table), one directory
  * per night under `nights/` with one payload per line per dialect.
  */
object StationEtl extends Workload {
  private val Dialects = Seq("bp", "mobil", "places")

  /** The existing-station table is scaled down with the data, and so is
    * the broadcast threshold: the planner's estimate of the table's
    * distinct keys is about 79 KB at the starting 10,000 stations (and
    * grows every night), above 32 KB, so the anti-join takes the
    * shuffle path the full-size production table takes. `check`
    * records the estimate and the join that ran; a broadcast fails the
    * run. */
  override def sessionConf: Map[String, String] =
    Map("spark.sql.autoBroadcastJoinThreshold" -> "32k")

  def warmup(spark: SparkSession, plan: Plan, scratch: String): Unit = {
    val warm = new Plan(plan.path("warm"))
    stage(warm, scratch)
    (1 to warm.int("nights")).foreach(night(spark, warm, _, scratch, Tracer.off(spark), new Extras))
  }

  override def prepare(plan: Plan, out: String): Unit = stage(plan, out)

  def run(spark: SparkSession, plan: Plan, out: String, tr: Tracer,
          ops: Ops, extras: Extras): Unit = {
    (1 to plan.int("nights")).foreach { i =>
      ops("night") {
        night(spark, plan, i, out, tr, extras)
      }
    }
    if (tr.enabled) {
      val tables = Seq(s"$out/stations", s"$out/prices")
      val rowBytes = tables.map(Disk.bytes).sum.toDouble /
        tables.map(t => spark.read.parquet(t).count()).sum
      extras("sink.write_amp") = tr.total.outputBytes /
        math.max(1.0, extras.values.getOrElse("sink.changed_rows", 0.0) * rowBytes)
    }
  }

  /** Copy the existing-station table to where the run grows it. */
  private def stage(plan: Plan, out: String): Unit =
    Disk.copy(plan.path("stations0"), s"$out/stations")

  private def night(spark: SparkSession, plan: Plan, i: Int, out: String,
                    tr: Tracer, extras: Extras): Unit = {
    val stations = s"$out/stations"
    val prices = s"$out/prices"
    val date = LocalDate.parse(plan.str("date0")).plusDays(i - 1L)
    val dir = plan.path(f"nights/$i%05d")
    val existing = spark.read.parquet(stations)
    val fresh = tr.span("pipeline.collect") {
      Dialects.map { d =>
        Workload.boundary(
          Pipeline.collect(spark, spark.read.textFile(s"$dir/$d.jsonl"), d, existing), tr)
      }.reduce(_ unionByName _)
    }
    if (tr.enabled) extras.add("sink.changed_rows", fresh.count())
    val files0 = if (tr.enabled) Disk.files(out) else Set.empty[String]
    tr.span("sink.append")(fresh.write.mode("append").parquet(stations))
    val all = spark.read.parquet(stations)
    upsert(spark, prices, i, tr, extras, tr.span("op.pricegen")(Workload.boundary(
      Pipeline.dailyPrices(spark, all, "location_id", None,
        lit(java.sql.Date.valueOf(date))), tr)))
    if (i % plan.int("backfill_every") == 0)
      upsert(spark, prices, i, tr, extras, tr.span("op.pricegen")(Workload.boundary(
        Pipeline.backfillPrices(spark, all, "location_id", None,
          date.minusDays(2), date), tr)))
    if (tr.enabled) extras.add("sink.files_written", (Disk.files(out) -- files0).size)
    spark.catalog.clearCache()
  }

  private def upsert(spark: SparkSession, prices: String, ver: Int, tr: Tracer,
                     extras: Extras, generated: DataFrame): Unit = {
    if (tr.enabled) extras.add("sink.changed_rows", generated.count())
    tr.span("sink.upsert")(ParquetMerge.upsertPartitions(spark, prices,
      generated.withColumn("pk", concat_ws("|", col("location_id"), col("fuel_type")))
        .withColumn("ver", lit(ver.toLong)),
      "date", "pk", "ver"))
  }

  /** Which join `newKeysOnlyAuto` ran: night 1's bp collect against the
    * starting table, with the size estimate it compared against the
    * broadcast threshold. A traced run also times the layers
    * `Pipeline.collect` composes on their own, over every night's
    * payloads against the starting table: decode (normalize, cached and
    * counted), then first-seen dedup plus the anti-join. */
  override def check(spark: SparkSession, plan: Plan, out: String,
                     traced: Boolean): Map[String, Any] = {
    val existing = spark.read.parquet(plan.path("stations0"))
    val probe = Pipeline.collect(spark,
      spark.read.textFile(plan.path("nights/00001/bp.jsonl")), "bp", existing)
    probe.collect()
    val joinPlan = probe.queryExecution.executedPlan.toString
    spark.catalog.clearCache()
    val base = Map[String, Any](
      "anti_join_broadcast" -> joinPlan.contains("Broadcast"),
      "anti_join_smj" -> joinPlan.contains("SortMergeJoin"),
      "keys_estimate_bytes" ->
        existing.select("location_id").distinct().queryExecution.optimizedPlan.stats
          .sizeInBytes.toLong,
      "broadcast_threshold_bytes" -> org.apache.spark.network.util.JavaUtils
        .byteStringAsBytes(spark.conf.get("spark.sql.autoBroadcastJoinThreshold")))
    if (!traced) base else base ++ split(spark, plan, out, existing)
  }

  private def split(spark: SparkSession, plan: Plan, out: String,
                    existing: DataFrame): Map[String, Any] = {
    var decodeNs, dedupNs, rowsIn = 0L
    (1 to plan.int("nights")).foreach { i =>
      Dialects.foreach { d =>
        val payloads = spark.read.textFile(plan.path(f"nights/$i%05d/$d.jsonl"))
        val t0 = System.nanoTime()
        val normalized = (d match {
          case "bp" => JsonIngest.normalizeBp(spark, payloads)
          case "mobil" => JsonIngest.normalizeMobil(spark, payloads)
          case _ => JsonIngest.normalizePlaces(spark, payloads)
        }).cache()
        rowsIn += normalized.count()
        val t1 = System.nanoTime()
        val order = normalized.columns.filterNot(_ == "location_id").map(col).toSeq
        Dedup.newKeysOnlyAuto(Dedup.firstSeen(normalized, Seq("location_id"), order),
          existing, "location_id").count()
        dedupNs += System.nanoTime() - t1
        decodeNs += t1 - t0
        normalized.unpersist()
      }
    }
    val newKeys = spark.read.parquet(s"$out/stations").count() - existing.count()
    Map("source.decode_s" -> decodeNs / 1e9, "source.rows_in" -> rowsIn,
      "op.dedup_s" -> dedupNs / 1e9,
      "op.new_key_ratio" -> newKeys.toDouble / math.max(1L, rowsIn))
  }
}
