package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.ext.IncrementalStats
import graft.pipeline.{Curation, IncrementalCuration, IncrementalPipeline}

/** The composite nightly fold over a crawl: a sequence of seeded
  * batches, each small against the state accumulated before it, folded
  * with `IncrementalPipeline.nightly`; every few nights a
  * `retractNightly` removes a seeded sample of delivered docs. One op is
  * one fold or one retract. The run ends with a survivors and stats
  * probe.
  *
  * Inputs (`gen.py`): `batches/<i>/` and `retract/<j>/` parquet, and
  * the op schedule in `plan.properties` (`op.<n>` = `fold:<i>:<ver>`
  * or `retract:<j>:<ver>`, versions strictly increasing).
  */
object NightlyFold extends Workload {
  def warmup(spark: SparkSession, plan: Plan, scratch: String): Unit = {
    val warm = new Plan(plan.path("warm"))
    run(spark, warm, scratch, Tracer.off(spark), new Ops(Tracer.off(spark)), new Extras)
  }

  def run(spark: SparkSession, plan: Plan, out: String, tr: Tracer,
          ops: Ops, extras: Extras): Unit = {
    val root = s"$out/state"
    (1 to plan.int("ops")).foreach { n =>
      val Array(kind, idx, ver) = plan.str(s"op.$n").split(":")
      if (kind == "fold") {
        val batch = spark.read.parquet(plan.path(s"batches/$idx"))
        ops("fold") {
          val files0 = if (tr.enabled) Disk.files(root) else Set.empty[String]
          val r = tr.span("pipeline.fold")(IncrementalPipeline.nightly(
            spark, root, batch, "text", "doc_id", ver.toLong))
          extras.add("pipeline.batch_rows", r.nBatch)
          extras.add("pipeline.admitted", r.nAdmitted)
          if (tr.enabled)
            extras.add("sink.files_written", (Disk.files(root) -- files0).size)
        }
      } else {
        val ids = spark.read.parquet(plan.path(s"retract/$idx"))
        ops("retract") {
          val files0 = if (tr.enabled) Disk.files(root) else Set.empty[String]
          tr.span("pipeline.retract")(IncrementalPipeline.retractNightly(
            spark, root, ids, "text", "doc_id", ver.toLong))
          if (tr.enabled)
            extras.add("sink.files_written", (Disk.files(root) -- files0).size)
        }
      }
      spark.catalog.clearCache()
    }
    tr.span("pipeline.probe") {
      IncrementalCuration.survivors(spark, s"$root/curation").collect()
      IncrementalStats.probe(spark, s"$root/stats").collect()
    }
    extras("pipeline.admitted_ratio") =
      extras.values.getOrElse("pipeline.admitted", 0.0) /
        math.max(1.0, extras.values.getOrElse("pipeline.batch_rows", 0.0))
    if (tr.enabled) {
      val folds = tr.spans.filter(_.name == "pipeline.fold")
      extras("pipeline.jobs_per_fold") =
        folds.map(_.counters.jobs).sum.toDouble / math.max(1, folds.size)
      extras("sink.state_files") = Disk.files(root).size
    }
  }

  /** Convergence: the folded-and-retracted survivors equal a one-shot
    * `Curation.curate` over every delivered doc minus the retracted
    * ones (the claim `IncrementalCuration` makes). */
  override def check(spark: SparkSession, plan: Plan, out: String,
                     traced: Boolean): Map[String, Any] = {
    val schedule = (1 to plan.int("ops")).map(n => plan.str(s"op.$n").split(":"))
    val delivered = schedule.filter(_(0) == "fold")
      .map(a => spark.read.parquet(plan.path(s"batches/${a(1)}")))
      .reduce(_ unionByName _)
    val retracted = schedule.filter(_(0) == "retract")
      .map(a => spark.read.parquet(plan.path(s"retract/${a(1)}")))
      .reduce(_ unionByName _)
    val expected = Curation.curate(
      delivered.join(retracted, Seq("doc_id"), "left_anti"), "text", "doc_id")
    val got = IncrementalCuration.survivors(spark, s"$out/state/curation")
    val h = (df: org.apache.spark.sql.DataFrame) =>
      df.select(sha2(concat_ws("|", df.columns.sorted.map(c => col(c).cast("string")): _*), 256).as("h"))
        .orderBy("h").collect().map(_.getString(0)).mkString
    val (hg, he) = (h(got), h(expected))
    Map("survivors" -> got.count(), "survivors_expected" -> expected.count(),
      "converged" -> (hg == he))
  }
}
