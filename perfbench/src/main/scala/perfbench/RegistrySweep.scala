package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** Registry lines run once each, cold, on a small generated star
  * schema, in an order the seed shuffles: the data is tiny, so driver
  * planning and codegen compile dominate. One op is one query with its
  * noop write (what `graft.Bench` times per line).
  *
  * Inputs (`gen.py`): the tables under `sf/`, the line order in
  * `plan.properties` (`query.<n>`).
  */
object RegistrySweep extends Workload {
  override def distinctQueries: Int = SparkEntry.queries.size

  private def names(plan: Plan): Seq[String] =
    (1 to plan.int("queries")).map(n => plan.str(s"query.$n"))

  /** Lines outside the sample on the throwaway tables: the JIT warms
    * up, while the sampled lines' plans stay uncompiled. They need no
    * prebuilt index or state, so each runs cold: that planning and
    * compile cost is what this workload measures. */
  def warmup(spark: SparkSession, plan: Plan, scratch: String): Unit = {
    val warm = new Plan(plan.path("warm"))
    names(warm).foreach(n => SparkEntry.queries(n)(spark, warm.path("sf"))
      .write.format("noop").mode("overwrite").save())
  }

  def run(spark: SparkSession, plan: Plan, out: String, tr: Tracer,
          ops: Ops, extras: Extras): Unit = {
    val sf = plan.path("sf")
    names(plan).foreach { n =>
      ops("query") {
        val df = tr.span("registry.build")(SparkEntry.queries(n)(spark, sf))
        tr.span("registry.exec")(df.write.format("noop").mode("overwrite").save())
      }
      spark.catalog.clearCache()
    }
  }

  /** Writes every line's output (sorted, one file) and its oracle SQL
    * for the DuckDB comparison `check.py` makes. */
  override def check(spark: SparkSession, plan: Plan, out: String,
                     traced: Boolean): Map[String, Any] = {
    val sf = plan.path("sf")
    names(plan).foreach { n =>
      SparkEntry.queries(n)(spark, sf).coalesce(1).write.mode("overwrite")
        .parquet(s"$out/results/$n")
      spark.catalog.clearCache()
    }
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => names(plan).contains(k) }
    Files.writeString(Paths.get(out, "oracle_sql.json"), Json.value(oracle))
    Map("written" -> names(plan).size)
  }
}
