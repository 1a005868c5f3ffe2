package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** The workload's generated inputs: a directory plus the `plan.properties`
  * the generator wrote beside them (op schedule, sizes, caps).
  */
final class Plan(val dir: String) {
  private val props = new java.util.Properties()
  locally {
    val in = Files.newInputStream(Paths.get(dir, "plan.properties"))
    try props.load(in) finally in.close()
  }
  def str(k: String): String =
    Option(props.getProperty(k)).getOrElse(sys.error(s"plan.properties lacks $k"))
  def int(k: String): Int = str(k).toInt
  def long(k: String): Long = str(k).toLong
  def dbl(k: String): Double = str(k).toDouble
  def path(rel: String): String = s"$dir/$rel"
}

/** Closed-loop op log: one client, the next op starts when the last
  * one has returned. Every op is a span, so the traced run attributes
  * its Spark work.
  */
final class Ops(tr: Tracer) {
  val latS = mutable.ArrayBuffer[Double]()
  val kinds = mutable.ArrayBuffer[String]()
  val errors = mutable.ArrayBuffer[String]()

  def apply(kind: String)(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try tr.span(kind)(body)
    catch {
      case e: Throwable =>
        errors += s"$kind #${latS.size}: ${e.getClass.getSimpleName}: ${e.getMessage}"
          .take(500)
    }
    latS += (System.nanoTime() - t0) / 1e9
    kinds += kind
  }
}

/** Files under a directory tree (state tables, parquet outputs). */
object Disk {
  import scala.jdk.CollectionConverters._

  private def walk(dir: String): Seq[java.nio.file.Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Seq.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }
  }

  def files(dir: String): Set[String] = walk(dir).map(_.toString).toSet

  def bytes(dir: String): Long = walk(dir).map(Files.size).sum

  def delete(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toList.reverse.foreach(Files.delete) finally s.close()
    }
  }

  def copy(src: String, dst: String): Unit = {
    val from = Paths.get(src)
    walk(src).foreach { f =>
      val to = Paths.get(dst).resolve(from.relativize(f))
      Files.createDirectories(to.getParent)
      Files.copy(f, to, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }
}

/** What a section hands to the layer report besides its spans. */
final class Extras {
  val values = mutable.LinkedHashMap[String, Double]()
  def update(k: String, v: Double): Unit = values(k) = v
  def add(k: String, v: Double): Unit = values(k) = values.getOrElse(k, 0.0) + v
}

trait Workload {
  /** Codegen-cache entries the session is sized for
    * (`SessionDefaults.codegenCacheEntries` of the distinct plans). */
  def distinctQueries: Int = 0

  /** The workload's typical mid-size shuffle, which sizes the AQE
    * advisory partition (`SessionDefaults.advisoryPartitionBytes`). */
  def typicalShuffleBytes: Long = 128L * 1024 * 1024

  /** Extra session settings of the deployment this workload models. */
  def sessionConf: Map[String, String] = Map.empty

  /** Stage inputs the run mutates into `out` (before the clock starts). */
  def prepare(plan: Plan, out: String): Unit = ()

  /** One op on the throwaway input of the same shape (`warm/`). */
  def warmup(spark: SparkSession, plan: Plan, scratch: String): Unit

  /** The timed section. Outputs go under `out`. */
  def run(spark: SparkSession, plan: Plan, out: String, tr: Tracer,
          ops: Ops, extras: Extras): Unit

  /** In-process checks after timing (outside every timed section);
    * a traced section also gets its layer audits timed here, on their
    * own, so they add nothing to the section's spans. */
  def check(spark: SparkSession, plan: Plan, out: String,
            traced: Boolean): Map[String, Any] = Map.empty
}

object Workload {
  def apply(name: String): Workload = name match {
    case "station_etl" => StationEtl
    case "curate_corpus" => CurateCorpus
    case "nightly_fold" => NightlyFold
    case "registry_sweep" => RegistrySweep
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Materialize a layer's lazy output at its boundary (traced run
    * only), so the layer's span holds the work it describes. */
  def boundary(df: org.apache.spark.sql.DataFrame, tr: Tracer): org.apache.spark.sql.DataFrame =
    if (!tr.enabled) df
    else {
      val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      p.count()
      p
    }
}

/** One benchmark process: set-up (session start + warm-up op), then
  * the timed section (traced or not), then checks, then `report.json`
  * in the work dir. Input generation happened before the process
  * started.
  *
  * Usage: perfbench.Main <workload> <inputDir> <workDir> <trace 0|1> <cores> <repeats>
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val Array(name, input, work, traceArg, coresArg, repsArg) = argv
    val w = Workload(name)
    val plan = new Plan(input)
    val cores = coresArg.toInt
    val trace = traceArg == "1"

    // set-up: session start through the warm-up op to the first timed
    // op, so JVM class loading, JIT and codegen warm-up land here
    val t0 = System.nanoTime()
    val spark = session(w, cores, work)
    w.warmup(spark, plan, s"$work/warm")
    spark.catalog.clearCache()
    val setupS = (System.nanoTime() - t0) / 1e9

    val sec = if (trace) "traced" else "untraced"
    val secJson = section(spark, w, plan, s"$work/$sec", sec, trace, cores, repsArg.toInt)
    val rssMb = peakRssMb()
    val checks = Json.value(w.check(spark, plan, s"$work/$sec", trace))
    spark.stop()

    val report = Json.obj(
      "workload" -> name, "cores" -> cores, "setup_s" -> setupS,
      "peak_rss_mb" -> rssMb, "section" -> Json.Raw(secJson), "checks" -> Json.Raw(checks))
    Files.writeString(Paths.get(work, "report.json"), report)
  }

  private def section(spark: SparkSession, w: Workload, plan: Plan,
                      out: String, name: String, traced: Boolean,
                      cores: Int, reps: Int): String = {
    val tr = new Tracer(spark, name, traced)
    val ops = new Ops(tr)
    val extras = new Extras
    // the workload runs `reps` times on the same inputs, each from fresh
    // outputs (the last repeat's stay for the checks); every op records
    // its repeat
    val opRep = mutable.ArrayBuffer[Int]()
    var t0Ms, t1Ms = 0L
    val repS = (1 to reps).map { r =>
      Disk.delete(out)
      Files.createDirectories(Paths.get(out))
      w.prepare(plan, out)
      t0Ms = System.currentTimeMillis()
      val t0 = System.nanoTime()
      tr.span("section")(w.run(spark, plan, out, tr, ops, extras))
      val s = (System.nanoTime() - t0) / 1e9
      t1Ms = System.currentTimeMillis()
      spark.catalog.clearCache()
      opRep ++= Seq.fill(ops.latS.size - opRep.size)(r)
      s
    }
    val sorted = repS.sorted
    val runS = (sorted((reps - 1) / 2) + sorted(reps / 2)) / 2
    val layers = if (traced) Layers(tr, runS, cores, t0Ms, t1Ms, extras) else Map.empty[String, Double]
    tr.close()
    if (traced) {
      Files.writeString(Paths.get(out, "spans.json"), tr.spansJson)
      Files.writeString(Paths.get(out, "stages.json"), tr.stagesJson(20))
    }
    Json.obj("name" -> name, "out" -> out, "run_s" -> runS, "rep_s" -> repS,
      "op_s" -> ops.latS, "op_kinds" -> ops.kinds, "op_rep" -> opRep,
      "errors" -> ops.errors, "layers" -> layers,
      "extras" -> extras.values.toMap)
  }

  def session(w: Workload, cores: Int, work: String): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        graft.util.SessionDefaults.advisoryPartitionBytes(cores, w.typicalShuffleBytes).toString)
      .config(graft.util.SessionDefaults.CodegenCacheKey,
        graft.util.SessionDefaults.codegenCacheEntries(w.distinctQueries).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    w.sessionConf.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The process's resident-set high-water mark (Linux `VmHWM`). */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** The per-layer metrics of one traced section. */
object Layers {
  def apply(tr: Tracer, runS: Double, cores: Int, t0Ms: Long, t1Ms: Long,
            extras: Extras): Map[String, Double] = {
    val m = mutable.LinkedHashMap[String, Double]()
    val t = tr.total
    m("spark.jobs") = t.jobs
    m("spark.stages") = t.stages
    m("spark.tasks") = t.tasks
    m("spark.no_job_s") = tr.noJobMs(t0Ms, t1Ms) / 1e3
    m("spark.task_s") = t.taskMs / 1e3
    m("spark.busy_ratio") = t.taskMs / 1e3 / (runS * cores)
    m("spark.task_skew") = tr.taskSkew
    m("spark.shuffle_write_bytes") = t.shuffleWriteBytes
    m("spark.shuffle_read_bytes") = t.shuffleReadBytes
    m("spark.spill_bytes") = t.spillBytes
    m("spark.gc_s") = t.gcMs / 1e3
    m("spark.plan_s") = t.planMs / 1e3
    m("spark.codegen_compiles") = t.compiles
    m("spark.codegen_compile_s") = t.compileMs / 1e3
    m("sink.bytes_written") = t.outputBytes
    // a layer's time is the self time of the spans named after it
    tr.spans.filter(_.name.contains('.')).groupBy(_.name).toSeq.sortBy(_._1)
      .foreach { case (n, ss) => m(s"${n}_s") = ss.map(tr.selfNs).sum / 1e9 }
    m ++= extras.values
    m.toMap
  }
}
