package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.{TextAnalysis, TextDedup, Tok, VectorSearch}
import graft.functions.VectorExpressions
import graft.pipeline.Curation

/** LLM-data curation over a skewed corpus: `Curation.curate`, the
  * MinHash and winnowing near-dup kernels over the raw corpus, an IVF
  * index over the survivors' embeddings, then a closed-loop stream of
  * ANN probe calls (the ops).
  *
  * The corpus caps (`max_postings`, `max_bucket`) are scaled down with
  * the corpus, so the boilerplate and template pathologies the
  * generator plants push past them as they do at full scale.
  *
  * Outputs (small text files, written once after the probes): the
  * survivor ids, the MinHash verified pairs and the probe results.
  */
object CurateCorpus extends Workload {
  /** The corpus's largest shuffles are a few MB (the pair kernels'
    * (doc, key) exchanges), so the advisory comes out at its 1 MiB
    * floor and post-shuffle stages keep about one partition per core,
    * as at full scale. */
  override def typicalShuffleBytes: Long = 3L * 1024 * 1024

  def warmup(spark: SparkSession, plan: Plan, scratch: String): Unit = {
    val warm = new Plan(plan.path("warm"))
    Files.createDirectories(Paths.get(scratch))
    run(spark, warm, scratch, Tracer.off(spark), new Ops(Tracer.off(spark)), new Extras)
  }

  def run(spark: SparkSession, plan: Plan, out: String, tr: Tracer,
          ops: Ops, extras: Extras): Unit = {
    val docs = spark.read.parquet(plan.path("docs"))
    val emb = spark.read.parquet(plan.path("emb"))
    val queries = spark.read.parquet(plan.path("queries")).cache()
    val (k, nprobe) = (plan.int("k"), plan.int("nprobe"))

    val curated = tr.span("pipeline.curate") {
      val c = Curation.curate(docs, "text", "doc_id",
        maxPostings = plan.long("max_postings")).cache()
      c.count()
      c
    }
    val survivorIds = curated.select("doc_id").collect().map(_.getLong(0))
    val pairs = tr.span("ext.neardup") {
      TextDedup.minhashVerifiedPairs(docs, "text", "doc_id",
        threshold = plan.dbl("minhash_threshold"),
        maxBucket = plan.int("max_bucket"))
        .collect().map(r => s"${r.getLong(0)}\t${r.getLong(1)}")
    }
    val nMatches = tr.span("ext.neardup") {
      TextDedup.winnowingMatches(docs, "text", "doc_id",
        maxPostings = plan.long("winnow_max_postings")).count()
    }
    val index = tr.span("ext.index_build") {
      VectorSearch.ivfBuild(
        emb.join(curated.select(col("doc_id").as("vec_id")), "vec_id"),
        "vec_id", "embedding", nLists = plan.int("nlists"))
    }
    if (tr.enabled) extras("ext.candidates_per_query") =
      candidatesPerQuery(index, queries, nprobe)
    val results = Seq.newBuilder[String]
    (0 until plan.int("probes")).foreach { p =>
      val batch = queries.filter(col("batch") === p)
      ops("probe") {
        tr.span("ext.probe") {
          VectorSearch.ivfTopK(index, batch.drop("batch"), k, nprobe).collect()
            .foreach(r => results += s"${r.getLong(0)}\t${r.getInt(1)}\t${r.getLong(2)}")
        }
      }
    }
    index.close()
    curated.unpersist()
    queries.unpersist()
    write(s"$out/survivors.tsv", survivorIds.map(_.toString).toSeq)
    write(s"$out/minhash_pairs.tsv", pairs.toSeq)
    write(s"$out/ann.tsv", results.result())
    extras("ext.winnow_matches") = nMatches
    extras("ext.minhash_pairs") = pairs.length
  }

  /** Corpus vectors each probe query scores: the sizes of its `nprobe`
    * nearest IVF lists, averaged over the probe queries. */
  private def candidatesPerQuery(index: VectorSearch.IvfIndex, queries: DataFrame,
                                 nprobe: Int): Double = {
    val sizes = index.assigned.groupBy("ivf_list").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val c = index.centroids
    val qs = queries.select("embedding").collect().map(_.getSeq[Float](0).toArray)
    val perQuery = qs.map { q =>
      (0 until c.numRows).map { i =>
        i -> q.indices.map(j => math.pow(q(j) - c(i, j), 2)).sum
      }.sortBy(_._2).take(nprobe).map(l => sizes.getOrElse(l._1, 0L)).sum
    }
    perQuery.sum.toDouble / math.max(1, qs.length)
  }

  private def write(path: String, lines: Seq[String]): Unit =
    Files.write(Paths.get(path), lines.asJava)

  private def read(path: String): Seq[String] =
    Files.readAllLines(Paths.get(path)).asScala.toSeq

  /** ANN recall against `VectorSearch.bruteForceTopK` over the same
    * survivors; the traced section also times the ext audits and each
    * native kernel on its own. */
  override def check(spark: SparkSession, plan: Plan, out: String,
                     traced: Boolean): Map[String, Any] = {
    import spark.implicits._
    val k = plan.int("k")
    val survivors = read(s"$out/survivors.tsv").map(_.toLong).toDF("vec_id")
    val emb = spark.read.parquet(plan.path("emb")).join(survivors, "vec_id")
    val queries = spark.read.parquet(plan.path("queries")).drop("batch")
    val exact = VectorSearch.bruteForceTopK(emb, queries, "vec_id", "embedding", k)
      .select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = read(s"$out/ann.tsv").map(_.split("\t"))
      .map(a => (a(0).toLong, a(2).toLong)).toSet
    val base = Map[String, Any](
      "recall_ann" -> (exact & got).size.toDouble / math.max(1, exact.size),
      "ann_results" -> got.size, "ann_expected" -> exact.size)
    if (!traced) base else base ++ audits(spark, plan) ++ kernels(spark, plan)
  }

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** The ext layer's waste and cap counters over the raw corpus. */
  private def audits(spark: SparkSession, plan: Plan): Map[String, Any] = {
    val docs = spark.read.parquet(plan.path("docs"))
    val maxPostings = plan.long("max_postings")
    val (_, qualityS) = timed(TextAnalysis.qualityScore(docs, "text")
      .write.format("noop").mode("overwrite").save())
    val cand = TextDedup.candidatePairCounts(docs, "text", "doc_id",
      maxPostings = maxPostings).cache()
    val nCand = cand.count()
    val nVerified = TextDedup.jaccardFromPairs(cand, 0.3).count()
    cand.unpersist()
    Map("ext.quality_s" -> qualityS,
      "ext.candidate_pairs" -> nCand,
      "ext.verified_pairs" -> nVerified,
      "ext.pair_yield" -> nVerified.toDouble / math.max(1L, nCand),
      "ext.over_cap_shingles" -> TextDedup.overCapShingles(docs, "text", "doc_id",
        maxPostings = maxPostings).count(),
      "ext.dropped_buckets" -> TextDedup.minhashDroppedBuckets(docs, "text", "doc_id",
        bands = 32, maxBucket = plan.int("max_bucket")).count())
  }

  /** ns per row of each native kernel in `graft.functions`, timed on
    * its own over the corpus rows (replicated `kernel_rep` times, in one
    * partition, so one core), minus a projection of the same input
    * column. Median of 3 passes each. */
  private def kernels(spark: SparkSession, plan: Plan): Map[String, Any] = {
    val rep = plan.int("kernel_rep")
    val docs = spark.read.parquet(plan.path("docs"))
      .crossJoin(spark.range(rep).toDF("_rep"))
      .select(Tok.tokens(col("text")).as("toks"))
      .withColumn("sh", VectorExpressions.word_shingles(col("toks"), 3))
      .coalesce(1).cache()
    val q = spark.read.parquet(plan.path("queries")).select("embedding").head()
      .getSeq[Float](0)
    val vecs = spark.read.parquet(plan.path("emb"))
      .crossJoin(spark.range(rep).toDF("_rep"))
      .select(col("embedding"), typedLit(q).as("q"))
      .coalesce(1).cache()
    val nDocs = docs.count().toDouble
    val nVecs = vecs.count().toDouble
    def pass(df: DataFrame, c: org.apache.spark.sql.Column): Double =
      timed(df.select(c.as("o")).write.format("noop").mode("overwrite").save())._2
    def nsPerRow(df: DataFrame, rows: Double, input: String,
                 kernel: org.apache.spark.sql.Column): Double = {
      pass(df, kernel) // compile once before timing
      def med(c: org.apache.spark.sql.Column) = (1 to 3).map(_ => pass(df, c)).sorted.apply(1)
      math.max(0.0, med(kernel) - med(col(input))) / rows * 1e9
    }
    val out = Map(
      "functions.shingles_ns_per_row" -> nsPerRow(docs, nDocs, "toks",
        VectorExpressions.word_shingles(col("toks"), 3)),
      "functions.minhash_ns_per_row" -> nsPerRow(docs, nDocs, "sh",
        VectorExpressions.minhash_sig(col("sh"), 64)),
      "functions.simhash_ns_per_row" -> nsPerRow(docs, nDocs, "toks",
        VectorExpressions.simhash64(col("toks"))),
      "functions.cosine_ns_per_row" -> nsPerRow(vecs, nVecs, "embedding",
        VectorExpressions.cosine_sim(col("embedding"), col("q"))),
      "functions.lsh_bucket_ns_per_row" -> nsPerRow(vecs, nVecs, "embedding",
        VectorExpressions.lsh_bucket(col("embedding"), 8)))
    docs.unpersist()
    vecs.unpersist()
    out
  }
}
