package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.StateFold

/** Incrementally-maintained BM25 retrieval index — the nightly-fold
  * pattern ([[graft.pipeline.IncrementalCuration]],
  * [[IncrementalAnn]]) applied to the text-retrieval artifact, and
  * the first incremental fold whose probe is ORACLE-verifiable: BM25
  * with the rational idf is exact integer arithmetic (see [[Bm25]]),
  * so the probe against the folded index must hash-match the one-shot
  * [[TextAnalysis.bm25TopK]] SQL twin over the merged corpus — the
  * same convergence gate the curation fold passes.
  *
  * Stored layout at `dir`:
  *  - postings `(part, doc:term, ver, doc, term, tf, dl)` — the
  *    inverted index, PARTITIONED BY TERM HASH
  *    (`pmod(xxhash64(term), StateParts)`): a top-k probe computes
  *    its query terms' partitions driver-side and reads ONLY those
  *    directories — at 100 TB a 3-term query touches ≤3 of
  *    [[StateParts]] partitions of the posting table, never the
  *    corpus. `dl` is denormalized onto each posting row (the scorer
  *    needs it per row anyway; parquet run-length encodes the
  *    repetition away).
  *  - stats `(part, batchNo, ver, n_docs_delta, sum_dl_delta)` — one
  *    delta row per batch, LWW-keyed by batchNo so an at-least-once
  *    replay REWRITES its deltas instead of double-counting (the
  *    [[graft.pipeline.IncrementalCuration.DfSuffix]] lesson);
  *    corpus stats = the column sums.
  *
  * Per-term document frequency needs no third table: the probe's
  * partition-pruned posting read already holds exactly the matching
  * (doc, term) rows, and df(term) = their count — an O(matching
  * postings) aggregation, the same rows the scorer consumes.
  *
  * Contract: docs arrive ONCE (append-only corpus — the crawl shape);
  * a replayed batch re-merges idempotently via LWW on doc:term, but
  * re-folding a doc_id with DIFFERENT text under a new batchNo leaves
  * the dropped terms' old postings behind (no tombstones here — a
  * re-crawled corpus goes through the curation fold first, which
  * settles doc identity before retrieval indexing).
  *
  * Scale shape per fold: tokenize + per-(doc, term) count on the
  * BATCH only, one partition-scoped LWW merge that rewrites only the
  * term-hash partitions the batch's vocabulary lands in, one tiny
  * stats upsert. Nothing corpus-sized moves.
  */
object IncrementalBm25 {

  /** Term-hash partition count of the posting table. More partitions
    * = finer probe pruning (a probe reads ≤ |query terms| of them)
    * but more merge directories per fold; 16 suits the test scales,
    * a 100 TB table wants hundreds.
    */
  val StateParts: Int = graft.util.StateConf.parts(16)

  val StatsSuffix = "_stats"

  /** Fold one batch of documents into the index. `batchNo` is the
    * merge version — replaying a batch re-merges idempotently, and
    * the index is probe-consistent after every fold: a [[topK]]
    * between folds scores exactly the corpus folded so far.
    */
  def fold(spark: SparkSession, dir: String, batch: DataFrame,
           text: String, id: String, batchNo: Long): Unit =
    StateFold.bound(spark, dir, StateParts) {
      val base = batch.select(col(id).as("doc"),
        Tok.tokens(col(text)).as("_toks"))
        .withColumn("dl", size(col("_toks")).cast("long"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val tf = base.select(col("doc"), col("dl"),
        explode(col("_toks")).as("term"))
        .groupBy("doc", "dl", "term").agg(count(lit(1)).as("tf"))
      StateFold.upsert(spark, dir, StateFold.stamp(tf,
        pmod(xxhash64(col("term")), lit(StateParts.toLong)),
        concat_ws(":", col("doc"), col("term")).as("pk"), batchNo,
        "doc", "term", "tf", "dl"))
      val st = base.agg(count(lit(1)).as("n"),
        coalesce(sum("dl"), lit(0L)).as("s")).head()
      statsDelta(spark, dir, batchNo, batchNo, st.getLong(0), st.getLong(1))
      base.unpersist()
    }

  /** One corpus-stats delta row, LWW-keyed by `batch_no`. */
  private def statsDelta(spark: SparkSession, dir: String, batchNo: Long,
                         ver: Long, nDocs: Long, sumDl: Long): Unit = {
    import spark.implicits._
    StateFold.upsert(spark, dir + StatsSuffix,
      Seq((0L, batchNo, ver, nDocs, sumDl))
        .toDF("part", "batch_no", "ver", "n_docs_delta", "sum_dl_delta"),
      key = "batch_no")
  }

  /** Top-k BM25 probe against the folded index: identical scoring
    * expression tree to [[TextAnalysis.bm25TopK]] (shared verbatim
    * via [[Bm25]]), so results hash-match the one-shot form whenever
    * the index holds the same corpus. Reads only the query terms'
    * hash partitions (pruned on the partition column with values
    * computed through the same xxhash64 expression the fold used —
    * a one-row local job, never a hand-rolled hash that could
    * diverge).
    */
  def topK(spark: SparkSession, dir: String, queryTerms: Seq[String],
           k: Int = 10, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(k >= 1, "k must be >= 1")
    graft.util.StateConf.bind(spark, dir, StateParts)
    import spark.implicits._
    val parts = queryTerms.distinct.toDF("term")
      .select(pmod(xxhash64(col("term")), lit(StateParts.toLong)))
      .collect().map(_.getLong(0)).distinct.toSeq
    val stats = spark.read.parquet(dir + StatsSuffix)
      .agg(sum("n_docs_delta").as("n_docs"),
        sum("sum_dl_delta").as("sum_dl"))
    val postings = spark.read.parquet(dir)
      // partition-column prune FIRST (directory-level), then the term
      // filter inside the surviving partitions
      .filter(col("part").isin(parts: _*))
      .filter(col("term").isin(queryTerms: _*))
      .select("doc", "term", "tf", "dl")
    val dfreq = postings.groupBy("term").agg(count(lit(1)).as("dfq"))
    val scored = postings.join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", expr(Bm25.avgdlSql))
      .withColumn("_pts", expr(Bm25.pointsSql(k1, b)))
      .groupBy("doc")
      .agg(sum("_pts").as("score_pts"), count(lit(1)).as("n_terms"))
    Bm25.rankOrdered(scored
      .orderBy(col("score_pts").desc, col("doc")).limit(k),
      Seq(col("score_pts").desc, col("doc")))
      .select(col("rank"), col("doc"), col("score_pts"), col("n_terms"))
  }

  /** RETRACT a doc set from the index: drop their posting rows and
    * fold ONE negative stats delta (n_docs / sum_dl decrements read
    * off the rows being deleted — never recomputed from text), keyed
    * `batch_no = -retractVer` so sequential retractions stay disjoint
    * from every fold's positive delta. Finding a doc's postings costs
    * one index scan (the table is term-hash-partitioned for probe
    * locality; retraction is the rare path that cuts across it).
    * Postings and tf/df are per-doc-pure, so the post-delete index
    * equals a fresh fold over the surviving docs exactly. Contract:
    * `docIds` are docs actually IN the index (quality-gated docs
    * always carry tokens, so indexed ⇔ admitted); absent ids simply
    * delete nothing but also decrement nothing.
    */
  def retractDocs(spark: SparkSession, dir: String, docIds: DataFrame,
                  id: String, retractVer: Long): Unit = {
    require(retractVer > 0, "retractVer must be positive")
    StateFold.bound(spark, dir, StateParts) {
      val post = spark.read.parquet(dir)
      val mine = StateFold.locate(post, docIds.select(col(id).as("doc")),
        Seq("part", "pk", "doc", "dl")).get
      val st = mine.groupBy("doc").agg(first("dl").as("dl"))
        .agg(count(lit(1)).as("n"), coalesce(sum("dl"), lit(0L)).as("s"))
        .head()
      StateFold.delete(spark, dir, post, mine.select("part", "pk"))
      if (st.getLong(0) > 0L)
        statsDelta(spark, dir, -retractVer, retractVer, -st.getLong(0),
          -st.getLong(1))
    }
  }

  /** The folded index read back as the exact TF-IDF term-stats matrix
    * — one fold, many probes: postings already hold per-(doc, term)
    * tf, and df(term) is the per-term posting count, so the
    * [[TextAnalysis.tfidf]] integer columns probe straight out of
    * maintained state with no corpus re-scan (the probe shares
    * `ns_tfidf`'s oracle SQL verbatim). Unlike [[topK]] this is a
    * full-index scan BY DESIGN — the output is the corpus-sized
    * matrix; at scale it feeds a downstream writer, not a collect.
    */
  def tfidfStats(spark: SparkSession, dir: String): DataFrame = {
    val post = spark.read.parquet(dir).select("doc", "term", "tf")
    val dfreq = post.groupBy("term").agg(count(lit(1)).as("df"))
    post.join(dfreq, Seq("term"))
      .select(col("doc"), col("term"), col("tf"), col("df"))
  }
}
