package graft

import org.apache.spark.sql.functions._
import graft.ext.{IncrementalDsir, IncrementalSketch, IncrementalStats}
import graft.pipeline.{IncrementalCuration, IncrementalPipeline}

/** Pins the on-disk state layout of the whole incremental family: a
  * fixed fixture is folded through every family (both composites plus
  * the indexed retractable curation state), then one retraction and
  * one delta-table compaction run, and every state table's content
  * hash — all columns, `part`/`pk`/`ver` included, in file column
  * order — must equal the hash recorded below. A root written by an
  * earlier build therefore keeps folding, retracting and compacting
  * into exactly the rows it would have held; any change to a pk
  * layout, a partition expression, a version stamp or a payload
  * column shows up here as a named table.
  */
class StateLayoutPinSpec extends SparkSpec {

  private def rm(root: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
      .foreach(java.nio.file.Files.deleteIfExists(_))
  }

  /** sha256 over the table's rows, each rendered as JSON over every
    * column in read order, sorted — independent of file and partition
    * splits, sensitive to every value, name and column position.
    */
  private def tableHash(dir: String): String = {
    val df = spark.read.parquet(dir)
    val rows = df.select(to_json(struct(df.columns.map(col): _*)))
      .collect().map(_.getString(0)).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(df.columns.mkString(",").getBytes("UTF-8"))
    rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
  }

  /** Every table under `root` (a directory holding parquet files or
    * `part=` partitions), keyed by its path relative to `root`. */
  private def hashes(root: java.nio.file.Path): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    def names(p: java.nio.file.Path) =
      java.nio.file.Files.list(p).iterator().asScala
        .map(_.getFileName.toString).toSeq
    java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => java.nio.file.Files.isDirectory(p) &&
        !p.getFileName.toString.startsWith("part=") &&
        names(p).exists(n => n.startsWith("part=") || n.endsWith(".parquet")))
      .map(p => root.relativize(p).toString -> tableHash(p.toString))
      .toMap
  }

  /** Recorded from the layout every state root has been written with
    * (default StateParts, the sf0.001 fixture below). */
  private val Pinned: Map[String, String] = Map(
    "embed/ivf" -> "d042d6bf21bf6848",
    "embed/ivf_audit" -> "9681ae3b5152ec9d",
    "embed/ivf_centroids" -> "e4b4d182744b0cf5",
    "embed/lsh" -> "9710d3abe8ebdce8",
    "embed/lsh_conf" -> "3e7b2fdc1f17c0dd",
    "embed/lsh_vecs" -> "e038facbcabd6a00",
    "embed/pq" -> "95ae14c77645b56a",
    "embed/pq_codebooks" -> "543d5337efdeebba",
    "embed/semdedup" -> "31d59ac5eace343c",
    "embed/semdedup_cells" -> "06f024948fda4817",
    "embed/semdedup_rwm" -> "bbe5519f7e6a3344",
    "indexed/curation" -> "f0373f781b8e00b9",
    "indexed/curation_df" -> "3a3c7ea8da125893",
    "indexed/curation_edges" -> "4644ed656e7e633e",
    "indexed/curation_rwm" -> "1ab5e6d59ac25879",
    "indexed/curation_sh" -> "f7cb38c55050328d",
    "text/bm25" -> "5ce99fa970ba7e76",
    "text/bm25_stats" -> "f53c16b33416e262",
    "text/cc" -> "b276c6361c1a5175",
    "text/cms" -> "33595aa5f7ac4049",
    "text/cms_grid" -> "1d19ce472752391a",
    "text/cms_grid_wm" -> "85f00805cd9f61b3",
    "text/cms_vocab" -> "da99af5b99a57e96",
    "text/cms_vocab_wm" -> "85f00805cd9f61b3",
    "text/cms_wm" -> "85f00805cd9f61b3",
    "text/curation" -> "052d8447b7c4621b",
    "text/curation_edges" -> "96cce5e920b3ee1e",
    "text/curation_rwm" -> "6e25605696f7bb5c",
    "text/docmeta" -> "8845db836eb5d77d",
    "text/dsir" -> "a7758bf064840c6a",
    "text/dsir_wm" -> "85f00805cd9f61b3",
    "text/minhash" -> "8e23ba952eb8f7f8",
    "text/sample" -> "56463ae6424a077e",
    "text/simhash" -> "f1ae077c227c3ac4",
    "text/stats" -> "05efaca1cd2e2ecc",
    "text/stats_wm" -> "85f00805cd9f61b3",
    "text/winnow" -> "e042bb5f71db4ed8")

  test("fold, retract and compact leave every state table's content pinned") {
    val docs = graft.source.Tables.documents(spark, sf)
      .select("doc_id", "text", "lang", "source")
      .filter(col("doc_id") <= 240).persist()
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").filter(col("vec_id") <= 240)
      .persist()
    val rootP = java.nio.file.Files.createTempDirectory("statepin")
    val root = rootP.toString
    try {
      // text composite: two nights, one retraction, compaction of the
      // delta tables, then a night above the retraction version
      val text = s"$root/text"
      IncrementalPipeline.nightly(spark, text,
        docs.filter(col("doc_id") <= 100), "text", "doc_id", 1L)
      IncrementalPipeline.nightly(spark, text,
        docs.filter(col("doc_id") > 100 && col("doc_id") <= 200),
        "text", "doc_id", 2L)
      IncrementalPipeline.retractNightly(spark, text,
        docs.filter(col("doc_id") % 9 === 0).select("doc_id"), "text",
        "doc_id", retractVer = 3L)
      IncrementalSketch.cmsCompact(spark, s"$text/cms")
      IncrementalSketch.gridCompact(spark, s"$text/cms")
      IncrementalStats.compact(spark, s"$text/stats")
      IncrementalDsir.compact(spark, s"$text/dsir")
      IncrementalPipeline.nightly(spark, text,
        docs.filter(col("doc_id") > 200), "text", "doc_id", 4L)

      // embedding composite: init night, one fold, one retraction
      val embRoot = s"$root/embed"
      IncrementalPipeline.nightlyEmbed(spark, embRoot,
        emb.filter(col("vec_id") <= 160), "vec_id", "embedding",
        batchNo = 0L, nLists = 4)
      IncrementalPipeline.nightlyEmbed(spark, embRoot,
        emb.filter(col("vec_id") > 160), "vec_id", "embedding",
        batchNo = 1L, nLists = 4)
      IncrementalPipeline.retractNightlyEmbed(spark, embRoot,
        emb.filter(col("vec_id") % 7 === 0).select("vec_id"), "vec_id",
        "embedding", retractVer = 2L)

      // the indexed retractable curation state (postings + df summary
      // carried through a retraction)
      val idx = s"$root/indexed/curation"
      IncrementalCuration.curateBatchIndexedRetractable(spark, idx,
        docs.filter(col("doc_id") <= 120), "text", "doc_id", 1L)
      IncrementalCuration.curateBatchIndexedRetractable(spark, idx,
        docs.filter(col("doc_id") > 120), "text", "doc_id", 2L)
      IncrementalCuration.retract(spark, idx,
        docs.filter(col("doc_id") % 5 === 0).select("doc_id"))

      val got = hashes(rootP)
      val report = got.toSeq.sorted
        .map { case (t, h) => s"""      "$t" -> "$h",""" }.mkString("\n")
      assert(got == Pinned, s"\nstate table hashes:\n$report\n")
    } finally {
      docs.unpersist(); emb.unpersist(); rm(rootP)
    }
  }
}
