package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ext.{IncrementalClusters, TextDedup}

/** The incremental connected-components fold: folded labels must equal
  * the one-shot star contraction over the union of all folded edges —
  * in any arrival order, with replays, keeping the redirect table flat.
  */
class IncrementalClustersSpec extends SparkSpec {
  import spark.implicits._

  private def tmpState(): (java.nio.file.Path, String) = {
    val root = java.nio.file.Files.createTempDirectory("cc_spec")
    (root, root.toString + "/state")
  }

  private def rm(root: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
      .foreach(java.nio.file.Files.deleteIfExists(_))
  }

  private def pairsDF(ps: (Long, Long)*): DataFrame =
    ps.toDF("id_a", "id_b")

  private def lbl(dir: String): Seq[(Long, Long)] =
    IncrementalClusters.labels(spark, dir)
      .as[(Long, Long)].collect().toSeq.sorted

  private def oneShot(ps: (Long, Long)*): Seq[(Long, Long)] =
    TextDedup.nearDupClusters(pairsDF(ps: _*))
      .as[(Long, Long)].collect().toSeq.sorted

  test("fold across batches == one-shot: chain growth, cross-component merge, new-min relabel") {
    val (root, dir) = tmpState()
    try {
      // batch 1: components {1,2} and {10,11}
      IncrementalClusters.fold(spark, dir, pairsDF((1L, 2L), (10L, 11L)), 1L)
      assert(lbl(dir) == Seq((1L, 1L), (2L, 1L), (10L, 10L), (11L, 10L)))
      // batch 2: new doc 20 merges BOTH old components; chain extends
      IncrementalClusters.fold(spark, dir,
        pairsDF((2L, 20L), (20L, 11L), (11L, 12L)), 2L)
      assert(lbl(dir) ==
        Seq((1L, 1L), (2L, 1L), (10L, 1L), (11L, 1L), (12L, 1L), (20L, 1L)))
      // batch 3: doc 0 (a NEW minimum) attaches — every label must move
      IncrementalClusters.fold(spark, dir, pairsDF((0L, 12L)), 3L)
      val want = oneShot((1L, 2L), (10L, 11L), (2L, 20L), (20L, 11L),
        (11L, 12L), (0L, 12L))
      assert(lbl(dir) == want)
      assert(want.forall(_._2 == 0L))
    } finally rm(root)
  }

  test("replayed batch writes nothing and labels are unchanged") {
    val (root, dir) = tmpState()
    try {
      IncrementalClusters.fold(spark, dir, pairsDF((1L, 2L), (3L, 4L)), 1L)
      IncrementalClusters.fold(spark, dir, pairsDF((2L, 3L)), 2L)
      val before = lbl(dir)
      IncrementalClusters.fold(spark, dir, pairsDF((2L, 3L)), 2L)
      IncrementalClusters.fold(spark, dir, pairsDF((1L, 2L), (3L, 4L)), 1L)
      assert(lbl(dir) == before)
    } finally rm(root)
  }

  test("order independence: reversed batch arrival lands on the same labels") {
    val b1 = Seq((1L, 2L), (5L, 6L))
    val b2 = Seq((2L, 5L), (8L, 9L))
    val b3 = Seq((6L, 9L), (3L, 1L))
    val (rootA, dirA) = tmpState()
    val (rootB, dirB) = tmpState()
    try {
      IncrementalClusters.fold(spark, dirA, pairsDF(b1: _*), 1L)
      IncrementalClusters.fold(spark, dirA, pairsDF(b2: _*), 2L)
      IncrementalClusters.fold(spark, dirA, pairsDF(b3: _*), 3L)
      IncrementalClusters.fold(spark, dirB, pairsDF(b3: _*), 1L)
      IncrementalClusters.fold(spark, dirB, pairsDF(b2: _*), 2L)
      IncrementalClusters.fold(spark, dirB, pairsDF(b1: _*), 3L)
      val want = oneShot((b1 ++ b2 ++ b3): _*)
      assert(lbl(dirA) == want)
      assert(lbl(dirB) == want)
    } finally { rm(rootA); rm(rootB) }
  }

  test("redirect table stays flat through cascading merges") {
    val (root, dir) = tmpState()
    try {
      // build 4 singleton-pair components, then merge them pairwise,
      // then merge the merges — a demoted root's redirect must be
      // re-pointed, never chained
      IncrementalClusters.fold(spark, dir,
        pairsDF((10L, 11L), (20L, 21L), (30L, 31L), (40L, 41L)), 1L)
      IncrementalClusters.fold(spark, dir, pairsDF((11L, 21L), (31L, 41L)), 2L)
      IncrementalClusters.fold(spark, dir, pairsDF((21L, 41L)), 3L)
      assert(IncrementalClusters.auditRedirects(spark, dir).isEmpty,
        "no redirect destination may itself be a redirect source")
      val want = oneShot((10L, 11L), (20L, 21L), (30L, 31L), (40L, 41L),
        (11L, 21L), (31L, 41L), (21L, 41L))
      assert(lbl(dir) == want)
      assert(want.forall(_._2 == 10L))
    } finally rm(root)
  }

  test("a late batch at a SMALLER batchNo is rejected loudly (its " +
    "redirect re-points would lose the LWW merge); replays at the " +
    "stored max still no-op") {
    val (root, dir) = tmpState()
    try {
      IncrementalClusters.fold(spark, dir, pairsDF((2L, 3L)), 5L)
      IncrementalClusters.fold(spark, dir, pairsDF((1L, 2L)), 7L)
      // 1 becomes the min label; redirect 2 -> 1 written at ver 7. A
      // batch folded at ver 4 that demotes a label would write
      // redirect rows that LOSE to ver-7 rows — stale chains. Reject.
      val e = intercept[IllegalArgumentException] {
        IncrementalClusters.fold(spark, dir, pairsDF((0L, 3L)), 4L)
      }
      assert(e.getMessage.contains("out-of-order"))
      // a clean replay of an old batch no-ops BEFORE the guard (all
      // self-loops) — crash-recovery replays stay legal
      IncrementalClusters.fold(spark, dir, pairsDF((2L, 3L)), 5L)
      assert(lbl(dir) == oneShot((2L, 3L), (1L, 2L)))
      // and the same edges at the stored max version are also a no-op
      IncrementalClusters.fold(spark, dir, pairsDF((1L, 2L)), 7L)
      assert(lbl(dir) == oneShot((2L, 3L), (1L, 2L)))
      assert(IncrementalClusters.auditRedirects(spark, dir).isEmpty)
    } finally rm(root)
  }

  test("rebucket bounds the doc table's partition count; labels, later folds and retraction unchanged") {
    val (root, dir) = tmpState()
    try {
      (1L to 12L).foreach { b =>
        IncrementalClusters.fold(spark, dir,
          pairsDF((b * 10, b * 10 + 1), (b * 10, b * 10 + 2)), b)
      }
      def partDirs() = new java.io.File(dir).listFiles()
        .count(_.getName.startsWith("part="))
      assert(partDirs() == 12) // one per insert batch — the growth mode
      val before = lbl(dir)
      IncrementalClusters.rebucket(spark, dir, parts = 4)
      assert(partDirs() == 4)
      assert(lbl(dir) == before)
      // folds resume appending batch partitions above the rebucketed set
      IncrementalClusters.fold(spark, dir, pairsDF((10L, 130L)), 13L)
      val all = (1L to 12L).flatMap(b =>
        Seq((b * 10, b * 10 + 1), (b * 10, b * 10 + 2))) :+ (10L, 130L)
      assert(lbl(dir) == oneShot(all: _*))
      // retraction reads each row's (part, ver) from the table itself
      IncrementalClusters.retract(spark, dir,
        Seq(10L).toDF("doc"), pairsDF(all.filterNot(e =>
          e._1 == 10L || e._2 == 10L): _*))
      assert(lbl(dir) == oneShot(all.filterNot(e =>
        e._1 == 10L || e._2 == 10L): _*))
      assert(IncrementalClusters.auditRedirects(spark, dir).isEmpty)
    } finally rm(root)
  }

  test("real-corpus parity: three folded batches == one-shot nearDupClusters") {
    val docs = graft.source.Tables.documents(spark, sf)
    val pairs = TextDedup.ngramJaccardPairs(docs, "text", "doc_id",
        shingleN = 3, threshold = 0.12)
      .select(col("id_a"), col("id_b"),
        greatest(col("id_a"), col("id_b")).as("_arr"))
      .persist()
    val hi = docs.agg(max("doc_id")).head().getLong(0)
    val (c1, c2) = (hi / 3, 2 * hi / 3)
    val (root, dir) = tmpState()
    try {
      IncrementalClusters.fold(spark, dir, pairs.filter(col("_arr") <= c1), 1L)
      IncrementalClusters.fold(spark, dir,
        pairs.filter(col("_arr") > c1 && col("_arr") <= c2), 2L)
      IncrementalClusters.fold(spark, dir, pairs.filter(col("_arr") > c2), 3L)
      val want = TextDedup.nearDupClusters(pairs)
        .as[(Long, Long)].collect().toSeq.sorted
      assert(want.nonEmpty)
      assert(lbl(dir) == want)
      assert(IncrementalClusters.auditRedirects(spark, dir).isEmpty)
    } finally { pairs.unpersist(); rm(root) }
  }

  test("retract: splits, relabels, edge-less departures; later folds continue; flat redirects") {
    val (root, dir) = tmpState()
    try {
      // {1,2,3} chain through 2; {4,5,6} triangle; {7,8}; {10,11,12} star
      val edges = pairsDF(1L -> 2L, 2L -> 3L, 4L -> 5L, 5L -> 6L,
        4L -> 6L, 7L -> 8L, 10L -> 11L, 10L -> 12L)
      IncrementalClusters.fold(spark, dir, edges, batchNo = 1L)
      assert(lbl(dir) == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
        5L -> 4L, 6L -> 4L, 7L -> 7L, 8L -> 7L, 10L -> 10L, 11L -> 10L,
        12L -> 10L))
      // retract the chain's cut vertex, the triangle's min, the star's
      // hub — one call exercises split-to-isolation, min-relabel of a
      // still-connected remainder, and hub-removal isolation
      val x = Seq(2L, 4L, 10L).toDF("doc")
      val surviving = edges // caller passes the CURRENT edge set
      IncrementalClusters.retract(spark, dir, x, surviving)
      // 1,3 lost every edge -> leave; 5-6 stay connected, relabeled 5;
      // 11,12 isolated -> leave; 7-8 untouched
      assert(lbl(dir) == Seq(5L -> 5L, 6L -> 5L, 7L -> 7L, 8L -> 7L))
      // equals the one-shot over the surviving induced graph
      val remaining = Set(1L, 3L, 5L, 6L, 7L, 8L, 11L, 12L)
      val inducedPairs = Seq(5L -> 6L, 7L -> 8L) // edges among remaining
      assert(lbl(dir) == TextDedup.nearDupClusters(pairsDF(inducedPairs: _*))
        .as[(Long, Long)].collect().toSeq.sorted)
      assert(remaining.nonEmpty) // (documents the scenario)
      // redirect flatness survives the delete
      assert(IncrementalClusters.auditRedirects(spark, dir).isEmpty)
      // a later fold rejoins a departed node and merges across the cut
      IncrementalClusters.fold(spark, dir, pairsDF(3L -> 6L), batchNo = 2L)
      assert(lbl(dir) == Seq(3L -> 3L, 5L -> 3L, 6L -> 3L, 7L -> 7L,
        8L -> 7L))
      // sequential retraction: drop the rejoined node again
      IncrementalClusters.retract(spark, dir, Seq(3L).toDF("doc"),
        pairsDF(3L -> 6L, 5L -> 6L, 7L -> 8L))
      assert(lbl(dir) == Seq(5L -> 5L, 6L -> 5L, 7L -> 7L, 8L -> 7L))
      // retracting an unknown node is a no-op
      IncrementalClusters.retract(spark, dir, Seq(99L).toDF("doc"),
        pairsDF(5L -> 6L, 7L -> 8L))
      assert(lbl(dir) == Seq(5L -> 5L, 6L -> 5L, 7L -> 7L, 8L -> 7L))
    } finally rm(root)
  }

  test("retract on the real pair graph equals the one-shot over remaining docs") {
    val docs = graft.source.Tables.documents(spark, sf)
      .select("doc_id", "text").filter(col("doc_id") <= 600)
    val pairs = TextDedup.ngramJaccardPairs(docs, "text", "doc_id",
        shingleN = 3, threshold = 0.12)
      .select(col("id_a"), col("id_b")).localCheckpoint(true)
    val (root, dir) = tmpState()
    try {
      val mid = 300L
      IncrementalClusters.fold(spark, dir,
        pairs.filter(greatest(col("id_a"), col("id_b")) <= mid), 1L)
      IncrementalClusters.fold(spark, dir,
        pairs.filter(greatest(col("id_a"), col("id_b")) > mid), 2L)
      IncrementalClusters.retract(spark, dir,
        docs.filter(col("doc_id") % 9 === 0).select("doc_id"), pairs)
      val got = lbl(dir)
      val want = TextDedup.nearDupClusters(
          pairs.filter(col("id_a") % 9 =!= 0 && col("id_b") % 9 =!= 0))
        .as[(Long, Long)].collect().toSeq.sorted
      assert(got == want && want.nonEmpty)
      assert(IncrementalClusters.auditRedirects(spark, dir).isEmpty)
    } finally rm(root)
  }

  test("streaming face: foldStream over micro-batched edges == batch labels") {
    val (root, dir) = tmpState()
    val srcDir = root.toString + "/src"
    val ckpt = root.toString + "/ckpt"
    try {
      // two single-file micro-batches (coalesce(1) pins row-to-file
      // assignment; maxFilesPerTrigger=1 pins batch order)
      pairsDF((1L, 2L), (4L, 5L)).coalesce(1)
        .write.parquet(srcDir + "/b1")
      pairsDF((2L, 4L), (7L, 8L)).coalesce(1)
        .write.parquet(srcDir + "/b2")
      val stream = spark.readStream
        .schema("id_a long, id_b long")
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir + "/*")
      graft.util.StateFold.stream(stream, ckpt)((s, b, v) =>
          IncrementalClusters.fold(s, dir, b, v))
        .awaitTermination(120000)
      val want = oneShot((1L, 2L), (4L, 5L), (2L, 4L), (7L, 8L))
      assert(lbl(dir) == want)
    } finally rm(root)
  }
}
