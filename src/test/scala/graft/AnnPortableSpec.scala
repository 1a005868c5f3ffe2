package graft

import org.apache.spark.sql.functions._
import graft.ext.{TextDedup, VectorSearch}

/** The seeded engine-portable hyperplane-LSH family behind the
  * round-15 `ns_ann_lsh` / `ns_ann_multitable` / `ns_embed_neardup_lsh`
  * oracle promotions: the DataFrame pipelines must equal an
  * independent in-memory reimplementation of the SAME arithmetic
  * (quantize → Rademacher sign bits → Hamming probe → bit-portable
  * cosine rank), the parity the DuckDB twins then re-enforce
  * cross-engine.
  */
class AnnPortableSpec extends SparkSpec {
  import spark.implicits._

  private val Dim = 16
  private val N = 40

  /** Deterministic pseudo-vectors in [-1, 1] — varied enough that
    * buckets spread, exactly reproducible in the reference model.
    */
  private def vec(id: Long): Array[Float] =
    Array.tabulate(Dim)(i => ((((id * 37 + i * 13 + 5) % 101) - 50) / 50.0f))

  private def corpusDf = (0L until N).map(id => (id, vec(id)))
    .toDF("vec_id", "embedding")

  /** Reference model: the portable arithmetic in plain Scala. */
  private def refBucket(v: Array[Float], bits: Int): Long = {
    val q = v.map(x => math.floor(x.toDouble * 1024.0).toLong)
    (0 until bits).map { j =>
      val dot = q.indices.map { i0 =>
        val i = i0 + 1L
        val h = if ((i * ((2L * j + 3L) * 65537L) + (j + 1L) * 514229L)
          % 1000003L % 2L == 0L) 1L else -1L
        q(i0) * h
      }.sum
      if (dot >= 0L) 1L << j else 0L
    }.sum
  }

  private def refCos(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    a.indices.foreach { i =>
      dot += a(i).toDouble * b(i).toDouble
      na += a(i).toDouble * a(i).toDouble
      nb += b(i).toDouble * b(i).toDouble
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("portable bucket expression equals the reference model") {
    for (bits <- Seq(3, 8, 24)) {
      val got = VectorSearch.lshBuckets(corpusDf, "embedding", bits,
        portable = true)
        .select("vec_id", "bucket").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = (0L until N).map(id => id -> refBucket(vec(id), bits)).toMap
      assert(got == want, s"bits=$bits")
    }
  }

  test("compiled portable bucket rejects non-float inputs at analysis") {
    val df = Seq((Seq(1, 2, 3), "x")).toDF("ints", "s")
    for (c <- Seq("ints", "s")) {
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        df.select(graft.functions.VectorExpressions
          .portable_lsh_bucket(col(c), 8))
      }
      assert(e.getMessage.contains("portable_lsh_bucket requires"), c)
    }
  }

  test("compiled portable bucket is bit-identical to the HOF reference expression") {
    // r16: bucketExprOf(portable = true) runs the compiled kernel
    // (VectorExpressions.portable_lsh_bucket); the HOF SQL form
    // (lshBucketPortableExpr) stays the oracle-reference surface. The
    // two must never drift — including the corners: empty vector
    // (bucket 0: sequence(1, 0) runs DESCENDING to [1, 0], so zip_with
    // null-pads the empty side and every dot nulls), a NULL element
    // (every per-bit dot nulls → bucket 0), double-typed elements,
    // negative values, and a NULL vector (bucket 0 via the wrapper
    // coalesce).
    for (bits <- Seq(1, 8, 32)) {
      val both = corpusDf.select(
        graft.functions.VectorExpressions
          .portable_lsh_bucket(col("embedding"), bits).as("k"),
        VectorSearch.lshBucketPortableExpr(bits, "embedding").as("h"))
        .collect()
      assert(both.nonEmpty &&
        both.forall(r => r.getLong(0) == r.getLong(1)), s"bits=$bits")
    }
    val corners = Seq(
      Seq.empty[Option[Double]],
      Seq(Some(1.5), Some(-2.25), Some(0.4)),
      Seq(Some(1.0), None, Some(3.0)),
      Seq(Some(0.0), Some(-0.0009765625))
    ).toDF("embedding")
      .unionByName(spark.range(1)
        .selectExpr("cast(null as array<double>) as embedding"))
    for (bits <- Seq(5, 24)) {
      val both = corners.select(
        graft.functions.VectorExpressions
          .portable_lsh_bucket(col("embedding"), bits).as("k"),
        VectorSearch.lshBucketPortableExpr(bits, "embedding").as("h"))
        .collect()
      assert(both.length == 5 &&
        both.forall(r => r.getLong(0) == r.getLong(1)), s"corners bits=$bits")
    }
  }

  test("portable annTopK equals the Hamming-probe + cosine-rank model") {
    val df = corpusDf
    val got = VectorSearch.annTopK(df, df.filter(col("vec_id") < 3),
      "vec_id", "embedding", k = 5, bits = 3, probeNeighbors = 2,
      portable = true)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val buckets = (0L until N).map(id => id -> refBucket(vec(id), 3)).toMap
    val want = (for (q <- 0L until 3L) yield {
      val cands = (0L until N).filter(c => c != q &&
        java.lang.Long.bitCount(buckets(c) ^ buckets(q)) <= 2)
      cands.map(c => (c, r6(refCos(vec(q), vec(c)))))
        .sortBy { case (c, s) => (-s, c) }
        .take(5).zipWithIndex
        .map { case ((c, s), i) => (q, i + 1, c, s) }
    }).flatten.toSet
    assert(got == want)
  }

  test("portable multi-table topk: candidate iff any bit-slice table collides") {
    val df = corpusDf
    val bits = 2; val tables = 3
    val got = VectorSearch.annTopKMultiTable(df, df.filter(col("vec_id") < 3),
      "vec_id", "embedding", k = 5, bits = bits, tables = tables,
      probeNeighbors = 1, portable = true)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val wide = (0L until N).map(id => id -> refBucket(vec(id), bits * tables)).toMap
    def slice(bf: Long, t: Int): Long = (bf >> (t * bits)) & ((1L << bits) - 1L)
    val want = (for (q <- 0L until 3L) yield {
      val cands = (0L until N).filter(c => c != q &&
        (0 until tables).exists(t =>
          java.lang.Long.bitCount(slice(wide(c), t) ^ slice(wide(q), t)) <= 1))
      cands.map(c => (c, r6(refCos(vec(q), vec(c)))))
        .sortBy { case (c, s) => (-s, c) }
        .take(5).zipWithIndex
        .map { case ((c, s), i) => (q, i + 1, c, s) }
    }).flatten.toSet
    assert(got == want)
  }

  test("portable near-dup pairs: table collision ∩ unrounded-cosine threshold") {
    val df = corpusDf
    val bits = 2; val tables = 2; val thr = 0.2
    val got = TextDedup.embeddingNearDupsBucketed(df, "vec_id", "embedding",
      threshold = thr, bits = bits, probeNeighbors = 1, tables = tables,
      portable = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val wide = (0L until N).map(id => id -> refBucket(vec(id), bits * tables)).toMap
    def slice(bf: Long, t: Int): Long = (bf >> (t * bits)) & ((1L << bits) - 1L)
    val want = (for {
      a <- 0L until N; b <- 0L until N; if a < b
      if (0 until tables).exists(t =>
        java.lang.Long.bitCount(slice(wide(a), t) ^ slice(wide(b), t)) <= 1)
      if refCos(vec(a), vec(b)) > thr
    } yield (a, b)).toSet
    assert(got == want)
    assert(want.nonEmpty) // the fixture must actually exercise the verify
  }
}
