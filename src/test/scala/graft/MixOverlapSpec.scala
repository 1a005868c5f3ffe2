package graft

import org.apache.spark.sql.functions._
import graft.ext.{Sampling, TextAnalysis, TextDedup}

/** Round-6 additions: temperature mixing, collocation mining, and the
  * source-overlap matrix — planted micro-corpora with hand-computed
  * expectations (the oracle gate covers the corpus-scale runs).
  */
class MixOverlapSpec extends SparkSpec {
  import spark.implicits._

  /** The engine's bucket1000 arithmetic, reproduced independently. */
  private def bucket(id: Long): Long = ((id % 1000000007L) * 2654435761L) % 1000L

  test("temperatureSample: smallest group kept whole, 4x group halved") {
    val df = ((0L to 7L).map(i => (i, "big")) ++
      Seq((100L, "small"), (101L, "small"))).toDF("id", "grp")
    val out = Sampling.temperatureSample(df, "grp", "id")
      .select("id", "grp", "rate_permille")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    // nmin=2: rate(big) = floor(sqrt(2/8)*1000) = 500, rate(small) = 1000
    val expected =
      ((0L to 7L).filter(bucket(_) < 500L).map(i => (i, "big", 500L)) ++
        Seq(100L, 101L).filter(bucket(_) < 1000L)
          .map(i => (i, "small", 1000L))).toSet
    assert(out === expected)
    // the planted sizes actually downsample: some of big survives, not all
    val keptBig = out.count(_._2 == "big")
    assert(keptBig > 0 && keptBig < 8, s"big kept $keptBig of 8")
    assert(out.count(_._2 == "small") === 2)
  }

  test("temperatureSample: NULL-group rows drop (documented contract)") {
    val df = Seq((1L, Some("a")), (2L, Some("a")), (3L, None), (4L, None))
      .toDF("id", "grp")
    val out = Sampling.temperatureSample(df, "grp", "id")
      .select("id").as[Long].collect().toSet
    assert(out === Set(1L, 2L), "null-group rows never rejoin the cuts")
  }

  test("temperatureSample is idempotent on an already-balanced corpus") {
    val df = (0L to 9L).map(i => (i, s"g${i % 2}")).toDF("id", "grp")
    // both groups size 5 -> every rate 1000 -> nothing dropped
    assert(Sampling.temperatureSample(df, "grp", "id").count() === 10L)
  }

  test("collocations: exact lift on a planted pair; minCount floors hapax") {
    val docs = (Seq.fill(4)("a b") :+ "a b c").toDF("text")
    val out = TextAnalysis.collocations(docs, "text", k = 10, minCount = 5)
      .collect()
    // pairs: (a,b) x5, (b,c) x1 (floored). N=11, c(a)=5, c(b)=5
    assert(out.length === 1)
    val r = out.head
    assert((r.getString(0), r.getString(1)) === ("a", "b"))
    assert((r.getLong(2), r.getLong(3), r.getLong(4)) === ((5L, 5L, 5L)))
    assert(r.getDouble(5) === 5.0 * 11.0 / (5.0 * 5.0)) // lift = 2.2
  }

  test("collocations ranks by lift, not raw count") {
    // (x,y) appears 5 times among much other text; (p,q) appears 6 times
    // but p and q are individually frequent -> lower lift than (x,y)
    val docs = (Seq.fill(5)("x y") ++ Seq.fill(6)("p q") ++
      Seq.fill(20)("p p q q")).toDF("text")
    val out = TextAnalysis.collocations(docs, "text", k = 2, minCount = 5)
      .select("w1", "w2").as[(String, String)].collect()
    assert(out.head === (("x", "y")))
  }

  test("sourceOverlap: planted shingle overlap, within-source dedup") {
    val docs = Seq(
      (1L, "x y z w", "A"), // shingles {x y z, y z w}
      (2L, "x y z", "B"),   // {x y z}
      (3L, "x y z", "B"),   // duplicate within B — still one shingle
      (4L, "q r", "C")      // short doc -> whole-text shingle {q r}
    ).toDF("doc_id", "text", "source")
    val out = TextDedup.sourceOverlap(docs, "text", "source")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
    // only (A,B) overlap: common=1, nA=2, nB=1 -> jaccard 1/2
    assert(out.toSeq === Seq(("A", "B", 1L, 2L, 1L, 0.5)))
  }

  test("qualityModel: hand-computed features and score on a planted doc") {
    // text: "the cat sat 42 here." -> 5 words, 20 chars, stopwords
    // {the} (cat/sat/here not in the list? 'the' certainly is), digits
    // {4,2}, punct {.}
    val df = Seq((7L, "the cat sat 42 here.")).toDF("doc_id", "text")
    val r = TextAnalysis.qualityModel(df, "text", "doc_id").collect().head
    val nWords = r.getAs[Long]("n_words")
    assert(nWords === 5L)
    val stopHits = graft.ext.Stopwords.en
      .count(Set("the", "cat", "sat", "42", "here.").contains)
    assert(r.getAs[Long]("stop_m") === stopHits * 1000000L / 5L)
    assert(r.getAs[Long]("punct_m") === 1L * 1000000L / 20L)  // one '.'
    assert(r.getAs[Long]("digit_m") === 2L * 1000000L / 20L)  // '4','2'
    assert(r.getAs[Long]("score_micro") ===
      800L * 5L + 2L * r.getAs[Long]("stop_m") -
        r.getAs[Long]("punct_m") - r.getAs[Long]("digit_m"))
  }

  test("qualityModel: empty text survives the n_chars guard; keep flag") {
    val df = Seq((1L, ""), (2L, ("the and is " * 200).trim))
      .toDF("doc_id", "text")
    val out = TextAnalysis.qualityModel(df, "text", "doc_id")
      .collect().map(r => r.getAs[Long]("doc") -> r.getAs[Int]("keep")).toMap
    assert(out(1L) === 0) // empty: score ~ 800, far below threshold
    assert(out(2L) === 1) // long stopword-rich text clears 400k
  }

  test("topFractionPerGroup keeps floor(permille*n/1000) rows per group") {
    val df = (1L to 5L).map(i => ("g", i, 100L - i)) :+ (("solo", 9L, 1L))
    val out = graft.ext.Sampling.topFractionPerGroup(
      df.toDF("src", "id", "score"), "src", 600,
      Seq(col("score").desc, col("id")))
      .select("src", "id").as[(String, Long)].collect().toSet
    // g: n=5 -> keep 3 best scores (ids 1,2,3); solo: n=1 -> floor(0.6)=0
    assert(out === Set(("g", 1L), ("g", 2L), ("g", 3L)))
  }

  test("topFractionPerGroup: permille 1000 keeps everything") {
    val df = (1L to 4L).map(i => ("s", i)).toDF("src", "id")
    assert(graft.ext.Sampling.topFractionPerGroup(df, "src", 1000,
      Seq(col("id"))).count() === 4L)
  }

  test("mmrRerank picks the diverse candidate pure relevance would skip") {
    import graft.ext.VectorSearch
    // query direction ~ (1,0); candidates: two near-identical A vectors
    // with top relevance, one distinct B vector slightly less relevant.
    // Pure relevance top-2 = the two A clones; MMR must take A then B.
    val cands = Seq(
      (1L, 10L, 0.99, Array(1.0f, 0.01f)),
      (1L, 11L, 0.98, Array(1.0f, 0.02f)), // clone of 10
      (1L, 12L, 0.80, Array(0.5f, 0.87f))  // different direction
    ).toDF("query_id", "vec_id", "rel", "v")
    val out = VectorSearch.mmrRerank(cands, "query_id", "vec_id", "rel",
      "v", k = 2).select("pos", "vec_id").as[(Int, Long)].collect().sorted
    assert(out === Array((1, 10L), (2, 12L)))
  }

  test("mmrRerank: lambda=1000 reduces to relevance order; k caps at n") {
    import graft.ext.VectorSearch
    val cands = Seq(
      (1L, 10L, 0.9, Array(1.0f, 0.0f)),
      (1L, 11L, 0.8, Array(1.0f, 0.1f))
    ).toDF("query_id", "vec_id", "rel", "v")
    val out = VectorSearch.mmrRerank(cands, "query_id", "vec_id", "rel",
      "v", k = 5, lambdaPermille = 1000)
      .select("pos", "vec_id").as[(Int, Long)].collect().sorted
    assert(out === Array((1, 10L), (2, 11L))) // all candidates, rel order
  }

  test("mmrRerank: first pick's score is exactly lambda*rel") {
    import graft.ext.VectorSearch
    val cands = Seq((3L, 7L, 0.5, Array(1.0f, 0.0f)))
      .toDF("query_id", "vec_id", "rel", "v")
    val r = VectorSearch.mmrRerank(cands, "query_id", "vec_id", "rel",
      "v", k = 1).collect().head
    assert(r.getAs[Double]("mmr") === 0.25)
  }

  test("allocateTokenBudget: sqrt-weight shares and prefix fill") {
    import graft.ext.Sampling
    // A: 4 docs x 25 tokens (T=100, w=10); B: 4 x 100 (T=400, w=20)
    // budget 30 -> share A = 30*10//30 = 10, share B = 20: nothing
    // fits in A (first doc is 25 > 10), nothing in B (100 > 20)
    val df = ((1L to 4L).map(i => ("A", i, 25L)) ++
      (11L to 14L).map(i => ("B", i, 100L))).toDF("src", "id", "tok")
    assert(Sampling.allocateTokenBudget(df, "src", "id", "tok", 30L)
      .count() === 0L)
    // budget 300 -> share A = 100 (all of A), share B = 200 (2 docs)
    val out = Sampling.allocateTokenBudget(df, "src", "id", "tok", 300L)
      .select("src", "id").as[(String, Long)].collect()
    assert(out.count(_._1 == "A") === 4)
    assert(out.count(_._1 == "B") === 2)
    // B's kept pair is the first two in hash-then-id order
    val hashOrder = (11L to 14L).sortBy(i =>
      (((i % 1000000007L) * 2654435761L) % 1000L, i)).take(2).toSet
    assert(out.filter(_._1 == "B").map(_._2).toSet === hashOrder)
  }

  test("allocateTokenBudget: zero budget keeps nothing, single group gets all") {
    import graft.ext.Sampling
    val df = (1L to 3L).map(i => ("only", i, 10L)).toDF("src", "id", "tok")
    assert(Sampling.allocateTokenBudget(df, "src", "id", "tok", 0L)
      .count() === 0L)
    // one group: share = B*w div w = B = 30 -> all 3 docs fit exactly
    assert(Sampling.allocateTokenBudget(df, "src", "id", "tok", 30L)
      .count() === 3L)
  }

  test("winnowing: shared runs of k+w-1 tokens always share a fingerprint") {
    import graft.ext.TextDedup
    // k=3, w=4: guarantee threshold is 6 shared tokens. The same
    // 6-token passage embedded in different surroundings must collide.
    val passage = "alpha beta gamma delta epsilon zeta"
    val docs = Seq(
      (1L, s"intro words here $passage and a tail of more words"),
      (2L, s"totally different opening $passage closing remarks now")
    ).toDF("doc_id", "text")
    val fp = TextDedup.winnowingFingerprints(docs, "text", "doc_id")
    val byDoc = fp.collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(2)).toSet).toMap
    assert((byDoc(1L) intersect byDoc(2L)).nonEmpty,
      "guaranteed detection: shared 6-token run -> shared fingerprint")
  }

  test("winnowing: density ~2/(w+1), short docs emit nothing, rightmost ties") {
    import graft.ext.TextDedup
    // seeded-random words so the (ascii, length) token codes spread —
    // deterministic periodic patterns give quasi-monotone hash runs
    // where every window picks a fresh rightmost min (no compression)
    val rnd = new scala.util.Random(42)
    val long = (1 to 200).map { _ =>
      ('a' + rnd.nextInt(26)).toChar.toString * (1 + rnd.nextInt(8))
    }.mkString(" ")
    val docs = Seq((1L, long), (2L, "only five little words here"),
      (3L, "same same same same same same same same")).toDF("doc_id", "text")
    val fp = TextDedup.winnowingFingerprints(docs, "text", "doc_id")
      .collect().groupBy(_.getLong(0))
    // doc 1: 198 grams -> far fewer fingerprints than grams
    assert(fp(1L).length < 198 / 2)
    // doc 2: 5 tokens < k+w-1=6 -> no full window -> nothing
    assert(!fp.contains(2L))
    // doc 3: 8 identical tokens -> 6 identical gram hashes; every
    // window picks its RIGHTMOST position -> positions w..m = 4,5,6
    assert(fp(3L).map(_.getLong(1)).sorted.toSeq === Seq(4L, 5L, 6L))
  }

  test("winnowingMatches finds the planted passage pair, position-shifted") {
    import graft.ext.TextDedup
    val rnd = new scala.util.Random(7)
    def noise(n: Int) = (1 to n).map(_ =>
      ('a' + rnd.nextInt(26)).toChar.toString * (1 + rnd.nextInt(8)))
      .mkString(" ")
    val passage = noise(12) // 12 shared tokens >> k+w-1
    val docs = Seq(
      (1L, s"${noise(3)} $passage ${noise(20)}"),   // passage early
      (2L, s"${noise(25)} $passage ${noise(2)}"),   // passage late
      (3L, noise(40))                                // unrelated
    ).toDF("doc_id", "text")
    val pairs = TextDedup.winnowingMatches(docs, "text", "doc_id",
      minShared = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)),
      "position-shifted shared passage must match")
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
  }

  test("incremental winnow fold converges to the one-shot matcher; replays idempotent; cross probe sees the folded corpus") {
    import graft.ext.{IncrementalWinnow, TextDedup}
    val rnd = new scala.util.Random(13)
    def noise(n: Int) = (1 to n).map(_ =>
      ('a' + rnd.nextInt(26)).toChar.toString * (1 + rnd.nextInt(8)))
      .mkString(" ")
    val passage = noise(12)
    val docs = Seq(
      (1L, s"${noise(3)} $passage ${noise(20)}"),
      (2L, s"${noise(25)} $passage ${noise(2)}"),
      (3L, noise(40)),
      (4L, s"${noise(8)} $passage ${noise(6)}")
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("winc")
      .toString + "/fps"
    val b1 = docs.filter(col("doc_id") <= 2)
    val b2 = docs.filter(col("doc_id") > 2)
    IncrementalWinnow.fold(spark, dir, b1, "text", "doc_id", batchNo = 1L)
    IncrementalWinnow.fold(spark, dir, b2, "text", "doc_id", batchNo = 2L)
    def folded() = IncrementalWinnow.matches(spark, dir, minShared = 2)
      .orderBy("id_a", "id_b").collect().map(_.toSeq).toSeq
    val oneShot = TextDedup.winnowingMatches(docs, "text", "doc_id",
      minShared = 2).orderBy("id_a", "id_b").collect().map(_.toSeq).toSeq
    assert(folded() == oneShot) // the convergence gate
    assert(oneShot.map(_.take(2)).toSet.contains(Seq(1L, 2L)))
    // replaying batch 2 re-merges idempotently
    IncrementalWinnow.fold(spark, dir, b2, "text", "doc_id", batchNo = 2L)
    assert(folded() == oneShot)
    // ingest-time probe: a NEW doc carrying the passage matches the
    // folded corpus without pairing corpus docs with each other
    val probe = Seq((100L, s"${noise(5)} $passage ${noise(4)}"))
      .toDF("doc_id", "text")
    val cross = IncrementalWinnow.crossMatches(spark, dir, probe,
      "text", "doc_id", minShared = 2)
      .select("new_doc", "corpus_doc").as[(Long, Long)].collect().toSet
    assert(cross.map(_._1) == Set(100L))
    assert(cross.map(_._2).subsetOf(Set(1L, 2L, 4L)))
    assert(cross.nonEmpty)
    // RETRACTION: fingerprints are per-doc-pure, so dropping doc 2's
    // rows equals a fresh fold over the remaining docs exactly
    IncrementalWinnow.retractDocs(spark, dir,
      Seq(2L).toDF("doc_id"), "doc_id")
    val wantAfter = TextDedup.winnowingMatches(
        docs.filter(col("doc_id") =!= 2L), "text", "doc_id",
        minShared = 2).orderBy("id_a", "id_b").collect().map(_.toSeq).toSeq
    assert(folded() == wantAfter)
    assert(!folded().map(_.take(2)).toSet.contains(Seq(1L, 2L)))
  }

  test("winnowing xxhash64 variant: same guarantee, fewer collisions") {
    import graft.ext.TextDedup
    val rnd = new scala.util.Random(11)
    def noise(n: Int) = (1 to n).map(_ =>
      ('a' + rnd.nextInt(26)).toChar.toString * (1 + rnd.nextInt(8)))
      .mkString(" ")
    val passage = noise(10)
    val docs = Seq(
      (1L, s"${noise(5)} $passage ${noise(15)}"),
      (2L, s"${noise(18)} $passage"),
      (3L, noise(30))).toDF("doc_id", "text")
    val pairs = TextDedup.winnowingMatches(docs, "text", "doc_id",
      minShared = 2, portableHash = false)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    // both variants select the same POSITIONS per doc when their hash
    // orders agree on distinctness... weaker invariant that must hold:
    // the portable and strong variants emit the same per-doc count
    // ORDER of magnitude; here just assert both nonempty per doc
    val strong = TextDedup.winnowingFingerprints(docs, "text", "doc_id",
      portableHash = false).groupBy("doc").count().count()
    assert(strong === 3L)
  }

  test("simpsonDiversity: exact micro-units, NULL below two tokens") {
    val docs = Seq((1L, "a a b"), (2L, "x x x x"), (3L, "solo"),
      (4L, "w1 w2 w3 w4")).toDF("doc_id", "text")
    val out = TextAnalysis.simpsonDiversity(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(out(1L) === Some(1000000L - 2000000L / 6L)) // 666667... floor: 2*1e6 div 6 = 333333 -> 666667
    assert(out(2L) === Some(0L))       // one token repeated: zero diversity
    assert(out(3L) === None)           // n=1: no pair to draw
    assert(out(4L) === Some(1000000L)) // all distinct: full diversity
  }

  test("winnowingCrossMatches: new batch probes corpus, no corpus self-pairs") {
    import graft.ext.TextDedup
    val rnd = new scala.util.Random(23)
    def noise(n: Int) = (1 to n).map(_ =>
      ('a' + rnd.nextInt(26)).toChar.toString * (1 + rnd.nextInt(8)))
      .mkString(" ")
    val passage = noise(10)
    val corpus = Seq(
      (1L, s"${noise(4)} $passage ${noise(8)}"),
      (2L, s"${noise(4)} $passage ${noise(8)}"), // corpus dup pair (1,2)
      (3L, noise(30))).toDF("doc_id", "text")
    val fresh = Seq(
      (100L, s"${noise(15)} $passage"),
      (101L, noise(25))).toDF("doc_id", "text")
    val out = TextDedup.winnowingCrossMatches(fresh, corpus, "text",
      "doc_id", minShared = 2)
      .select("new_doc", "corpus_doc").as[(Long, Long)].collect().toSet
    assert(out.contains((100L, 1L)) && out.contains((100L, 2L)))
    // the corpus-internal dup (1,2) must NOT appear — never self-paired
    assert(out.forall(p => p._1 >= 100L && p._2 < 100L))
    assert(!out.exists(_._1 == 101L))
  }

  test("overCapFingerprints audits what the matcher would drop") {
    import graft.ext.TextDedup
    // one boilerplate passage shared by 5 docs, one pair-only passage
    val rnd = new scala.util.Random(41)
    def noise(n: Int) = (1 to n).map(_ =>
      ('a' + rnd.nextInt(26)).toChar.toString * (1 + rnd.nextInt(8)))
      .mkString(" ")
    val boiler = noise(10)
    val pairP = noise(10)
    val docs = ((1L to 5L).map(i => (i, s"${noise(3)} $boiler ${noise(3)}")) ++
      Seq((10L, s"$pairP ${noise(5)}"), (11L, s"${noise(5)} $pairP")))
      .toDF("doc_id", "text")
    val fps = TextDedup.winnowingFingerprints(docs, "text", "doc_id")
      .select(col("doc"), col("fp")).distinct()
    val over = TextDedup.overCapFingerprints(fps, maxPostings = 4)
      .collect()
    assert(over.nonEmpty, "5-doc boilerplate fp must be audited at cap 4")
    assert(over.forall(_.getLong(1) == 5L))
    // and the matcher at the same cap finds the pair but not the clique
    val pairs = TextDedup.winnowingMatchesFromFps(fps, minShared = 2,
      maxPostings = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((10L, 11L)))
    assert(pairs.forall(p => p._1 >= 10L))
  }

  test("sourceOverlap: disjoint sources produce no rows") {
    val docs = Seq((1L, "a b c", "A"), (2L, "d e f", "B"))
      .toDF("doc_id", "text", "source")
    assert(TextDedup.sourceOverlap(docs, "text", "source").count() === 0L)
  }

  test("incremental minhash fold converges to the one-shot verified matcher; replays idempotent; cross probe is candidate-bounded") {
    import graft.ext.IncrementalMinhash
    val rnd = new scala.util.Random(29)
    def noise(n: Int) = (1 to n).map(_ =>
      ('a' + rnd.nextInt(26)).toChar.toString * (1 + rnd.nextInt(8)))
      .mkString(" ")
    val base = noise(40)
    val docs = Seq(
      (1L, base),                        // near-dup pair (1, 2): one
      (2L, base + " zzz"),               //   appended token, j >> 0.5
      (3L, noise(40)),                   // unrelated
      (4L, noise(35)),                   // unrelated
      (5L, base + " qq ww")              // second near-dup of 1/2
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("minc")
      .toString + "/bands"
    IncrementalMinhash.fold(spark, dir, docs.filter(col("doc_id") <= 2),
      "text", "doc_id", batchNo = 1L)
    IncrementalMinhash.fold(spark, dir, docs.filter(col("doc_id") > 2),
      "text", "doc_id", batchNo = 2L)
    def folded() = IncrementalMinhash
      .matchesVerified(spark, dir, docs, "text", "doc_id")
      .orderBy("id_a", "id_b").collect().map(_.toSeq).toSeq
    val oneShot = TextDedup.minhashVerifiedPairs(docs, "text", "doc_id")
      .orderBy("id_a", "id_b").collect().map(_.toSeq).toSeq
    assert(folded() == oneShot) // the convergence gate
    assert(oneShot.map(_.take(2)).toSet == Set(Seq(1L, 2L), Seq(1L, 5L),
      Seq(2L, 5L)))
    // replaying batch 2 re-merges idempotently
    IncrementalMinhash.fold(spark, dir, docs.filter(col("doc_id") > 2),
      "text", "doc_id", batchNo = 2L)
    assert(folded() == oneShot)
    // the stored table is batch-split invariant: a one-batch fold into
    // a fresh dir stores the identical (doc, band, bucket) rows
    val dir1 = java.nio.file.Files.createTempDirectory("minc1")
      .toString + "/bands"
    IncrementalMinhash.fold(spark, dir1, docs, "text", "doc_id",
      batchNo = 1L)
    def rows(d: String) = spark.read.parquet(d)
      .select("doc", "band", "bucket")
      .as[(Long, Int, Long)].collect().toSet
    assert(rows(dir) == rows(dir1))
    // ingest-time probe: a NEW near-dup of doc 1 matches the folded
    // corpus; its output equals the one-shot cross restriction
    val probe = Seq((100L, base + " rr"), (101L, noise(40)))
      .toDF("doc_id", "text")
    val cross = IncrementalMinhash.crossProbe(spark, dir, probe, docs,
      "text", "doc_id")
      .select("id_new", "id_old").as[(Long, Long)].collect().toSet
    assert(cross.map(_._1) == Set(100L))
    assert(cross.map(_._2) == Set(1L, 2L, 5L))
    // STREAMING face: the same two batches as a file stream converge
    // to the identical matcher output, and a checkpointed restart
    // with no new files replays nothing
    val sroot = java.nio.file.Files.createTempDirectory("mincS").toString
    val sDir = sroot + "/bands"
    val ckp = sroot + "/ckp"
    docs.filter(col("doc_id") <= 2).coalesce(1)
      .write.parquet(sroot + "/f1")
    Thread.sleep(1100) // distinct mod times -> deterministic batch order
    docs.filter(col("doc_id") > 2).coalesce(1)
      .write.parquet(sroot + "/f2")
    def runStream(): Unit = {
      val st = spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", "1").parquet(sroot + "/f*")
      graft.util.StateFold.stream(st, ckp)((s, b, v) =>
          IncrementalMinhash.fold(s, sDir, b, "text", "doc_id", v))
        .awaitTermination(180000)
    }
    runStream()
    def sFolded() = IncrementalMinhash
      .matchesVerified(spark, sDir, docs, "text", "doc_id")
      .orderBy("id_a", "id_b").collect().map(_.toSeq).toSeq
    assert(sFolded() == oneShot)
    runStream() // checkpointed restart: no new files, no replay
    assert(sFolded() == oneShot)
  }

  test("incremental simhash fold converges to the one-shot pigeonhole matcher; probe reads no text; replays and LWW re-sign idempotent") {
    import graft.ext.IncrementalSimhash
    val rnd = new scala.util.Random(31)
    def noise(n: Int) = (1 to n).map(_ =>
      ('a' + rnd.nextInt(26)).toChar.toString * (1 + rnd.nextInt(8)))
      .mkString(" ")
    val base = noise(40)
    val docs = Seq(
      (1L, base),                        // near-dup pair (1, 2): one
      (2L, base + " zzz"),               //   flipped-ish token
      (3L, noise(40)),                   // unrelated
      (4L, noise(35)),                   // unrelated
      (5L, base + " qq")                 // second near-dup of 1
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("sinc")
      .toString + "/sigs"
    IncrementalSimhash.fold(spark, dir, docs.filter(col("doc_id") <= 2),
      "text", "doc_id", batchNo = 1L)
    IncrementalSimhash.fold(spark, dir, docs.filter(col("doc_id") > 2),
      "text", "doc_id", batchNo = 2L)
    def folded() = IncrementalSimhash.matches(spark, dir, maxHamming = 3)
      .orderBy("id_a", "id_b").collect().map(_.toSeq).toSeq
    val oneShot = TextDedup.simhashPairsPortable(docs, "text", "doc_id",
      maxHamming = 3)
      .orderBy("id_a", "id_b").collect().map(_.toSeq).toSeq
    assert(folded() == oneShot) // the convergence gate
    assert(oneShot.nonEmpty, "planted near-dups must pair")
    // replaying batch 2 re-merges idempotently
    IncrementalSimhash.fold(spark, dir, docs.filter(col("doc_id") > 2),
      "text", "doc_id", batchNo = 2L)
    assert(folded() == oneShot)
    // batch-split invariance: a one-batch fold stores identical rows
    val dir1 = java.nio.file.Files.createTempDirectory("sinc1")
      .toString + "/sigs"
    IncrementalSimhash.fold(spark, dir1, docs, "text", "doc_id",
      batchNo = 1L)
    def rows(d: String) = spark.read.parquet(d).select("doc", "sim")
      .as[(Long, Long)].collect().toSet
    assert(rows(dir) == rows(dir1))
    // a re-crawled doc whose text CHANGED is superseded by LWW even
    // though its new signature lands in a different part partition
    val dir2 = java.nio.file.Files.createTempDirectory("sinc2")
      .toString + "/sigs"
    IncrementalSimhash.fold(spark, dir2, docs, "text", "doc_id",
      batchNo = 1L)
    val recrawl = Seq((3L, base + " rewritten")).toDF("doc_id", "text")
    IncrementalSimhash.fold(spark, dir2, recrawl, "text", "doc_id",
      batchNo = 2L)
    val sig3 = spark.read.parquet(dir2).filter(col("doc") === 3L)
      .select("sim").as[Long].collect().toSeq
    val expect3 = recrawl
      .select(TextDedup.tokens(col("text")).as("toks"))
      .select(TextDedup.portableSimhashSig("toks").as("sim"))
      .as[Long].collect().head
    assert(sig3 == Seq(expect3), "stale signature must be superseded")
    // ingest-time probe: a NEW near-dup of doc 1 matches the folded
    // corpus from SIGNATURES ALONE, equal to the one-shot cross kernel
    val probe = Seq((100L, base + " rr"), (101L, noise(40)))
      .toDF("doc_id", "text")
    def crossSet(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "corpus_id", "hamming")
      .as[(Long, Long, Long)].collect().toSet
    val viaIndex = crossSet(IncrementalSimhash.crossProbe(spark, dir,
      probe, "text", "doc_id", maxHamming = 3))
    val viaKernel = crossSet(TextDedup.simhashCrossPortable(probe, docs,
      "text", "doc_id", maxHamming = 3))
    assert(viaIndex == viaKernel)
    assert(viaIndex.map(_._1).contains(100L))
    // RETRACTION: signatures are per-doc-pure — dropping docs 1 and 5
    // equals a fresh fold over the remaining docs exactly
    IncrementalSimhash.retractDocs(spark, dir,
      Seq(1L, 5L).toDF("doc_id"), "doc_id")
    assert(folded() == TextDedup.simhashPairsPortable(
        docs.filter(!col("doc_id").isin(1L, 5L)), "text", "doc_id",
        maxHamming = 3)
      .orderBy("id_a", "id_b").collect().map(_.toSeq).toSeq)
    assert(rows(dir) == rows(dir1) -- Set(1L, 5L).flatMap(i =>
      rows(dir1).filter(_._1 == i)))
    // streaming face: two file-batches fold to the same matcher output;
    // checkpointed restart replays nothing
    val sroot = java.nio.file.Files.createTempDirectory("sincS").toString
    val sDir = sroot + "/sigs"
    val ckp = sroot + "/ckp"
    docs.filter(col("doc_id") <= 2).coalesce(1)
      .write.parquet(sroot + "/f1")
    Thread.sleep(1100) // distinct mod times -> deterministic batch order
    docs.filter(col("doc_id") > 2).coalesce(1)
      .write.parquet(sroot + "/f2")
    def runStream(): Unit = {
      val st = spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", "1").parquet(sroot + "/f*")
      graft.util.StateFold.stream(st, ckp)((s, b, v) =>
          IncrementalSimhash.fold(s, sDir, b, "text", "doc_id", v))
        .awaitTermination(180000)
    }
    runStream()
    def sFolded() = IncrementalSimhash.matches(spark, sDir, maxHamming = 3)
      .orderBy("id_a", "id_b").collect().map(_.toSeq).toSeq
    assert(sFolded() == oneShot)
    runStream() // checkpointed restart: no new files, no replay
    assert(sFolded() == oneShot)
  }
}
