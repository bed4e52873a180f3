package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, RangeJoin, Similarity, TextStats}

/** Near-dup + similarity + band-join kernels. */
class DedupSimilaritySpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("dedupParagraphs: keep-first by (id, pos), reassembly, empty-doc spine") {
    val docs = Seq(
      (1L, "shared banner\nunique one\nshared banner"), // within-doc repeat
      (2L, "shared banner\nunique two"),
      (3L, "shared banner"),                            // loses everything
      (4L, " \n  \n"),                                  // only blanks → 0 paras
      (5L, "unique one\nown tail")                      // cross-doc repeat of doc 1's para
    ).toDF("doc_id", "text")
    val got = Dedup.dedupParagraphs(docs, "doc_id", "text", "\n")
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == (("shared banner\nunique one", 3L, 2L)))
    assert(got(2L) == (("unique two", 2L, 1L)))
    assert(got(3L) == (("", 1L, 0L)))
    assert(got(4L) == (("", 0L, 0L)))
    assert(got(5L) == (("own tail", 2L, 1L)))
    assert(got.size == 5)
  }

  test("jaccardPairs computes exact token-set Jaccard") {
    val docs = Seq(
      (1L, "a b c d"), (2L, "a b c e"), (3L, "x y z w")
    ).toDF("doc_id", "text")
    val got = Dedup.jaccardPairs(docs, "doc_id", split(col("text"), " "), 0.5)
      .as[(Long, Long, Double)].collect().toSet
    // |{a,b,c}| / |{a,b,c,d,e}| = 3/5
    assert(got == Set((1L, 2L, 0.6)))
  }

  test("minhash signatures: identical token sets → identical signatures") {
    val df = Seq((1L, "a b c"), (2L, "c b a"), (3L, "q r s")).toDF("id", "text")
    val sigs = df.select(col("id"),
      Dedup.minhashSignature(array_distinct(split(col("text"), " ")), 4).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(sigs(1L) == sigs(2L)) // order-insensitive
    assert(sigs(1L) != sigs(3L))
    assert(sigs(1L).length == 4)
  }

  test("lshBuckets: identical signatures share every band bucket") {
    val df = Seq((1L, "a b c"), (2L, "a b c")).toDF("id", "text")
    val sigs = df.select(col("id"),
      Dedup.minhashSignature(split(col("text"), " "), 4).as("sig"))
    val buckets = Dedup.lshBuckets(sigs, "id", col("sig"), bands = 2, rowsPerBand = 2)
    val byId = buckets.as[(Long, Int, String)].collect().groupBy(_._1)
    assert(byId(1L).map(t => (t._2, t._3)).toSet == byId(2L).map(t => (t._2, t._3)).toSet)
    assert(byId(1L).length == 2) // one row per band
  }

  test("lshCandidates pairs small buckets and drops oversized ones") {
    // 4 identical docs (one giant bucket) + 2 identical docs (small bucket)
    val docs = (Seq.fill(4)("a b c") ++ Seq.fill(2)("x y z")).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val sigs = docs.select(col("id"),
      Dedup.minhashSignature(split(col("text"), " "), 4).as("sig"))
    val buckets = Dedup.lshBuckets(sigs, "id", col("sig"), bands = 2, rowsPerBand = 2)
    val capped = Dedup.lshCandidates(buckets, maxBucketSize = 3)
      .as[(Long, Long)].collect().toSet
    assert(capped == Set((4L, 5L))) // the 4-doc bucket exceeded the cap
    val uncapped = Dedup.lshCandidates(buckets, maxBucketSize = 10).count()
    assert(uncapped == 6 + 1) // C(4,2) + C(2,2)
  }

  test("simhash: equal docs equal, disjoint docs differ") {
    val df = Seq((1L, "a b c a"), (2L, "a b c a"), (3L, "p q r s")).toDF("id", "text")
    val got = df.select(col("id"), Dedup.simhashOf(Dedup.tokenHashes(split(col("text"), " "))))
      .as[(Long, Long)].collect().toMap
    assert(got(1L) == got(2L))
    assert(got(1L) != got(3L))
    assert(got(1L) >= 0L && got(1L) < (1L << 32))
  }

  test("cosine: orthogonal → 0, identical → 1") {
    val df = Seq(
      (Seq(1f, 0f), Seq(0f, 1f)),
      (Seq(1f, 1f), Seq(1f, 1f))
    ).toDF("a", "b")
    val got = df.select(round(Similarity.cosine(col("a"), col("b")), 6))
      .as[Double].collect()
    assert(got(0) == 0.0)
    assert(got(1) == 1.0)
  }

  test("cosineTopK returns k best with deterministic tiebreak") {
    val vecs = Seq(
      (1L, Seq(1f, 0f)), (2L, Seq(0.9f, 0.1f)), (3L, Seq(0f, 1f)), (4L, Seq(1f, 0f))
    ).toDF("vec_id", "embedding")
    val q = Seq(Tuple1(Seq(1f, 0f))).toDF("qvec")
    val got = Similarity.cosineTopK(vecs, "vec_id", "embedding", q, "qvec", k = 2)
      .select("vec_id").as[Long].collect().toSeq
    assert(got == Seq(1L, 4L)) // both score 1.0; id asc breaks the tie
  }

  test("ivfAssign(keyDims=1) buckets by dominant signed dimension") {
    val df = Seq(
      (1L, Seq(0.9f, 0.1f)),   // dim 1 positive dominant
      (2L, Seq(-0.8f, 0.2f)),  // dim 1 negative dominant
      (3L, Seq(0.1f, 0.7f)),   // dim 2 positive dominant
      (4L, Seq(0.85f, 0.05f))  // same dominant dim as vec 1
    ).toDF("id", "vec")
    // keyDims=1, probeDims=2: key = (b + 2), b ∈ {-2,-1,1,2} signed dim.
    val got = df.select(col("id"), Similarity.ivfAssign(col("vec"), 2, keyDims = 1).as("b"))
      .as[(Long, Int)].collect().toMap
    assert(got(1L) == 3 && got(2L) == 1 && got(3L) == 4) // +1→3, -1→1, +2→4
    assert(got(4L) == got(1L)) // similar vectors co-bucket
  }

  test("ivfAssign composite key separates same-argmax vectors by runner-up") {
    val df = Seq(
      (1L, Seq(0.9f, 0.3f, 0.1f)),  // top dims (+1, +2)
      (2L, Seq(0.9f, 0.1f, 0.3f)),  // top dims (+1, +3) — different bucket
      (3L, Seq(0.8f, 0.4f, 0.0f)),  // top dims (+1, +2) — same as vec 1
      (4L, Seq(0.9f, -0.3f, 0.1f))  // top dims (+1, -2) — different again
    ).toDF("id", "vec")
    val got = df.select(col("id"), Similarity.ivfAssign(col("vec"), 3).as("b"))
      .as[(Long, Int)].collect().toMap
    assert(got(1L) == got(3L))
    assert(Set(got(1L), got(2L), got(4L)).size == 3)
  }

  test("ivfAssign yields NULL (not an ANSI error) on short embeddings") {
    val df = Seq((1L, Seq(0.9f, 0.1f, 0.2f)), (2L, Seq(0.5f))).toDF("id", "vec")
    val got = df.select(col("id"), Similarity.ivfAssign(col("vec"), 3).as("b"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
    assert(got(1L).isDefined && got(2L).isEmpty)
  }

  test("capBuckets drops oversized buckets before candidate generation") {
    val df = (Seq.fill(5)(10) ++ Seq.fill(2)(20)).zipWithIndex
      .map { case (b, i) => (i.toLong, b) }.toDF("id", "bucket")
    val kept = Similarity.capBuckets(df, "bucket", maxBucketSize = 3)
      .select("bucket").as[Int].collect()
    assert(kept.toSet == Set(20) && kept.length == 2) // 5-row bucket dropped
  }

  test("bandJoin equals the naive theta join") {
    val left = Seq((1L, 10.2), (2L, 11.7), (3L, 25.0)).toDF("lid", "value")
    val right = Seq((100L, 10.9), (200L, 24.1)).toDF("rid", "center")
    val got = RangeJoin.bandJoin(left, "value", right, "center", 1.0)
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    val naive = left.crossJoin(right)
      .filter(col("value") >= col("center") - 1.0 && col("value") <= col("center") + 1.0)
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    assert(got == naive)
    assert(got == Set((1L, 100L), (2L, 100L), (3L, 200L)))
  }

  test("bigrams builds adjacent-token shingles") {
    val got = Seq("w x y z").toDF("t")
      .select(TextStats.bigrams(split(col("t"), " "))).as[Seq[String]].head()
    assert(got == Seq("w_x", "x_y", "y_z"))
  }

  test("ngrams generalizes bigrams; short arrays yield []") {
    val df = Seq("w x y z", "a b").toDF("t")
      .select(TextStats.ngrams(split(col("t"), " "), 3).as("g"))
    assert(df.as[Seq[String]].collect().toSeq ==
      Seq(Seq("w_x_y", "x_y_z"), Seq.empty))
    val uni = Seq("p q").toDF("t")
      .select(TextStats.ngrams(split(col("t"), " "), 1)).as[Seq[String]].head()
    assert(uni == Seq("p", "q"))
  }

  test("decontaminate flags train docs overlapping the test corpus") {
    // test doc carries grams a_b_c, b_c_d; train doc 1 shares both
    // (frac 2/3), doc 2 shares none, doc 3 shares one of four (0.25).
    val train = Seq(
      (1L, "a b c d"),          // grams: a_b_c, b_c_d → overlap 2/2
      (2L, "p q r s"),          // no overlap
      (3L, "x a b c y z")       // grams: x_a_b, a_b_c, b_c_y, c_y_z → 1/4
    ).toDF("doc_id", "text")
    val test = Seq((10L, "a b c d e")).toDF("doc_id", "text")
    def grams = TextStats.ngrams(split(col("text"), " "), 3)
    val got = Dedup.decontaminate(train, test, "doc_id", grams,
      minFrac = 0.25, maxDfFrac = 1.0)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got == Set((1L, 2L, 2L, 1.0), (3L, 1L, 4L, 0.25)))
  }

  test("centroids sums exact millionths per bucket; centroidMeans divides") {
    val df = Seq(
      (1L, 10, Seq(1.0f, 2.0f)),
      (2L, 10, Seq(3.0f, 4.0f)),
      (3L, 20, Seq(0.5f, -0.5f))).toDF("vec_id", "bucket", "embedding")
    val c = Similarity.centroids(df, col("bucket"), col("embedding"))
    val got = c.as[(Int, Long, Seq[Long])].collect()
      .map { case (b, n, s) => b -> ((n, s)) }.toMap
    assert(got == Map(
      10 -> ((2L, Seq(4000000L, 6000000L))),
      20 -> ((1L, Seq(500000L, -500000L)))))
    val means = Similarity.centroidMeans(c)
      .as[(Int, Long, Seq[Double])].collect()
      .map { case (b, _, m) => b -> m }.toMap
    assert(means(10) == Seq(2.0, 3.0))
    assert(means(20) == Seq(0.5, -0.5))
  }

  test("kmeans separates two obvious clusters deterministically") {
    val df = Seq(
      (1L, Seq(0.0f, 0.1f)), (2L, Seq(0.1f, 0.0f)), (3L, Seq(0.05f, 0.05f)),
      (4L, Seq(5.0f, 5.1f)), (5L, Seq(5.1f, 5.0f))).toDF("vec_id", "embedding")
    val got = Similarity.kmeans(df, "vec_id", "embedding", k = 2)
      .as[(Long, Int)].collect().toMap
    assert(got(1) == got(2) && got(2) == got(3))
    assert(got(4) == got(5))
    assert(got(1) != got(4))
    // deterministic: same input → same assignment (no RNG anywhere)
    val again = Similarity.kmeans(df, "vec_id", "embedding", k = 2)
      .as[(Long, Int)].collect().toMap
    assert(again == got)
  }

  test("annSearch: probe-ordered IVF recovers most brute-force neighbors from a fraction of the corpus") {
    val vecs = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val query = vecs.filter(col("vec_id") === 1)
      .select(col("embedding").as("qvec"))
    val brute = Similarity.cosineTopK(vecs, "vec_id", "embedding",
      query, "qvec", k = 10).select("vec_id").as[Long].collect().toSet
    val ann = Similarity.annSearch(vecs, "vec_id", "embedding",
      query, "qvec", probeDims = 8, nprobe = 24, k = 10)
      .select("vec_id").as[Long].collect().toSet
    // probing 24 of ~200 buckets must still recover most true neighbors
    val recall = brute.intersect(ann).size / 10.0
    assert(recall >= 0.5, s"recall $recall too low; ann=$ann brute=$brute")
    // and the self-match (vec 1 vs itself, cosine 1.0) is always found
    assert(ann.contains(1L))
  }

  test("annSearchBatch: one corpus scan answers every query like per-query annSearch") {
    val vecs = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val qids = Seq(1L, 7L, 42L)
    val queries = vecs.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val batch = Similarity.annSearchBatch(vecs, "vec_id", "embedding",
      queries, "qid", "qvec", probeDims = 8, nprobe = 24, k = 10)
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).toSet).toMap
    qids.foreach { q =>
      val single = Similarity.annSearch(vecs, "vec_id", "embedding",
        vecs.filter(col("vec_id") === q).select(col("embedding").as("qvec")),
        "qvec", probeDims = 8, nprobe = 24, k = 10)
        .as[(Long, Double)].collect().toSet
      assert(batch(q) == single, s"batch != single for query $q")
      // the self-match (cosine 1.0) always survives probing
      assert(batch(q).map(_._1).contains(q))
    }
  }

  test("annSearchBatch drops NULL qids and collapses duplicate qids deterministically") {
    val vecs = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val clean = vecs.filter(col("vec_id").isin(1L, 7L))
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    // duplicate qid 1 with a DIFFERENT vector (vec 42's), plus a null qid:
    // both used to share qid 1's row_number partition and corrupt its
    // probe selection (ADVICE r7); now the array-minimal vector wins and
    // the null row is dropped
    val dirty = clean
      .unionByName(vecs.filter(col("vec_id") === 42)
        .select(lit(1L).as("qid"), col("embedding").as("qvec")))
      .unionByName(vecs.filter(col("vec_id") === 42)
        .select(lit(null).cast("bigint").as("qid"), col("embedding").as("qvec")))
    def run(q: org.apache.spark.sql.DataFrame) =
      Similarity.annSearchBatch(vecs, "vec_id", "embedding",
        q, "qid", "qvec", probeDims = 8, nprobe = 8, k = 5)
        .as[(Long, Long, Double)].collect().toSet
    val expectedQ1 = {
      // which of vec-1's / vec-42's embeddings is array-minimal decides
      // which duplicate survives — compute it, then expect that single run
      val v1 = vecs.filter(col("vec_id") === 1)
        .select("embedding").as[Seq[Float]].head()
      val v42 = vecs.filter(col("vec_id") === 42)
        .select("embedding").as[Seq[Float]].head()
      val winner = if (Ordering.Implicits.seqOrdering[Seq, Float]
        .lteq(v1, v42)) 1L else 42L
      run(vecs.filter(col("vec_id") === winner)
        .select(lit(1L).as("qid"), col("embedding").as("qvec")))
    }
    val got = run(dirty)
    assert(got.filter(_._1 == 1L) == expectedQ1)
    // the null-qid row vanished rather than emitting a null result group
    assert(got.map(_._1) == Set(1L, 7L))
    // qid 7 is untouched by the dirt
    assert(got.filter(_._1 == 7L) == run(clean).filter(_._1 == 7L))
  }

  test("annSearchBatch plans one rank window per side (WindowGroupLimit top-k)") {
    val vecs = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val queries = vecs.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val plan = Similarity.annSearchBatch(vecs, "vec_id", "embedding",
      queries, "qid", "qvec", probeDims = 8, nprobe = 4, k = 5)
      .queryExecution.executedPlan.toString
    // per-query top-k must run as a group-limit window, not a global sort
    assert(plan.contains("WindowGroupLimit"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("incrementalEmbeddingCandidates probes stored buckets, verifies by cosine") {
    // sf0.01 (2k vectors): sf0.001's ~1 vector per bucket leaves no
    // cross pairs to verify against
    val vecs = Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    val bucketed = vecs
      .withColumn("bucket", Similarity.ivfAssign(col("embedding"), 8))
      .filter(col("bucket").isNotNull)
    val state = bucketed.filter(col("vec_id") % 10 =!= 0)
      .select("vec_id", "bucket", "embedding")
    val fresh = vecs.filter(col("vec_id") % 10 === 0)
      .select("vec_id", "embedding")
    // accept-all threshold: the candidate-set equality must not depend
    // on how many high-cosine pairs this corpus happens to contain
    val got = Similarity.incrementalEmbeddingCandidates(state, fresh,
      "vec_id", "embedding", probeDims = 8, maxBucketSize = 1000,
      minCosine = -1.0)
      .as[(Long, Long, Double)].collect().toSet
    // ground truth: every same-bucket cross pair with its cosine
    val expected = bucketed.filter(col("vec_id") % 10 === 0).as("f")
      .join(bucketed.filter(col("vec_id") % 10 =!= 0).as("s"), "bucket")
      .select(col("f.vec_id").as("a"), col("s.vec_id").as("b"),
        round(Similarity.cosine(col("f.embedding"), col("s.embedding")), 6)
          .as("c"))
      .as[(Long, Long, Double)].collect().toSet
    assert(got == expected)
    assert(got.nonEmpty) // the corpus really exercises the path
    // the threshold actually filters: raising it keeps a strict subset
    val tight = Similarity.incrementalEmbeddingCandidates(state, fresh,
      "vec_id", "embedding", probeDims = 8, maxBucketSize = 1000,
      minCosine = 0.3)
      .as[(Long, Long, Double)].collect().toSet
    assert(tight == got.filter(_._3 >= 0.3))
    // a re-delivered id (present in both sides) never pairs with itself
    val redelivered = Similarity.incrementalEmbeddingCandidates(
      bucketed.select("vec_id", "bucket", "embedding"),
      vecs.select("vec_id", "embedding"),
      "vec_id", "embedding", probeDims = 8, maxBucketSize = 1000,
      minCosine = 0.999999)
      .filter(col("id_new") === col("id_old")).count()
    assert(redelivered == 0)
  }

  test("kmeans: duplicate vectors don't waste seeds; ragged rows are dropped") {
    val df = Seq(
      (1L, Seq(0.0f, 0.0f)), (2L, Seq(0.0f, 0.0f)), // duplicate vector
      (3L, Seq(9.0f, 9.0f)),
      (4L, Seq(1.0f)), // wrong dimension → dropped, not cluster-0 noise
      (5L, Seq(0.1f, 0.1f))).toDF("vec_id", "embedding")
    val got = Similarity.kmeans(df, "vec_id", "embedding", k = 2)
      .as[(Long, Int)].collect().toMap
    assert(!got.contains(4L))
    // distinct-vector seeding gives (9,9) its own seed despite the dup
    assert(got(1) == got(2) && got(1) == got(5))
    assert(got(3) != got(1))
  }

  test("kmeans seeding hash-samples the corpus instead of shuffling it whole") {
    val vecs = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")
    // the sample filter is row-local and sits BEFORE the dedup aggregate:
    // the groupBy(vec) shuffle only ever sees the hash-sampled subset
    val sampled = Similarity.seedCandidates(vecs, "vec_id", "embedding",
      k = 4, mod = 8L)
    val plan = sampled.queryExecution.executedPlan.toString
    assert(plan.contains("xxhash64"), s"no hash-sample filter in plan:\n$plan")
    // the sample is a strict subset of the corpus (mod=8 ≈ 1/8th)
    val sampleSize = vecs
      .filter(pmod(xxhash64(col("embedding")), lit(8L)) === 0).count()
    val total = vecs.count()
    assert(sampleSize > 0 && sampleSize < total / 2,
      s"sample $sampleSize of $total is not a subset")
    // seeds are pinned: value-hash sampling + min-id dedup is immune to
    // partitioning and row order, so two runs over reshuffled input
    // produce byte-identical seed vectors
    val seeds1 = sampled.as[Seq[Float]].collect().toSeq
    val seeds2 = Similarity.seedCandidates(vecs.repartition(7), "vec_id",
      "embedding", k = 4, mod = 8L).as[Seq[Float]].collect().toSeq
    assert(seeds1.nonEmpty && seeds1 == seeds2)
    // mod<=1 is the exact full-dedup fallback — every distinct vector is
    // a candidate, so a tiny corpus still fills its k seeds
    val tiny = Seq((1L, Seq(0.0f, 0.0f)), (2L, Seq(0.0f, 0.0f)),
      (3L, Seq(9.0f, 9.0f))).toDF("vec_id", "embedding")
    val full = Similarity.seedCandidates(tiny, "vec_id", "embedding",
      k = 2, mod = 1L).as[Seq[Float]].collect().toSeq
    assert(full == Seq(Seq(0.0f, 0.0f), Seq(9.0f, 9.0f)))
  }

  test("kmeans is partitioning/row-order invariant (value-based seeding " +
    "+ row-local argmin + exact integer centroid sums)") {
    val vecs = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")
    val a = Similarity.kmeans(vecs, "vec_id", "embedding", k = 4,
      maxIter = 2, seedLevels = Seq(1L))
      .as[(Long, Int)].collect().sortBy(_._1).toSeq
    val b = Similarity.kmeans(vecs.repartition(7).sortWithinPartitions(
        col("embedding").getItem(3)), "vec_id", "embedding", k = 4,
      maxIter = 2, seedLevels = Seq(1L))
      .as[(Long, Int)].collect().sortBy(_._1).toSeq
    assert(a.nonEmpty && a == b)
    assert(a.map(_._2).distinct.forall(c => c >= 0 && c < 4))
  }

  test("kmeans seedLevels=Seq(1) (q164's oracle-replayable regime) " +
    "equals the default ladder when sampling falls through to full dedup") {
    // 8 distinct vectors: the 1024- and 32-level samples are (almost
    // surely) too sparse for k=3, so the default ladder lands on the
    // same exact full-dedup seeding Seq(1) pins directly
    val df = (0L until 8L).map(i =>
      (i, Seq(i.toFloat, (i * i % 7).toFloat))).toDF("vec_id", "embedding")
    val viaLadder = Similarity.kmeans(df, "vec_id", "embedding", k = 3,
      maxIter = 3).as[(Long, Int)].collect().toMap
    val viaExact = Similarity.kmeans(df, "vec_id", "embedding", k = 3,
      maxIter = 3, seedLevels = Seq(1L)).as[(Long, Int)].collect().toMap
    assert(viaExact.size == 8 && viaLadder == viaExact)
  }

  test("incrementalLshCandidates probes fresh against capped state buckets") {
    val state = Seq((1L, 0, "b1"), (2L, 0, "b1"), (3L, 0, "b2"), (4L, 1, "b1"))
      .toDF("doc_id", "band", "bucket")
    val fresh = Seq((10L, 0, "b1"), (11L, 0, "b3"), (12L, 1, "b1"))
      .toDF("doc_id", "band", "bucket")
    val got = Dedup.incrementalLshCandidates(state, fresh, maxBucketSize = 2)
      .as[(Long, Long)].collect().toSet
    assert(got == Set((10L, 1L), (10L, 2L), (12L, 4L)))
    // cap=1 drops the 2-member (0,b1) state bucket; fresh bucket sizes
    // are irrelevant (the cap is a state-side mega-bucket guard)
    val capped = Dedup.incrementalLshCandidates(state, fresh, maxBucketSize = 1)
      .as[(Long, Long)].collect().toSet
    assert(capped == Set((12L, 4L)))
  }

  test("clusterPairs: chain components close transitively; singletons self-cluster") {
    // chain 1-2-3 (no direct 1-3 edge), pair 5-6, singleton 9
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val nodes = Seq(1L, 2L, 3L, 5L, 6L, 9L).toDF("doc_id")
    val got = Dedup.clusterPairs(pairs, "id_a", "id_b", nodes, "doc_id")
      .as[(Long, Long, Boolean)].collect().toSet
    assert(got == Set(
      (1L, 1L, true), (2L, 1L, false), (3L, 1L, false),
      (5L, 5L, true), (6L, 5L, false), (9L, 9L, true)))
  }

  test("clusterPairs maxIter bounds propagation depth") {
    // a 4-node path: min label 1 needs 3 neighbor hops to reach node 4 —
    // one round does a neighbor hop (4→3) plus a pointer jump through
    // node 3's fresh label (3→2), so maxIter=1 leaves node 4 at 2.
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("id_a", "id_b")
    val nodes = Seq(1L, 2L, 3L, 4L).toDF("doc_id")
    val one = Dedup.clusterPairs(pairs, "id_a", "id_b", nodes, "doc_id",
      maxIter = 1).as[(Long, Long, Boolean)].collect()
      .map { case (i, c, _) => (i, c) }.toMap
    assert(one(4L) == 2L) // one hop + one jump done, not yet at 1
    val full = Dedup.clusterPairs(pairs, "id_a", "id_b", nodes, "doc_id")
      .as[(Long, Long, Boolean)].collect()
    assert(full.forall(_._2 == 1L))
  }

  test("semDedup: greedy keep-min-id within clusters, capped clusters skip pruning") {
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f)),   // cluster 0 (seed)
      (1L, Seq(0.0f, 1.0f)),   // cluster 1 (seed)
      (2L, Seq(2.0f, 0.0f)),   // cluster 0, cos(v0)=1 → dropped
      (3L, Seq(0.1f, 0.95f)),  // cluster 1, cos(v1)≈0.994 → dropped
      (4L, Seq(0.7f, 0.7f))    // cos ≈ 0.707 < τ with everything → keeps
    ).toDF("vec_id", "embedding")
    val got = Similarity.semDedup(vecs, "vec_id", "embedding",
      vecs.filter(col("vec_id") < 2), "vec_id", "embedding",
      k = 2, tau = 0.95, maxClusterSize = 100)
      .as[(Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(0L)._2 && got(1L)._2 && got(4L)._2)
    assert(!got(2L)._2 && !got(3L)._2)
    assert(got(0L)._1 == 0L && got(2L)._1 == 0L)
    assert(got(1L)._1 == 1L && got(3L)._1 == 1L)
    assert(got.size == 5)

    // cap: an oversized ("all alike") cluster skips the pair stage whole
    val alike = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(1.0f, 0.0f)), (2L, Seq(1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val capped = Similarity.semDedup(alike, "vec_id", "embedding",
      alike.filter(col("vec_id") < 1), "vec_id", "embedding",
      k = 1, tau = 0.95, maxClusterSize = 2)
      .as[(Long, Long, Boolean)].collect()
    assert(capped.length == 3 && capped.forall(_._3))
  }

  test("decontaminate df-cap drops boilerplate grams from the test set") {
    // gram a_b_c appears in BOTH train docs (df 2/2 = 1.0 > 0.5 cap) →
    // treated as boilerplate, so nothing is flagged.
    val train = Seq((1L, "a b c"), (2L, "a b c")).toDF("doc_id", "text")
    val test = Seq((10L, "a b c")).toDF("doc_id", "text")
    def grams = TextStats.ngrams(split(col("text"), " "), 3)
    val flagged = Dedup.decontaminate(train, test, "doc_id", grams,
      minFrac = 0.1, maxDfFrac = 0.5)
    assert(flagged.isEmpty)
  }

  test("pqSearch: m codes per vector; query's cluster outranks the far cluster") {
    val near = (1L to 3L).map(i => (i, Seq.fill(8)(1.0f + i * 0.01f)))
    val far = (10L to 12L).map(i => (i, Seq.fill(8)(-1.0f - i * 0.01f)))
    val vecs = (near ++ far).toDF("vec_id", "embedding")
    val query = Seq(Tuple1(Seq.fill(8)(1.0f))).toDF("qvec")
    val codes = Similarity.pqCodes(vecs, "vec_id", "embedding",
      m = 2, subDim = 4, probeDims = 4)
    assert(codes.count() == 12) // 6 vectors × 2 subspaces, none dropped
    val got = Similarity.pqSearch(vecs, "vec_id", "embedding", query, "qvec",
      k = 6, m = 2, subDim = 4, probeDims = 4)
      .as[(Long, Double)].collect()
    assert(got.length == 6)
    // ADC distance to the all-positive centroid beats the all-negative one
    assert(got.take(3).map(_._1).toSet == Set(1L, 2L, 3L))
    assert(got.drop(3).map(_._1).toSet == Set(10L, 11L, 12L))
    assert(got.map(_._2).sameElements(got.map(_._2).sorted))
    // within a cluster all vectors share the code → identical ADC
    // distance → the engine-portable vec_id tie-break orders them
    assert(got.take(3).map(_._1).sameElements(Array(1L, 2L, 3L)))
  }

  test("pqSearchWide matches pqSearch exactly (map-only twin parity)") {
    val vecs = (1L to 40L)
      .map(i => (i, (0 until 8).map(j => ((i * 7 + j * 3) % 11 - 5).toFloat)))
      .toDF("vec_id", "embedding")
    val query = vecs.filter(col("vec_id") === 5)
      .select(col("embedding").as("qvec"))
    def run(f: (org.apache.spark.sql.DataFrame, String, String,
                org.apache.spark.sql.DataFrame, String, Int, Int, Int, Int)
                => org.apache.spark.sql.DataFrame) =
      f(vecs, "vec_id", "embedding", query, "qvec", 15, 2, 4, 4)
        .as[(Long, Double)].collect().toSeq
    val long = run(Similarity.pqSearch(_, _, _, _, _, _, _, _, _))
    val wide = run(Similarity.pqSearchWide(_, _, _, _, _, _, _, _, _))
    assert(long == wide)
    assert(long.nonEmpty)
  }

  test("ivfPqSearch: nprobe=∞ degenerates to the flat PQ ranking; a real " +
    "nprobe cut keeps recall against exact L2 (VERDICT r13 #4)") {
    val vecs = (1L to 200L)
      .map(i => (i, (0 until 8).map(j =>
        (((i * 13 + j * 7) % 23).toInt - 11).toFloat / 4f)))
      .toDF("vec_id", "embedding")
    val query = vecs.filter(col("vec_id") === 9)
      .select(col("embedding").as("qvec"))
    // with every bucket probed, IVF×PQ must equal the flat wide-PQ
    // ranking over coarse-bucketable vectors (here: all of them)
    val flat = Similarity.pqSearchWide(vecs, "vec_id", "embedding",
      query, "qvec", 20, m = 2, subDim = 4, probeDims = 4)
      .as[(Long, Double)].collect().toSeq
    val all = Similarity.ivfPqSearch(vecs, "vec_id", "embedding",
      query, "qvec", coarseDims = 4, nprobe = 1000000, k = 20,
      m = 2, subDim = 4, probeDims = 4)
      .as[(Long, Double)].collect().toSeq
    assert(all == flat)
    // a genuine nprobe cut: recall@20 vs EXACT L2 top-20 stays useful
    // while the probed population is a strict corpus subset
    val probed = Similarity.ivfPqSearch(vecs, "vec_id", "embedding",
      query, "qvec", coarseDims = 4, nprobe = 6, k = 20,
      m = 2, subDim = 4, probeDims = 4)
      .as[(Long, Double)].collect().toSeq
    assert(probed.length == 20)
    val exact = vecs.crossJoin(query)
      .select(col("vec_id"),
        aggregate(zip_with(col("embedding"), col("qvec"),
          (x, y) => (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double"))),
          lit(0.0), (s, x) => s + x).as("d2"))
      .orderBy(col("d2").asc, col("vec_id").asc).limit(20)
      .as[(Long, Double)].collect().map(_._1).toSet
    val recall = probed.map(_._1).count(exact.contains) / 20.0
    assert(recall >= 0.5, s"IVF×PQ recall@20 vs exact L2 fell to $recall")
  }

  test("ivfPqSearchTrained: kmeans-trained coarse routing never loses " +
    "recall@20 to the hash-assigned variant at equal nprobe, and wins " +
    "outright when cluster structure crosses hash-bucket boundaries " +
    "(VERDICT r14 #2)") {
    // 10 true clusters whose centers carry tie-heavy equal-magnitude
    // components, so member perturbations flip the dominant-dim ORDER —
    // members of one true cluster scatter across ivfAssign's hash
    // buckets (its worst case) while kmeans recovers the real cells.
    // Probing the single nearest cell is the discriminating setting:
    // the trained router sends the query to its true cluster, the hash
    // router can't (measured 0.65 vs 0.50 recall@20; at wider nprobe
    // both converge to the PQ-coding ceiling of this fixture, 0.50 —
    // extra probes only add ADC-confusable impostors).
    val vecs = (1L to 200L).map { i =>
      val c = (i % 10).toInt
      (i, (0 until 8).map { d =>
        val center = ((c * 7 + d * 3) % 5 - 2).toFloat
        val pert = (((i * 11 + d * 5) % 3).toInt - 1) * 0.3f
        center + pert
      })
    }.toDF("vec_id", "embedding")
    val query = vecs.filter(col("vec_id") === 9)
      .select(col("embedding").as("qvec"))
    val exact = vecs.crossJoin(query)
      .select(col("vec_id"),
        aggregate(zip_with(col("embedding"), col("qvec"),
          (x, y) => (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double"))),
          lit(0.0), (s, x) => s + x).as("d2"))
      .orderBy(col("d2").asc, col("vec_id").asc).limit(20)
      .as[(Long, Double)].collect().map(_._1).toSet
    // the hash variant's coarse cell count fixes k so the comparison is
    // routing quality at IDENTICAL coarse granularity and nprobe
    val nBuckets = vecs
      .select(Similarity.ivfAssign(col("embedding"), 4).as("b"))
      .filter(col("b").isNotNull).distinct().count().toInt
    val assigned = Similarity.kmeans(vecs, "vec_id", "embedding", k = nBuckets)
    val trainedCents = Similarity.centroidMeans(Similarity.centroids(
        assigned.join(vecs, "vec_id"), col("cluster"), col("embedding")))
      .select(col("bucket").as("cid"), col("centroid").as("cvec"))
    def recall(res: Seq[(Long, Double)]): Double =
      res.map(_._1).count(exact.contains) / 20.0
    def both(np: Int): (Double, Double) = {
      val hash = Similarity.ivfPqSearch(vecs, "vec_id", "embedding",
        query, "qvec", coarseDims = 4, nprobe = np, k = 20,
        m = 2, subDim = 4, probeDims = 4)
        .as[(Long, Double)].collect().toSeq
      val trained = Similarity.ivfPqSearchTrained(vecs, "vec_id", "embedding",
        query, "qvec", trainedCents, "cid", "cvec", nprobe = np, k = 20,
        m = 2, subDim = 4, probeDims = 4)
        .as[(Long, Double)].collect().toSeq
      // a narrow probe may legitimately hold < k candidates — recall@20
      // (denominator 20) already charges for the short list
      assert(trained.nonEmpty)
      info(f"recall@20 at nprobe=$np over $nBuckets coarse cells: " +
        f"hash=${recall(hash)}%.2f trained=${recall(trained)}%.2f " +
        f"(delta ${recall(trained) - recall(hash)}%+.2f)")
      (recall(hash), recall(trained))
    }
    val (h1, t1) = both(1)
    assert(t1 > h1,
      s"trained coarse routing must WIN at nprobe=1 on the " +
        s"cross-bucket-cluster fixture: trained=$t1 hash=$h1")
    val (h6, t6) = both(6)
    assert(t6 >= h6,
      s"trained coarse routing lost recall at nprobe=6: trained=$t6 hash=$h6")
  }

  test("sq8: signed codes in [-127,127], dequantization error within half " +
    "a step, zero corpus codes zero, ranking recalls the exact dot order") {
    val vecs = (1L to 200L)
      .map(i => (i, (0 until 8).map(j =>
        (((i * 13 + j * 7) % 23).toInt - 11).toFloat / 4f)))
      .toDF("vec_id", "embedding")
    val amaxRow = Similarity.sq8Amax(vecs, "embedding").head()
    val amax = amaxRow.getDouble(0)
    assert(amax == 2.75) // max |(((i*13+j*7) % 23) - 11)| / 4
    val coded = vecs.select(col("vec_id"), col("embedding"),
      Similarity.sq8CodeArray(col("embedding"), amax).as("codes"))
      .as[(Long, Seq[Float], Seq[Float])].collect()
    val step = amax / 127.0
    coded.foreach { case (_, v, c) =>
      assert(c.length == 8)
      c.foreach(x => assert(x >= -127f && x <= 127f && x == math.rint(x)))
      // round-to-nearest: reconstruction within half a quantization step
      (0 until 8).foreach { d =>
        val deq = c(d) * step
        assert(math.abs(v(d) - deq) <= step / 2 + 1e-9,
          s"dim $d: ${v(d)} vs dequantized $deq (step $step)")
      }
    }
    // the amax = 0 guard: an all-zero corpus codes zero, never divides
    val zeros = Seq((1L, Seq(0f, 0f))).toDF("vec_id", "embedding")
    assert(zeros.select(Similarity.sq8CodeArray(col("embedding"), 0.0))
      .as[Seq[Float]].head() == Seq(0f, 0f))
    // ranking parity with the exact float dot (8-bit is fine-grained on
    // this value range — the top-10 must survive quantization)
    val query = vecs.filter(col("vec_id") === 9)
      .select(col("embedding").as("qvec"))
    val got = Similarity.sq8Search(vecs, "vec_id", "embedding",
      query, "qvec", k = 10)
      .as[(Long, Long, Double)].collect()
    assert(got.length == 10)
    val q = coded.find(_._1 == 9L).get._2
    val exactTop = coded.map { case (id, v, _) =>
      id -> (0 until 8).map(d => v(d).toDouble * q(d)).sum }
      .sortBy { case (id, s) => (-s, id) }.take(10).map(_._1).toSet
    assert(got.map(_._1).toSet.intersect(exactTop).size >= 9,
      s"sq8 top-10 ${got.map(_._1).toSet} lost the exact-dot head $exactTop")
    // the audit column is the true cosine of each returned id
    got.foreach { case (id, _, cos) => assert(cos >= -1.0 && cos <= 1.0) }
  }

  test("mmrDiverseTopK: first pick is the relevance argmax, the diversity " +
    "penalty reorders a near-dup below a distinct direction") {
    import graft.operators.Retrieval
    // q along dim 0; c1/c2 a near-dup pair at rel≈0.8; d equally
    // relevant but in a DIFFERENT direction (sim(c,d)≈0.64) — pure
    // relevance ranks [c1, c2, d]; MMR must demote the near-dup
    val vecs = Seq(
      (1L, Seq(0.81f, 0.586f, 0f, 0f)),  // c1: rel ~0.810
      (2L, Seq(0.80f, 0.600f, 0f, 0f)),  // c2: rel 0.8, sim to c1 ~1.0
      (3L, Seq(0.79f, 0f, 0.613f, 0f)),  // d : rel ~0.79, sim to c1 ~0.64
      (4L, Seq(-1f, 0f, 0f, 0f))         // anti-query tail
    ).toDF("vec_id", "embedding")
    val query = Seq(Tuple1(Seq(1f, 0f, 0f, 0f))).toDF("qvec")
    val got = Retrieval.mmrDiverseTopK(vecs, "vec_id", "embedding",
      query, "qvec", nCandidates = 4, k = 3)
      .as[(Int, Long, Double, Double)].collect()
    assert(got.map(_._1).toSeq == Seq(1, 2, 3))      // selection order
    assert(got.map(_._2).toSeq == Seq(1L, 3L, 2L),   // c1, d, THEN c2
      s"diversity penalty did not demote the near-dup: ${got.toSeq}")
    // first pick is pure relevance (maxSim = 0): mmr = 0.7 * rel
    assert(math.abs(got(0)._4 - 0.7 * got(0)._3) < 1e-12)
    // mmr scores are non-increasing marginals within this fixture
    assert(got(0)._4 >= got(1)._4 && got(1)._4 >= got(2)._4)
    // k capped by candidate count
    val short = Retrieval.mmrDiverseTopK(vecs.filter(col("vec_id") <= 2),
      "vec_id", "embedding", query, "qvec", nCandidates = 4, k = 3)
    assert(short.count() == 2)
  }

  test("pqCodes drops subspaces the vector can't fill (ragged input)") {
    val vecs = Seq((1L, Seq.fill(8)(0.5f)), (2L, Seq.fill(3)(0.5f)))
      .toDF("vec_id", "embedding")
    val codes = Similarity.pqCodes(vecs, "vec_id", "embedding",
      m = 2, subDim = 4, probeDims = 4)
      .groupBy("vec_id").count().as[(Long, Long)].collect().toMap
    assert(codes == Map(1L -> 2L)) // the 3-dim vector codes NO subspace
  }

  test("hardNegatives: cross-label only, query id excluded, cosine-ranked top-k") {
    val corpus = Seq(
      (1L, Seq(1f, 0f), "A"),      // same label as the query — never returned
      (2L, Seq(0f, 1f), "A"),
      (3L, Seq(1f, 1f), "B"),      // cos = 1/sqrt(2)   = 0.707107
      (4L, Seq(1f, 0.5f), "B"),    // cos = 1/sqrt(1.25) = 0.894427
      (5L, Seq(0f, 1f), "C"),      // cos = 0
      (100L, Seq(1f, 0f), "B")     // id == qid — excluded despite label B
    ).toDF("vec_id", "embedding", "label")
    val q = Seq((100L, Seq(1f, 0f), "A")).toDF("qid", "qvec", "qlabel")
    val got = Similarity.hardNegatives(corpus, "vec_id", "embedding", "label",
      q, "qid", "qvec", "qlabel", k = 3)
      .as[(Long, Long, String, Double)].collect().toList
      .sortBy(r => -r._4)
    assert(got == List(
      (100L, 4L, "B", 0.894427),
      (100L, 3L, "B", 0.707107),
      (100L, 5L, "C", 0.0)))
  }

  test("routedNegatives: nprobe=∞ degenerates to hardNegatives exactly; a " +
    "real nprobe cut keeps recall against the brute miner (VERDICT r14 #1)") {
    // 200 uniform-dim vectors across 5 labels; 8 query vectors
    val corpus = (1L to 200L)
      .map(i => (i, (0 until 8).map(j =>
        (((i * 13 + j * 7) % 23).toInt - 11).toFloat / 4f), s"L${i % 5}"))
      .toDF("vec_id", "embedding", "label")
    val queries = corpus.filter(col("vec_id") <= 8)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
        col("label").as("qlabel"))
    val brute = Similarity.hardNegatives(corpus, "vec_id", "embedding",
      "label", queries, "qid", "qvec", "qlabel", k = 10)
      .as[(Long, Long, String, Double)].collect().toSet
    // every bucket probed → identical rows to the brute miner (same
    // dedup, same disqualification, same round-6 ranking chain)
    val all = Similarity.routedNegatives(corpus, "vec_id", "embedding",
      "label", queries, "qid", "qvec", "qlabel",
      probeDims = 4, nprobe = 1000000, k = 10)
      .as[(Long, Long, String, Double)].collect().toSet
    assert(all == brute)
    // a genuine nprobe cut: per-query recall@10 vs brute stays useful
    // while each query ranks a strict corpus subset
    val routed = Similarity.routedNegatives(corpus, "vec_id", "embedding",
      "label", queries, "qid", "qvec", "qlabel",
      probeDims = 4, nprobe = 6, k = 10)
      .as[(Long, Long, String, Double)].collect()
    val routedByQ = routed.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    val bruteByQ = brute.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    val recalls = bruteByQ.map { case (q, ids) =>
      routedByQ.getOrElse(q, Set.empty).intersect(ids).size.toDouble / ids.size
    }.toSeq
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.5, s"mean routed recall@10 fell to $mean")
    // and the routed miner still never returns a same-label or self row
    assert(routed.forall { case (q, id, lab, _) =>
      id != q && lab != s"L${q % 5}" })
  }

  test("hardNegatives collapses duplicate qids (array-minimal vector wins) " +
    "and drops NULL qids") {
    val corpus = Seq(
      (1L, Seq(1f, 0f), "A"), (2L, Seq(0f, 1f), "B"), (3L, Seq(1f, 1f), "B")
    ).toDF("vec_id", "embedding", "label")
    // qid 7 appears with (1,0) and (0,1): (0,1) is array-minimal and wins,
    // so the top negative must be vec 2 (cos 1.0), not an average of both
    val dirty = Seq(
      (Some(7L), Seq(1f, 0f), "A"), (Some(7L), Seq(0f, 1f), "A"),
      (Option.empty[Long], Seq(1f, 0f), "A")
    ).toDF("qid", "qvec", "qlabel")
    val got = Similarity.hardNegatives(corpus, "vec_id", "embedding", "label",
      dirty, "qid", "qvec", "qlabel", k = 1)
      .as[(Long, Long, String, Double)].collect().toList
    assert(got == List((7L, 2L, "B", 1.0)))
  }
}
