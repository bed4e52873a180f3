package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Delta, Similarity, Upsert}

/** Empty-input and boundary behavior across operators — the cases a
  * long-running incremental pipeline hits on quiet days. */
class EdgeCaseSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val empty = Seq.empty[(String, String)].toDF("key", "row_hash")

  test("delta split with empty state routes everything to to_detail") {
    val fresh = Seq(("k1", "h1"), ("k2", "h2")).toDF("key", "row_hash")
    val (toDetail, bypass) = Delta.split(fresh, empty, Seq("key"))
    assert(toDetail.count() == 2 && bypass.count() == 0)
  }

  test("delta split with empty fresh yields two empty branches") {
    val state = Seq(("k1", "h1")).toDF("key", "row_hash")
    val (toDetail, bypass) = Delta.split(empty, state, Seq("key"))
    assert(toDetail.count() == 0 && bypass.count() == 0)
    assert(Delta.gate(toDetail)("ran")("skipped") == "skipped")
  }

  test("keepFirst and merge on empty inputs") {
    assert(Upsert.keepFirst(empty, Seq("key"),
      Seq(col("row_hash").asc_nulls_first)).count() == 0)
    val existing = Seq(("k", 1, "v")).toDF("pk", "version", "p")
    val emptyIncoming = Seq.empty[(String, Int, String)].toDF("pk", "version", "p")
    val merged = Upsert.merge(existing, emptyIncoming, Seq("pk"), col("version"))
    assert(merged.select("p").as[String].collect().toSeq == Seq("v"))
  }

  test("jaccardPairs below threshold and on single-doc input is empty") {
    val one = Seq((1L, "a b c")).toDF("doc_id", "text")
    assert(Dedup.jaccardPairs(one, "doc_id", split(col("text"), " "), 0.1).count() == 0)
    val disjoint = Seq((1L, "a b"), (2L, "x y")).toDF("doc_id", "text")
    assert(Dedup.jaccardPairs(disjoint, "doc_id", split(col("text"), " "), 0.1).count() == 0)
  }

  test("cosineTopK with k larger than the table returns all rows") {
    val vecs = Seq((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f))).toDF("vec_id", "embedding")
    val q = Seq(Tuple1(Seq(1f, 1f))).toDF("qvec")
    assert(Similarity.cosineTopK(vecs, "vec_id", "embedding", q, "qvec", 10)
      .count() == 2)
  }

  test("decontaminate with an empty test corpus flags nothing") {
    val train = Seq((1L, "a b c d")).toDF("doc_id", "text")
    val test = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val got = Dedup.decontaminate(train, test, "doc_id",
      graft.operators.TextStats.ngrams(split(col("text"), " "), 3),
      minFrac = 0.1, maxDfFrac = 1.0)
    assert(got.isEmpty)
  }

  test("clusterPairs with no pairs yields all singleton representatives") {
    val pairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val nodes = Seq(1L, 2L, 3L).toDF("doc_id")
    val got = Dedup.clusterPairs(pairs, "id_a", "id_b", nodes, "doc_id")
      .as[(Long, Long, Boolean)].collect().toSet
    assert(got == Set((1L, 1L, true), (2L, 2L, true), (3L, 3L, true)))
  }

  test("incrementalLshCandidates with empty fresh batch is empty") {
    val state = Seq((1L, 0, "b1")).toDF("doc_id", "band", "bucket")
    val fresh = Seq.empty[(Long, Int, String)].toDF("doc_id", "band", "bucket")
    assert(Dedup.incrementalLshCandidates(state, fresh, 50).isEmpty)
  }

  test("chunkedPack on an empty frame keeps the packing schema") {
    val df = Seq.empty[(String, Long, Int)].toDF("shard", "id", "n")
    val got = graft.operators.Packing.chunkedPack(
      df, col("shard"), col("id"), col("n"), 512)
    assert(got.isEmpty)
    assert(got.columns.toSeq ==
      Seq("shard", "id", "n", "tok_before", "seq_id", "tok_offset"))
  }

  test("dedupTokenWindows on an empty corpus and on all-short docs") {
    val empty0 = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.dedupTokenWindows(empty0, "doc_id",
      split(col("text"), " "), 4).count() == 0)
    val short = Seq((1L, "a b"), (2L, "c")).toDF("doc_id", "text")
    val got = Dedup.dedupTokenWindows(short, "doc_id",
      split(col("text"), " "), 4)
      .select("doc_id", "n_kept").as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 2L, 2L -> 1L))
  }

  test("dropCommonParagraphs with a threshold above every df is identity") {
    val docs = Seq((1L, "x\ny"), (2L, "x")).toDF("doc_id", "text")
    val got = Dedup.dropCommonParagraphs(docs, "doc_id", "text", "\n", maxDf = 10)
      .select("doc_id", "clean_text").as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "x\ny", 2L -> "x"))
  }

  test("importanceWeights with an empty target slice still totals (pure raw penalty)") {
    import graft.operators.Sampling
    val docs = Seq((1L, "a b"), (2L, "c d")).toDF("doc_id", "text")
      .select(col("doc_id"),
        filter(split(col("text"), " "), t => t =!= "").as("toks"))
    val got = Sampling.importanceWeights(docs, "doc_id", col("toks"),
      lit(false), 64, 1)
      .select("doc_id", "logratio", "selected")
      .as[(Long, Double, Boolean)].collect().toList.sortBy(_._1)
    // ct = 0 everywhere: every feature scores ln(1/(0+64)) - ln(p_raw) —
    // finite (add-1 smoothing), and the k=1 cut still picks exactly one
    assert(got.size == 2 && got.forall(r => !r._2.isNaN && !r._2.isInfinite))
    assert(got.count(_._3) == 1)
  }

  test("canonicalUrl null-propagates and keeps IPv6-less contract explicit") {
    import graft.operators.Cleaning
    val got = Seq[Option[String]](None, Some("http://[::1]/x"), Some("ftp://H.Co/Y/"))
      .toDF("u").select(Cleaning.canonicalUrl(col("u")).as("c"))
      .as[Option[String]].collect().toList
    assert(got(0).isEmpty)        // NULL in, NULL out
    assert(got(1).isEmpty)        // bracketed IPv6 authority: not parsed (documented)
    assert(got(2).contains("ftp://h.co/Y"))  // non-http schemes pass through
  }

  test("unigramLogprob on a single-doc corpus scores ln(1/N) per unique token") {
    // one doc "a b": N=2, each token p=1/2 → mean = ln(0.5) ≈ -0.693147
    val got = graft.operators.TextStats.unigramLogprob(
      Seq((1L, "a b")).toDF("doc_id", "text"), "doc_id",
      split(col("text"), " ")).as[(Long, Long, Double)].head()
    assert(got == ((1L, 2L, -0.693147)))
  }

  test("annSearch with nprobe covering all buckets equals brute force") {
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f, 0.0f, 0.1f, 0.1f, 0.1f, 0.1f)),
      (2L, Seq(0.9f, 0.1f, 0.0f, 0.0f, 0.1f, 0.1f, 0.1f, 0.1f)),
      (3L, Seq(-1.0f, 0.0f, 0.0f, 0.0f, 0.1f, 0.1f, 0.1f, 0.1f)))
      .toDF("vec_id", "embedding")
    val q = Seq(Tuple1(Seq(1.0f, 0.05f, 0.0f, 0.0f, 0.1f, 0.1f, 0.1f, 0.1f)))
      .toDF("qvec")
    val ann = Similarity.annSearch(vecs, "vec_id", "embedding", q, "qvec",
      probeDims = 8, nprobe = 1000, k = 3)
      .select("vec_id", "score").as[(Long, Double)].collect().toSeq
    val brute = Similarity.cosineTopK(vecs, "vec_id", "embedding", q, "qvec", 3)
      .select("vec_id", "score").as[(Long, Double)].collect().toSeq
    assert(ann == brute)
  }

  test("empty-string and null text flow through fingerprints and tokens") {
    val df = Seq((1L, ""), (2L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val fp = df.select(
      graft.operators.TextStats.fullFingerprint(col("text")).as("f"),
      graft.operators.TextStats.contentFingerprint(split(col("text"), " ")).as("c"))
      .collect()
    assert(fp(0).getString(0) != null) // md5("") is defined
    assert(fp(1).isNullAt(0))          // md5(null) is null, not a crash
  }

  test("retrieval operators on empty corpora and queries yield empty, not errors") {
    import graft.operators.{Retrieval, Sampling}
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Retrieval.bm25(emptyDocs, "doc_id", split(col("text"), " "),
      Seq("x")).count() == 0)
    val someDocs = Seq((1L, "a b"), (2L, "b c")).toDF("doc_id", "text")
    val emptyQueries = Seq.empty[(Long, Seq[String])].toDF("qid", "terms")
    assert(Retrieval.bm25Batch(someDocs, "doc_id", split(col("text"), " "),
      emptyQueries, "qid", col("terms")).count() == 0)
    // terms matching nothing: empty result, no division-by-zero on stats
    val missQuery = Seq((9L, Seq("zzz"))).toDF("qid", "terms")
    assert(Retrieval.bm25Batch(someDocs, "doc_id", split(col("text"), " "),
      missQuery, "qid", col("terms")).count() == 0)
    assert(Sampling.mixtureWeights(emptyDocs, col("text"), lit(1),
      budget = 100L).count() == 0)
  }

  test("annSearchBatch with an empty query table is empty, not a crash") {
    val vecs = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val emptyQ = Seq.empty[(Long, Seq[Float])].toDF("qid", "qvec")
    assert(Similarity.annSearchBatch(vecs, "vec_id", "embedding",
      emptyQ, "qid", "qvec", probeDims = 8, nprobe = 4, k = 5).count() == 0)
  }

  test("header expressions reject non-binary input at analysis, not runtime") {
    import graft.functions.ImageFunctions
    val df = Seq(("not-bytes", 1)).toDF("s", "n")
    for (f <- Seq[org.apache.spark.sql.Column => org.apache.spark.sql.Column](
      ImageFunctions.imageDims, ImageFunctions.wavInfo, ImageFunctions.mp4Info)) {
      val e = intercept[org.apache.spark.sql.AnalysisException](
        df.select(f(col("s"))).collect())
      assert(e.getMessage.contains("binary"), e.getMessage)
    }
    // NULL binary input → NULL output (nullSafeEval path), not a crash
    val nulls = Seq(Tuple1(null: Array[Byte])).toDF("payload")
    assert(nulls.select(ImageFunctions.imageMeta(col("payload")).getField("format"))
      .as[String].collect().head == null)
  }

  test("Vocab.encode at the exact threshold boundary still broadcasts") {
    import graft.operators.Vocab
    val docs = Seq((1L, "a b")).toDF("doc_id", "text")
    val toks = docs.select(explode(split(col("text"), " ")).as("token"))
    val v = Vocab.build(toks, "token", n = 2)
    val est = v.select(col("token"), col("token_id"))
      .queryExecution.optimizedPlan.stats.sizeInBytes
    // threshold == estimate → small side, hint applied
    val plan = Vocab.encode(docs, "doc_id", split(col("text"), " "), v,
        maxBroadcastBytes = est.toLong)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("fuzzyMatch: deterministic (dist, candidate) best match, NULL when unmatched") {
    import spark.implicits._
    import graft.operators.Cleaning
    val dict = Seq("alpha", "alpho", "beta").toDF("name")
    val dirty = Seq((1L, "alphq"), (2L, "zzzzz"), (3L, "beta"))
      .toDF("id", "s")
    val got = Cleaning.fuzzyMatch(dirty, "id", col("s"), dict, "name", 2)
      .orderBy("id").collect()
    // dist 1 to BOTH alpha and alpho → the lexicographic tie-break must
    // pick alpha on every engine
    assert(got(0).getString(2) == "alpha" && got(0).getLong(3) == 1L)
    // nothing within the block/distance → NULL match, NULL dist
    assert(got(1).isNullAt(2) && got(1).isNullAt(3))
    // exact hit wins at distance 0
    assert(got(2).getString(2) == "beta" && got(2).getLong(3) == 0L)
    // the dictionary side must be a broadcast join (bounded-dict regime)
    val plan = Cleaning.fuzzyMatch(dirty, "id", col("s"), dict, "name", 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("fuzzyMatch: 100% recall under FULL-position single-edit damage " +
    "(VERDICT r13 #5 — r13's first-char-only block missed position 1)") {
    import spark.implicits._
    import graft.operators.Cleaning
    // pairwise levenshtein >= 3 (three discriminating positions), so a
    // single edit can't make one word a better match for another entry
    val words = (0 until 10).map { i =>
      val c = ('a' + i).toChar; s"${c}qx${c}mz${c}t"
    }
    val dict = words.toDF("name")
    // every position of every word, substituted AND deleted — including
    // position 1, the case the old blocking structurally missed
    val damaged = for {
      w <- words; p <- w.indices
      d <- Seq(w.updated(p, '#'), w.take(p) + w.drop(p + 1))
    } yield (w, d)
    val dirty = damaged.zipWithIndex
      .map { case ((w, d), i) => (i.toLong, w, d) }.toDF("id", "orig", "s")
    val got = Cleaning.fuzzyMatch(dirty, "id", col("s"), dict, "name", 2)
      .join(dirty.select(col("id"), col("orig")), Seq("id"))
      .collect()
    assert(got.length == damaged.length)
    // recall 1.0: every single-edit key recovers, and recovers its OWN
    // canonical form at distance 1 (separation makes rivals >= 2 away)
    val misses = got.filter(r => r.isNullAt(2) ||
      r.getString(2) != r.getString(4) || r.getLong(3) != 1L)
    assert(misses.isEmpty,
      s"unrecovered/misrecovered keys: ${misses.take(5).mkString(", ")}")
  }

  test("rrfTopKBatch: empty first epoch and single-arm batches merge, not crash") {
    import graft.streaming.StreamingJobs
    val stateDir = TestSpark.tmpDir("rrfedge")
    val outDir = TestSpark.tmpDir("rrfedgeout")
    def run(e: Long, rows: Seq[(Long, Option[Double], Option[Double])]): Unit =
      StreamingJobs.rrfTopKBatch(
        rows.toDF("doc_id", "sa", "sb"), e, "doc_id",
        col("sa"), col("sb"), stateDir, outDir, n = 5)
    // epoch 0: no rows at all — emits an empty fused head, seeds state
    run(0, Seq.empty)
    assert(spark.read.parquet(s"$outDir/epoch=0").isEmpty)
    // epoch 1: arm a only — fused head ranks a alone, r_vec all null
    run(1, Seq((1L, Some(9.0), None), (2L, Some(7.0), None)))
    val f1 = spark.read.parquet(s"$outDir/epoch=1")
      .orderBy(col("id")).collect()
    assert(f1.map(_.getString(0)).toSeq == Seq("1", "2"))
    assert(f1.forall(_.isNullAt(2))) // r_vec
    // epoch 2: arm b only — both arms present in the cumulative fusion
    run(2, Seq((3L, None, Some(4.0))))
    val f2 = spark.read.parquet(s"$outDir/epoch=2")
      .select(col("id"), col("r_lex"), col("r_vec")).orderBy(col("id")).collect()
    assert(f2.length == 3)
    assert(f2.find(_.getString(0) == "3").exists(r => r.isNullAt(1) && r.getLong(2) == 1L))
  }

  test("frequentItems with shards=1 degenerates to the direct " +
    "count-filter; empty and all-below-threshold streams yield empty") {
    import graft.operators.Sketches
    val rows = (1 to 30).map(i => (s"r$i", if (i <= 20) "hot" else s"c$i"))
    val got = Sketches.frequentItems(rows.toDF("rk", "item"),
      col("item"), col("rk"), shards = 1, minCount = 20L)
      .select("item", "cnt").as[(String, Long)].collect().toSeq
    assert(got == Seq(("hot", 20L)))
    val below = Sketches.frequentItems(rows.toDF("rk", "item"),
      col("item"), col("rk"), shards = 4, minCount = 1000L)
    assert(below.isEmpty)
    val emptyIn = Seq.empty[(String, String)].toDF("rk", "item")
    assert(Sketches.frequentItems(emptyIn, col("item"), col("rk"),
      4, 10L).isEmpty)
  }

  test("sq8Search ranks all-negative corpora correctly; trainingOrder " +
    "handles empty and single-row inputs") {
    // all-negative components: amax comes from |v|, codes are negative,
    // the most-negative-dot vector still ranks LAST for a negative query
    val vecs = Seq(
      (1L, Seq(-1.0f, -1.0f)),   // dot with q = 2.0  (best)
      (2L, Seq(-0.5f, -0.1f)),   // dot 0.6
      (3L, Seq(-0.1f, -0.1f)))   // dot 0.2
      .toDF("vec_id", "embedding")
    val q = Seq(Tuple1(Seq(-1.0f, -1.0f))).toDF("qvec")
    val got = Similarity.sq8Search(vecs, "vec_id", "embedding", q, "qvec", 3)
      .as[(Long, Long, Double)].collect()
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 3L))
    import graft.operators.Sampling
    val emptyDocs = Seq.empty[(Long, Long)].toDF("doc_id", "b")
    assert(Sampling.trainingOrder(emptyDocs, "doc_id", col("b"), "s")
      .isEmpty)
    val one = Sampling.trainingOrder(
      Seq((42L, 3L)).toDF("doc_id", "b"), "doc_id", col("b"), "s")
      .as[(Long, Long, Long)].head()
    assert(one == ((42L, 3L, 1L)))
  }

  test("data recipe (q159 composition): a source apportioned ZERO tokens " +
    "admits nothing, and curriculum positions stay dense over the rest") {
    import graft.operators.Sampling
    // A holds ~all the token mass; with a 10-token global budget B's
    // sqrt share floors to 0 and the largest-remainder unit goes to A —
    // B must vanish from the mix, not error or leak a partial doc
    val docs = ((1L to 5L).map(i => (i, "A", 2000L)) :+ (9L, "B", 1L))
      .toDF("doc_id", "source", "n_tok")
    val budgets = Sampling.mixtureWeights(
        docs, col("source"), col("n_tok"), budget = 10L)
      .select(col("source"), col("target_rows").as("budget"))
    assert(budgets.as[(String, Long)].collect().toMap == Map(
      "A" -> 10L, "B" -> 0L))
    val admitted = Sampling.tokenBudget(
      docs, "doc_id", col("source"), col("n_tok"), budgets, "rcp1")
    val ordered = Sampling.trainingOrder(
      admitted.withColumn("b",
        least(floor(col("n_tok") / lit(10)), lit(9)).cast("long")),
      "doc_id", col("b"), "ord1", carry = Seq("source", "n_tok"))
      .as[(Long, String, Long, Long, Long)].collect()
    assert(ordered.forall(_._2 == "A"), s"source B leaked: ${ordered.toSeq}")
    // budget 10 < one 2000-token doc: exactly the first md5-ordered doc
    // is admitted (the first-over-the-line rule), densely positioned
    assert(ordered.map(_._5).sorted.toSeq == (1L to ordered.length).toSeq)
    assert(ordered.length == 1)
  }

  test("collocations below minCount everywhere yields empty; phraseMerge " +
    "merges a doc that is exactly one flagged pair") {
    import graft.operators.TextStats
    val docs = Seq((1L, "x y"), (2L, "p q")).toDF("doc_id", "text")
    assert(TextStats.collocations(docs, split(col("text"), " "),
      minCount = 5L).isEmpty)
    val merged = TextStats.phraseMerge(docs, "doc_id",
      split(col("text"), " "), Seq(("x", "y")).toDF("wa", "wb"))
      .as[(Long, Int, String)].collect().toSet
    assert(merged == Set((1L, 1, "x_y"), (2L, 1, "p"), (2L, 2, "q")))
  }

  test("clusterBalanced: a cluster thinner than perCluster emits what it " +
    "has; vectors without a quality row drop (inner join); an empty " +
    "quality side is empty, not a crash") {
    import graft.operators.Sampling
    // seeds 0/1 at the corners; 2 joins cluster 0, 3 joins cluster 1 —
    // but 3 has NO quality row, so cluster 1 keeps only its seed
    val vecs = Seq(
      (0L, Seq(0f, 0f)), (1L, Seq(10f, 10f)),
      (2L, Seq(1f, 0f)), (3L, Seq(9f, 10f))).toDF("vec_id", "embedding")
    val quality = Seq((0L, 7L), (1L, 3L), (2L, 5L))
      .toDF("doc_id", "score")
    val got = Sampling.clusterBalanced(vecs, "vec_id", "embedding", 2,
      quality, "doc_id", col("score"), perCluster = 5)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      (0L, 0L, 7L, 1L), (0L, 2L, 5L, 2L), // cluster 0: both, q desc
      (1L, 1L, 3L, 1L)))                  // cluster 1: lone survivor
    val empty = Sampling.clusterBalanced(vecs, "vec_id", "embedding", 2,
      quality.limit(0), "doc_id", col("score"), perCluster = 5)
    assert(empty.isEmpty)
  }
}
