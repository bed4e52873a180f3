package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Vector similarity search — SURVEY §2.9 L2.
  *
  * Baseline: brute-force cosine top-k ([[cosine]] + orderBy/limit →
  * TakeOrderedAndProject — per-partition top-k, no global sort). The scale
  * path is [[ivfAssign]]: partition vectors into coarse buckets keyed by
  * their dominant dimensions (an IVF-style inverted file without trained
  * centroids — deterministic, no ML dependency); queries probe only
  * matching buckets, turning a full scan into a bucket-pruned scan.
  *
  * All arithmetic in double (floats widened exactly); both Spark's
  * `aggregate` fold and DuckDB's list functions reduce left-to-right, and
  * results are rounded before any hash-compare (SURVEY §7.4.7).
  */
object Similarity {

  private def d(c: Column): Column = c.cast("double")

  /** Sequential-fold dot product of two float/double array columns. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => d(x) * d(y)), lit(0.0), (s, x) => s + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Brute-force cosine top-k against one query vector (broadcast). Scores
    * rounded to `scale` decimals BEFORE ranking so the ranking tiebreak
    * (id asc) is engine-portable. */
  def cosineTopK(vectors: DataFrame, idCol: String, vecCol: String,
                 query: DataFrame, queryVecCol: String, k: Int,
                 scale: Int = 6): DataFrame =
    vectors.crossJoin(broadcast(query))
      .select(col(idCol),
        round(cosine(col(vecCol), col(queryVecCol)), scale).as("score"))
      .orderBy(col("score").desc_nulls_last, col(idCol).asc_nulls_first)
      .limit(k)

  /** [[cosineTopK]] for a BOUNDED query batch: one corpus scan crossed
    * with the broadcast (qid, vec) batch, round-`scale` cosine, per-qid
    * rank cut (WindowGroupLimit) — the exact ground-truth arm of batch
    * retrieval evals (q183) and the brute baseline every batch ANN tier
    * is graded against. Returns (qidCol, idCol, score, rank), per-query
    * descending top-k, ids ascending on ties. */
  def cosineTopKBatch(vectors: DataFrame, idCol: String, vecCol: String,
                      queries: DataFrame, qidCol: String,
                      queryVecCol: String, k: Int,
                      scale: Int = 6): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    vectors
      .crossJoin(broadcast(queries.select(col(qidCol), col(queryVecCol))))
      .select(col(qidCol), col(idCol),
        round(cosine(col(vecCol), col(queryVecCol)), scale).as("score"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col(qidCol))
          .orderBy(col("score").desc_nulls_last, col(idCol).asc_nulls_first))
        .cast("long"))
      .filter(col("rank") <= k)
  }

  /** Exact-integer nearest-seed assignment — every vector to its closest
    * of the seed vectors with ids `0..k-1` (the fixed-seed rule q23/q156
    * pin against the oracle; for TRAINED centroids run [[kmeans]] or
    * route through [[ivfPqSearchTrained]]). PRECONDITION: the corpus
    * carries exactly the ids 0..k-1 among its rows — a non-dense or
    * offset id space would silently shrink the seed set (ADVICE r15).
    * The guard is LAZY (ADVICE r16: an eager countDistinct action at
    * construction taxed every plan build that never evaluated): the
    * seed side joins as a LEFT broadcast, each id's group counts the
    * seed rows it actually saw, and a count ≠ k raises inside the same
    * job the caller already runs — no extra scan, no construction-time
    * action, and an empty seed set (fully offset ids) still fails
    * loudly because the left join keeps every corpus row.
    * Distances are computed over 1e3-quantized
    * integer components so the argmin is exact in both engines (no
    * float-sum association drift), and (dist, seed) packs into ONE BIGINT
    * so `min()` itself is the deterministic tie-break (min dist, then min
    * seed id) — the same argmin q23 declares inline. Scale shape: corpus
    * × broadcast-k candidates (bounded by k, never by data) → one keyed
    * aggregation; k ≤ 8 is the packing contract (widen the factor to
    * raise it). Returns (idCol, cluster, d_min). */
  def seedAssign(df: DataFrame, idCol: String, vecCol: String,
                 k: Int): DataFrame = {
    require(k >= 1 && k <= 8, s"seedAssign packs (dist, seed) as dist*8+seed — k must be in [1, 8], got $k")
    def quant(v: Column): Column =
      transform(v, x => round(x.cast("double") * 1000).cast("long"))
    val vecs = df.select(col(idCol), quant(col(vecCol)).as("__qv"))
    val seeds = df.filter(col(idCol) < k)
      .select(col(idCol).as("__c"), quant(col(vecCol)).as("__qc"))
    // "seeds realized ≠ k" raised lazily, per evaluated row group — the
    // message mirrors the old construction-time require (spec-pinned)
    val seedErr = concat(
      lit(s"seedAssign seeds on ids 0..${k - 1} but the corpus realizes "),
      col("__ns").cast("string"),
      lit(" seed rows — a non-dense/offset/duplicated id space would " +
        "silently shrink the cluster space; pass a 0-based dense-id " +
        "corpus or use kmeans/ivfPqSearchTrained for arbitrary " +
        "centroid tables"))
    def guarded(c: Column): Column =
      when(col("__ns") === k, c).otherwise(raise_error(seedErr))
    vecs.join(broadcast(seeds), lit(true), "left")
      .select(col(idCol), col("__c").as("__sc"),
        (aggregate(zip_with(col("__qv"), col("__qc"),
          (x, y) => (x - y) * (x - y)),
          lit(0L), (s, x) => s + x) * 8 + col("__c")).as("__p"))
      .groupBy(idCol).agg(min("__p").as("__p"),
        count(col("__sc")).as("__ns"))
      .select(col(idCol), guarded(col("__p") % 8).as("cluster"),
        guarded(expr("__p div 8")).as("d_min"))
  }

  /** IVF-style coarse bucketing: composite key of the `keyDims` dominant
    * dimensions (by |component|, signed) among the first `probeDims`.
    * Vectors and queries bucketed the same way; ANN search joins on the
    * bucket then ranks within it.
    *
    * `keyDims = 1` is the classic argmax — but it admits at most
    * 2×probeDims distinct buckets, so within-bucket candidate pairs stay
    * O(n²/2p) and a globally dominant dimension (common for normalized
    * embeddings) collapses toward all-pairs. `keyDims = 2` (the default)
    * grows the key space to 2p×(2p−2) ordered pairs — 224 for p=8 —
    * and the space keeps growing with p, so the bucket count scales with
    * the tuning knob instead of saturating.
    *
    * Rows whose embedding is shorter than `probeDims` get a NULL bucket
    * (dropped by any inner bucket join) instead of an ANSI index error —
    * mirroring the oracle's NULL semantics on ragged data. */
  def ivfAssign(vec: Column, probeDims: Int, keyDims: Int = 2): Column = {
    require(keyDims >= 1 && keyDims <= probeDims)
    val entries = (1 to probeDims).map { i =>
      struct(abs(d(element_at(vec, i))).as("mag"),
             (lit(i) * signum(d(element_at(vec, i)))).cast("int").as("b"))
    }
    // asc lexicographic sort + reverse = (mag desc, b desc) — the same
    // tie-break DuckDB's list_reverse_sort applies to [mag, b] pairs.
    val sorted = reverse(array_sort(array(entries: _*)))
    val radix = 2 * probeDims + 1
    val key = (0 until keyDims)
      .map(j => element_at(sorted, j + 1).getField("b") + lit(probeDims))
      .reduce((acc, b) => acc * radix + b)
    when(size(vec) >= probeDims, key.cast("int"))
  }

  /** Per-bucket centroid SUMS — the IVF "training" step on top of
    * [[ivfAssign]]'s deterministic coarse buckets, in its distributive
    * form: per-component sums in integer millionths plus the bucket
    * count, from which the mean is one division away
    * ([[centroidMeans]]). Sums, not means, because (a) sums are the
    * associative combiner a distributed engine actually merges (means
    * aren't), and (b) integer millionths make the result bit-exact on
    * every engine — a mean of 6-decimal values lands on exact .5
    * halfway points (any 2-vector bucket) where double rounding rules
    * diverge. `round(v×1e6)` is deterministic: float→double widening is
    * exact, the product is one IEEE op, and both Spark's HALF_UP and
    * DuckDB's half-away round identically (they differ only in
    * direction semantics that agree for away-from-zero).
    *
    * Shape: posexplode to (bucket, pos, component) → one partial+final
    * agg per (bucket, pos) → ordered re-assembly (sorting (pos, sum)
    * structs, so collect_list's arrival order is immaterial). Returns
    * (bucket, n_vecs, centroid_msum: array<long>).
    *
    * UNIFORM-DIMENSION CONTRACT: every vector in a bucket must share
    * the same length — n_vecs is the per-bucket row count, and
    * [[centroidMeans]] divides every component by it, so the tail
    * positions of a ragged bucket would be divided by the wrong n.
    * [[ivfAssign]] upholds this upstream (ragged vectors get a NULL
    * bucket); NULL-bucket rows must be filtered before calling. */
  def centroids(df: DataFrame, bucketCol: Column, vecCol: Column): DataFrame =
    df.select(bucketCol.as("bucket"), posexplode(vecCol).as(Seq("pos", "v")))
      .groupBy(col("bucket"), col("pos"))
      .agg(count(lit(1)).as("n"),
        sum(round(d(col("v")) * 1000000).cast("long")).as("s"))
      .groupBy(col("bucket"))
      .agg(max(col("n")).as("n_vecs"),
        transform(array_sort(collect_list(struct(col("pos"), col("s")))),
          e => e.getField("s")).as("centroid_msum"))

  /** Divide [[centroids]]' exact sums into double mean vectors — for
    * in-engine use (probe ordering, k-means seeds) where cross-engine
    * bit-parity no longer matters. */
  def centroidMeans(c: DataFrame): DataFrame =
    c.withColumn("centroid",
        transform(col("centroid_msum"),
          s => s.cast("double") / (col("n_vecs") * lit(1000000.0))))
      .drop("centroid_msum")

  /** Lloyd's k-means over an embedding column — the trained upgrade of
    * [[ivfAssign]]'s deterministic buckets, in the standard distributed
    * shape (what MLlib's KMeans also does): centroids live on the
    * driver (k × dim doubles — bounded, NOT data-sized), each iteration
    * broadcasts them into a row-local argmin assignment, and the
    * recompute is [[centroids]]' exact integer-sum aggregation, so one
    * shuffle per iteration and bit-deterministic centroid state (no
    * float drift between runs). Seeds come from [[seedCandidates]]: a
    * deterministic xxhash64 row-local sample of the corpus, deduped by
    * vector, first k by min-`idCol` — no RNG (the engine-wide
    * reproducibility rule), duplicate vectors can't produce
    * permanently-empty seed clusters, and the dedup shuffle moves only
    * the sample, never the corpus (VERDICT r9: the old seeding
    * shuffled every row keyed on the full vector array just to pick k
    * seeds). A sample that yields fewer than k distinct vectors
    * escalates to a denser level, ending at the exact full-dedup
    * fallback, so small corpora seed exactly as before. Rows whose vector has the wrong
    * dimension or a null component are DROPPED up front (the ragged
    * handling ivfAssign applies via NULL buckets — a null distance
    * would otherwise sort first in the argmin and silently pollute
    * cluster 0). Returns (idCol, cluster) for `maxIter` rounds or until
    * assignments stop changing.
    *
    * Oracle parity (q164): per-iteration squared distances are ROUNDED
    * to 6 decimals before the struct-argmin (the q51 round-before-rank
    * discipline — a 1-ulp fold difference between engines cannot flip
    * an argmin off the rounded grid), ties break on the lower cluster
    * id in both engines, and the centroid recompute is [[centroids]]'
    * exact integer-millionth sums divided in the fixed written order
    * (s / 1e6 / n). `seedLevels` is the sampling escalation ladder;
    * `Seq(1)` pins the exact full-dedup seeding — the form a SQL oracle
    * replays (dedup by vector, min-id winner, first k by id), since the
    * default xxhash64 sample levels are engine-specific. */
  def kmeans(df: DataFrame, idCol: String, vecCol: String, k: Int,
             maxIter: Int = 10,
             seedLevels: Seq[Long] = Seq(1024L, 32L, 1L)): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(seedLevels.nonEmpty, "seedLevels must be non-empty")
    def comps(r: org.apache.spark.sql.Row): Array[Double] =
      r.getSeq[Any](0).map {
        case f: java.lang.Float  => f.toDouble
        case x: java.lang.Double => x.doubleValue
        case other => sys.error(s"non-numeric vector component: $other")
      }.toArray
    val nonNull = df.filter(!exists(col(vecCol), x => x.isNull))
    var seeds = Array.empty[Array[Double]]
    val levels = seedLevels.iterator
    while (seeds.length < k && levels.hasNext)
      seeds = seedCandidates(nonNull, idCol, vecCol, k, levels.next())
        .collect().map(comps)
    require(seeds.nonEmpty, "kmeans needs at least one vector")
    // the first seed fixes the dimension; wrong-dim seeds AND rows are
    // dropped together (a mixed-dim centroid would null every distance)
    val dim = seeds.head.length
    val clean = nonNull.filter(size(col(vecCol)) === dim)
    var cents: Array[Array[Double]] = seeds.filter(_.length == dim)
    def assignExpr(cs: Array[Array[Double]]): Column = {
      // row-local argmin over the broadcast centroid literals; round-6
      // BEFORE the argmin so the struct comparison is engine-portable
      val dists = cs.zipWithIndex.map { case (c, i) =>
        val d2 = aggregate(
          zip_with(col(vecCol), lit(c), (x, y) => (d(x) - y) * (d(x) - y)),
          lit(0.0), (s, x) => s + x)
        struct(round(d2, 6).as("d"), lit(i).as("c"))
      }
      array_min(array(dists.toIndexedSeq: _*)).getField("c")
    }
    var assigned = clean.select(col(idCol), col(vecCol),
      assignExpr(cents).as("cluster")).localCheckpoint()
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIter) {
      val sums = centroids(assigned, col("cluster"), col(vecCol))
        .collect().map { r =>
          val n = r.getLong(1).toDouble
          r.getInt(0) -> r.getSeq[Long](2).map(_ / 1e6 / n).toArray
        }.toMap
      cents = cents.indices.map(i => sums.getOrElse(i, cents(i))).toArray
      val next = assigned.select(col(idCol), col(vecCol),
        assignExpr(cents).as("cluster"),
        col("cluster").as("__old")).localCheckpoint()
      changed = next.filter(col("cluster") =!= col("__old")).count()
      // next is already materialized (localCheckpoint is eager) — free
      // the previous round's pinned blocks instead of waiting for GC
      assigned.unpersist()
      assigned = next.select(col(idCol), col(vecCol), col("cluster"))
      iter += 1
    }
    assigned.select(col(idCol), col("cluster"))
  }

  /** Deterministic k-means seed pool: a row-local xxhash64 sample of the
    * corpus (`pmod(xxhash64(vec), mod) = 0` — value-based, so immune to
    * partitioning/order), deduped by vector with min-`idCol` as the
    * winner, first k by that id. The dedup `groupBy(vec)` shuffle moves
    * only the ~1/mod sample — at corpus scale the seed pick costs one
    * filtered scan plus a sample-sized shuffle instead of shuffling
    * every row keyed on a full embedding array. `mod <= 1` is the exact
    * full-dedup fallback ([[kmeans]] escalates to it when a sample is
    * too sparse to fill k seeds). */
  private[graft] def seedCandidates(nonNull: DataFrame, idCol: String,
                                    vecCol: String, k: Int,
                                    mod: Long): DataFrame = {
    val sampled =
      if (mod <= 1L) nonNull
      else nonNull.filter(pmod(xxhash64(col(vecCol)), lit(mod)) === 0)
    sampled.groupBy(col(vecCol)).agg(min(col(idCol)).as("__sid"))
      .orderBy(col("__sid").asc_nulls_last).limit(k)
      .select(col(vecCol))
  }

  /** IVF probe-ordered ANN search — the query path that completes the
    * IVF story (ivfAssign buckets → [[centroids]] training → THIS):
    * rank buckets by query→centroid distance, then run exact cosine
    * top-k over only the `nprobe` nearest buckets. Versus brute force
    * the scan shrinks from |corpus| to the probed buckets' population;
    * versus same-bucket-only probing (q86's nprobe=1 shape) recall
    * recovers vectors that fell across a bucket boundary. The bucket
    * ranking runs over the centroid table (bucket-count rows, not
    * corpus rows) and the probed-bucket set broadcasts into a semi
    * join, so the big side is scanned once with a bucket filter. */
  def annSearch(vectors: DataFrame, idCol: String, vecCol: String,
                query: DataFrame, queryVecCol: String,
                probeDims: Int, nprobe: Int, k: Int): DataFrame = {
    require(nprobe >= 1 && k >= 1)
    val bucketed = vectors
      .withColumn("__bucket", ivfAssign(col(vecCol), probeDims))
      .filter(col("__bucket").isNotNull)
    val cents = centroidMeans(centroids(bucketed, col("__bucket"), col(vecCol)))
      .withColumnRenamed("bucket", "__bucket")
    val probed = cents.crossJoin(broadcast(query))
      .select(col("__bucket"),
        aggregate(zip_with(col("centroid"), col(queryVecCol),
          (x, y) => (x - d(y)) * (x - d(y))), lit(0.0), (s, x) => s + x)
          .as("__d2"))
      .orderBy(col("__d2").asc_nulls_last, col("__bucket").asc)
      .limit(nprobe)
      .select("__bucket")
    bucketed.join(broadcast(probed), Seq("__bucket"), "left_semi")
      .crossJoin(broadcast(query))
      .select(col(idCol),
        round(cosine(col(vecCol), col(queryVecCol)), 6).as("score"))
      .orderBy(col("score").desc_nulls_last, col(idCol).asc_nulls_first)
      .limit(k)
  }

  /** Batch ANN: [[annSearch]] for a whole TABLE of queries at once — the
    * shape that actually runs at corpus scale (dedup-against-index,
    * retrieval for a training batch), where issuing one job per query
    * vector would be a driver-side loop over the cluster.
    *
    * Distributed form: the centroid table (bucket-count rows, bounded by
    * the key space — NOT corpus-sized) is broadcast against the query
    * table; a per-query window takes the `nprobe` nearest buckets (rank
    * runs over |Q|×nprobe candidates, partitioned by query); the corpus
    * is then scanned ONCE and equi-joined to the probe set on the bucket
    * key — queries sharing a bucket share the scan. Exact cosine scores
    * within probed buckets, then per-query top-k via a rank window
    * (Spark plans WindowGroupLimit: partial top-k before the shuffle).
    * Scores are rounded before ranking and ties break on corpus id, so
    * results are deterministic. Mega-bucket skew is the caller's concern:
    * run [[capBuckets]] on the bucketed corpus first if the embedding
    * distribution is untrusted.
    *
    * The qid is the per-query partition key of BOTH ranking windows, so
    * duplicate qids would silently corrupt that query's nprobe selection
    * and top-k (two vectors sharing one row_number partition — ADVICE
    * r7). Defensively: NULL qids are dropped and duplicate qids are
    * collapsed to one row per qid (deterministically — the array-minimal
    * vector wins; arrays compare element-wise) before probing. */
  def annSearchBatch(vectors: DataFrame, idCol: String, vecCol: String,
                     queries: DataFrame, qidCol: String, queryVecCol: String,
                     probeDims: Int, nprobe: Int, k: Int): DataFrame = {
    require(nprobe >= 1 && k >= 1)
    // corpus and query columns meet in one joined row — same-named
    // columns would be silently ambiguous, so fail loudly instead
    require(qidCol != idCol && queryVecCol != vecCol,
      s"query columns must differ from corpus columns " +
        s"(got id $qidCol/$idCol, vec $queryVecCol/$vecCol) — alias one side")
    import org.apache.spark.sql.expressions.Window
    val bucketed = vectors
      .withColumn("__bucket", ivfAssign(col(vecCol), probeDims))
      .filter(col("__bucket").isNotNull)
    val cents = centroidMeans(centroids(bucketed, col("__bucket"), col(vecCol)))
      .withColumnRenamed("bucket", "__bucket")
    // one row per non-null qid; the extra window shares the probe-rank
    // window's qid partitioning, so Catalyst reuses the exchange
    val distinctQ = queries
      .select(col(qidCol), col(queryVecCol))
      .filter(col(qidCol).isNotNull)
      .withColumn("__qrn", row_number().over(
        Window.partitionBy(col(qidCol))
          .orderBy(col(queryVecCol).asc_nulls_last)))
      .filter(col("__qrn") === 1)
    val probeSet = distinctQ
      .select(col(qidCol), col(queryVecCol))
      .crossJoin(broadcast(cents))
      .select(col(qidCol), col(queryVecCol), col("__bucket"),
        aggregate(zip_with(col("centroid"), col(queryVecCol),
          (x, y) => (x - d(y)) * (x - d(y))), lit(0.0), (s, x) => s + x)
          .as("__d2"))
      .withColumn("__r", row_number().over(
        Window.partitionBy(col(qidCol))
          .orderBy(col("__d2").asc_nulls_last, col("__bucket").asc)))
      .filter(col("__r") <= nprobe)
      .select(col(qidCol), col(queryVecCol), col("__bucket"))
    bucketed.join(probeSet, Seq("__bucket"))
      .select(col(qidCol), col(idCol),
        round(cosine(col(vecCol), col(queryVecCol)), 6).as("score"))
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col(qidCol))
          .orderBy(col("score").desc_nulls_last, col(idCol).asc_nulls_first)))
      .filter(col("__rk") <= k)
      .select(col(qidCol), col(idCol), col("score"))
  }

  /** Hard-negative mining for embedding-model training (the contrastive-
    * learning data step: for each training query, the most-similar
    * corpus items that are NOT relevant — "hard" because a random
    * negative teaches nothing once the model separates easy pairs).
    * Relevance here is label equality: a hard negative for query q is a
    * corpus vector with `label != q.label`, ranked by cosine similarity
    * to q. The query's own id is excluded defensively (a mislabeled
    * self-pair would otherwise always top the list).
    *
    * Scale shape: the query table is a training batch — bounded, never
    * corpus-sized — so it broadcasts into one corpus scan (the q51/q146
    * 1-query-side nested-loop shape, PlanLint-whitelisted); the label
    * disqualification runs inside that map-side join, and per-query
    * top-k is a rank window over survivors partitioned by qid (Spark
    * plans WindowGroupLimit — partial top-k before the shuffle, so the
    * exchange carries ≤ |Q|·k·partitions rows, not |Q|·corpus). Scores
    * are round-6 cosines, ties break on corpus id (the q51 parity
    * chain). Duplicate/NULL qids are collapsed/dropped the same way as
    * [[annSearchBatch]] — a duplicated qid would corrupt its ranking
    * window. Output: (qidCol, idCol, label, score) — `label` rides along
    * as the audit column (it must differ from the query's). */
  def hardNegatives(vectors: DataFrame, idCol: String, vecCol: String,
                    labelCol: String,
                    queries: DataFrame, qidCol: String, queryVecCol: String,
                    queryLabelCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    require(qidCol != idCol && queryVecCol != vecCol && queryLabelCol != labelCol,
      s"query columns must differ from corpus columns " +
        s"(got id $qidCol/$idCol, vec $queryVecCol/$vecCol, " +
        s"label $queryLabelCol/$labelCol) — alias one side")
    import org.apache.spark.sql.expressions.Window
    val distinctQ = queries
      .select(col(qidCol), col(queryVecCol), col(queryLabelCol))
      .filter(col(qidCol).isNotNull)
      // label joins the ordering: two rows sharing a qid AND an
      // identical vector but different labels would otherwise tie, and
      // the surviving qlabel (hence the disqualification set) would be
      // partitioning-dependent (ADVICE r14)
      .withColumn("__qrn", row_number().over(
        Window.partitionBy(col(qidCol))
          .orderBy(col(queryVecCol).asc_nulls_last,
            col(queryLabelCol).asc_nulls_last)))
      .filter(col("__qrn") === 1)
      .select(col(qidCol), col(queryVecCol), col(queryLabelCol))
    vectors
      .select(col(idCol), col(vecCol), col(labelCol))
      .filter(col(vecCol).isNotNull)
      .crossJoin(broadcast(distinctQ))
      .filter(col(labelCol) =!= col(queryLabelCol) &&
        col(idCol) =!= col(qidCol))
      // + 0.0 kills the -0.0 a tiny negative cosine rounds to in DuckDB
      // but not in Spark (numerically equal, hash-distinct — q109)
      .select(col(qidCol), col(idCol), col(labelCol),
        (round(cosine(col(vecCol), col(queryVecCol)), 6) + lit(0.0))
          .as("score"))
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col(qidCol))
          .orderBy(col("score").desc_nulls_last, col(idCol).asc_nulls_first)))
      .filter(col("__rk") <= k)
      .select(col(qidCol), col(idCol), col(labelCol), col("score"))
  }

  /** IVF-ROUTED hard-negative mining — [[hardNegatives]] at batch scale
    * (VERDICT r14 #1): compose the coarse routing of [[ivfPqSearch]]
    * with the label-disqualified per-query top-k, so mining negatives
    * for a training batch costs |Q| × (nprobe buckets' population)
    * instead of |Q| × corpus. A contrastive-training run mines for
    * millions of queries — the broadcast-batch full-scan shape
    * ([[hardNegatives]]) is the one linear-in-corpus retrieval left;
    * this is its routed replacement, and it joins the corpus on the
    * BUCKET KEY (equi-join — no nested-loop, no PlanLint whitelist
    * entry, unlike every bounded-batch brute query).
    *
    * Distributed shape (the [[annSearchBatch]] skeleton): the centroid
    * table (bucket-count rows, bounded by the key space — never
    * corpus-sized) broadcasts against the query table; a per-query rank
    * window keeps the `nprobe` nearest buckets (q141's probe
    * arithmetic: exact-millionth centroid means, the rounded qq − 2qc +
    * cc dot identity, bucket-asc tie-break — so an oracle replays the
    * probed SET bit-for-bit); the corpus is scanned once and equi-joined
    * to the probe set on the bucket key (queries sharing a bucket share
    * the scan); label disqualification and the self-id guard run inside
    * that join; per-query top-k is a rank window (WindowGroupLimit —
    * partial top-k before the exchange). Scores are the q51 round-6
    * cosine chain, ties break on corpus id. Duplicate/NULL qids collapse
    * exactly as [[hardNegatives]] (vector then label ascending).
    *
    * Recall contract: a negative is missed iff it lives outside the
    * query's `nprobe` nearest coarse buckets — the standard IVF recall
    * trade, measured in DedupSimilaritySpec; `nprobe` ≥ the bucket count
    * degenerates to [[hardNegatives]] exactly (spec-pinned). Output:
    * (qidCol, idCol, label, score) — [[hardNegatives]]' schema. */
  def routedNegatives(vectors: DataFrame, idCol: String, vecCol: String,
                      labelCol: String,
                      queries: DataFrame, qidCol: String, queryVecCol: String,
                      queryLabelCol: String,
                      probeDims: Int, nprobe: Int, k: Int): DataFrame = {
    require(nprobe >= 1 && k >= 1,
      s"need nprobe >= 1 and k >= 1 (got nprobe=$nprobe k=$k)")
    require(qidCol != idCol && queryVecCol != vecCol && queryLabelCol != labelCol,
      s"query columns must differ from corpus columns " +
        s"(got id $qidCol/$idCol, vec $queryVecCol/$vecCol, " +
        s"label $queryLabelCol/$labelCol) — alias one side")
    import org.apache.spark.sql.expressions.Window
    val bucketed = vectors
      .select(col(idCol), col(vecCol), col(labelCol))
      .withColumn("__bucket", ivfAssign(col(vecCol), probeDims))
      .filter(col("__bucket").isNotNull)
    val cents = centroidMeans(centroids(bucketed, col("__bucket"), col(vecCol)))
      .withColumnRenamed("bucket", "__bucket")
    val distinctQ = queries
      .select(col(qidCol), col(queryVecCol), col(queryLabelCol))
      .filter(col(qidCol).isNotNull)
      .withColumn("__qrn", row_number().over(
        Window.partitionBy(col(qidCol))
          .orderBy(col(queryVecCol).asc_nulls_last,
            col(queryLabelCol).asc_nulls_last)))
      .filter(col("__qrn") === 1)
      .select(col(qidCol), col(queryVecCol), col(queryLabelCol))
    val probeSet = distinctQ
      .crossJoin(broadcast(cents))
      .select(col(qidCol), col(queryVecCol), col(queryLabelCol), col("__bucket"),
        (round(
          dot(col(queryVecCol), col(queryVecCol))
            - lit(2.0) * dot(col(queryVecCol), col("centroid"))
            + dot(col("centroid"), col("centroid")), 8) + lit(0.0)).as("__d2"))
      .withColumn("__r", row_number().over(
        Window.partitionBy(col(qidCol))
          .orderBy(col("__d2").asc_nulls_last, col("__bucket").asc)))
      .filter(col("__r") <= nprobe)
      .select(col(qidCol), col(queryVecCol), col(queryLabelCol), col("__bucket"))
    bucketed.join(probeSet, Seq("__bucket"))
      .filter(col(labelCol) =!= col(queryLabelCol) &&
        col(idCol) =!= col(qidCol))
      .select(col(qidCol), col(idCol), col(labelCol),
        (round(cosine(col(vecCol), col(queryVecCol)), 6) + lit(0.0))
          .as("score"))
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col(qidCol))
          .orderBy(col("score").desc_nulls_last, col(idCol).asc_nulls_first)))
      .filter(col("__rk") <= k)
      .select(col(qidCol), col(idCol), col(labelCol), col("score"))
  }

  /** Incremental embedding near-dup — the L2 analog of
    * `Dedup.incrementalLshCandidates` (q93's text shape): a fresh batch
    * of vectors probes a STORED IVF-bucketed corpus instead of
    * re-pairing it, so probe cost is ∝ |fresh| × matched-bucket
    * membership, never corpus². `state` carries (idCol, bucket, vecCol)
    * as [[ivfAssign]] shaped it at ingest; `fresh` carries (idCol,
    * vecCol) and is bucketed here the same way. The state side is
    * capped by [[capBuckets]] before the join (the standing mega-bucket
    * guard — SCALE.md's 172× lesson), a re-delivered id never pairs
    * with itself (streaming re-delivery), and candidate pairs are
    * verified by exact cosine ≥ `minCosine` (rounded pre-filter so the
    * kept set is engine-portable). Returns (id_new, id_old, cos). */
  def incrementalEmbeddingCandidates(state: DataFrame, fresh: DataFrame,
                                     idCol: String, vecCol: String,
                                     probeDims: Int, maxBucketSize: Int,
                                     minCosine: Double): DataFrame = {
    val capped = capBuckets(state, "bucket", maxBucketSize)
      .select(col(idCol).as("id_old"), col("bucket"),
        col(vecCol).as("__v_old"))
    val probes = fresh
      .withColumn("bucket", ivfAssign(col(vecCol), probeDims))
      .filter(col("bucket").isNotNull)
      .select(col(idCol).as("id_new"), col("bucket"),
        col(vecCol).as("__v_new"))
    probes.join(capped, Seq("bucket"))
      .filter(col("id_new") =!= col("id_old"))
      .withColumn("cos", round(cosine(col("__v_new"), col("__v_old")), 6))
      .filter(col("cos") >= minCosine)
      .select("id_new", "id_old", "cos")
  }

  /** The standing blow-up guard (SCALE.md) for bucketed candidate
    * generation: DROP buckets larger than `maxBucketSize` before any
    * within-bucket self-join. A skewed embedding distribution (one
    * dominant direction) funnels a constant fraction of the corpus into
    * one bucket and the pair stage goes quadratic — same failure mode as
    * LSH mega-buckets (measured 172×, SCALE.md). Oversized buckets mean
    * "these vectors are all alike"; route them to clustering/exact-dup
    * handling, not pairwise comparison. One count-window shuffle on the
    * bucket key — the same shuffle the candidate join needs anyway. */
  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup as
    * coarse clustering + within-cluster pairwise-cosine prune — the
    * embedding-space answer to "these documents say the same thing in
    * different words", which no token-grain dedup (LSH/SimHash/shingle)
    * can catch.
    *
    * Shape: (1) assign every vector to its nearest of k seed centroids
    * — the q23 engine-exact form: components quantized to integer
    * thousandths so the squared distance is EXACT arithmetic in both
    * engines, (dist, seed) packed into one BIGINT so min() is the
    * deterministic argmin + tie-break; (2) cap cluster size
    * ([[capBuckets]] — an oversized cluster means "all alike", route it
    * to exact-dup handling, never pairwise work); (3) one equi-join on
    * the cluster key, ids ordered, cosine ≥ `tau` (rounded to 6 before
    * the compare, native codegen dot with per-SIDE precomputed norms);
    * (4) greedy keep-min-id: a vector is dropped iff SOME lower-id
    * cluster-mate sits within `tau` (the paper keeps the member
    * farthest from the centroid; min-id is the deterministic,
    * engine-portable choice and identical in dedup power).
    *
    * Scale: the seed table is the model artifact (k-bounded, always
    * broadcast); cost is Σ cluster², bounded by `maxClusterSize` — at
    * 100 TB k grows ∝ corpus (train seeds with [[kmeans]]) to hold
    * cluster size constant, exactly the paper's recipe (k ≈ n/10k).
    *
    * Output: one row per input vector — (idCol, cluster, keep); members
    * of capped-out clusters keep their assignment and keep = true. */
  def semDedup(vectors: DataFrame, idCol: String, vecCol: String,
               seeds: DataFrame, seedIdCol: String, seedVecCol: String,
               k: Int, tau: Double, maxClusterSize: Int): DataFrame = {
    import graft.functions.VectorFunctions.{dotNative, normNative}
    require(k >= 1, s"k must be >= 1 (got $k)")
    // pack factor: smallest power of two > max seed id
    val m = java.lang.Long.highestOneBit(math.max(1L, (k - 1).toLong)) * 2
    def quant(v: Column): Column =
      transform(v, x => round(x.cast("double") * 1000).cast("long"))
    val qs = seeds.select(col(seedIdCol).cast("long").as("__c"),
      quant(col(seedVecCol)).as("__qc"))
    val assigned = vectors
      .select(col(idCol), quant(col(vecCol)).as("__qv"))
      .crossJoin(broadcast(qs))
      .select(col(idCol),
        (aggregate(zip_with(col("__qv"), col("__qc"), (x, y) => (x - y) * (x - y)),
          lit(0L), (acc, x) => acc + x) * m + col("__c")).as("__packed"))
      .groupBy(col(idCol))
      .agg(min("__packed").as("__p"))
      .select(col(idCol), (col("__p") % m).as("cluster"))
    val sides = capBuckets(assigned, "cluster", maxClusterSize)
      .join(vectors.select(col(idCol), col(vecCol)), Seq(idCol))
      .select(col(idCol), col("cluster"), col(vecCol),
        normNative(col(vecCol)).as("__nm"))
    val a = sides.select(col(idCol).as("__ia"), col("cluster"),
      col(vecCol).as("__va"), col("__nm").as("__na"))
    val b = sides.select(col(idCol).as("__ib"), col("cluster"),
      col(vecCol).as("__vb"), col("__nm").as("__nb"))
    val dups = a.join(b, Seq("cluster"))
      .filter(col("__ia") < col("__ib"))
      .filter(round(dotNative(col("__va"), col("__vb")) /
        (col("__na") * col("__nb")), 6) >= tau)
      .select(col("__ib").as(idCol)).distinct()
      .withColumn("__dup", lit(1))
    assigned.join(dups, Seq(idCol), "left")
      .select(col(idCol), col("cluster"), col("__dup").isNull.as("keep"))
  }

  def capBuckets(df: DataFrame, bucketCol: String, maxBucketSize: Int): DataFrame =
    df.withColumn("__n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(bucketCol)))
      .filter(col("__n") <= maxBucketSize)
      .drop("__n")

  // ---- Product quantization (Jégou et al. 2011) ----

  /** PQ codes: the vector split into `m` subspaces of `subDim`
    * components, each subvector coded by its deterministic
    * [[ivfAssign]] bucket (`probeDims` within the subspace). One output
    * row per (vector, subspace): `(idCol, m, sub, code)` — the corpus's
    * searchable form is just the (id, m, code) triple, `m` SMALL INTS
    * PER VECTOR instead of `m·subDim` floats. That is the 100 TB
    * claim: a 64-float embedding compresses ~16× into its code row,
    * so the scan side of a search touches code-sized, not
    * embedding-sized, bytes. Vectors shorter than the full span yield
    * NULL codes for the missing subspaces and are dropped (ragged-data
    * NULL semantics, as everywhere in this file). */
  def pqCodes(df: DataFrame, idCol: String, vecCol: String,
              m: Int, subDim: Int, probeDims: Int): DataFrame = {
    require(m >= 1 && subDim >= 1 && probeDims >= 1 && probeDims <= subDim,
      s"need 1 <= probeDims <= subDim (got m=$m subDim=$subDim probe=$probeDims)")
    df.select(col(idCol),
        posexplode(array((0 until m).map(i =>
          slice(col(vecCol), i * subDim + 1, subDim)): _*)).as(Seq("m", "sub")))
      .withColumn("code", ivfAssign(col("sub"), probeDims))
      .filter(col("code").isNotNull)
  }

  /** PQ codebook from the corpus's own codes: per (subspace, code)
    * centroid in [[centroids]]' exact integer-millionth form — bounded
    * by m × the code space (≤ m·(2p+1)² rows), never by the corpus. */
  def pqCodebook(codes: DataFrame): DataFrame =
    codes
      .select(struct(col("m"), col("code")).as("bucket"), col("sub"))
      .transform(s => centroids(s, col("bucket"), col("sub")))
      .select(col("bucket.m").as("m"), col("bucket.code").as("code"),
        col("n_vecs"), col("centroid_msum"))

  /** Asymmetric-distance (ADC) PQ search: approximate squared L2 from
    * the query to every coded vector as Σ_m ‖q_m − c(code_m)‖² — the
    * query is compared to CENTROIDS, the corpus contributes only its
    * codes. Plan shape: the per-(m, code) distance table is m × code
    * space rows (broadcast); the corpus side is one scan of the codes
    * + a broadcast join + a partial-aggregated sum per id; top-k plans
    * TakeOrderedAndProject. Engine-parity mechanics: centroid means are
    * exact-millionth sums divided once in double; per-subspace d² uses
    * the dot-product identity (qq − 2qc + cc — the q51-proven fold),
    * rounded to 8 dp (+0.0 kills the −0.0 round, q109 lesson); the m
    * partial distances are DECIMAL-summed so association order cannot
    * matter. Output: (idCol, adist), ascending top-k. */
  def pqSearch(vectors: DataFrame, idCol: String, vecCol: String,
               query: DataFrame, queryVecCol: String, k: Int,
               m: Int = 4, subDim: Int = 16, probeDims: Int = 4): DataFrame = {
    val codes = pqCodes(vectors, idCol, vecCol, m, subDim, probeDims)
    val book = centroidMeans(pqCodebook(codes))
    pqAdcRank(codes, pqAdcTable(book, query, queryVecCol, m, subDim),
      idCol, k)
  }

  /** The per-query ADC distance table: (m, code, d²) over the bounded
    * codebook — computed once per query, broadcast into the rank join.
    * `book` is [[centroidMeans]] of [[pqCodebook]]. */
  def pqAdcTable(book: DataFrame, query: DataFrame, queryVecCol: String,
                 m: Int, subDim: Int): DataFrame = {
    val qsubs = query.select(
      posexplode(array((0 until m).map(i =>
        slice(col(queryVecCol), i * subDim + 1, subDim)): _*))
        .as(Seq("m", "qsub")))
    book
      .join(broadcast(qsubs), Seq("m"))
      .select(col("m"), col("code"),
        (round(
          dot(col("qsub"), col("qsub"))
            - lit(2.0) * dot(col("qsub"), col("centroid"))
            + dot(col("centroid"), col("centroid")), 8) + lit(0.0)).as("d2"))
  }

  /** The scan side of a PQ search: codes ⋈ broadcast ADC table →
    * DECIMAL-summed per-id distance → ascending top-k. `codes` only
    * needs (idCol, m, code) — in production THIS is the materialized
    * table (small ints, ~16× under the float embeddings), and every
    * query pays one pass over it plus a bounded broadcast. Fully lazy
    * (no driver action); the long codes layout costs a per-id
    * aggregation shuffle — [[pqSearchWide]] is the map-only variant
    * when a driver action per query is acceptable. */
  def pqAdcRank(codes: DataFrame, dtable: DataFrame,
                idCol: String, k: Int): DataFrame =
    codes
      .join(broadcast(dtable), Seq("m", "code"))
      .groupBy(col(idCol))
      .agg(sum(col("d2").cast("decimal(28,8)")).cast("decimal(28,8)")
        .cast("double").as("adist"))
      .orderBy(col("adist").asc_nulls_last, col(idCol).asc_nulls_first)
      .limit(k)

  /** [[pqSearch]]'s map-only twin: one row per vector carrying its m
    * codes, the per-query ADC table collected to the driver as m dense
    * double arrays (bounded by m·(2p+1)² — the kmeans-centroids
    * bounded-driver-state pattern) and inlined as literals, so the
    * whole search is scan → row-local literal lookups → DECIMAL adds in
    * fixed subspace order → TakeOrderedAndProject. ZERO shuffles, which
    * is what makes PQ's byte reduction actually pay: the long-form
    * [[pqAdcRank]] re-shuffles per id and gives back the saved scan
    * time (MicroBench `pq-wide-/pq-adc-/brute-cos-500k` rows).
    * Identical arithmetic to [[pqSearch]] — same rounded d² values,
    * exact decimal addition in any order (DedupSimilaritySpec pins
    * result parity); vectors missing EVERY subspace are dropped, and a
    * (m, code) absent from the codebook (impossible when the codebook
    * was built from this corpus) hits a NaN array slot and fails
    * loudly ([[adcDist]]), never a silent 0. */
  def pqSearchWide(vectors: DataFrame, idCol: String, vecCol: String,
                   query: DataFrame, queryVecCol: String, k: Int,
                   m: Int = 4, subDim: Int = 16, probeDims: Int = 4): DataFrame = {
    val codesLong = pqCodes(vectors, idCol, vecCol, m, subDim, probeDims)
    val book = centroidMeans(pqCodebook(codesLong))
    val dense = pqAdcDense(
      pqAdcTable(book, query, queryVecCol, m, subDim), m, probeDims)
    pqAdcRankWide(
      pqCodesWide(vectors, idCol, vecCol, m, subDim, probeDims),
      dense, idCol, k)
  }

  /** One row per vector with its m-code ARRAY — the map-only codes
    * layout [[pqAdcRankWide]] scans (vs [[pqCodes]]' long layout that
    * [[pqCodebook]] aggregates). A subspace the vector can't fill
    * codes NULL in place. */
  def pqCodesWide(df: DataFrame, idCol: String, vecCol: String,
                  m: Int, subDim: Int, probeDims: Int): DataFrame =
    df.select(col(idCol),
      array((0 until m).map(i =>
        ivfAssign(slice(col(vecCol), i * subDim + 1, subDim), probeDims)): _*)
        .as("codes"))

  /** Collect the per-query ADC table into m dense double arrays
    * (bounded by m·(2p+1)² — the kmeans-centroids bounded-driver-state
    * pattern). Slots no (m, code) pair maps to hold NaN so an
    * impossible lookup fails loudly ([[adcDist]]). */
  def pqAdcDense(dtable: DataFrame, m: Int, probeDims: Int): Array[Array[Double]] = {
    val radix = 2 * probeDims + 1
    val dense = Array.fill(m, radix * radix)(Double.NaN)
    dtable.collect().foreach(r => dense(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
    dense
  }

  /** IVF × PQ — the composed serving shape (Jégou et al. 2011 §IV;
    * FAISS `IVFPQ` with by_residual=false): coarse routing picks
    * `nprobe` inverted lists, ADC ranks ONLY their PQ codes. q86/q117
    * route but scan full embeddings; q125 ADC-ranks but scans ALL
    * codes — this touches `nprobe` buckets of ~16×-compressed codes,
    * which is the actual 100 TB search: the materialized corpus table
    * is (id, coarse bucket, m small-int codes), the query-time state is
    * three bounded broadcast artifacts (coarse centroid table, PQ
    * codebook, per-query ADC table), and the scan side is a map-only
    * filter + literal-lookup rank (zero joins, zero shuffles — probed
    * bucket ids are collected at construction, ≤ `nprobe` ints, the
    * kmeans bounded-driver-state pattern; with the bucket as a layout
    * partition column the filter prunes directories before reading).
    *
    * Codebook is trained corpus-wide on raw subvectors (no residual
    * encoding — the deterministic [[ivfAssign]] sub-codes can't code
    * residuals; FAISS ships the same variant). Coarse ranking uses the
    * q125 dot-identity arithmetic (exact-millionth centroid means, qq −
    * 2qc + cc rounded to 8, bucket-asc tie-break) so an oracle replays
    * the probed set bit-for-bit; ADC ranking is [[pqAdcRankWide]]'s
    * exact-DECIMAL form. Returns ascending (idCol, adist) top-k over
    * the probed population. */
  def ivfPqSearch(vectors: DataFrame, idCol: String, vecCol: String,
                  query: DataFrame, queryVecCol: String,
                  coarseDims: Int, nprobe: Int, k: Int,
                  m: Int = 4, subDim: Int = 16, probeDims: Int = 4): DataFrame = {
    require(nprobe >= 1 && k >= 1)
    val bucketed = vectors
      .withColumn("__bucket", ivfAssign(col(vecCol), coarseDims))
      .filter(col("__bucket").isNotNull)
    val cents = centroidMeans(centroids(bucketed, col("__bucket"), col(vecCol)))
      .withColumnRenamed("bucket", "__bucket")
    val probedIds: Seq[Int] = cents.crossJoin(broadcast(query))
      .select(col("__bucket"),
        (round(
          dot(col(queryVecCol), col(queryVecCol))
            - lit(2.0) * dot(col(queryVecCol), col("centroid"))
            + dot(col("centroid"), col("centroid")), 8) + lit(0.0)).as("__d2"))
      .orderBy(col("__d2").asc_nulls_last, col("__bucket").asc)
      .limit(nprobe)
      .collect().map(_.getInt(0)).toSeq
    val book = centroidMeans(pqCodebook(
      pqCodes(vectors, idCol, vecCol, m, subDim, probeDims)))
    val dense = pqAdcDense(
      pqAdcTable(book, query, queryVecCol, m, subDim), m, probeDims)
    val wide = bucketed.select(col(idCol), col("__bucket"),
      array((0 until m).map(i =>
        ivfAssign(slice(col(vecCol), i * subDim + 1, subDim), probeDims)): _*)
        .as("codes"))
    pqAdcRankWide(
      wide.filter(col("__bucket").isin(probedIds: _*)).drop("__bucket"),
      dense, idCol, k)
  }

  /** IVF × PQ with a TRAINED coarse quantizer (VERDICT r14 missing #2
    * — [[ivfPqSearch]] routes via the deterministic hash-assigned
    * [[ivfAssign]] buckets; FAISS trains the coarse level, and hash
    * buckets cost recall at fixed nprobe): the caller provides the
    * coarse centroid table — [[kmeans]] output re-meaned through
    * [[centroids]]/[[centroidMeans]], or any fixed seed set — and both
    * assignment and probe ranking run against it in EXACT integer
    * arithmetic (components quantized to thousandths, the q23 engine-
    * exact argmin: squared distances are exact longs, ties break on
    * centroid id), so a SQL oracle replays the routing bit-for-bit
    * with no training loop to unroll.
    *
    * Plan shape (the [[ivfPqSearch]] serving contract, kept): the
    * coarse table is the model artifact — k rows, collected ONCE at
    * construction (the pqAdcDense bounded-driver-state pattern) and
    * inlined as literals, so assignment is a row-local argmin (zero
    * joins); the probed cluster ids are computed on the driver over
    * those same k rows (≤ nprobe longs); the scan side stays map-only
    * filter + ADC literal lookups. Rows whose vector has the wrong
    * dimension or a NULL component are dropped up front (the [[kmeans]]
    * ragged rule — a NULL distance would silently pollute cluster 0).
    *
    * Recall: DedupSimilaritySpec measures recall@20 vs exact L2 for
    * kmeans-trained centroids against the hash-assigned variant at
    * equal nprobe — trained routing must never lose. Returns ascending
    * (idCol, adist) top-k over the probed population. */
  private def quantMilli(v: Column): Column =
    transform(v, x => round(x.cast("double") * 1000).cast("long"))

  /** Collected, 1e3-quantized coarse centroid table — bounded driver
    * state (the kmeans pattern), sorted by id so routing ties replay. */
  private def collectQuantCents(coarse: DataFrame, idCol: String,
      vecCol: String): Array[(Long, Array[Long])] = {
    val cents = coarse
      .select(col(idCol).cast("long"), quantMilli(col(vecCol)))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
      .sortBy(_._1)
    require(cents.nonEmpty, "trained coarse quantizer needs >= 1 centroid")
    val dim = cents.head._2.length
    require(cents.forall(_._2.length == dim),
      "coarse centroids must share one dimension")
    cents
  }

  /** Driver-side exact long arithmetic == engine long arithmetic: the
    * probed bucket set is replayable by any SQL engine. */
  private def probedIds(qv: Array[Long], cents: Array[(Long, Array[Long])],
      nprobe: Int): Seq[Long] =
    cents.map { case (cid, cv) =>
      var d2 = 0L; var i = 0
      while (i < qv.length) { val t = qv(i) - cv(i); d2 += t * t; i += 1 }
      (d2, cid)
    }.sorted.take(nprobe).map(_._2).toSeq

  private def quantQuery(query: DataFrame, queryVecCol: String,
      dim: Int): Array[Long] = {
    val qv = query.select(quantMilli(col(queryVecCol))).head()
      .getSeq[Long](0).toArray
    require(qv.length == dim,
      s"query dimension ${qv.length} != centroid dimension $dim")
    qv
  }

  /** Build-side of a STORED IVF×PQ index: the corpus coded ONCE into
    * `(idCol, codes, bucket)` — bucket from the trained-coarse exact
    * argmin (the [[ivfPqSearchTrained]] assignment, bit-for-bit), codes
    * from the q125 chain — plus the corpus-trained PQ codebook in
    * [[pqCodebook]]'s EXACT integer-sum form (parquet-safe; means are
    * divided at probe time). Write the codes parquet `partitionBy
    * ("bucket")` ([[graft.sources.Writers.ensureIvfPqIndex]]) and a
    * probe's coarse routing becomes DIRECTORY pruning — the q158
    * stored-layout discipline applied to ANN serving. */
  /** `passthrough` columns ride the codes table untouched (the FAISS
    * payload-alongside-codes shape) — e.g. a label column so stored-
    * index mining ([[routedNegativesStored]]) never re-joins the
    * corpus-sized base table at probe time. */
  def ivfPqIndexTables(vectors: DataFrame, idCol: String, vecCol: String,
                       coarse: DataFrame, coarseIdCol: String,
                       coarseVecCol: String, m: Int = 4, subDim: Int = 16,
                       probeDims: Int = 4,
                       passthrough: Seq[String] = Nil): (DataFrame, DataFrame) =
    ivfPqIndexTablesWith(vectors, idCol, vecCol,
      collectQuantCents(coarse, coarseIdCol, coarseVecCol),
      m, subDim, probeDims, passthrough)

  /** Code/bucket rows of `vectors` against a FIXED centroid table
    * (cid, cvec) — the FAISS add() contract, exposed so fresh vectors
    * can be folded into a STORED [[ivfPqIndexTables]] layout without
    * touching the trained artifacts
    * ([[graft.sources.Writers.mergeIvfPqIndex]]): a vector's PQ codes
    * are an intrinsic function of the vector (sign/abs-rank structure,
    * [[pqCodesWide]]) and its bucket is the exact-integer argmin
    * against the frozen centroids — so encode(old) ∪ encode(fresh)
    * IS the codes table a from-scratch build over old ∪ fresh writes
    * (with the same frozen artifacts). One map-only pass, centroids
    * collected at construction (bounded by the coarse k). */
  def ivfPqEncode(vectors: DataFrame, idCol: String, vecCol: String,
                  centroids: DataFrame, m: Int = 4, subDim: Int = 16,
                  probeDims: Int = 4,
                  passthrough: Seq[String] = Nil): DataFrame =
    ivfPqEncodeWith(vectors, idCol, vecCol,
      collectQuantCents(centroids, "cid", "cvec"),
      m, subDim, probeDims, passthrough)

  private def ivfPqEncodeWith(vectors: DataFrame, idCol: String,
      vecCol: String, cents: Array[(Long, Array[Long])], m: Int,
      subDim: Int, probeDims: Int,
      passthrough: Seq[String]): DataFrame = {
    val dim = cents.head._2.length
    val clean = vectors
      .filter(size(col(vecCol)) === dim &&
        !exists(col(vecCol), x => x.isNull))
      .withColumn("__qv", quantMilli(col(vecCol)))
    val assignment = array_min(array(cents.map { case (cid, cv) =>
      struct(
        aggregate(zip_with(col("__qv"), lit(cv), (x, y) => (x - y) * (x - y)),
          lit(0L), (s2, x) => s2 + x).as("d"),
        lit(cid).as("c"))
    }.toIndexedSeq: _*)).getField("c")
    clean.select(col(idCol) +: passthrough.map(col) :+
      array((0 until m).map(i =>
        ivfAssign(slice(col(vecCol), i * subDim + 1, subDim), probeDims)): _*)
        .as("codes") :+
      assignment.as("bucket"): _*)
  }

  private def ivfPqIndexTablesWith(vectors: DataFrame, idCol: String,
      vecCol: String, cents: Array[(Long, Array[Long])], m: Int,
      subDim: Int, probeDims: Int,
      passthrough: Seq[String] = Nil): (DataFrame, DataFrame) = {
    val codes = ivfPqEncodeWith(
      vectors, idCol, vecCol, cents, m, subDim, probeDims, passthrough)
    val book = pqCodebook(pqCodes(vectors, idCol, vecCol, m, subDim, probeDims))
    (codes, book)
  }

  def ivfPqSearchTrained(vectors: DataFrame, idCol: String, vecCol: String,
                         query: DataFrame, queryVecCol: String,
                         coarse: DataFrame, coarseIdCol: String,
                         coarseVecCol: String,
                         nprobe: Int, k: Int,
                         m: Int = 4, subDim: Int = 16,
                         probeDims: Int = 4): DataFrame = {
    require(nprobe >= 1 && k >= 1)
    val cents = collectQuantCents(coarse, coarseIdCol, coarseVecCol)
    val qv = quantQuery(query, queryVecCol, cents.head._2.length)
    val probed = probedIds(qv, cents, nprobe)
    val (codes, book) = ivfPqIndexTablesWith(
      vectors, idCol, vecCol, cents, m, subDim, probeDims)
    val dense = pqAdcDense(
      pqAdcTable(centroidMeans(book), query, queryVecCol, m, subDim),
      m, probeDims)
    pqAdcRankWide(
      codes.filter(col("bucket").isin(probed: _*)).drop("bucket"),
      dense, idCol, k)
  }

  /** Probe-side of a stored [[ivfPqIndexTables]] layout — what an
    * IVF×PQ search costs when the index is MATERIALIZED (the FAISS
    * deployment shape; the live-coding searches above are upper
    * bounds): `centroids` and `book` are bounded reads collected at
    * construction (≤k centroid rows, ≤m·(2p+1)² codebook rows); the
    * ONLY corpus-sized read is the codes layout, filtered to the
    * probed buckets — with `bucket` as the parquet partition column
    * the filter prunes DIRECTORIES before any row is read
    * (PartitionFilters, PlanLint-pinned via q162). Bit-identical to
    * [[ivfPqSearchTrained]] at equal inputs: same routing arithmetic,
    * same codebook, same ADC ranking (spec-pinned). `centroids` uses
    * the stored-layout contract columns (cid, cvec). */
  def ivfPqSearchStored(codes: DataFrame, book: DataFrame,
                        centroids: DataFrame, idCol: String,
                        query: DataFrame, queryVecCol: String,
                        nprobe: Int, k: Int,
                        m: Int = 4, subDim: Int = 16,
                        probeDims: Int = 4): DataFrame = {
    require(nprobe >= 1 && k >= 1)
    val cents = collectQuantCents(centroids, "cid", "cvec")
    val qv = quantQuery(query, queryVecCol, cents.head._2.length)
    val probed = probedIds(qv, cents, nprobe)
    val dense = pqAdcDense(
      pqAdcTable(centroidMeans(book), query, queryVecCol, m, subDim),
      m, probeDims)
    pqAdcRankWide(
      codes.filter(col("bucket").isin(probed: _*)).drop("bucket"),
      dense, idCol, k)
  }

  /** The per-tensor quantization scale of [[sq8Search]]: the single
    * global `max(|component|)` over the corpus — one aggregation to ONE
    * row (pure selection, no arithmetic, so the collected double is
    * bit-identical to what any SQL engine computes). Per-TENSOR (one
    * scale), not per-dim min/max: an affine per-dim code shifts every
    * vector by `−mn_d` and the symmetric code-dot would rank the
    * SHIFTED space, not the true dot (measured: recall@10 of 2/10 on
    * the spec fixture) — one global symmetric scale keeps
    * `Σ c_x·c_q ≈ (127/amax)²·Σ x·q`, a monotone approximation of the
    * real inner product. */
  def sq8Amax(vectors: DataFrame, vecCol: String): DataFrame =
    vectors
      .select(posexplode(col(vecCol)).as(Seq("pos", "v")))
      .agg(max(abs(col("v").cast("double"))).as("amax"))

  /** Signed 8-bit code array of one vector against the inlined global
    * scale: `c_d = floor(v_d·127/amax + 0.5)` clamped to [−127, 127] —
    * a portable IEEE double chain in fixed written order, so a SQL
    * oracle replays codes bit-for-bit. Output `array<float>` (small
    * integers, float-exact) to feed the codegen-native dot. An all-zero
    * corpus (amax = 0) codes all-zero rather than dividing by zero. */
  def sq8CodeArray(vec: Column, amax: Double): Column = {
    val body: Column => Column =
      if (amax == 0.0) _ => lit(0.0)
      else x =>
        least(lit(127.0), greatest(lit(-127.0),
          floor(x.cast("double") * lit(127.0) / lit(amax) + lit(0.5))))
    transform(vec, body).cast("array<float>")
  }

  /** SQ8 symmetric-int8 ANN search — the memory tier BETWEEN brute
    * floats (q51/q65: full precision, full bytes) and PQ codes
    * (q125/q141: ~16× compression, coarse): per-tensor signed 8-bit
    * quantization (4× under float32) with SYMMETRIC integer scoring —
    * both query and corpus quantized, similarity = the integer dot of
    * code arrays (every product ≤ 127² and every 64-dim sum < 2^21,
    * exactly representable in double, so the codegen-native dot is
    * EXACT integer arithmetic and any SQL engine replays it bit-for-bit
    * — no rounding step anywhere in the rank key, unlike the cosine
    * tiers' round-to-6). The int8-dot serving shape of production
    * vector stores; component error ≤ amax/254, unbiased.
    *
    * Plan shape: the 1-row scale aggregation collected once; coding is
    * a row-local literal transform — in production the code table is
    * MATERIALIZED once (the pqCodesWide framing) and each query pays
    * one map-only scan of 64-byte rows + TakeOrdered, zero joins, zero
    * shuffles. The exact-cosine audit rides along on the k returned
    * rows only (bounded re-join — the q135 n_exact pattern). Returns
    * `(idCol, isim, cos_exact)`, descending integer-similarity top-k,
    * ids ascending on ties. */
  def sq8Search(vectors: DataFrame, idCol: String, vecCol: String,
                query: DataFrame, queryVecCol: String, k: Int): DataFrame = {
    val amaxRow = sq8Amax(vectors, vecCol).head()
    val amax = if (amaxRow.isNullAt(0)) 0.0 else amaxRow.getDouble(0)
    val codes = vectors.select(col(idCol),
      sq8CodeArray(col(vecCol), amax).as("codes"))
    val qc = query.select(sq8CodeArray(col(queryVecCol), amax).as("qcodes"))
    val topk = codes.crossJoin(broadcast(qc))
      .select(col(idCol),
        graft.functions.VectorFunctions.dotNative(col("codes"), col("qcodes"))
          .cast("long").as("isim"))
      .orderBy(col("isim").desc_nulls_last, col(idCol).asc_nulls_first)
      .limit(k)
    topk
      .join(vectors.select(col(idCol), col(vecCol).as("__vec")), Seq(idCol))
      .crossJoin(broadcast(query.select(col(queryVecCol).as("__qvec"))))
      .select(col(idCol), col("isim"),
        (round(
          graft.functions.VectorFunctions.dotNative(col("__vec"), col("__qvec")) /
            (graft.functions.VectorFunctions.normNative(col("__vec")) *
              graft.functions.VectorFunctions.normNative(col("__qvec"))), 6)
          + lit(0.0)).as("cos_exact"))
  }

  /** The map-only rank stage: row-local literal lookups + fixed-order
    * DECIMAL adds + TakeOrderedAndProject. Vectors missing EVERY
    * subspace are dropped; a missing subspace contributes 0, matching
    * [[pqAdcRank]]'s partial-sum semantics on ragged rows. */
  def pqAdcRankWide(wideCodes: DataFrame, dense: Array[Array[Double]],
                    idCol: String, k: Int): DataFrame =
    wideCodes
      .filter(adcAnyCode(dense.length))
      .select(col(idCol), adcDist(typedLit(dense), dense.length).as("adist"))
      .orderBy(col("adist").asc_nulls_last, col(idCol).asc_nulls_first)
      .limit(k)

  /** Row-local ADC distance over a `codes` array column: subspace i's
    * code indexes the i-th of the m dense tables in `tables`
    * (`array<array<double>>`), and the m lookups are DECIMAL-added in
    * fixed subspace order. The single-query forms pass one query's
    * tables as a literal, which constant folding splits back into m
    * literal arrays; the batch forms pass a column that carries each
    * row's own query's tables ([[storedBatchTopK]]). A code whose slot
    * holds NaN (no codebook row for that (m, code)) raises: a NaN casts
    * to a NULL decimal even under ANSI, and a NULL distance would sort
    * last, silently dropping the vector from the top-k. */
  private def adcDist(tables: Column, m: Int): Column =
    coalesce((0 until m).map { i =>
      val c = element_at(col("codes"), i + 1)
      when(c.isNull, lit(BigDecimal(0)).cast("decimal(28,8)"))
        .otherwise(element_at(element_at(tables, i + 1), c + 1)
          .cast("decimal(28,8)"))
    }.reduce(_ + _).cast("decimal(28,8)").cast("double"),
      raise_error(lit("ADC lookup hit a NaN slot: a scanned vector has a " +
        "(subspace, code) the codebook has no row for")))

  private def adcAnyCode(m: Int): Column =
    (0 until m).map(i =>
      element_at(col("codes"), i + 1).isNotNull).reduce(_ || _)

  /** IVF-routed hard-negative mining against a STORED
    * [[ivfPqIndexTables]] layout — the stored twin of
    * [[routedNegatives]] (q155), ranked by ADC distance ASCENDING over
    * PQ codes instead of exact cosine over embeddings (the index holds
    * ~16×-compressed codes plus the `labelCol` payload written at build
    * time, so probing never re-joins the corpus-sized base table; the
    * recall trade vs the live arm is measured in SCALE.md, "Round 16:
    * ... stored-index BATCH mining").
    *
    * Scale shape: [[storedBatchTopK]]'s — one pruned pass of the codes
    * layout serves the whole batch; the query's label rides its probe
    * pairs, so label/self disqualification runs inside the bucket join.
    * Duplicate qids collapse on (vector, label) ascending, the
    * [[hardNegatives]] rule. Returns (qidCol, idCol, labelCol, adist),
    * per-query ascending top-k, ids ascending on ties. qids must be
    * integral (they key the driver-side routing). */
  def routedNegativesStored(codes: DataFrame, book: DataFrame,
                            centroids: DataFrame, idCol: String,
                            labelCol: String, queries: DataFrame,
                            qidCol: String, queryVecCol: String,
                            queryLabelCol: String, nprobe: Int, k: Int,
                            m: Int = 4, subDim: Int = 16,
                            probeDims: Int = 4): DataFrame = {
    require(qidCol != idCol && queryLabelCol != labelCol,
      s"query columns must differ from stored-index columns " +
        s"(got id $qidCol/$idCol, label $queryLabelCol/$labelCol) — " +
        s"alias one side")
    storedBatchTopK(codes, book, centroids, idCol, queries, qidCol,
      queryVecCol, Seq(queryLabelCol),
      col(labelCol) =!= col(queryLabelCol) && col(idCol) =!= col(qidCol),
      Seq(labelCol), nprobe, k, m, subDim, probeDims)
  }

  /** Per-query ANN top-k against a STORED [[ivfPqIndexTables]] layout
    * for a query batch — [[ivfPqSearchStored]]'s q162 serving shape
    * generalized to a query TABLE (the q168/q173 batch move applied to
    * ranked ANN serving, and [[routedNegativesStored]] minus the
    * mining-specific label/self disqualification): the retrieval half
    * of a training-batch pipeline's vector tier. Scale shape:
    * [[storedBatchTopK]]'s. Returns (qidCol BIGINT, idCol, adist) —
    * per-query ADC ascending top-k, ids ascending on ties; qids must be
    * integral. */
  def ivfPqSearchStoredBatch(codes: DataFrame, book: DataFrame,
                             centroids: DataFrame, idCol: String,
                             queries: DataFrame, qidCol: String,
                             queryVecCol: String, nprobe: Int, k: Int,
                             m: Int = 4, subDim: Int = 16,
                             probeDims: Int = 4): DataFrame = {
    require(qidCol != idCol,
      s"query id column must differ from the stored-index id column " +
        s"(both '$idCol') — alias one side")
    storedBatchTopK(codes, book, centroids, idCol,
      queries.select(col(qidCol).cast("long").as(qidCol), col(queryVecCol)),
      qidCol, queryVecCol, Nil, lit(true), Nil, nprobe, k, m, subDim,
      probeDims)
  }

  /** Most distinct qids one stored batch call serves. The batch's
    * quantized vectors, routing and ADC tables are driver-side state,
    * so "a query batch" must stay a driver-priced object; a
    * corpus-sized query side is a JOIN ([[pqAdcRank]]'s table form),
    * not a batch. */
  val MaxQueryBatch = 4096

  /** The scored scan of the stored batch forms. NULL qids are dropped
    * and duplicate qids collapse to one row (the array-minimal vector
    * wins, then the `carried` query columns ascending) — a duplicated
    * qid would corrupt its rank window. The collapsed batch's quantized
    * vectors are collected once (at most [[MaxQueryBatch]] rows) and
    * routed on the driver in exact integer arithmetic (replayable by any
    * SQL engine); the distinct probed-bucket union is ≤ the CENTROID
    * count regardless of |Q|, so the codes scan carries plan-time
    * PartitionFilters literals (directory pruning) and ONE filtered pass
    * serves the whole batch. Each (qid, bucket) probe pair carries the
    * query's `carried` columns and its ADC tables (m dense arrays,
    * [[denseAdcByQid]]) as data, so the broadcast equi-join on the bucket
    * key fans rows to their probing queries and [[adcDist]] reads each
    * row's own tables: the generated code is the same for 3 qids or
    * 4,096. `keep` filters the joined rows; one qid-keyed rank window
    * (WindowGroupLimit cuts before the exchange) keeps k per query.
    * Returns (qidCol, idCol, out…, adist). */
  private def storedBatchTopK(codes: DataFrame, book: DataFrame,
      centroids: DataFrame, idCol: String, queries: DataFrame,
      qidCol: String, queryVecCol: String, carried: Seq[String],
      keep: Column, out: Seq[String], nprobe: Int, k: Int, m: Int,
      subDim: Int, probeDims: Int): DataFrame = {
    require(nprobe >= 1 && k >= 1,
      s"need nprobe >= 1 and k >= 1 (got nprobe=$nprobe k=$k)")
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType,
      StructField, StructType}
    import scala.jdk.CollectionConverters._
    val cents = collectQuantCents(centroids, "cid", "cvec")
    val dim = cents.head._2.length
    val qcols = qidCol +: carried
    val distinctQ = queries
      .select((qcols :+ queryVecCol).map(col): _*)
      .filter(col(qidCol).isNotNull)
      .withColumn("__qrn", row_number().over(
        Window.partitionBy(col(qidCol))
          .orderBy((queryVecCol +: carried).map(col(_).asc_nulls_last): _*)))
      .filter(col("__qrn") === 1)
      .drop("__qrn")
    val n = qcols.length
    val qrows = distinctQ
      .select(qcols.map(col) :+ col(qidCol).cast("long") :+
        quantMilli(col(queryVecCol)): _*)
      .limit(MaxQueryBatch + 1)
      .collect()
    require(qrows.length <= MaxQueryBatch,
      s"a stored batch probe serves a driver-priced batch — got more " +
        s"than $MaxQueryBatch distinct qids; a corpus-sized query side " +
        "needs the join form, not a batch")
    qrows.foreach { r =>
      val len = Option(r.getSeq[Long](n + 1)).map(_.length)
      require(len.contains(dim),
        s"query ${r.getLong(n)} dimension ${len.getOrElse("NULL")} != " +
          s"centroid dimension $dim")
    }
    val tables = denseAdcByQid(distinctQ, book, qidCol, queryVecCol,
      qrows.map(_.getLong(n)).toSeq, m, subDim, probeDims)
    val pairs = qrows.toSeq.flatMap { r =>
      probedIds(r.getSeq[Long](n + 1).toArray, cents, nprobe).map(b =>
        Row.fromSeq((0 until n).map(r.get) ++ Seq(b, tables(r.getLong(n)))))
    }
    val probes = queries.sparkSession.createDataFrame(pairs.asJava,
      StructType(qcols.map(distinctQ.schema(_)) ++ Seq(
        StructField("bucket", LongType),
        StructField("__tables", ArrayType(ArrayType(DoubleType))))))
    codes
      .filter(col("bucket").isin(pairs.map(_.getLong(n)).distinct: _*))
      .join(broadcast(probes), Seq("bucket"))
      .filter(keep)
      .filter(adcAnyCode(m))
      .select((col(qidCol) +: col(idCol) +: out.map(col)) :+
        adcDist(col("__tables"), m).as("adist"): _*)
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col(qidCol))
          .orderBy(col("adist").asc_nulls_last, col(idCol).asc_nulls_first)))
      .filter(col("__rk") <= k)
      .drop("__rk")
  }

  /** Per-query dense ADC tables for a query batch: book ⋈ broadcast
    * query subvectors (the pqAdcTable arithmetic, qid-keyed), collected
    * once — ≤ |Q|·m·(2p+1)² rows, the pqAdcDense contract, with NaN in
    * the slots no (m, code) row fills. */
  private def denseAdcByQid(distinctQ: DataFrame, book: DataFrame,
                            qidCol: String, queryVecCol: String,
                            qids: Seq[Long], m: Int, subDim: Int,
                            probeDims: Int): Map[Long, Array[Array[Double]]] = {
    val qsubs = distinctQ.select(col(qidCol).cast("long").as("__qid"),
      posexplode(array((0 until m).map(i =>
        slice(col(queryVecCol), i * subDim + 1, subDim)): _*))
        .as(Seq("m", "qsub")))
    val radix = 2 * probeDims + 1
    val denseByQ: Map[Long, Array[Array[Double]]] =
      qids.map(q => q -> Array.fill(m, radix * radix)(Double.NaN)).toMap
    centroidMeans(book).join(broadcast(qsubs), Seq("m"))
      .select(col("__qid"), col("m"), col("code"),
        (round(
          dot(col("qsub"), col("qsub"))
            - lit(2.0) * dot(col("qsub"), col("centroid"))
            + dot(col("centroid"), col("centroid")), 8) + lit(0.0)).as("d2"))
      .collect()
      .foreach(r => denseByQ(r.getLong(0))(r.getInt(1))(r.getInt(2)) =
        r.getDouble(3))
    denseByQ
  }
}
