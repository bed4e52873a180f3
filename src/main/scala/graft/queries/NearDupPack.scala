package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.operators.{Dedup, Graph, Retrieval, Similarity, TextStats}

/** Near-duplicate detection at scale — SURVEY §2.9 L1/L2 extended.
  * Four mechanisms, each the oracle-checked form of a 100 TB design:
  *
  *  - q58 MinHash+LSH: signatures are row-local; candidate pairs come from
  *    ONE equi-join on (band, bucket) — the shuffle is linear in corpus
  *    size, never all-pairs. Exact Jaccard is then verified only within
  *    candidates (array_intersect on the already-carried token arrays).
  *  - q59 SimHash: one 32-bit row-local signature; the top-byte bucket is
  *    the banding key for Hamming-style candidate grouping.
  *  - q60 n-gram (bigram) Jaccard: shingling makes features rare, so the
  *    token equi-join stays sparse where unigrams would be dense.
  *  - q61 embedding cosine near-dup: brute-force on a candidate set; the
  *    unbounded path is Similarity.ivfAssign bucket pruning.
  *
  * All hash primitives are md5-derived (Dedup.tokenHash) so DuckDB replays
  * them bit-for-bit; swap xxhash64 in when oracle parity is not required.
  */
object NearDupPack extends QueryPack {

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // L1 scale path: MinHash signatures → LSH banding → verified Jaccard.
    "q58_minhash_lsh" -> ((s, dir) => Q.ordered {
      val docs = Q.wide(Q.t(s, dir, "documents").filter(col("doc_id") % 5 === 0))
        .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("toks"))
      val sigs = docs.select(col("doc_id"),
        Dedup.minhashSignature(col("toks"), k = 8).as("sig"))
      val buckets = Dedup.lshBuckets(sigs, "doc_id", col("sig"),
        bands = 4, rowsPerBand = 2)
      // The load-bearing scale guard: buckets over 50 docs are dropped
      // before the self-join (measured 172× on a homogeneous 10× corpus,
      // SCALE.md). On this corpus the histogram is bimodal — dozens of
      // <=13-doc buckets plus a few 60–70-doc mega-buckets the cap removes.
      val cand = Dedup.lshCandidates(buckets, maxBucketSize = 50)
      val inter = size(array_intersect(col("ta"), col("tb")))
      cand
        .join(docs.select(col("doc_id").as("id_a"), col("toks").as("ta")), Seq("id_a"))
        .join(docs.select(col("doc_id").as("id_b"), col("toks").as("tb")), Seq("id_b"))
        .select(col("id_a"), col("id_b"),
          (inter.cast("double") / (size(col("ta")) + size(col("tb")) - inter))
            .as("jaccard"))
    }),

    // L1: canonicalization-based exact dedup — the normalization pass
    // that runs BEFORE any near-dup machinery: case/punctuation/
    // whitespace-folded text, fingerprinted, grouped (representative =
    // min doc_id). The corpus has no natural casing/punct variants, so
    // (q83/q91 pattern) a deterministic noised copy of every 7th doc —
    // uppercased, extra spacing and punctuation — is unioned in on both
    // sides: raw md5 treats copy and original as distinct, the canonical
    // fingerprint collapses each pair.
    "q27_canonical_dedup" -> ((s, dir) => Q.ordered {
      val base = Q.wide(Q.t(s, dir, "documents"))
        .select(col("doc_id"), col("text"))
      val noisy = base.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"),
          concat(lit("  "), upper(col("text")), lit(" !!")).as("text"))
      base.unionByName(noisy)
        .select(col("doc_id"),
          md5(TextStats.canonicalText(col("text"))).as("canon_fp"))
        .groupBy("canon_fp")
        .agg(min("doc_id").as("rep_id"), count(lit(1)).as("n_docs"))
    }),

    // L1: SimHash signature + top-byte candidate bucket. The token-hash
    // array is materialized in its own projection so the 32 bit-vote
    // aggregates reuse it instead of recomputing md5 per bit.
    "q59_simhash" -> ((s, dir) => Q.ordered(
      Q.wide(Q.t(s, dir, "documents"))
        .select(col("doc_id"),
          Dedup.tokenHashes(split(col("text"), " ")).as("__h"))
        .select(col("doc_id"), Dedup.simhashOf(col("__h")).as("simhash"))
        .withColumn("bucket", shiftright(col("simhash"), 24)))),

    // L1: bigram-shingle Jaccard pairs (sparse features → sparse join),
    // with the df-cap guard in-plan (maxDfFrac; doesn't bind on this
    // sparse shingle set — max df 10/50 — but bounds Σ df(t)² at scale).
    "q60_ngram_jaccard" -> ((s, dir) => Q.ordered(
      Dedup.jaccardPairs(
        Q.wide(Q.t(s, dir, "documents").filter(col("doc_id") % 10 === 0)),
        "doc_id", TextStats.bigrams(split(col("text"), " ")), tau = 0.06,
        maxDfFrac = 0.5))),

    // L1 asymmetric grain: shingle CONTAINMENT pairs — the
    // quote/excerpt relation symmetric Jaccard misses. Every 3rd doc of
    // the slice gets an "excerpt" twin (its first third, ≥4 tokens,
    // new id): the excerpt's bigrams are a contiguous subset of the
    // original's, so c_in_b = 1.0 while Jaccard sits near 1/3 — the
    // pair ONLY surfaces under a containment threshold. Same sparse
    // token join + df-cap guard as q60.
    "q119_containment_pairs" -> ((s, dir) => Q.ordered {
      val base = Q.wide(Q.t(s, dir, "documents").filter(col("doc_id") % 5 === 0))
        .select(col("doc_id"), col("text"))
      val toks = split(col("text"), " ")
      val excerpts = base.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 20000000L).as("doc_id"),
          array_join(slice(toks, lit(1),
            greatest(floor(size(toks) / lit(3)).cast("int"), lit(4))), " ")
            .as("text"))
      Dedup.containmentPairs(base.unionByName(excerpts), "doc_id",
        TextStats.bigrams(split(col("text"), " ")), tau = 0.8,
        maxDfFrac = 0.5)
    }),

    // L-family: train/test decontamination — trigram overlap of every
    // training doc against the held-out slice (doc_id%10=0). The df-cap
    // guard drops boilerplate grams (train-df > 50%) before the join;
    // on this corpus the 3-gram space is sparse enough that the flagged
    // set is the genuinely-overlapping tail.
    "q89_decontamination" -> ((s, dir) => Q.ordered {
      val docs = Q.wide(Q.t(s, dir, "documents"))
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
      val train = docs.filter(col("doc_id") % 10 =!= 0)
      val test = docs.filter(col("doc_id") % 10 === 0)
      Dedup.decontaminate(train, test, "doc_id",
        TextStats.ngrams(col("toks"), 3), minFrac = 0.25, maxDfFrac = 0.5)
    }),

    // L1: INCREMENTAL near-dup — the daily-increment pattern: the fresh
    // slice (doc_id%10=0) probes the stored corpus bucket table instead
    // of re-pairing the whole corpus; candidates verified by true
    // Jaccard. State-side mega-buckets (>50) dropped pre-join.
    "q93_incremental_neardup" -> ((s, dir) => Q.ordered {
      val docs = Q.wide(Q.t(s, dir, "documents"))
        .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("toks"))
      val sigs = docs.select(col("doc_id"),
        Dedup.minhashSignature(col("toks"), k = 8).as("sig"))
      val buckets = Dedup.lshBuckets(sigs, "doc_id", col("sig"),
        bands = 4, rowsPerBand = 2)
      val cand = Dedup.incrementalLshCandidates(
        state = buckets.filter(col("doc_id") % 10 =!= 0),
        fresh = buckets.filter(col("doc_id") % 10 === 0),
        maxBucketSize = 50)
      val inter = size(array_intersect(col("ta"), col("tb")))
      cand
        .join(docs.select(col("doc_id").as("id_new"), col("toks").as("ta")), Seq("id_new"))
        .join(docs.select(col("doc_id").as("id_old"), col("toks").as("tb")), Seq("id_old"))
        .select(col("id_new"), col("id_old"),
          (inter.cast("double") / (size(col("ta")) + size(col("tb")) - inter))
            .as("jaccard"))
    }),

    // L1: near-dup CLUSTERING — the step after pairs that real dedup
    // needs: connected components over the bigram-Jaccard pair graph
    // (tau 0.08 on this corpus: 13 pairs, 8 clusters, max size 4 — so
    // multi-hop label propagation is actually exercised), singletons as
    // their own cluster, min-id representative per cluster.
    "q92_dedup_clusters" -> ((s, dir) => Q.ordered {
      val slice = Q.t(s, dir, "documents").filter(col("doc_id") % 10 === 0)
      val pairs = Dedup.jaccardPairs(slice, "doc_id",
        TextStats.bigrams(split(col("text"), " ")), tau = 0.08,
        maxDfFrac = 0.5)
      Dedup.clusterPairs(pairs, "id_a", "id_b",
        slice.select(col("doc_id")), "doc_id")
    }),

    // Link-graph centrality as a document quality prior (the classic
    // PageRank-weighted web-corpus sampling): a deterministic synthetic
    // link graph (3 out-edges per doc, (id*31+k) mod N, self-loops
    // dropped) ranked by 3 fixed damped iterations. Per iteration: ONE
    // src-keyed equi-join + ONE dst aggregation, lineage truncated by
    // localCheckpoint — q92's iterative shape with numeric mass instead
    // of min-labels. Float parity: contribution sums are decimal-exact,
    // everything else is IEEE-deterministic scalar math. Teleport
    // parity: Spark computes lit(1.0 - 0.85) in IEEE double
    // (0.15000000000000002); the oracle must CAST both operands to
    // DOUBLE before subtracting, because DuckDB's bare 1.0 - 0.85 is
    // exact DECIMAL arithmetic (= the different double 0.15).
    // The edge formula runs over a RANK INDEX of the ids, not the raw
    // ids: `(doc_id*31+k) % n` only lands on real documents when ids
    // are contiguous from 0 — on the ×10 replica mirror (offset id
    // blocks) it fabricated ~1300 phantom nodes that exist in no
    // documents row (caught by the r14 ×10-corpus sweep). Identical
    // output on contiguous corpora (idx == doc_id there); the
    // row_number window is FIXTURE construction — a real link graph
    // arrives as an edge table and pays no such sort.
    "q103_pagerank" -> ((s, dir) => Q.ordered {
      import org.apache.spark.sql.expressions.Window
      val docs = Q.t(s, dir, "documents").select(col("doc_id"))
      val n = broadcast(docs.agg(count(lit(1)).as("n_docs")))
      val ix = docs.withColumn("idx",
        row_number().over(Window.orderBy(col("doc_id"))).cast("long") - 1)
      val edges = ix.crossJoin(n)
        .select(col("doc_id").as("src"), col("idx"), col("n_docs"),
          explode(array(lit(1), lit(2), lit(3))).as("k"))
        .select(col("src"),
          ((col("idx") * 31 + col("k")) % col("n_docs")).as("dst_idx"))
        .join(ix.select(col("idx").as("dst_idx"), col("doc_id").as("dst")),
          Seq("dst_idx"))
        .filter(col("src") =!= col("dst"))
        .select(col("src"), col("dst"))
      Graph.pageRank(edges, "src", "dst", iterations = 3)
        .select(col("node").as("doc_id"), round(col("pr"), 6).as("pr"))
    }),

    // L1: edit-distance near-dup. Scale shape: a LOSSLESS length-band
    // equi-join prefilter — levenshtein <= 3 forces |Δlen| <= 3, so with
    // band width 4 a matching pair is at most one band apart; the probe
    // side explodes to {band-1, band, band+1} and the join is a plain
    // equi-join on the band (no cartesian, no BNLJ). A prefix bucket is
    // deliberately NOT a join key: edit distance <= k does not preserve
    // any fixed-length prefix, so prefix bucketing would drop true pairs.
    "q81_levenshtein" -> ((s, dir) => Q.ordered {
      val cand = Q.t(s, dir, "customer").filter(col("c_custkey") % 100 === 0)
        .select(col("c_custkey"), col("c_name"), length(col("c_name")).as("ln"))
      val band = floor(col("ln") / 4).cast("int")
      val probe = cand.select(col("c_custkey").as("id_a"),
        col("c_name").as("name_a"), col("ln").as("ln_a"),
        explode(array(band - 1, band, band + 1)).as("band"))
      val build = cand.select(col("c_custkey").as("id_b"),
        col("c_name").as("name_b"), col("ln").as("ln_b"), band.as("band"))
      probe.join(build, Seq("band"))
        .filter(col("id_a") < col("id_b") &&
          abs(col("ln_a") - col("ln_b")) <= 3)
        .select("id_a", "name_a", "id_b", "name_b").distinct()
        .select(col("id_a"), col("id_b"),
          levenshtein(col("name_a"), col("name_b")).cast("long").as("dist"))
        .filter(col("dist") <= 3)
    }),

    // L2: embedding-cosine near-dup pairs over a candidate set. Norms are
    // precomputed per side (O(n)) so the O(n²) pair stage does one dot
    // product, not three. The candidate set is bounded ABSOLUTELY
    // (vec_id < 200), not proportionally: this is the small-N oracle twin
    // of q86, and an all-pairs stage over a constant fraction of the
    // corpus would still grow quadratically with corpus size.
    "q61_embedding_neardup" -> ((s, dir) => Q.ordered {
      val e = Q.t(s, dir, "embeddings").filter(col("vec_id") < 200)
      val a = e.select(col("vec_id").as("id_a"), col("embedding").as("va"),
        Similarity.norm(col("embedding")).as("na"))
      val b = e.select(col("vec_id").as("id_b"), col("embedding").as("vb"),
        Similarity.norm(col("embedding")).as("nb"))
      a.crossJoin(b).filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          round(Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb")), 6)
            .as("cos"))
        .filter(col("cos") >= 0.3)
    }),

    // L2 scale form of q61: IVF coarse bucketing (Similarity.ivfAssign —
    // composite key of the top-2 signed dominant dims among the first 8)
    // turns the pair stage into ONE equi-join on the bucket key: 224
    // buckets over this corpus (max 20 vectors/bucket at sf0.1) vs 16 for
    // the old argmax key, and the key space grows with probeDims instead
    // of saturating. The standing blow-up guard (SCALE.md): buckets over
    // 100 vectors are DROPPED before the self-join (Similarity.capBuckets
    // — doesn't bind on this corpus, bounds the worst case on a skewed
    // one), mirrored in the oracle via QUALIFY and asserted in
    // PlanLintSpec. Within-bucket refine uses the codegen native dot
    // (34× vs the HoF fold per SCALE.md); norms are precomputed per side
    // (O(n)) so the pair stage does one dot product. The bucket expression
    // is deterministic, so DuckDB replays it exactly (list_reverse_sort
    // over [mag, signed-index] pairs = Spark's reversed struct sort).
    // L2: IVF bucket centroids in distributive form — per-component
    // integer-millionth sums + counts (the mean is consumer-side via
    // centroidMeans; sums are the associative combiner AND bit-exact
    // across engines, where means hit .5 halfway rounding divergence
    // on every 2-vector bucket). posexplode → (bucket, pos) agg →
    // ordered re-assembly.
    // L2 memory tier: product-quantization ANN (Jégou et al. 2011) —
    // the corpus side of the search is (id, m, code) SMALL INTS (~16×
    // smaller than the 64-float embeddings), the query side is an ADC
    // distance table over the bounded codebook (broadcast). Completes
    // the vector tier: brute (q51/q65) → IVF (q86/q99) → incremental
    // (q117) → PQ-coded (this). Approximation quality is NOT the oracle
    // claim (codes are coarse at m=4×16d); the claim is that both
    // engines compute the identical deterministic codes, codebook, and
    // ADC ranking.
    "q125_pq_ann" -> ((s, dir) => Q.ordered {
      Similarity.pqSearch(
        Q.t(s, dir, "embeddings"), "vec_id", "embedding",
        Q.t(s, dir, "embeddings").filter(col("vec_id") === 1)
          .select(col("embedding").as("qvec")),
        "qvec", k = 20)
    }),

    // L2 serving tier: IVF × PQ (VERDICT r13 #4 — q86/q117 route
    // probes over full embeddings, q125 ADC-ranks ALL codes; this is
    // the FAISS-shaped composition that does both: coarse routing to
    // nprobe inverted lists, ADC over only their ~16×-compressed
    // codes). The oracle replays ALL THREE deterministic artifacts
    // bit-for-bit — coarse buckets + exact-millionth centroid means +
    // the rounded dot-identity probe ranking (which buckets get
    // scanned), then q125's codes/codebook/ADC chain restricted to the
    // probed population.
    "q141_ivfpq" -> ((s, dir) => Q.ordered {
      Similarity.ivfPqSearch(
        Q.t(s, dir, "embeddings"), "vec_id", "embedding",
        Q.t(s, dir, "embeddings").filter(col("vec_id") === 1)
          .select(col("embedding").as("qvec")),
        "qvec", coarseDims = 8, nprobe = 4, k = 20)
    }),

    // L2 serving tier, TRAINED coarse level (VERDICT r14 missing #2):
    // ivfPq routing against a provided centroid TABLE instead of hash
    // buckets — the FAISS shape proper. Assignment and probe ranking
    // are the q23 engine-exact integer argmin (quantized thousandths,
    // packed-min tie-break), so the oracle replays the trained routing
    // bit-for-bit with no Lloyd's loop to unroll (here the centroid
    // table is the deterministic vec_id<8 seed set; the kmeans-trained
    // path is DedupSimilaritySpec's recall job — same operator, any
    // centroid table). The scan side stays ivfPq's map-only filter +
    // ADC literal lookups: zero joins, zero shuffles.
    "q156_ivfpq_trained" -> ((s, dir) => Q.ordered {
      val emb = Q.t(s, dir, "embeddings")
      Similarity.ivfPqSearchTrained(
        emb, "vec_id", "embedding",
        emb.filter(col("vec_id") === 1)
          .select(col("embedding").as("qvec")),
        "qvec",
        emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cid"), col("embedding").as("cvec")),
        "cid", "cvec", nprobe = 3, k = 20)
    }),

    // q156's STORED-layout twin (the q158 discipline applied to ANN
    // serving): the IVF×PQ index materialized ONCE as a bucket-
    // partitioned codes table + exact-integer codebook + centroid
    // table (Writers.ensureIvfPqIndex); the probe collects the two
    // bounded artifacts at construction and its ONLY corpus-sized read
    // is the codes layout filtered to the probed buckets — coarse
    // routing as DIRECTORY pruning (PartitionFilters, PlanLint-
    // pinned). Same oracle as q156: layout, not semantics. This is
    // what q141/q156's scaladocs call "production materializes the
    // code table once", now a declared, lint-guarded leg instead of a
    // caveat.
    "q162_ivfpq_stored" -> ((s, dir) => Q.ordered {
      val path = graft.sources.Writers.ensureIvfPqIndex(s, dir)
      Similarity.ivfPqSearchStored(
        s.read.parquet(s"$path/codes"),
        s.read.parquet(s"$path/codebook"),
        s.read.parquet(s"$path/centroids"),
        "vec_id",
        Q.t(s, dir, "embeddings").filter(col("vec_id") === 1)
          .select(col("embedding").as("qvec")),
        "qvec", nprobe = 3, k = 20)
    }),

    // The stored IVF×PQ index built INCREMENTALLY (VERDICT r16 #1's ANN
    // leg, the q171 lifecycle for vectors — the FAISS train → add →
    // add deployment): codebook + centroid table trained/fixed on the
    // vec_id%3≠2 slice ONLY (train-on-a-sample; the stored artifacts
    // never move afterwards), that slice's codes built, then the %3=2
    // slice folded in as a fresh-batch merge — encoded against the
    // FROZEN artifacts in one map-only pass and APPENDED to its bucket
    // directories, nothing existing read or rewritten
    // (Writers.mergeIvfPqIndex). The probe is q162's exact stored
    // plan. The oracle replays codebook training restricted to the
    // slice and coding/routing over ALL vectors — a merge that
    // re-trained, dropped, or double-coded anything breaks the hash.
    "q174_ivfpq_index_merge" -> ((s, dir) => Q.ordered {
      val path = graft.sources.Writers.ensureIvfPqIndexMerged(s, dir)
      Similarity.ivfPqSearchStored(
        s.read.parquet(s"$path/codes"),
        s.read.parquet(s"$path/codebook"),
        s.read.parquet(s"$path/centroids"),
        "vec_id",
        Q.t(s, dir, "embeddings").filter(col("vec_id") === 1)
          .select(col("embedding").as("qvec")),
        "qvec", nprobe = 3, k = 20)
    }),

    // FAISS remove_ids on the stored index — the DELETE leg of the ANN
    // lifecycle (q174 adds, this removes; the q177 discipline for
    // vectors): the vec_id%5=2 rows are tombstoned in one
    // batch-proportional append (Writers.deleteFromIvfPqIndex) while
    // the codebook and centroid artifacts stay FROZEN exactly as built
    // (deletion never retrains — vec_id 2 stays a routing centroid
    // even though its vector is no longer searchable). The probe is
    // q162's stored plan over Writers.liveCodes — the broadcast
    // tombstone anti-join under the same probed-bucket directory
    // pruning (PlanLint pins PartitionFilters survive it). The oracle
    // replays q156's full chain and drops deleted ids from the FINAL
    // ranking only — survivors must keep their exact ADC distances and
    // the head must back-fill from rank k+1.
    "q178_ivfpq_index_delete" -> ((s, dir) => Q.ordered {
      val path = graft.sources.Writers.ensureIvfPqIndexDeleted(s, dir)
      Similarity.ivfPqSearchStored(
        graft.sources.Writers.liveCodes(s, path),
        s.read.parquet(s"$path/codebook"),
        s.read.parquet(s"$path/centroids"),
        "vec_id",
        Q.t(s, dir, "embeddings").filter(col("vec_id") === 1)
          .select(col("embedding").as("qvec")),
        "qvec", nprobe = 3, k = 20)
    }),

    // UPDATE on the vector serving layout — the q180 generation
    // discipline for embeddings (VERDICT r17 #4, the verb×layout
    // matrix's last hole; the reference's ON CONFLICT DO UPDATE,
    // src/storage.py:41-53): the vec_id%5=4 vectors are REPLACED by
    // their reversed versions via Writers.updateIvfPqIndex — one
    // batch-proportional tombstone append (del_gen) + one map-only
    // re-encode against the FROZEN padded codebook/centroids, the
    // re-added codes stamped PAST the tombstone. The probe is q178's
    // exact stored plan (pruned buckets + gen-aware broadcast
    // anti-join). The oracle replays a from-scratch encode of the
    // UPDATED corpus against artifacts frozen over the ORIGINAL corpus
    // — routing/codebook training on original embeddings (vec_id 4
    // stays a centroid on its OLD vector — FAISS semantics), coding
    // and the probed population on the updated ones; a stale version
    // leaking through the anti-join, a double-visible id, a re-trained
    // artifact, or an unseen-code NaN all break the hash.
    "q184_ivfpq_index_update" -> ((s, dir) => Q.ordered {
      val path = graft.sources.Writers.ensureIvfPqIndexUpdated(s, dir)
      Similarity.ivfPqSearchStored(
        graft.sources.Writers.liveCodes(s, path),
        s.read.parquet(s"$path/codebook"),
        s.read.parquet(s"$path/centroids"),
        "vec_id",
        Q.t(s, dir, "embeddings").filter(col("vec_id") === 1)
          .select(col("embedding").as("qvec")),
        "qvec", nprobe = 3, k = 20)
    }),

    // SNAPSHOT (AS-OF) read of the MUTATED serving layout — the
    // reproducible-training-data verb (VERDICT r18 #1): q184's layout
    // has lived build(gen 0) → tombstone(del_gen 1) → re-merge(gen 2),
    // and THIS query probes it AS OF generation 1 — row visibility
    // `gen < 1`, tombstone activity `del_gen < 1` — which must read as
    // exactly the pre-update layout: the gen columns already hold the
    // full history, so time travel is two residual filters on the
    // probe's existing pruned scan, no extra state. The oracle is
    // q156's replay over the ORIGINAL corpus (the pre-verb world) —
    // the update leaking through the horizon, a tombstone active too
    // early, or the padded codebook shifting a build-time ADC value
    // all break the hash. History horizon: valid back to the last
    // compaction (compaction folds physically — Writers.liveCodes'
    // contract; SourcesSpec pins the truncation).
    "q185_ivfpq_index_asof" -> ((s, dir) => Q.ordered {
      val path = graft.sources.Writers.ensureIvfPqIndexUpdated(s, dir)
      Similarity.ivfPqSearchStored(
        graft.sources.Writers.liveCodes(s, path, asOfGen = Some(1L)),
        s.read.parquet(s"$path/codebook"),
        s.read.parquet(s"$path/centroids"),
        "vec_id",
        Q.t(s, dir, "embeddings").filter(col("vec_id") === 1)
          .select(col("embedding").as("qvec")),
        "qvec", nprobe = 3, k = 20)
    }),

    // REINDEX — the trained-artifact refresh with atomic cutover
    // (VERDICT r18 #4, the FAISS retrain-rebuild the incremental verbs
    // defer): q184's drift fixture (build over the original corpus,
    // update vec_id%5=4 to reversed vectors AGAINST the stale frozen
    // artifacts), then Writers.reindexIvfPqIndex over the UPDATED
    // corpus — PQ codebook re-trained on the updated distribution,
    // centroids re-derived from the updated vectors (vec_id 4 now
    // routes on its NEW vector — exactly the refresh q184's frozen
    // stance defers), codes rebuilt, and the complete replacement root
    // swapped in atomically (visibility flips last; generations stay
    // monotone). The oracle is the full q156 trained chain with the
    // corpus swapped to the updated view — training, routing, coding
    // and the probed population ALL on post-drift vectors; a stale
    // artifact surviving the cutover, a half-swapped leg (old codes
    // under a new codebook), or a non-retrained centroid breaks the
    // hash. SourcesSpec prices the point of the verb: recall@20 lost
    // to drift under the frozen artifacts, recovered after reindex.
    "q188_ivfpq_reindex" -> ((s, dir) => Q.ordered {
      val path = graft.sources.Writers.ensureIvfPqIndexReindexed(s, dir)
      Similarity.ivfPqSearchStored(
        graft.sources.Writers.liveCodes(s, path),
        s.read.parquet(s"$path/codebook"),
        s.read.parquet(s"$path/centroids"),
        "vec_id",
        Q.t(s, dir, "embeddings").filter(col("vec_id") === 1)
          .select(col("embedding").as("qvec")),
        "qvec", nprobe = 3, k = 20)
    }),

    // L2 TRAINING itself, oracle-checked (VERDICT r15 #1 — kmeans was
    // the one load-bearing operator with spec-only coverage, yet its
    // output feeds every "trained" serving tier): Lloyd's at k=4 for 2
    // iterations over the embeddings corpus, with the exact full-dedup
    // seeding regime (seedLevels = Seq(1) — dedup by vector, min-id
    // winner, first k by id; the default xxhash64 sample ladder is
    // engine-specific and spec-pinned separately). The oracle RE-RUNS
    // the training loop as unrolled per-iteration MATERIALIZED CTEs
    // (the q132/q140/q160 re-learn pattern): seed selection → round-6
    // argmin assignment → integer-millionth centroid sums divided in
    // the written order → reassign — a seeding, rounding, argmin
    // tie-break, empty-cluster, or sum divergence on either side moves
    // some vector's cluster and breaks the hash.
    "q164_kmeans_train" -> ((s, dir) => Q.ordered {
      Similarity.kmeans(Q.t(s, dir, "embeddings"), "vec_id", "embedding",
        k = 4, maxIter = 2, seedLevels = Seq(1L))
    }),

    // The FAISS lifecycle end-to-end as ONE declared query (VERDICT
    // r15 #3): train (q164's kmeans, exact-seeding regime) → build
    // (Writers.ensureIvfPqIndexTrained — final assignment re-meaned
    // into the (cid, cvec) centroid contract, codes written
    // bucket-partitioned) → probe (ivfPqSearchStored: coarse routing
    // as DIRECTORY pruning, bounded codebook/centroid reads, ADC
    // literal-lookup rank). q156/q162 route on a fixed low-id seed
    // table; THIS routes on trained centroids, so the trained-artifact
    // seam every L2 "trained" claim rests on is oracle-checked in
    // composition. The oracle replays the whole chain: the q164
    // unrolled Lloyd's CTEs, the centroid-mean re-quantization, the
    // exact-integer trained assignment + probe ranking, then q156's
    // codes/codebook/ADC tail restricted to the probed clusters.
    "q166_ivfpq_trained_stored" -> ((s, dir) => Q.ordered {
      val path = graft.sources.Writers.ensureIvfPqIndexTrained(s, dir)
      Similarity.ivfPqSearchStored(
        s.read.parquet(s"$path/codes"),
        s.read.parquet(s"$path/codebook"),
        s.read.parquet(s"$path/centroids"),
        "vec_id",
        Q.t(s, dir, "embeddings").filter(col("vec_id") === 1)
          .select(col("embedding").as("qvec")),
        "qvec", nprobe = 2, k = 20)
    }),

    // L2 memory tier between brute floats and PQ codes: per-tensor
    // symmetric int8 quantization (the production int8-dot serving
    // shape) with SYMMETRIC integer scoring — ONE global amax scale
    // trained on the corpus (1-row agg, collected, inlined), signed
    // codes row-local, the rank key an EXACT integer dot of code
    // arrays (products ≤ 127², 64-dim sums < 2^21 — float/double-
    // exact, no rounding anywhere in the key, so both engines replay
    // the ranking bit-for-bit; one global scale keeps the code dot a
    // MONOTONE approximation of the true dot — per-dim min/max codes
    // would rank a shifted space, Similarity.sq8Amax scaladoc). 4× the
    // bytes of PQ codes' compression, none of the codebook coarseness;
    // production materializes the code table once and each query is a
    // map-only scan + TakeOrdered. cos_exact rides on the 20 returned
    // rows as the quality audit (the q135 n_exact pattern).
    "q146_sq8_ann" -> ((s, dir) => Q.ordered {
      Similarity.sq8Search(
        Q.t(s, dir, "embeddings"), "vec_id", "embedding",
        Q.t(s, dir, "embeddings").filter(col("vec_id") === 1)
          .select(col("embedding").as("qvec")),
        "qvec", k = 20)
    }),

    // L2/L4 composition: MMR diverse top-k (Carbonell & Goldstein 1998)
    // — the dedup-AWARE retrieval head between pure-relevance ranking
    // (q51/q146) and query-blind near-dup pruning (q110): greedy
    // λ·rel − (1−λ)·maxSim selection so k picks don't spend the budget
    // on k near-copies of the best hit. Relevance ranking is corpus-side
    // (scan + TakeOrdered); the inherently-sequential greedy runs on the
    // DRIVER over the collected 40-row candidate head only (the
    // kmeans/pqAdcDense bounded-state pattern); the declared plan is the
    // 10-row selection itself (the q140 LocalRelation stance). The
    // oracle replays the ENTIRE greedy — candidate cut, pairwise
    // round-6 cosines, per-step argmax — via 10 materialized CTEs (the
    // q132 unrolled-loop pattern).
    "q147_mmr_select" -> ((s, dir) => Q.ordered {
      Retrieval.mmrDiverseTopK(
        Q.t(s, dir, "embeddings"), "vec_id", "embedding",
        Q.t(s, dir, "embeddings").filter(col("vec_id") === 1)
          .select(col("embedding").as("qvec")),
        "qvec", nCandidates = 40, k = 10)
    }),

    "q99_ivf_centroids" -> ((s, dir) => Q.ordered {
      Q.jsonArrays(Similarity.centroids(
        Q.t(s, dir, "embeddings").select(col("vec_id"), col("embedding"),
          Similarity.ivfAssign(col("embedding"), probeDims = 8).as("bucket"))
          .filter(col("bucket").isNotNull),
        col("bucket"), col("embedding")))
    }),

    "q86_ivf_neardup" -> ((s, dir) => Q.ordered {
      val e = Similarity.capBuckets(
        Q.wide(Q.t(s, dir, "embeddings")).select(col("vec_id"), col("embedding"),
          Similarity.ivfAssign(col("embedding"), probeDims = 8).as("bucket")),
        "bucket", maxBucketSize = 100)
      val a = e.select(col("vec_id").as("id_a"), col("embedding").as("va"),
        Similarity.norm(col("embedding")).as("na"), col("bucket"))
      val b = e.select(col("vec_id").as("id_b"), col("embedding").as("vb"),
        Similarity.norm(col("embedding")).as("nb"), col("bucket"))
      a.join(b, Seq("bucket")).filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          round(VectorFunctions.dotNative(col("va"), col("vb")) / (col("na") * col("nb")), 6)
            .as("cos"))
        .filter(col("cos") >= 0.3)
    }),

    // L1/L2: embedding-space train/test DECONTAMINATION — the vector
    // twin of q89's trigram rule (paraphrased test leakage that no
    // token-grain overlap catches). The held-out slice (vec_id%10=0)
    // probes the capped train IVF buckets (the q93-shape asymmetric
    // join: cost ∝ |test| × matched-bucket membership, never
    // train×train); flagged = train vectors with cosine ≥ 0.3 to ANY
    // test vector, summarized per train id.
    "q117_embedding_decontamination" -> ((s, dir) => Q.ordered {
      val e = Q.wide(Q.t(s, dir, "embeddings"))
        .select(col("vec_id"), col("embedding"))
      val train = e.filter(col("vec_id") % 10 =!= 0)
        .withColumn("bucket", Similarity.ivfAssign(col("embedding"), probeDims = 8))
        .filter(col("bucket").isNotNull)
        .select(col("vec_id"), col("bucket"), col("embedding"))
      val test = e.filter(col("vec_id") % 10 === 0)
      Similarity.incrementalEmbeddingCandidates(
          train, test, "vec_id", "embedding",
          probeDims = 8, maxBucketSize = 100, minCosine = 0.1)
        .groupBy(col("id_old"))
        .agg(count(lit(1)).as("n_hits"), max(col("cos")).as("max_cos"))
        .select(col("id_old").as("train_id"), col("n_hits"), col("max_cos"))
    }),

    // L1 sub-document grain: cross-document paragraph-level exact dedup
    // (the Lee et al. boilerplate-paragraph modality). Each document is
    // given a paragraph structure — a shared subscribe banner, its own
    // 7-token content chunks, a shared rights footer — and
    // Dedup.dedupParagraphs must strip every repeated paragraph from all
    // but its globally-first (doc_id, pos) occurrence and reassemble:
    // only doc 0 keeps the banner/footer, and any content chunk repeated
    // across (or within) documents survives exactly once. The oracle
    // replays keep-first with a row_number window over the same md5
    // paragraph key.
    "q106_paragraph_dedup" -> ((s, dir) => Q.ordered {
      val bp1 = "subscribe to our newsletter for updates and offers"
      val bp2 = "all rights reserved contact our support team today"
      val base = Q.wide(Q.t(s, dir, "documents"))
        .select(col("doc_id"),
          filter(split(col("text"), " "), t => t =!= "").as("toks"))
        .withColumn("n", size(col("toks")))
        .withColumn("nc", ((col("n") + 6) / 7).cast("int"))
        .select(col("doc_id"), array_join(concat(
          array(lit(bp1)),
          transform(sequence(lit(0), col("nc") - 1),
            i => array_join(slice(col("toks"), i * 7 + 1, lit(7)), " ")),
          array(lit(bp2))), "\n").as("ptext"))
      Dedup.dedupParagraphs(base, "doc_id", "ptext", "\n")
    }),

    // L1 policy complement of q106: CCNet/C4-style document-frequency
    // boilerplate removal on the SAME page synthesis — a paragraph in
    // more than 5 distinct docs is chrome and drops from EVERY doc (the
    // banner/footer vanish corpus-wide, doc 0 included — q106 kept
    // doc 0's copy), while content chunks under the threshold keep ALL
    // their occurrences (q106 kept exactly one).
    "q114_boilerplate_df" -> ((s, dir) => Q.ordered {
      val bp1 = "subscribe to our newsletter for updates and offers"
      val bp2 = "all rights reserved contact our support team today"
      val base = Q.wide(Q.t(s, dir, "documents"))
        .select(col("doc_id"),
          filter(split(col("text"), " "), t => t =!= "").as("toks"))
        .withColumn("n", size(col("toks")))
        .withColumn("nc", ((col("n") + 6) / 7).cast("int"))
        .select(col("doc_id"), array_join(concat(
          array(lit(bp1)),
          transform(sequence(lit(0), col("nc") - 1),
            i => array_join(slice(col("toks"), i * 7 + 1, lit(7)), " ")),
          array(lit(bp2))), "\n").as("ptext"))
      Dedup.dropCommonParagraphs(base, "doc_id", "ptext", "\n", maxDf = 5)
    }),

    // L1 substring grain: windowed exact dedup on the RAW corpus (the
    // Lee et al. modality at its native grain) — every 8-token window
    // occurring more than once corpus-wide keeps only its globally-first
    // (doc_id, pos) occurrence; tokens covered by any other occurrence
    // are stripped and the survivors reassembled in position order.
    // Position-independent, so it catches the shared run q106's
    // paragraph boundaries miss; exact-duplicate documents come back
    // EMPTIED (every window of the copy loses keep-first), which is this
    // corpus's observed behavior (24 docs shortened, 14 of them full
    // copies emptied at sf0.01). All-integer/md5 arithmetic — hash-exact
    // on both engines.
    "q112_substring_dedup" -> ((s, dir) => Q.ordered {
      Dedup.dedupTokenWindows(
        Q.wide(Q.t(s, dir, "documents"))
          .select(col("doc_id"), col("text")),
        "doc_id", filter(split(col("text"), " "), t => t =!= ""), 8)
    }),

    // L1 substring grain, INCREMENTAL: the q93 fresh-vs-state shape at
    // window grain (and the oracle-checked batch twin of the streaming
    // incrementalWindowBatch's epoch core). Docs with doc_id % 10 == 0
    // are the fresh crawl; everything else is the already-ingested
    // corpus, represented by its distinct 8-token window hashes. A
    // state-known window strips ALL its fresh occurrences (the prior
    // corpus owns the canonical copy); an unknown window keeps its
    // first fresh (doc_id, pos) occurrence. Probe cost ∝ fresh windows
    // + one hash equi-join — never state × state; full-copy fresh docs
    // come back EMPTIED, not absent.
    "q120_incremental_substring" -> ((s, dir) => Q.ordered {
      val docs = Q.wide(Q.t(s, dir, "documents"))
        .select(col("doc_id"), col("text"))
      val toks = filter(split(col("text"), " "), t => t =!= "")
      val fresh = docs.filter(col("doc_id") % 10 === 0)
      val state = docs.filter(col("doc_id") % 10 =!= 0)
      Dedup.dedupTokenWindowsIncremental(fresh, "doc_id", toks, 8,
        Dedup.tokenWindowHashes(state, "doc_id", toks, 8))._1
    }),

    // L3 content grain: perceptual image near-dup — the q100 pattern
    // taken all the way to PIXELS. Each doc synthesizes a real
    // uncompressed 24-bpp 18×16 BMP (column math only: header constant,
    // pixel bytes from an integer formula over (x, y, key, variant);
    // rows stored bottom-up with the 2-byte stride pad), graft_dhash
    // must DECODE it (offsets, stride, row order, luma) and hash the
    // 9×8 cell grid; Dedup.hammingPairs then finds near-dup pairs via
    // the 4×16-bit band join. Docs sharing doc_id%40 are variants of
    // one image (brightness nudged on every 5th pixel column by
    // (doc_id DIV 40)%3), so intra-key pairs sit at small Hamming
    // distance and everything else is far. The oracle recomputes the
    // hash ARITHMETICALLY from the pixel formula — any decode bug
    // (stride, bottom-up flip, cell boundary, strictness) breaks it.
    // L1/L2 semantic grain: SemDeDup (Abbas et al. 2023) — k-means
    // coarse clustering + within-cluster cosine prune, the dedup no
    // token-grain operator can do. Seeds are the first-32-vectors
    // fixture (the q23 seed rule at k=32 — a trained model would load
    // kmeans output; the operator contract is identical), assignment is
    // the engine-exact quantized argmin, cluster size capped at 100
    // (the q58/q86 standing guard), and a vector is dropped iff a
    // lower-id cluster-mate has cosine ≥ 0.4 (this corpus's top
    // within-cluster similarity band — real embedding models sit at
    // ~0.95 with the same operator). The oracle replays assignment,
    // cap, and pair prune from scratch.
    "q110_semantic_dedup" -> ((s, dir) => Q.ordered {
      val e = Q.wide(Q.t(s, dir, "embeddings"))
      Similarity.semDedup(e, "vec_id", "embedding",
        e.filter(col("vec_id") < 32), "vec_id", "embedding",
        k = 32, tau = 0.4, maxClusterSize = 100)
    }),

    "q108_image_neardup" -> ((s, dir) => Q.ordered {
      import graft.functions.PerceptualHashFunctions
      val key = (col("doc_id") % 40).cast("int")
      val variant = expr("CAST(doc_id DIV 40 AS INT) % 3")
      def g(xx: Column, yy: Column): Column =
        (lit(7) * xx * xx + lit(11) * yy * yy +
          lit(13) * key * (xx + lit(1)) + lit(17) * key * yy) % 250 +
          variant * when(xx % 5 === 0, lit(3)).otherwise(lit(0))
      val headerHex = "424D" + "B6030000" + "00000000" + "36000000" +
        "28000000" + "12000000" + "10000000" + "0100" + "1800" +
        "00000000" + "80030000" + "00000000" * 4
      val pixelsHex = array_join(
        transform(sequence(lit(15), lit(0), lit(-1)), yy => concat(
          array_join(transform(sequence(lit(0), lit(17)), xx =>
            repeat(lpad(hex(g(xx, yy)), 2, "0"), 3)), ""),
          lit("0000"))), "")
      val hashed = Q.wide(Q.t(s, dir, "documents"))
        .select(col("doc_id"),
          PerceptualHashFunctions.dHash(
            unhex(concat(lit(headerHex), pixelsHex))).as("h"))
      Dedup.hammingPairs(hashed, "doc_id", "h", maxDist = 16)
    }),
  )

  /** q156's full IVF×PQ replay (fixed low-id centroid seeds, exact
    * BIGINT routing, integer-millionth codebook means, ADC ranking) as
    * a reusable oracle: `finalWhere` filters the RANKED population just
    * before the top-k cut — empty for q156/q162 (whole index), a
    * survivors predicate for the delete leg (q178: training and
    * artifacts replay over the FULL corpus exactly as frozen at build
    * time; only searchable rows shrink — FAISS remove_ids semantics). */
  private def ivfPqTrainedSql(finalWhere: String,
                              corpus: String = "embeddings"): String =
    s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qvec,
                           list_transform(embedding,
                             x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qq
                    FROM $corpus WHERE vec_id = 1),
         vq AS (SELECT vec_id,
                       list_transform(embedding,
                         x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
                FROM $corpus),
         seeds AS (SELECT vec_id AS cid, qv AS cq FROM vq WHERE vec_id < 8),
         vl AS (SELECT vec_id, unnest(qv) AS x,
                       generate_subscripts(qv, 1) AS i FROM vq),
         sl AS (SELECT cid, unnest(cq) AS y,
                       generate_subscripts(cq, 1) AS i FROM seeds),
         dist AS (SELECT vl.vec_id, sl.cid,
                         CAST(sum((vl.x - sl.y) * (vl.x - sl.y)) AS BIGINT) AS d2
                  FROM vl JOIN sl ON vl.i = sl.i GROUP BY 1, 2),
         asg AS (SELECT vec_id,
                        CAST(min(d2 * 8 + cid) % 8 AS BIGINT) AS cluster
                 FROM dist GROUP BY 1),
         ql AS (SELECT unnest(qq) AS x, generate_subscripts(qq, 1) AS i FROM q),
         pd AS (SELECT sl.cid,
                       CAST(sum((ql.x - sl.y) * (ql.x - sl.y)) AS BIGINT) AS d2
                FROM ql JOIN sl ON ql.i = sl.i GROUP BY 1),
         probed AS (SELECT cid FROM (
                      SELECT cid, row_number() OVER (ORDER BY d2 ASC, cid ASC) AS r
                      FROM pd) WHERE r <= 3),
         mm AS (SELECT unnest([0, 1, 2, 3]) AS m),
         sub AS (SELECT vec_id, m,
                        list_transform(list_slice(embedding, m*16 + 1, m*16 + 16),
                                       x -> CAST(x AS DOUBLE)) AS sub
                 FROM $corpus, mm),
         stc AS (SELECT vec_id, m, sub,
                       list_reverse_sort(list_transform(range(1, 5), i ->
                         [abs(sub[i]),
                          CAST(i AS DOUBLE) * CAST(sign(sub[i]) AS DOUBLE)])) AS srt
                FROM sub),
         codes AS (SELECT vec_id, m, sub,
                          CASE WHEN len(sub) >= 4 THEN
                            (CAST(srt[1][2] AS INT) + 4) * 9
                              + (CAST(srt[2][2] AS INT) + 4) END AS code
                   FROM stc),
         pc AS (SELECT m, code, unnest(range(1, len(sub) + 1)) AS pos,
                       unnest(sub) AS v
                FROM codes WHERE code IS NOT NULL),
         ac AS (SELECT m, code, pos, count(*) AS n,
                       CAST(sum(CAST(round(v * 1000000) AS BIGINT)) AS BIGINT) AS s
                FROM pc GROUP BY 1, 2, 3),
         cb AS (SELECT m, code,
                       list(CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0)
                            ORDER BY pos) AS cmean
                FROM ac GROUP BY 1, 2),
         qs AS (SELECT m, list_slice(qvec, m*16 + 1, m*16 + 16) AS qsub
                FROM q, mm),
         dt AS (SELECT cb.m, cb.code,
                       round(list_dot_product(qs.qsub, qs.qsub)
                             - CAST(2.0 AS DOUBLE)
                               * list_dot_product(qs.qsub, cb.cmean)
                             + list_dot_product(cb.cmean, cb.cmean), 8)
                         + CAST(0.0 AS DOUBLE) AS d2
                FROM cb JOIN qs ON qs.m = cb.m),
         pop AS (SELECT c.vec_id, c.m, c.code
                 FROM codes c JOIN asg USING (vec_id)
                 WHERE asg.cluster IN (SELECT cid FROM probed)
                   AND c.code IS NOT NULL),
         tot AS (SELECT vec_id,
                        CAST(CAST(sum(CAST(d2 AS DECIMAL(28,8)))
                             AS DECIMAL(28,8)) AS DOUBLE) AS adist
                 FROM pop JOIN dt USING (m, code) GROUP BY 1)
         SELECT * FROM (
           SELECT vec_id, adist FROM tot
           $finalWhere
           ORDER BY adist ASC NULLS LAST, vec_id ASC LIMIT 20)
         ORDER BY ALL NULLS FIRST"""

  private val oracleBase: Map[String, String] = Map(
    // Keep-first at paragraph grain: the window's (doc_id, pos) order is
    // the oracle twin of the operator's min(struct(doc_id, pos)) winner;
    // reassembly order is the pos sort on both sides.
    "q106_paragraph_dedup" ->
      """WITH d AS (SELECT doc_id,
                           list_filter(str_split(text, ' '), t -> t <> '') AS toks
                    FROM documents),
         c AS (SELECT doc_id, toks, len(toks) AS n,
                      (len(toks) + 6) // 7 AS nc FROM d),
         ps AS (SELECT doc_id,
                       ['subscribe to our newsletter for updates and offers'] ||
                         list_transform(range(0, nc), i ->
                           array_to_string(list_slice(toks, i * 7 + 1,
                             least((i + 1) * 7, n)), ' ')) ||
                         ['all rights reserved contact our support team today'] AS paras
                FROM c),
         p AS (SELECT doc_id,
                      generate_subscripts(paras, 1) - 1 AS pos,
                      unnest(paras) AS para
               FROM ps),
         w AS (SELECT doc_id, pos, para,
                      row_number() OVER (PARTITION BY md5(para)
                                         ORDER BY doc_id, pos) AS rn
               FROM p),
         k AS (SELECT doc_id, pos, para FROM w WHERE rn = 1),
         r AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
                      array_to_string(list(para ORDER BY pos), chr(10)) AS clean_text
               FROM k GROUP BY doc_id),
         spine AS (SELECT doc_id, CAST(len(paras) AS BIGINT) AS n_paras FROM ps)
         SELECT s.doc_id,
                coalesce(r.clean_text, '') AS clean_text,
                s.n_paras,
                coalesce(r.n_kept, 0) AS n_kept
         FROM spine s LEFT JOIN r USING (doc_id)
         ORDER BY ALL NULLS FIRST""",

    // df rule over the q106 page synthesis: count(DISTINCT doc_id) per
    // md5 paragraph key, paragraphs over the threshold anti-joined away
    // from every doc, positional reassembly + spine totality.
    // GRAIN NOTE (ADVICE r11): the operator hashes trim(para) and counts
    // non-blank paragraphs; this oracle (like q106's) hashes the RAW
    // paragraph and counts len(paras). Identical on this synthesis —
    // chunked token joins can never be blank or whitespace-padded — but
    // an oracle over padded input must mirror trim() and the non-blank
    // count.
    "q114_boilerplate_df" ->
      """WITH d AS (SELECT doc_id,
                           list_filter(str_split(text, ' '), t -> t <> '') AS toks
                    FROM documents),
         c AS (SELECT doc_id, toks, len(toks) AS n,
                      (len(toks) + 6) // 7 AS nc FROM d),
         ps AS (SELECT doc_id,
                       ['subscribe to our newsletter for updates and offers'] ||
                         list_transform(range(0, nc), i ->
                           array_to_string(list_slice(toks, i * 7 + 1,
                             least((i + 1) * 7, n)), ' ')) ||
                         ['all rights reserved contact our support team today'] AS paras
                FROM c),
         p AS (SELECT doc_id,
                      generate_subscripts(paras, 1) - 1 AS pos,
                      unnest(paras) AS para
               FROM ps),
         f AS (SELECT md5(para) AS h, count(DISTINCT doc_id) AS df
               FROM p GROUP BY 1),
         k AS (SELECT doc_id, pos, para FROM p
               WHERE md5(para) NOT IN (SELECT h FROM f WHERE df > 5)),
         r AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
                      array_to_string(list(para ORDER BY pos), chr(10)) AS clean_text
               FROM k GROUP BY doc_id),
         spine AS (SELECT doc_id, CAST(len(paras) AS BIGINT) AS n_paras FROM ps)
         SELECT s.doc_id,
                coalesce(r.clean_text, '') AS clean_text,
                s.n_paras,
                coalesce(r.n_kept, 0) AS n_kept
         FROM spine s LEFT JOIN r USING (doc_id)
         ORDER BY ALL NULLS FIRST""",

    // Windowed substring keep-first: min-struct winner per window hash,
    // non-winner occurrences explode their covered token range, a token
    // survives iff uncovered; reassembly is the tpos sort on both sides.
    "q112_substring_dedup" ->
      """WITH d AS (SELECT doc_id,
                           list_filter(str_split(text, ' '), t -> t <> '') AS toks
                    FROM documents),
         n AS (SELECT doc_id, toks, len(toks) AS n FROM d),
         wnd AS (SELECT doc_id, pos,
                        md5(array_to_string(list_slice(toks, pos, pos + 7), ' ')) AS h
                 FROM n, unnest(range(1, n - 8 + 2)) AS t(pos)),
         win AS (SELECT h, min({'i': doc_id, 'p': pos}) AS w, count(*) AS c
                 FROM wnd GROUP BY 1),
         dup AS (SELECT wnd.doc_id, wnd.pos FROM wnd JOIN win USING (h)
                 WHERE win.c > 1
                   AND NOT (wnd.doc_id = win.w.i AND wnd.pos = win.w.p)),
         cov AS (SELECT DISTINCT doc_id, unnest(range(pos, pos + 8)) AS tpos
                 FROM dup),
         tok AS (SELECT doc_id, tpos, toks[tpos] AS tok
                 FROM n, unnest(range(1, n + 1)) AS t(tpos)),
         kept AS (SELECT tok.doc_id, tok.tpos, tok.tok
                  FROM tok ANTI JOIN cov USING (doc_id, tpos)),
         rb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
                       string_agg(tok, ' ' ORDER BY tpos) AS clean_text
                FROM kept GROUP BY 1)
         SELECT n.doc_id, coalesce(rb.clean_text, '') AS clean_text,
                CAST(n.n AS BIGINT) AS n_tok, coalesce(rb.n_kept, 0) AS n_kept
         FROM n LEFT JOIN rb USING (doc_id)
         ORDER BY ALL NULLS FIRST""",

    // q112's CTE chain restricted to the fresh slice, plus the state
    // side as a distinct-hash set: a fresh window is covered when it is
    // a within-fresh non-first occurrence OR its hash exists among the
    // state docs' windows. Reassembly/totality identical to q112.
    "q120_incremental_substring" ->
      """WITH d AS (SELECT doc_id,
                           list_filter(str_split(text, ' '), t -> t <> '') AS toks
                    FROM documents),
         n AS (SELECT doc_id, toks, len(toks) AS n FROM d),
         f AS (SELECT * FROM n WHERE doc_id % 10 = 0),
         st AS (SELECT * FROM n WHERE doc_id % 10 <> 0),
         known AS (SELECT DISTINCT
                          md5(array_to_string(list_slice(toks, pos, pos + 7), ' ')) AS h
                   FROM st, unnest(range(1, n - 8 + 2)) AS t(pos)),
         wnd AS (SELECT doc_id, pos,
                        md5(array_to_string(list_slice(toks, pos, pos + 7), ' ')) AS h
                 FROM f, unnest(range(1, n - 8 + 2)) AS t(pos)),
         win AS (SELECT h, min({'i': doc_id, 'p': pos}) AS w, count(*) AS c
                 FROM wnd GROUP BY 1),
         dup AS (SELECT wnd.doc_id, wnd.pos FROM wnd JOIN win USING (h)
                 WHERE (win.c > 1
                        AND NOT (wnd.doc_id = win.w.i AND wnd.pos = win.w.p))
                    OR h IN (SELECT h FROM known)),
         cov AS (SELECT DISTINCT doc_id, unnest(range(pos, pos + 8)) AS tpos
                 FROM dup),
         tok AS (SELECT doc_id, tpos, toks[tpos] AS tok
                 FROM f, unnest(range(1, n + 1)) AS t(tpos)),
         kept AS (SELECT tok.doc_id, tok.tpos, tok.tok
                  FROM tok ANTI JOIN cov USING (doc_id, tpos)),
         rb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
                       string_agg(tok, ' ' ORDER BY tpos) AS clean_text
                FROM kept GROUP BY 1)
         SELECT f.doc_id, coalesce(rb.clean_text, '') AS clean_text,
                CAST(f.n AS BIGINT) AS n_tok, coalesce(rb.n_kept, 0) AS n_kept
         FROM f LEFT JOIN rb USING (doc_id)
         ORDER BY ALL NULLS FIRST""",

    // Replays SemDeDup end-to-end: the q23 quantized-argmin assignment
    // at k=32 (packed BIGINT min = argmin + tie-break), the cluster-size
    // cap as a count window, and the greedy keep-min-id prune over
    // within-cluster cosine (rounded to 6 before the compare, the q61
    // parity form). Capped-out clusters never reach the pair join, so
    // their members stay keep = true via the assignment spine.
    "q110_semantic_dedup" ->
      """WITH q AS (SELECT vec_id,
                           list_transform(embedding,
                             x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
                    FROM embeddings),
         seeds AS (SELECT vec_id AS c, qv AS qc FROM q WHERE vec_id < 32),
         ql AS (SELECT vec_id, unnest(qv) AS x, generate_subscripts(qv, 1) AS i FROM q),
         sl AS (SELECT c, unnest(qc) AS y, generate_subscripts(qc, 1) AS i FROM seeds),
         d AS (SELECT ql.vec_id, sl.c,
                      CAST(sum((ql.x - sl.y) * (ql.x - sl.y)) AS BIGINT) AS dist
               FROM ql JOIN sl ON ql.i = sl.i GROUP BY 1, 2),
         a AS (SELECT vec_id, CAST(min(dist * 32 + c) % 32 AS BIGINT) AS cluster
               FROM d GROUP BY 1),
         capd AS (SELECT vec_id, cluster FROM (
                    SELECT vec_id, cluster,
                           count(*) OVER (PARTITION BY cluster) AS n FROM a)
                  WHERE n <= 100),
         v AS (SELECT c.vec_id, c.cluster,
                      CAST(e.embedding AS DOUBLE[]) AS emb
               FROM capd c JOIN embeddings e USING (vec_id)),
         dups AS (SELECT DISTINCT y.vec_id
                  FROM v x JOIN v y
                    ON x.cluster = y.cluster AND x.vec_id < y.vec_id
                  WHERE round(list_dot_product(x.emb, y.emb) /
                          (sqrt(list_dot_product(x.emb, x.emb)) *
                           sqrt(list_dot_product(y.emb, y.emb))), 6) >= 0.4)
         SELECT a.vec_id, a.cluster, (dp.vec_id IS NULL) AS keep
         FROM a LEFT JOIN dups dp ON a.vec_id = dp.vec_id
         ORDER BY ALL NULLS FIRST""",

    // Recomputes each doc's dHash arithmetically from the q108 pixel
    // formula (never touching BMP bytes), in two positive 32-bit halves
    // so every shift/xor stays in signed-BIGINT range, then replays the
    // same 4-band candidate join and Hamming filter. Cell luma scale
    // (×1000 for gray pixels) and equal 2×2 cell areas cancel out of
    // the strict comparison, so raw gray sums suffice.
    "q108_image_neardup" ->
      """WITH d AS (SELECT doc_id,
                           CAST(doc_id % 40 AS INT) AS key,
                           CAST(doc_id // 40 AS INT) % 3 AS variant
                    FROM documents),
         px AS (SELECT doc_id, x.x AS x, y.y AS y,
                       (7*x.x*x.x + 11*y.y*y.y + 13*key*(x.x+1) + 17*key*y.y) % 250
                         + variant * (CASE WHEN x.x % 5 = 0 THEN 3 ELSE 0 END) AS g
                FROM d, generate_series(0, 17) x(x), generate_series(0, 15) y(y)),
         cells AS (SELECT doc_id, y // 2 AS r, x // 2 AS c,
                          CAST(SUM(g) AS BIGINT) AS s
                   FROM px GROUP BY ALL),
         bits AS (SELECT a.doc_id, a.r, a.c,
                         CASE WHEN b.s > a.s THEN 1 ELSE 0 END AS bit
                  FROM cells a
                  JOIN cells b ON b.doc_id = a.doc_id AND b.r = a.r AND b.c = a.c + 1
                  WHERE a.c < 8),
         hs AS (SELECT doc_id,
                       CAST(SUM(CASE WHEN r < 4
                                     THEN CAST(bit AS BIGINT) << (r*8+c)
                                     ELSE 0 END) AS BIGINT) AS lo,
                       CAST(SUM(CASE WHEN r >= 4
                                     THEN CAST(bit AS BIGINT) << ((r-4)*8+c)
                                     ELSE 0 END) AS BIGINT) AS hi
                FROM bits GROUP BY doc_id),
         bands AS (SELECT doc_id, lo, hi, b.b AS band,
                          CASE b.b WHEN 0 THEN lo & 65535
                                   WHEN 1 THEN lo >> 16
                                   WHEN 2 THEN hi & 65535
                                   ELSE hi >> 16 END AS bv
                   FROM hs, generate_series(0, 3) b(b)),
         pairs AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
                          CAST(bit_count(xor(a.lo, b.lo)) +
                               bit_count(xor(a.hi, b.hi)) AS INT) AS hamming
                   FROM bands a
                   JOIN bands b ON a.band = b.band AND a.bv = b.bv
                               AND a.doc_id < b.doc_id)
         SELECT a_id, b_id, hamming FROM pairs WHERE hamming <= 16
         ORDER BY ALL NULLS FIRST""",

    "q58_minhash_lsh" ->
      """WITH docs AS (SELECT doc_id, list_distinct(str_split(text, ' ')) AS toks
                       FROM documents WHERE doc_id % 5 = 0),
         tok AS (SELECT doc_id, unnest(toks) AS token FROM docs),
         mh AS (SELECT doc_id, s,
                       min(CAST('0x' || substr(md5(CAST(s // 4 AS VARCHAR) || '|' || token), 1 + 8 * (s % 4), 8) AS BIGINT)) AS mv
                FROM tok, (SELECT unnest([0, 1, 2, 3, 4, 5, 6, 7]) AS s) seeds
                GROUP BY doc_id, s),
         bands AS (SELECT doc_id, s // 2 AS band,
                          md5(string_agg(CAST(mv AS VARCHAR), '|' ORDER BY s)) AS bucket
                   FROM mh GROUP BY doc_id, s // 2),
         capped AS (SELECT * FROM bands
                    QUALIFY count(*) OVER (PARTITION BY band, bucket) <= 50),
         cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
                  FROM capped x JOIN capped y
                    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id)
         SELECT c.id_a, c.id_b,
                CAST(len(list_filter(da.toks, t -> list_contains(db.toks, t))) AS DOUBLE)
                / (len(da.toks) + len(db.toks)
                   - len(list_filter(da.toks, t -> list_contains(db.toks, t)))) AS jaccard
         FROM cand c
         JOIN docs da ON c.id_a = da.doc_id
         JOIN docs db ON c.id_b = db.doc_id
         ORDER BY ALL NULLS FIRST""",

    "q27_canonical_dedup" ->
      """WITH u AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 10000000, '  ' || upper(text) || ' !!'
            FROM documents WHERE doc_id % 7 = 0)
         SELECT md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                                        ' +', ' ', 'g'))) AS canon_fp,
                min(doc_id) AS rep_id,
                count(*) AS n_docs
         FROM u GROUP BY 1 ORDER BY ALL NULLS FIRST""",

    "q59_simhash" ->
      """WITH tok AS (SELECT doc_id, unnest(str_split(text, ' ')) AS token FROM documents),
         th AS (SELECT doc_id,
                       CAST('0x' || substr(md5('0|' || token), 1, 8) AS BIGINT) AS h
                FROM tok),
         bits AS (SELECT doc_id, b,
                         sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
                  FROM th, (SELECT unnest(range(0, 32)) AS b) bs
                  GROUP BY doc_id, b),
         sh AS (SELECT doc_id,
                       CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash
                FROM bits GROUP BY doc_id)
         SELECT doc_id, simhash, simhash >> 24 AS bucket
         FROM sh ORDER BY ALL NULLS FIRST""",

    "q89_decontamination" ->
      """WITH toks AS (SELECT doc_id, str_split(text, ' ') AS t FROM documents),
         grams AS (
           SELECT doc_id,
                  list_distinct(list_transform(range(1, len(t) - 1),
                    i -> t[i] || '_' || t[i+1] || '_' || t[i+2])) AS gs
           FROM toks),
         train AS (SELECT doc_id, gs FROM grams WHERE doc_id % 10 <> 0),
         test AS (SELECT gs FROM grams WHERE doc_id % 10 = 0),
         traing AS (SELECT doc_id, unnest(gs) AS g FROM train),
         testg AS (SELECT DISTINCT unnest(gs) AS g FROM test),
         dft AS (SELECT g, count(*) AS df FROM traing GROUP BY g),
         n AS (SELECT count(*) AS n FROM train),
         kept AS (SELECT t.g FROM testg t JOIN dft d ON t.g = d.g
                  CROSS JOIN n WHERE d.df <= n.n * 0.5),
         ov AS (SELECT tr.doc_id, count(*) AS n_overlap
                FROM traing tr JOIN kept k ON tr.g = k.g GROUP BY tr.doc_id),
         sz AS (SELECT doc_id, len(gs) AS n_grams FROM train)
         SELECT o.doc_id, o.n_overlap, CAST(s.n_grams AS BIGINT) AS n_grams,
                round(CAST(o.n_overlap AS DOUBLE) / s.n_grams, 6) AS frac
         FROM ov o JOIN sz s ON o.doc_id = s.doc_id
         WHERE round(CAST(o.n_overlap AS DOUBLE) / s.n_grams, 6) >= 0.25
         ORDER BY ALL NULLS FIRST""",

    "q93_incremental_neardup" ->
      """WITH docs AS (SELECT doc_id, list_distinct(str_split(text, ' ')) AS toks
                       FROM documents),
         tok AS (SELECT doc_id, unnest(toks) AS token FROM docs),
         mh AS (SELECT doc_id, s,
                       min(CAST('0x' || substr(md5(CAST(s // 4 AS VARCHAR) || '|' || token), 1 + 8 * (s % 4), 8) AS BIGINT)) AS mv
                FROM tok, (SELECT unnest([0, 1, 2, 3, 4, 5, 6, 7]) AS s) seeds
                GROUP BY doc_id, s),
         bands AS (SELECT doc_id, s // 2 AS band,
                          md5(string_agg(CAST(mv AS VARCHAR), '|' ORDER BY s)) AS bucket
                   FROM mh GROUP BY doc_id, s // 2),
         capped AS (SELECT * FROM bands WHERE doc_id % 10 <> 0
                    QUALIFY count(*) OVER (PARTITION BY band, bucket) <= 50),
         freshb AS (SELECT * FROM bands WHERE doc_id % 10 = 0),
         cand AS (SELECT DISTINCT f.doc_id AS id_new, c.doc_id AS id_old
                  FROM freshb f JOIN capped c
                    ON f.band = c.band AND f.bucket = c.bucket)
         SELECT c.id_new, c.id_old,
                CAST(len(list_filter(da.toks, t -> list_contains(db.toks, t))) AS DOUBLE)
                / (len(da.toks) + len(db.toks)
                   - len(list_filter(da.toks, t -> list_contains(db.toks, t)))) AS jaccard
         FROM cand c
         JOIN docs da ON c.id_new = da.doc_id
         JOIN docs db ON c.id_old = db.doc_id
         ORDER BY ALL NULLS FIRST""",

    "q92_dedup_clusters" ->
      """WITH RECURSIVE
         cand AS (SELECT doc_id, str_split(text, ' ') AS toks
                  FROM documents WHERE doc_id % 10 = 0),
         sh AS (SELECT doc_id,
                       list_transform(range(1, len(toks)), i -> toks[i] || '_' || toks[i+1]) AS shingles
                FROM cand),
         tok AS (SELECT DISTINCT doc_id, unnest(shingles) AS token FROM sh),
         kept AS (SELECT token FROM tok GROUP BY token
                  HAVING count(*) <= 0.5 * (SELECT count(DISTINCT doc_id) FROM tok)),
         tok2 AS (SELECT tok.doc_id, tok.token FROM tok JOIN kept USING (token)),
         sizes AS (SELECT doc_id, count(*) AS n FROM tok2 GROUP BY doc_id),
         inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
                   FROM tok2 a JOIN tok2 b ON a.token = b.token AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         p AS (SELECT i.id_a, i.id_b FROM inter i
               JOIN sizes sa ON i.id_a = sa.doc_id
               JOIN sizes sb ON i.id_b = sb.doc_id
               WHERE CAST(i.c AS DOUBLE) / (sa.n + sb.n - i.c) >= 0.08),
         edges AS (SELECT id_a AS s, id_b AS d FROM p
                   UNION ALL SELECT id_b, id_a FROM p),
         reach(id, lab) AS (
           SELECT DISTINCT s, s FROM edges
           UNION
           SELECT e.d, r.lab FROM reach r JOIN edges e ON e.s = r.id),
         cl AS (SELECT id, min(lab) AS cluster FROM reach GROUP BY id)
         SELECT c.doc_id,
                coalesce(cl.cluster, c.doc_id) AS cluster,
                coalesce(cl.cluster, c.doc_id) = c.doc_id AS is_rep
         FROM cand c LEFT JOIN cl ON c.doc_id = cl.id
         ORDER BY ALL NULLS FIRST""",

    // the 3 iterations unrolled as CTE levels; contribution sums are
    // decimal-exact on both engines (DECIMAL(38,18) accumulate →
    // DECIMAL(28,12) → DOUBLE, the Graph.decSum contract), the teleport
    // term forces DOUBLE subtraction — DuckDB's bare `1.0 - 0.85` is
    // DECIMAL arithmetic (exactly 0.15), a DIFFERENT double from
    // Spark's lit(1.0 - 0.85) = 0.15000000000000002
    "q103_pagerank" ->
      """WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                           CAST(count(*) AS DOUBLE) AS nd FROM documents),
         ix AS (SELECT doc_id,
                       CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS idx
                FROM documents),
         e AS (SELECT a.doc_id AS src, b.doc_id AS dst
               FROM ix a, (VALUES (1), (2), (3)) AS ks(k)
                    JOIN ix b ON b.idx = (a.idx * 31 + k) % (SELECT n_docs FROM n)
               WHERE a.doc_id <> b.doc_id),
         outdeg AS (SELECT src, CAST(count(*) AS DOUBLE) AS outdeg
                    FROM e GROUP BY 1),
         pr0 AS (SELECT doc_id AS node, 1.0 / (SELECT nd FROM n) AS pr
                 FROM documents),
         s1 AS (SELECT e.dst AS node,
                       CAST(CAST(sum(CAST(p.pr / o.outdeg AS DECIMAL(38,18)))
                            AS DECIMAL(28,12)) AS DOUBLE) AS in_sum
                FROM e JOIN pr0 p ON e.src = p.node
                       JOIN outdeg o ON e.src = o.src GROUP BY 1),
         pr1 AS (SELECT d.node,
                        (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT nd FROM n) +
                          0.85 * coalesce(s.in_sum, 0.0) AS pr
                 FROM pr0 d LEFT JOIN s1 s ON d.node = s.node),
         s2 AS (SELECT e.dst AS node,
                       CAST(CAST(sum(CAST(p.pr / o.outdeg AS DECIMAL(38,18)))
                            AS DECIMAL(28,12)) AS DOUBLE) AS in_sum
                FROM e JOIN pr1 p ON e.src = p.node
                       JOIN outdeg o ON e.src = o.src GROUP BY 1),
         pr2 AS (SELECT d.node,
                        (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT nd FROM n) +
                          0.85 * coalesce(s.in_sum, 0.0) AS pr
                 FROM pr1 d LEFT JOIN s2 s ON d.node = s.node),
         s3 AS (SELECT e.dst AS node,
                       CAST(CAST(sum(CAST(p.pr / o.outdeg AS DECIMAL(38,18)))
                            AS DECIMAL(28,12)) AS DOUBLE) AS in_sum
                FROM e JOIN pr2 p ON e.src = p.node
                       JOIN outdeg o ON e.src = o.src GROUP BY 1),
         pr3 AS (SELECT d.node,
                        (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT nd FROM n) +
                          0.85 * coalesce(s.in_sum, 0.0) AS pr
                 FROM pr2 d LEFT JOIN s3 s ON d.node = s.node)
         SELECT node AS doc_id, round(pr, 6) AS pr FROM pr3
         ORDER BY ALL NULLS FIRST""",

    // q60's replay with the excerpt union and both containment
    // directions; greatest(n//3, 4) mirrors the Spark floor/greatest.
    "q119_containment_pairs" ->
      """WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
         exc AS (SELECT doc_id + 20000000 AS doc_id,
                        array_to_string(list_slice(str_split(text, ' '), 1,
                          greatest(len(str_split(text, ' ')) // 3, 4)), ' ') AS text
                 FROM base WHERE doc_id % 3 = 0),
         allr AS (SELECT * FROM base UNION ALL SELECT * FROM exc),
         sh AS (SELECT doc_id,
                       list_transform(range(1, len(str_split(text, ' '))),
                         i -> str_split(text, ' ')[i] || '_' || str_split(text, ' ')[i+1]) AS shingles
                FROM allr),
         tok AS (SELECT DISTINCT doc_id, unnest(shingles) AS token FROM sh),
         kept AS (SELECT token FROM tok GROUP BY token
                  HAVING count(*) <= 0.5 * (SELECT count(DISTINCT doc_id) FROM tok)),
         tok2 AS (SELECT tok.doc_id, tok.token FROM tok JOIN kept USING (token)),
         sizes AS (SELECT doc_id, count(*) AS n FROM tok2 GROUP BY doc_id),
         inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
                   FROM tok2 a JOIN tok2 b ON a.token = b.token AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         sc AS (SELECT i.id_a, i.id_b,
                       round(CAST(i.c AS DOUBLE) / sa.n, 6) AS c_in_a,
                       round(CAST(i.c AS DOUBLE) / sb.n, 6) AS c_in_b
                FROM inter i
                JOIN sizes sa ON i.id_a = sa.doc_id
                JOIN sizes sb ON i.id_b = sb.doc_id)
         SELECT id_a, id_b, c_in_a, c_in_b FROM sc
         WHERE greatest(c_in_a, c_in_b) >= 0.8
         ORDER BY ALL NULLS FIRST""",

    "q60_ngram_jaccard" ->
      """WITH cand AS (SELECT doc_id, str_split(text, ' ') AS toks
                       FROM documents WHERE doc_id % 10 = 0),
         sh AS (SELECT doc_id,
                       list_transform(range(1, len(toks)), i -> toks[i] || '_' || toks[i+1]) AS shingles
                FROM cand),
         tok AS (SELECT DISTINCT doc_id, unnest(shingles) AS token FROM sh),
         kept AS (SELECT token FROM tok GROUP BY token
                  HAVING count(*) <= 0.5 * (SELECT count(DISTINCT doc_id) FROM tok)),
         tok2 AS (SELECT tok.doc_id, tok.token FROM tok JOIN kept USING (token)),
         sizes AS (SELECT doc_id, count(*) AS n FROM tok2 GROUP BY doc_id),
         inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
                   FROM tok2 a JOIN tok2 b ON a.token = b.token AND a.doc_id < b.doc_id
                   GROUP BY 1, 2)
         SELECT i.id_a, i.id_b,
                CAST(i.c AS DOUBLE) / (sa.n + sb.n - i.c) AS jaccard
         FROM inter i
         JOIN sizes sa ON i.id_a = sa.doc_id
         JOIN sizes sb ON i.id_b = sb.doc_id
         WHERE CAST(i.c AS DOUBLE) / (sa.n + sb.n - i.c) >= 0.06
         ORDER BY ALL NULLS FIRST""",

    "q81_levenshtein" ->
      """WITH cand AS (SELECT c_custkey, c_name, length(c_name) AS ln
                       FROM customer WHERE c_custkey % 100 = 0),
         probe AS (SELECT c_custkey, c_name, ln,
                          unnest([ln // 4 - 1, ln // 4, ln // 4 + 1]) AS band FROM cand),
         build AS (SELECT c_custkey, c_name, ln, ln // 4 AS band FROM cand),
         pairs AS (SELECT DISTINCT a.c_custkey AS id_a, a.c_name AS name_a,
                                   b.c_custkey AS id_b, b.c_name AS name_b
                   FROM probe a JOIN build b
                     ON a.band = b.band AND a.c_custkey < b.c_custkey
                   WHERE abs(a.ln - b.ln) <= 3)
         SELECT id_a, id_b, CAST(levenshtein(name_a, name_b) AS BIGINT) AS dist
         FROM pairs WHERE levenshtein(name_a, name_b) <= 3
         ORDER BY ALL NULLS FIRST""",

    "q61_embedding_neardup" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200)
         SELECT id_a, id_b, cos FROM (
           SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                  round(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) /
                        (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) *
                         sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 6) AS cos
           FROM e a JOIN e b ON a.vec_id < b.vec_id)
         WHERE cos >= 0.3
         ORDER BY ALL NULLS FIRST""",

    "q125_pq_ann" ->
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qvec
                    FROM embeddings WHERE vec_id = 1),
         mm AS (SELECT unnest([0, 1, 2, 3]) AS m),
         sub AS (SELECT vec_id, m,
                        list_transform(list_slice(embedding, m*16 + 1, m*16 + 16),
                                       x -> CAST(x AS DOUBLE)) AS sub
                 FROM embeddings, mm),
         st AS (SELECT vec_id, m, sub,
                       list_reverse_sort(list_transform(range(1, 5), i ->
                         [abs(sub[i]),
                          CAST(i AS DOUBLE) * CAST(sign(sub[i]) AS DOUBLE)])) AS srt
                FROM sub),
         codes AS (SELECT vec_id, m, sub,
                          CASE WHEN len(sub) >= 4 THEN
                            (CAST(srt[1][2] AS INT) + 4) * 9
                              + (CAST(srt[2][2] AS INT) + 4) END AS code
                   FROM st),
         p AS (SELECT m, code, unnest(range(1, len(sub) + 1)) AS pos,
                      unnest(sub) AS v
               FROM codes WHERE code IS NOT NULL),
         a AS (SELECT m, code, pos, count(*) AS n,
                      CAST(sum(CAST(round(v * 1000000) AS BIGINT)) AS BIGINT) AS s
               FROM p GROUP BY 1, 2, 3),
         cb AS (SELECT m, code,
                       list(CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0)
                            ORDER BY pos) AS cmean
                FROM a GROUP BY 1, 2),
         qs AS (SELECT m, list_slice(qvec, m*16 + 1, m*16 + 16) AS qsub
                FROM q, mm),
         dt AS (SELECT cb.m, cb.code,
                       round(list_dot_product(qs.qsub, qs.qsub)
                             - CAST(2.0 AS DOUBLE)
                               * list_dot_product(qs.qsub, cb.cmean)
                             + list_dot_product(cb.cmean, cb.cmean), 8)
                         + CAST(0.0 AS DOUBLE) AS d2
                FROM cb JOIN qs ON qs.m = cb.m),
         tot AS (SELECT vec_id,
                        CAST(CAST(sum(CAST(d2 AS DECIMAL(28,8)))
                             AS DECIMAL(28,8)) AS DOUBLE) AS adist
                 FROM codes JOIN dt USING (m, code) GROUP BY 1)
         SELECT * FROM (
           SELECT vec_id, adist FROM tot
           ORDER BY adist ASC NULLS LAST, vec_id ASC LIMIT 20)
         ORDER BY ALL NULLS FIRST""",

    // q125's codes/codebook/ADC chain + q99's coarse-bucket chain +
    // the probe ranking (exact-millionth centroid means, qq − 2qc + cc
    // rounded to 8, bucket-asc tie-break) — the scanned population is
    // itself oracle-checked: a divergence in ANY of the three bounded
    // artifacts moves the probed set and breaks the hash.
    "q141_ivfpq" ->
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qvec
                    FROM embeddings WHERE vec_id = 1),
         s AS (SELECT vec_id, embedding,
                list_reverse_sort(list_transform(range(1, 9), i ->
                  [abs(CAST(embedding[i] AS DOUBLE)),
                   CAST(i AS DOUBLE) * CAST(sign(CAST(embedding[i] AS DOUBLE)) AS DOUBLE)])) AS st
                FROM embeddings),
         e AS (SELECT vec_id, embedding,
                CASE WHEN len(embedding) >= 8 THEN
                  (CAST(st[1][2] AS INT) + 8) * 17 + (CAST(st[2][2] AS INT) + 8) END AS bucket
               FROM s),
         p AS (SELECT bucket, unnest(range(1, len(embedding) + 1)) AS pos,
                      CAST(unnest(embedding) AS DOUBLE) AS v
               FROM e WHERE bucket IS NOT NULL),
         a AS (SELECT bucket, pos, count(*) AS n,
                      CAST(sum(CAST(round(v * 1000000) AS BIGINT)) AS BIGINT) AS s
               FROM p GROUP BY 1, 2),
         cmean AS (SELECT bucket,
                     list(CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0)
                          ORDER BY pos) AS cm
                   FROM a GROUP BY 1),
         probed AS (SELECT bucket FROM (
             SELECT c.bucket,
                    round(list_dot_product(q.qvec, q.qvec)
                          - CAST(2.0 AS DOUBLE) * list_dot_product(q.qvec, c.cm)
                          + list_dot_product(c.cm, c.cm), 8)
                      + CAST(0.0 AS DOUBLE) AS d2
             FROM cmean c, q)
           ORDER BY d2 ASC NULLS LAST, bucket ASC LIMIT 4),
         mm AS (SELECT unnest([0, 1, 2, 3]) AS m),
         sub AS (SELECT vec_id, m,
                        list_transform(list_slice(embedding, m*16 + 1, m*16 + 16),
                                       x -> CAST(x AS DOUBLE)) AS sub
                 FROM embeddings, mm),
         stc AS (SELECT vec_id, m, sub,
                       list_reverse_sort(list_transform(range(1, 5), i ->
                         [abs(sub[i]),
                          CAST(i AS DOUBLE) * CAST(sign(sub[i]) AS DOUBLE)])) AS srt
                FROM sub),
         codes AS (SELECT vec_id, m, sub,
                          CASE WHEN len(sub) >= 4 THEN
                            (CAST(srt[1][2] AS INT) + 4) * 9
                              + (CAST(srt[2][2] AS INT) + 4) END AS code
                   FROM stc),
         pc AS (SELECT m, code, unnest(range(1, len(sub) + 1)) AS pos,
                       unnest(sub) AS v
                FROM codes WHERE code IS NOT NULL),
         ac AS (SELECT m, code, pos, count(*) AS n,
                       CAST(sum(CAST(round(v * 1000000) AS BIGINT)) AS BIGINT) AS s
                FROM pc GROUP BY 1, 2, 3),
         cb AS (SELECT m, code,
                       list(CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0)
                            ORDER BY pos) AS cmean
                FROM ac GROUP BY 1, 2),
         qs AS (SELECT m, list_slice(qvec, m*16 + 1, m*16 + 16) AS qsub
                FROM q, mm),
         dt AS (SELECT cb.m, cb.code,
                       round(list_dot_product(qs.qsub, qs.qsub)
                             - CAST(2.0 AS DOUBLE)
                               * list_dot_product(qs.qsub, cb.cmean)
                             + list_dot_product(cb.cmean, cb.cmean), 8)
                         + CAST(0.0 AS DOUBLE) AS d2
                FROM cb JOIN qs ON qs.m = cb.m),
         pop AS (SELECT c.vec_id, c.m, c.code
                 FROM codes c JOIN e USING (vec_id)
                 WHERE e.bucket IN (SELECT bucket FROM probed)
                   AND c.code IS NOT NULL),
         tot AS (SELECT vec_id,
                        CAST(CAST(sum(CAST(d2 AS DECIMAL(28,8)))
                             AS DECIMAL(28,8)) AS DOUBLE) AS adist
                 FROM pop JOIN dt USING (m, code) GROUP BY 1)
         SELECT * FROM (
           SELECT vec_id, adist FROM tot
           ORDER BY adist ASC NULLS LAST, vec_id ASC LIMIT 20)
         ORDER BY ALL NULLS FIRST""",

    // the q23 exact-integer coarse routing (quantized thousandths,
    // packed-min argmin, integer probe ranking) + q141's ADC chain
    // restricted to the probed clusters — every routing artifact is
    // exact BIGINT arithmetic, so a divergence anywhere moves the
    // scanned population and breaks the hash
    "q156_ivfpq_trained" -> ivfPqTrainedSql(""),

    // replays scale training (the 1-row global max(abs)), the clamped
    // floor(v*127/amax+0.5) signed codes, and the symmetric integer
    // dot ranking — all exact arithmetic, no rounding in the rank key
    "q146_sq8_ann" ->
      """WITH p AS (SELECT vec_id,
                           unnest(range(1, len(embedding) + 1)) AS pos,
                           CAST(unnest(embedding) AS DOUBLE) AS v
                    FROM embeddings),
         st AS (SELECT max(abs(v)) AS amax FROM p),
         codes AS (SELECT vec_id,
                          list(least(CAST(127.0 AS DOUBLE),
                                 greatest(CAST(-127.0 AS DOUBLE),
                                   floor(v * CAST(127.0 AS DOUBLE) / amax
                                         + CAST(0.5 AS DOUBLE))))
                               ORDER BY pos) AS codes
                   FROM p, st GROUP BY 1),
         qc AS (SELECT codes AS qcodes FROM codes WHERE vec_id = 1),
         topk AS (SELECT vec_id,
                         CAST(list_dot_product(codes, qcodes) AS BIGINT)
                           AS isim
                  FROM codes, qc
                  ORDER BY isim DESC NULLS LAST, vec_id ASC LIMIT 20),
         q AS (SELECT CAST(embedding AS DOUBLE[]) AS qvec
               FROM embeddings WHERE vec_id = 1)
         SELECT t.vec_id, t.isim,
                round(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qvec)
                      / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                               CAST(e.embedding AS DOUBLE[])))
                         * sqrt(list_dot_product(q.qvec, q.qvec))), 6)
                  + CAST(0.0 AS DOUBLE) AS cos_exact
         FROM topk t JOIN embeddings e USING (vec_id), q
         ORDER BY ALL NULLS FIRST""",

    // the full greedy replayed: candidate head (round-6 cosine rel,
    // rel-desc/id-asc cut), the 40×40 round-6 sim table, then one
    // MATERIALIZED CTE per selection step — argmax of
    // 0.7·rel − 0.3·max(sim to selected), mmr-desc/id-asc tie-break,
    // exactly the driver loop's comparison chain
    "q147_mmr_select" -> {
      val C = 40
      val K = 10
      val cos = (a: String, b: String) =>
        s"""round(list_dot_product($a, $b)
             / (sqrt(list_dot_product($a, $a))
                * sqrt(list_dot_product($b, $b))), 6)
           + CAST(0.0 AS DOUBLE)"""
      val steps = (1 to K).map { r =>
        if (r == 1)
          s"""s1 AS MATERIALIZED (
             SELECT vec_id, rel,
                    CAST(0.7 AS DOUBLE) * rel
                      - CAST(0.3 AS DOUBLE) * CAST(0.0 AS DOUBLE) AS mmr,
                    CAST(1 AS INT) AS sel_rank
             FROM cand
             ORDER BY mmr DESC, vec_id ASC LIMIT 1)"""
        else {
          val prev = (1 until r)
            .map(i => s"SELECT vec_id FROM s$i").mkString(" UNION ALL ")
          s"""s$r AS MATERIALIZED (
             SELECT vec_id, rel, mmr, CAST($r AS INT) AS sel_rank FROM (
               SELECT c.vec_id, c.rel,
                      CAST(0.7 AS DOUBLE) * c.rel - CAST(0.3 AS DOUBLE) *
                        (SELECT max(s.sim) FROM sim s
                         WHERE s.ida = c.vec_id
                           AND s.idb IN ($prev)) AS mmr
               FROM cand c
               WHERE c.vec_id NOT IN ($prev))
             ORDER BY mmr DESC, vec_id ASC LIMIT 1)"""
        }
      }.mkString(",\n")
      val all = (1 to K)
        .map(i => s"SELECT sel_rank, vec_id, rel, mmr FROM s$i")
        .mkString(" UNION ALL ")
      s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qvec
                     FROM embeddings WHERE vec_id = 1),
         cand AS MATERIALIZED (
           SELECT vec_id, rel, v FROM (
             SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                    ${cos("CAST(embedding AS DOUBLE[])", "q.qvec")} AS rel
             FROM embeddings, q WHERE embedding IS NOT NULL)
           ORDER BY rel DESC, vec_id ASC LIMIT $C),
         sim AS MATERIALIZED (
           SELECT a.vec_id AS ida, b.vec_id AS idb,
                  ${cos("a.v", "b.v")} AS sim
           FROM cand a, cand b),
         $steps
         SELECT sel_rank, vec_id, rel, mmr FROM ($all)
         ORDER BY ALL NULLS FIRST"""
    },

    "q99_ivf_centroids" ->
      """WITH s AS (SELECT vec_id, embedding,
                list_reverse_sort(list_transform(range(1, 9), i ->
                  [abs(CAST(embedding[i] AS DOUBLE)),
                   CAST(i AS DOUBLE) * CAST(sign(CAST(embedding[i] AS DOUBLE)) AS DOUBLE)])) AS st
                FROM embeddings),
         e AS (SELECT vec_id, embedding,
                CASE WHEN len(embedding) >= 8 THEN
                  (CAST(st[1][2] AS INT) + 8) * 17 + (CAST(st[2][2] AS INT) + 8) END AS bucket
               FROM s),
         p AS (SELECT bucket, unnest(range(1, len(embedding) + 1)) AS pos,
                      CAST(unnest(embedding) AS DOUBLE) AS v
               FROM e WHERE bucket IS NOT NULL),
         a AS (SELECT bucket, pos, count(*) AS n,
                      CAST(sum(CAST(round(v * 1000000) AS BIGINT)) AS BIGINT) AS s
               FROM p GROUP BY 1, 2)
         SELECT bucket, CAST(max(n) AS BIGINT) AS n_vecs,
                to_json(list(s ORDER BY pos))::VARCHAR AS centroid_msum
         FROM a GROUP BY bucket ORDER BY ALL NULLS FIRST""",

    // The q86 bucket replay split into train/test slices: test probes
    // the QUALIFY-capped train buckets, flags summarize per train id.
    "q117_embedding_decontamination" ->
      """WITH s AS (SELECT vec_id, embedding,
                list_reverse_sort(list_transform(range(1, 9), i ->
                  [abs(CAST(embedding[i] AS DOUBLE)),
                   CAST(i AS DOUBLE) * CAST(sign(CAST(embedding[i] AS DOUBLE)) AS DOUBLE)])) AS st
                FROM embeddings),
         e AS (SELECT vec_id, embedding,
                CASE WHEN len(embedding) >= 8 THEN
                  (CAST(st[1][2] AS INT) + 8) * 17 + (CAST(st[2][2] AS INT) + 8) END AS bucket
               FROM s),
         train AS (SELECT vec_id, embedding, bucket FROM e
                   WHERE vec_id % 10 <> 0 AND bucket IS NOT NULL
                   QUALIFY count(*) OVER (PARTITION BY bucket) <= 100),
         test AS (SELECT vec_id, embedding, bucket FROM e
                  WHERE vec_id % 10 = 0 AND bucket IS NOT NULL),
         hits AS (SELECT c.vec_id AS id_old,
                         round(list_dot_product(CAST(t.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) /
                               (sqrt(list_dot_product(CAST(t.embedding AS DOUBLE[]), CAST(t.embedding AS DOUBLE[]))) *
                                sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))), 6) AS cos
                  FROM test t JOIN train c USING (bucket)
                  WHERE t.vec_id <> c.vec_id)
         SELECT id_old AS train_id, CAST(count(*) AS BIGINT) AS n_hits,
                max(cos) AS max_cos
         FROM hits WHERE cos >= 0.1
         GROUP BY 1 ORDER BY ALL NULLS FIRST""",

    "q86_ivf_neardup" ->
      """WITH s AS (SELECT vec_id, embedding,
                list_reverse_sort(list_transform(range(1, 9), i ->
                  [abs(CAST(embedding[i] AS DOUBLE)),
                   CAST(i AS DOUBLE) * CAST(sign(CAST(embedding[i] AS DOUBLE)) AS DOUBLE)])) AS st
                FROM embeddings),
         e AS (SELECT vec_id, embedding,
                CASE WHEN len(embedding) >= 8 THEN
                  (CAST(st[1][2] AS INT) + 8) * 17 + (CAST(st[2][2] AS INT) + 8) END AS bucket
               FROM s),
         capped AS (SELECT vec_id, embedding, bucket FROM e WHERE bucket IS NOT NULL
                    QUALIFY count(*) OVER (PARTITION BY bucket) <= 100)
         SELECT id_a, id_b, cos FROM (
           SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                  round(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) /
                        (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) *
                         sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 6) AS cos
           FROM capped a JOIN capped b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
         WHERE cos >= 0.3
         ORDER BY ALL NULLS FIRST""",
  )

  /** The unrolled-Lloyd's CTE chain (q164/q166 oracles): re-runs
    * `Similarity.kmeans(k, iters, seedLevels = Seq(1))` in SQL. Emits a
    * WITH-body fragment (no `WITH`) ending at `a$iters` (vec_id,
    * cluster) with `cl` (vec_id, x: DOUBLE[]) as the clean corpus.
    * Every step replays the operator bit-for-bit: exact full-dedup
    * seeding (min-id winner, first k by id, reindexed after the
    * dimension filter), round-6 squared distances BEFORE the argmin
    * (ties → lower cluster id), centroid recompute as exact
    * integer-millionth sums divided in the engine's written order
    * (s / 1e6 / n), empty clusters keeping the previous centroid.
    * AS MATERIALIZED throughout (the q132 2^N-scan lesson). */
  private def kmeansCtes(k: Int, iters: Int): String = {
    val steps = (1 to iters).map { t =>
      s"""p$t AS (SELECT a.cluster AS c,
                unnest(range(1, len(cl.x) + 1)) AS pos,
                unnest(list_transform(cl.x,
                  e -> CAST(round(e * 1000000) AS BIGINT))) AS q
         FROM cl JOIN a${t - 1} a USING (vec_id)),
         g$t AS (SELECT c, pos, count(*) AS n, CAST(sum(q) AS BIGINT) AS s
                 FROM p$t GROUP BY 1, 2),
         m$t AS (SELECT c, list(CAST(s AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE)
                                ORDER BY pos) AS cx
                 FROM g$t GROUP BY 1),
         c$t AS MATERIALIZED (
           SELECT p.c, coalesce(m$t.cx, p.cx) AS cx
           FROM c${t - 1} p LEFT JOIN m$t USING (c)),
         ${assignCte(t)}"""
    }.mkString(",\n")
    s"""v AS MATERIALIZED (
           SELECT vec_id, embedding, CAST(embedding AS DOUBLE[]) AS x
           FROM embeddings
           WHERE len(list_filter(embedding, e -> e IS NULL)) = 0),
       sd AS (SELECT embedding, min(vec_id) AS sid FROM v GROUP BY embedding),
       sr AS (SELECT CAST(embedding AS DOUBLE[]) AS cx, sid
              FROM (SELECT * FROM sd ORDER BY sid ASC LIMIT $k)),
       dim0 AS (SELECT len(cx) AS dim FROM sr ORDER BY sid ASC LIMIT 1),
       c0 AS MATERIALIZED (
         SELECT CAST(row_number() OVER (ORDER BY sid ASC) AS INT) - 1 AS c, cx
         FROM sr, dim0 WHERE len(cx) = dim),
       cl AS MATERIALIZED (
         SELECT vec_id, x FROM v, dim0 WHERE len(x) = dim),
       ${assignCte(0)},
       $steps"""
  }

  /** One round-6 argmin assignment CTE: `a$t` from centroid table
    * `c$t` — ties break on the lower cluster id, matching the engine's
    * struct array_min. */
  private def assignCte(t: Int): String =
    s"""d$t AS (SELECT vec_id, c, round(list_dot_product(dv, dv), 6) AS d2
         FROM (SELECT cl.vec_id, c$t.c,
                      list_transform(range(1, len(cl.x) + 1),
                                     i -> cl.x[i] - c$t.cx[i]) AS dv
               FROM cl, c$t)),
       a$t AS MATERIALIZED (
         SELECT vec_id, c AS cluster FROM (
           SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id
                    ORDER BY d2 ASC NULLS LAST, c ASC) AS rn FROM d$t)
         WHERE rn = 1)"""

  // the full re-trained Lloyd's loop; output = final assignment
  private lazy val kmeansTrainSql: String =
    s"""WITH ${kmeansCtes(k = 4, iters = 2)}
       SELECT vec_id, CAST(cluster AS INT) AS cluster FROM a2
       ORDER BY ALL NULLS FIRST"""

  /** q166's oracle: the q164 Lloyd's chain, then the stored-index
    * build + probe replayed — final assignment re-meaned with
    * centroidMeans' division order (s / (n·1e6)) and quantized to
    * thousandths, exact-integer trained assignment (ties → lower cid)
    * and probe ranking, then q156's PQ codes / codebook / ADC tail
    * restricted to the nprobe=2 probed clusters. */
  private lazy val ivfPqTrainedStoredSql: String =
    s"""WITH ${kmeansCtes(k = 4, iters = 2)},
       p3 AS (SELECT a.cluster AS c,
                     unnest(range(1, len(cl.x) + 1)) AS pos,
                     unnest(list_transform(cl.x,
                       e -> CAST(round(e * 1000000) AS BIGINT))) AS q
              FROM cl JOIN a2 a USING (vec_id)),
       g3 AS (SELECT c, pos, count(*) AS n, CAST(sum(q) AS BIGINT) AS s
              FROM p3 GROUP BY 1, 2),
       tc AS MATERIALIZED (
         SELECT c AS cid,
                list(CAST(round(CAST(s AS DOUBLE)
                       / (CAST(n AS DOUBLE) * 1000000.0) * 1000) AS BIGINT)
                     ORDER BY pos) AS cq
         FROM g3 GROUP BY 1),
       vq AS MATERIALIZED (
         SELECT vec_id, list_transform(x,
                  e -> CAST(round(e * 1000) AS BIGINT)) AS qv
         FROM cl),
       tl AS MATERIALIZED (
         SELECT cid, unnest(cq) AS yq, generate_subscripts(cq, 1) AS i
         FROM tc),
       vl AS (SELECT vec_id, unnest(qv) AS xq,
                     generate_subscripts(qv, 1) AS i
              FROM vq),
       dist AS (SELECT vl.vec_id, tl.cid,
                       CAST(sum((vl.xq - tl.yq) * (vl.xq - tl.yq)) AS BIGINT) AS d2
                FROM vl JOIN tl ON vl.i = tl.i GROUP BY 1, 2),
       asg AS MATERIALIZED (
         SELECT vec_id, cid AS cluster FROM (
           SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
                    ORDER BY d2 ASC, cid ASC) AS rn FROM dist)
         WHERE rn = 1),
       q AS (SELECT CAST(embedding AS DOUBLE[]) AS qvec
             FROM embeddings WHERE vec_id = 1),
       ql AS (SELECT unnest(qv) AS xq, generate_subscripts(qv, 1) AS i
              FROM vq WHERE vec_id = 1),
       pd AS (SELECT tl.cid,
                     CAST(sum((ql.xq - tl.yq) * (ql.xq - tl.yq)) AS BIGINT) AS d2
              FROM ql JOIN tl ON ql.i = tl.i GROUP BY 1),
       probed AS (SELECT cid FROM (
                    SELECT cid, row_number() OVER (ORDER BY d2 ASC, cid ASC) AS r
                    FROM pd) WHERE r <= 2),
       mm AS (SELECT unnest([0, 1, 2, 3]) AS m),
       sub AS (SELECT vec_id, m,
                      list_transform(list_slice(embedding, m*16 + 1, m*16 + 16),
                                     x -> CAST(x AS DOUBLE)) AS sub
               FROM embeddings, mm),
       stc AS (SELECT vec_id, m, sub,
                      list_reverse_sort(list_transform(range(1, 5), i ->
                        [abs(sub[i]),
                         CAST(i AS DOUBLE) * CAST(sign(sub[i]) AS DOUBLE)])) AS srt
               FROM sub),
       codes AS (SELECT vec_id, m, sub,
                        CASE WHEN len(sub) >= 4 THEN
                          (CAST(srt[1][2] AS INT) + 4) * 9
                            + (CAST(srt[2][2] AS INT) + 4) END AS code
                 FROM stc),
       pc AS (SELECT m, code, unnest(range(1, len(sub) + 1)) AS pos,
                     unnest(sub) AS v
              FROM codes WHERE code IS NOT NULL),
       ac AS (SELECT m, code, pos, count(*) AS n,
                     CAST(sum(CAST(round(v * 1000000) AS BIGINT)) AS BIGINT) AS s
              FROM pc GROUP BY 1, 2, 3),
       cb AS (SELECT m, code,
                     list(CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0)
                          ORDER BY pos) AS cmean
              FROM ac GROUP BY 1, 2),
       qs AS (SELECT m, list_slice(qvec, m*16 + 1, m*16 + 16) AS qsub
              FROM q, mm),
       dt AS (SELECT cb.m, cb.code,
                     round(list_dot_product(qs.qsub, qs.qsub)
                           - CAST(2.0 AS DOUBLE)
                             * list_dot_product(qs.qsub, cb.cmean)
                           + list_dot_product(cb.cmean, cb.cmean), 8)
                       + CAST(0.0 AS DOUBLE) AS d2
              FROM cb JOIN qs ON qs.m = cb.m),
       pop AS (SELECT c.vec_id, c.m, c.code
               FROM codes c JOIN asg USING (vec_id)
               WHERE asg.cluster IN (SELECT cid FROM probed)
                 AND c.code IS NOT NULL),
       tot AS (SELECT vec_id,
                      CAST(CAST(sum(CAST(d2 AS DECIMAL(28,8)))
                           AS DECIMAL(28,8)) AS DOUBLE) AS adist
               FROM pop JOIN dt USING (m, code) GROUP BY 1)
       SELECT * FROM (
         SELECT vec_id, adist FROM tot
         ORDER BY adist ASC NULLS LAST, vec_id ASC LIMIT 20)
       ORDER BY ALL NULLS FIRST"""

  /** q174's oracle: q156's routing/codebook/ADC replay with the TRAIN
    * slice made explicit — the centroid table (seeds) and the codebook
    * training population (pc) are restricted to the vec_id%3≠2 build
    * slice exactly as ensureIvfPqIndexMerged freezes them, while
    * assignment (asg), coding (codes) and the probed population (pop)
    * run over ALL vectors — the merged layout's contract: frozen
    * artifacts, everything coded. cb2 replays the build's
    * origin-centroid fallback: code values the training slice never
    * realized carry a zero centroid, so a fresh vector bearing one
    * scores that subquantizer as round(‖q_m‖², 8) on both engines
    * (sample-trained codebooks meet unseen codes — the defined,
    * conservative contract instead of an undefined lookup). Any merge
    * defect (a re-trained codebook, a dropped or double-added fresh
    * vector, a bucket assigned against moved centroids) diverges. */
  private val ivfPqMergedSql: String =
    """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qvec,
                         list_transform(embedding,
                           x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qq
                  FROM embeddings WHERE vec_id = 1),
       vq AS (SELECT vec_id,
                     list_transform(embedding,
                       x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
              FROM embeddings),
       seeds AS (SELECT vec_id AS cid, qv AS cq FROM vq
                 WHERE vec_id < 8 AND vec_id % 3 <> 2),
       vl AS (SELECT vec_id, unnest(qv) AS x,
                     generate_subscripts(qv, 1) AS i FROM vq),
       sl AS (SELECT cid, unnest(cq) AS y,
                     generate_subscripts(cq, 1) AS i FROM seeds),
       dist AS (SELECT vl.vec_id, sl.cid,
                       CAST(sum((vl.x - sl.y) * (vl.x - sl.y)) AS BIGINT) AS d2
                FROM vl JOIN sl ON vl.i = sl.i GROUP BY 1, 2),
       asg AS (SELECT vec_id,
                      CAST(min(d2 * 8 + cid) % 8 AS BIGINT) AS cluster
               FROM dist GROUP BY 1),
       ql AS (SELECT unnest(qq) AS x, generate_subscripts(qq, 1) AS i FROM q),
       pd AS (SELECT sl.cid,
                     CAST(sum((ql.x - sl.y) * (ql.x - sl.y)) AS BIGINT) AS d2
              FROM ql JOIN sl ON ql.i = sl.i GROUP BY 1),
       probed AS (SELECT cid FROM (
                    SELECT cid, row_number() OVER (ORDER BY d2 ASC, cid ASC) AS r
                    FROM pd) WHERE r <= 3),
       mm AS (SELECT unnest([0, 1, 2, 3]) AS m),
       sub AS (SELECT vec_id, m,
                      list_transform(list_slice(embedding, m*16 + 1, m*16 + 16),
                                     x -> CAST(x AS DOUBLE)) AS sub
               FROM embeddings, mm),
       stc AS (SELECT vec_id, m, sub,
                     list_reverse_sort(list_transform(range(1, 5), i ->
                       [abs(sub[i]),
                        CAST(i AS DOUBLE) * CAST(sign(sub[i]) AS DOUBLE)])) AS srt
              FROM sub),
       codes AS (SELECT vec_id, m, sub,
                        CASE WHEN len(sub) >= 4 THEN
                          (CAST(srt[1][2] AS INT) + 4) * 9
                            + (CAST(srt[2][2] AS INT) + 4) END AS code
                 FROM stc),
       pc AS (SELECT m, code, unnest(range(1, len(sub) + 1)) AS pos,
                     unnest(sub) AS v
              FROM codes WHERE code IS NOT NULL AND vec_id % 3 <> 2),
       ac AS (SELECT m, code, pos, count(*) AS n,
                     CAST(sum(CAST(round(v * 1000000) AS BIGINT)) AS BIGINT) AS s
              FROM pc GROUP BY 1, 2, 3),
       cb AS (SELECT m, code,
                     list(CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0)
                          ORDER BY pos) AS cmean
              FROM ac GROUP BY 1, 2),
       allmc AS (SELECT m, unnest(range(0, 81)) AS code FROM mm),
       cb2 AS (SELECT m, code, cmean FROM cb
               UNION ALL
               SELECT a.m, a.code,
                      list_transform(range(1, 17),
                        x -> CAST(0.0 AS DOUBLE)) AS cmean
               FROM allmc a LEFT JOIN cb ON a.m = cb.m AND a.code = cb.code
               WHERE cb.code IS NULL),
       qs AS (SELECT m, list_slice(qvec, m*16 + 1, m*16 + 16) AS qsub
              FROM q, mm),
       dt AS (SELECT cb2.m, cb2.code,
                     round(list_dot_product(qs.qsub, qs.qsub)
                           - CAST(2.0 AS DOUBLE)
                             * list_dot_product(qs.qsub, cb2.cmean)
                           + list_dot_product(cb2.cmean, cb2.cmean), 8)
                       + CAST(0.0 AS DOUBLE) AS d2
              FROM cb2 JOIN qs ON qs.m = cb2.m),
       pop AS (SELECT c.vec_id, c.m, c.code
               FROM codes c JOIN asg USING (vec_id)
               WHERE asg.cluster IN (SELECT cid FROM probed)
                 AND c.code IS NOT NULL),
       tot AS (SELECT vec_id,
                      CAST(CAST(sum(CAST(d2 AS DECIMAL(28,8)))
                           AS DECIMAL(28,8)) AS DOUBLE) AS adist
               FROM pop JOIN dt USING (m, code) GROUP BY 1)
       SELECT * FROM (
         SELECT vec_id, adist FROM tot
         ORDER BY adist ASC NULLS LAST, vec_id ASC LIMIT 20)
       ORDER BY ALL NULLS FIRST"""

  /** q184's oracle: a from-scratch IVF×PQ encode of the UPDATED corpus
    * against artifacts FROZEN over the original one. `eff` is the
    * post-update corpus (vec_id%5=4 vectors replaced by their reversed
    * versions — an exact float re-ordering, so every downstream
    * rounding chain replays bit-for-bit on both engines). The centroid
    * seeds and the codebook training population (vqo → seeds, subT →
    * cb) read ORIGINAL embeddings — update never retrains (vec_id 4
    * keeps routing on its OLD vector); assignment (vqe → asg), coding
    * (subE → codesE) and the probed population read the EFFECTIVE
    * corpus — exactly what the layout serves after tombstone + re-merge.
    * cb2 pads the codebook with origin centroids (the q174 fallback —
    * a reversed vector can realize a code the original corpus never
    * did). A stale version surviving the gen anti-join, a lost update,
    * or a double-visible id moves the ranked set and breaks the hash. */
  private val ivfPqUpdatedSql: String =
    """WITH eff AS (SELECT vec_id,
                         CASE WHEN vec_id % 5 = 4
                              THEN list_transform(range(1, len(embedding) + 1),
                                     i -> embedding[len(embedding) + 1 - i])
                              ELSE embedding END AS embedding
                  FROM embeddings),
       q AS (SELECT CAST(embedding AS DOUBLE[]) AS qvec,
                    list_transform(embedding,
                      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qq
             FROM embeddings WHERE vec_id = 1),
       vqo AS (SELECT vec_id,
                      list_transform(embedding,
                        x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
               FROM embeddings),
       seeds AS (SELECT vec_id AS cid, qv AS cq FROM vqo WHERE vec_id < 8),
       vqe AS (SELECT vec_id,
                      list_transform(embedding,
                        x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
               FROM eff),
       vl AS (SELECT vec_id, unnest(qv) AS x,
                     generate_subscripts(qv, 1) AS i FROM vqe),
       sl AS (SELECT cid, unnest(cq) AS y,
                     generate_subscripts(cq, 1) AS i FROM seeds),
       dist AS (SELECT vl.vec_id, sl.cid,
                       CAST(sum((vl.x - sl.y) * (vl.x - sl.y)) AS BIGINT) AS d2
                FROM vl JOIN sl ON vl.i = sl.i GROUP BY 1, 2),
       asg AS (SELECT vec_id,
                      CAST(min(d2 * 8 + cid) % 8 AS BIGINT) AS cluster
               FROM dist GROUP BY 1),
       ql AS (SELECT unnest(qq) AS x, generate_subscripts(qq, 1) AS i FROM q),
       pd AS (SELECT sl.cid,
                     CAST(sum((ql.x - sl.y) * (ql.x - sl.y)) AS BIGINT) AS d2
              FROM ql JOIN sl ON ql.i = sl.i GROUP BY 1),
       probed AS (SELECT cid FROM (
                    SELECT cid, row_number() OVER (ORDER BY d2 ASC, cid ASC) AS r
                    FROM pd) WHERE r <= 3),
       mm AS (SELECT unnest([0, 1, 2, 3]) AS m),
       subT AS (SELECT vec_id, m,
                       list_transform(list_slice(embedding, m*16 + 1, m*16 + 16),
                                      x -> CAST(x AS DOUBLE)) AS sub
                FROM embeddings, mm),
       stcT AS (SELECT vec_id, m, sub,
                      list_reverse_sort(list_transform(range(1, 5), i ->
                        [abs(sub[i]),
                         CAST(i AS DOUBLE) * CAST(sign(sub[i]) AS DOUBLE)])) AS srt
               FROM subT),
       codesT AS (SELECT vec_id, m, sub,
                         CASE WHEN len(sub) >= 4 THEN
                           (CAST(srt[1][2] AS INT) + 4) * 9
                             + (CAST(srt[2][2] AS INT) + 4) END AS code
                  FROM stcT),
       pc AS (SELECT m, code, unnest(range(1, len(sub) + 1)) AS pos,
                     unnest(sub) AS v
              FROM codesT WHERE code IS NOT NULL),
       ac AS (SELECT m, code, pos, count(*) AS n,
                     CAST(sum(CAST(round(v * 1000000) AS BIGINT)) AS BIGINT) AS s
              FROM pc GROUP BY 1, 2, 3),
       cb AS (SELECT m, code,
                     list(CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0)
                          ORDER BY pos) AS cmean
              FROM ac GROUP BY 1, 2),
       allmc AS (SELECT m, unnest(range(0, 81)) AS code FROM mm),
       cb2 AS (SELECT m, code, cmean FROM cb
               UNION ALL
               SELECT a.m, a.code,
                      list_transform(range(1, 17),
                        x -> CAST(0.0 AS DOUBLE)) AS cmean
               FROM allmc a LEFT JOIN cb ON a.m = cb.m AND a.code = cb.code
               WHERE cb.code IS NULL),
       qs AS (SELECT m, list_slice(qvec, m*16 + 1, m*16 + 16) AS qsub
              FROM q, mm),
       dt AS (SELECT cb2.m, cb2.code,
                     round(list_dot_product(qs.qsub, qs.qsub)
                           - CAST(2.0 AS DOUBLE)
                             * list_dot_product(qs.qsub, cb2.cmean)
                           + list_dot_product(cb2.cmean, cb2.cmean), 8)
                       + CAST(0.0 AS DOUBLE) AS d2
              FROM cb2 JOIN qs ON qs.m = cb2.m),
       subE AS (SELECT vec_id, m,
                       list_transform(list_slice(embedding, m*16 + 1, m*16 + 16),
                                      x -> CAST(x AS DOUBLE)) AS sub
                FROM eff, mm),
       stcE AS (SELECT vec_id, m, sub,
                      list_reverse_sort(list_transform(range(1, 5), i ->
                        [abs(sub[i]),
                         CAST(i AS DOUBLE) * CAST(sign(sub[i]) AS DOUBLE)])) AS srt
               FROM subE),
       codesE AS (SELECT vec_id, m, sub,
                         CASE WHEN len(sub) >= 4 THEN
                           (CAST(srt[1][2] AS INT) + 4) * 9
                             + (CAST(srt[2][2] AS INT) + 4) END AS code
                  FROM stcE),
       pop AS (SELECT c.vec_id, c.m, c.code
               FROM codesE c JOIN asg USING (vec_id)
               WHERE asg.cluster IN (SELECT cid FROM probed)
                 AND c.code IS NOT NULL),
       tot AS (SELECT vec_id,
                      CAST(CAST(sum(CAST(d2 AS DECIMAL(28,8)))
                           AS DECIMAL(28,8)) AS DOUBLE) AS adist
               FROM pop JOIN dt USING (m, code) GROUP BY 1)
       SELECT * FROM (
         SELECT vec_id, adist FROM tot
         ORDER BY adist ASC NULLS LAST, vec_id ASC LIMIT 20)
       ORDER BY ALL NULLS FIRST"""

  // q162 probes the STORED bucket-partitioned index q156 computes live
  // — layout, not semantics (the q158/q151 framing), so the oracle IS
  // q156's: identical routing, codebook, ADC ranking over base tables.
  override val oracleSql: Map[String, String] =
    oracleBase ++ Seq(
      "q162_ivfpq_stored" -> oracleBase("q156_ivfpq_trained"),
      "q164_kmeans_train" -> kmeansTrainSql,
      "q166_ivfpq_trained_stored" -> ivfPqTrainedStoredSql,
      "q174_ivfpq_index_merge" -> ivfPqMergedSql,
      // q156's replay with deleted ids dropped from the FINAL ranking
      // only — artifacts frozen at build over the full corpus, the
      // searchable population shrunk, the head back-filled from k+1
      "q178_ivfpq_index_delete" ->
        ivfPqTrainedSql("WHERE vec_id % 5 <> 2"),
      "q184_ivfpq_index_update" -> ivfPqUpdatedSql,
      // the AS-OF probe at the pre-update generation must be the
      // pre-update world: q156's replay over the ORIGINAL corpus,
      // verbatim — the layout has since been mutated (q184), the
      // snapshot read unsees it
      "q185_ivfpq_index_asof" -> oracleBase("q156_ivfpq_trained"),
      // the reindexed layout must equal a from-scratch TRAINED build
      // over the updated corpus: the q156 chain, corpus swapped — every
      // stage (seeds, assignment, codebook, coding, probe population)
      // reads the post-drift vectors
      "q188_ivfpq_reindex" -> ivfPqTrainedSql("",
        """(SELECT vec_id,
              CASE WHEN vec_id % 5 = 4
                   THEN list_transform(range(1, len(embedding) + 1),
                          i -> embedding[len(embedding) + 1 - i])
                   ELSE embedding END AS embedding
            FROM embeddings) AS embeddings"""))
}
