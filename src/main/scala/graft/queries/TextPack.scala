package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.TextStats

/** Text-analysis queries — SURVEY §2.9 L4 extended: the per-document
  * scoring/counting/fingerprinting surface a 100 TB training-data pipeline
  * filters on. Every query is row-local expression work — filters and
  * projections push to the parquet scan; no shuffles.
  */
object TextPack extends QueryPack {

  /** Marker-token profiles for the heuristic language ID (profile order is
    * the tie-break order). */
  val profiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "fast", "slow", "small", "big"),
    "es" -> Seq("data", "query", "table", "row", "column"),
    "de" -> Seq("spark", "stream", "vector", "batch", "window"))

  private def inListSql(markers: Seq[String]): String =
    markers.map(m => s"'$m'").mkString("[", ", ", "]")

  private def hitsSql(lang: String): String = {
    val markers = profiles.find(_._1 == lang).get._2
    s"len(list_filter(str_split(text, ' '), t -> list_contains(${inListSql(markers)}, t)))"
  }

  /** q132: merge ranks learned per oracle level — small and FIXED because
    * the DuckDB oracle unrolls one pair-count + argmax + re-merge CTE
    * block per rank (the q103 unrolled-iteration pattern); the full-depth
    * run is golden-pinned in VocabSpec instead. */
  private val BpeTrainLevels = 8

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q129_compression_filter" -> compressionFilter,

    // L4: language ID — argmax of marker-profile scores, first-tie-break.
    "q54_langid" -> ((s, dir) => Q.ordered {
      val toks = split(col("text"), " ")
      Q.wide(Q.t(s, dir, "documents")).select(
        col("doc_id"), col("lang"),
        TextStats.profileHits(toks, profiles(0)._2).as("s_en"),
        TextStats.profileHits(toks, profiles(1)._2).as("s_es"),
        TextStats.profileHits(toks, profiles(2)._2).as("s_de"),
        TextStats.langId(toks, profiles).as("pred_lang"))
    }),

    // L4: quality scoring — type/token ratio, stopword ratio, length score.
    "q55_quality_score" -> ((s, dir) => Q.ordered {
      val toks = split(col("text"), " ")
      Q.wide(Q.t(s, dir, "documents")).select(
        col("doc_id"),
        TextStats.wsTokenCount(col("text")).as("n_tok"),
        size(array_distinct(toks)).cast("long").as("n_distinct"),
        TextStats.profileHits(toks, profiles(0)._2).as("stop_hits"))
        .withColumn("ttr", col("n_distinct") / col("n_tok"))
        .withColumn("quality", round(
          lit(0.3) * (col("n_distinct") / col("n_tok")) +
          lit(0.4) * (col("stop_hits") / col("n_tok")) +
          lit(0.3) * least(col("n_tok") / lit(100.0), lit(1.0)), 6))
    }),

    // L4: token counting — whitespace, BPE-ish regex, char-estimate.
    "q56_token_count" -> ((s, dir) => Q.ordered(
      Q.wide(Q.t(s, dir, "documents")).select(
        col("doc_id"),
        TextStats.wsTokenCount(col("text")).as("ws_tokens"),
        TextStats.regexTokenCount(col("text")).as("re_tokens"),
        TextStats.estTokenCount(col("n_chars")).as("est_tokens")))),

    // L4: tf-idf-lite — tf per (doc, token), df per token, idf = ln(N/df).
    // Two hash aggregations + one token equi-join + a 1-row broadcast for
    // N; no all-pairs anything.
    "q71_tfidf" -> ((s, dir) => Q.ordered {
      import org.apache.spark.sql.expressions.Window
      val tok = Q.wide(Q.t(s, dir, "documents"))
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      val tf = tok.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
      // tf rows are one-per-(doc, token), so the per-token window count
      // IS the document frequency — the df branch re-exploded the corpus
      // (second scan + distinct shuffle) and joined it back; the window
      // reuses the tf stream (the q28 BM25 lesson)
      val withDf = tf.withColumn("df",
        count(lit(1)).over(Window.partitionBy(col("token"))))
      val total = Q.t(s, dir, "documents").agg(count(lit(1)).as("n_docs"))
      withDf.crossJoin(broadcast(total))
        .select(col("doc_id"), col("token"), col("tf"), col("df"),
          round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6)
            .as("tfidf"))
    }),

    // L4: per-document tf-idf KEYWORD extraction (ADVICE r14 — the
    // operator landed unwired; this is its oracle). Top-3 terms per doc
    // by the ln-FREE idf ratio tf·N/df (monotone in the ln form, exact
    // long product + ONE correctly-rounded IEEE division — q148's
    // no-ln discipline), ties term-asc. Everything derives from the
    // one (doc, term) tf table: df is a term-keyed count window over
    // it (the q71/q28 window lesson), N a 1-row broadcast; the per-doc
    // rank cut plans WindowGroupLimit.
    "q157_tfidf_keywords" -> ((s, dir) => Q.ordered {
      TextStats.tfidfKeywords(
        Q.wide(Q.t(s, dir, "documents"))
          .select(col("doc_id"),
            filter(split(col("text"), " "), t => t =!= "").as("toks")),
        "doc_id", col("toks"), k = 3)
    }),

    // L4: Gopher-style repetition filter — a doc dominated by one token
    // or by repeated bigrams is boilerplate, not training prose. Both
    // metrics are row-local HOF expressions; thresholds picked so this
    // corpus exercises both keep branches.
    "q90_repetition_filter" -> ((s, dir) => Q.ordered {
      val toks = split(col("text"), " ")
      Q.wide(Q.t(s, dir, "documents")).select(
        col("doc_id"),
        TextStats.topTokenFrac(toks).as("top_tok_frac"),
        TextStats.dupGramFrac(TextStats.bigrams(toks)).as("dup_bigram_frac"))
        .withColumn("keep",
          col("top_tok_frac") <= 0.12 && col("dup_bigram_frac") <= 0.06)
    }),

    // L4: PII redaction — the corpus has no natural PII, so (q83 pattern)
    // a deterministic PII-bearing suffix is synthesized identically on
    // both sides, then scrubbed. Counts come from regexp_count BEFORE
    // redaction; the redacted text itself is compared byte-for-byte.
    "q91_pii_redaction" -> ((s, dir) => Q.ordered {
      import graft.operators.Cleaning
      val annotated = concat(
        col("text"), lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com or call 555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"), lit("-"),
        lpad(((col("doc_id") * 7) % 10000).cast("string"), 4, "0"),
        lit(" ref "), (col("doc_id") + 900000000L).cast("string"))
      Q.wide(Q.t(s, dir, "documents"))
        .select(col("doc_id"), annotated.as("txt"))
        .select(
          col("doc_id"),
          regexp_count(col("txt"), lit(Cleaning.EmailRe)).cast("long").as("n_email"),
          regexp_count(col("txt"), lit(Cleaning.PhoneRe)).cast("long").as("n_phone"),
          Cleaning.redactPii(col("txt")).as("redacted"))
        .withColumn("n_id",
          regexp_count(col("redacted"), lit("<ID>")).cast("long"))
    }),

    // L4: BM25 relevance of every doc against a fixed probe query —
    // quality-targeted subset selection over the corpus. Row-local
    // per-term tf (no token-wise corpus explode), df via a count window
    // over the hit stream, 1-row corpus stats broadcast.
    "q28_bm25" -> ((s, dir) => Q.ordered {
      import graft.operators.Retrieval
      Retrieval.bm25(
        Q.wide(Q.t(s, dir, "documents")).select(col("doc_id"), col("text")),
        "doc_id", split(col("text"), " "),
        Bm25Terms)
    }),

    // q28's STORED-index twin (the q158/q162 layout discipline applied
    // to the RANKED lexical tier — the Lucene deployment shape): the
    // (token, doc_id, tf, dl) table written ONCE partitioned by
    // md5-prefix token directories with the 1-row (n_docs, avgdl)
    // stats alongside (Writers.ensureBm25Index); the probe reads ONLY
    // its terms' directories (PartitionFilters from driver-computed
    // literals, residual token IN pushed into the reader — probe IO
    // tracks the terms' posting mass, never corpus text) and replays
    // bm25's exact df-window/idf/term-score/DECIMAL-sum chain over the
    // pruned hits. Same oracle as q28: layout, not semantics.
    "q169_bm25_stored" -> ((s, dir) => Q.ordered {
      import graft.operators.Retrieval
      val path = graft.sources.Writers.ensureBm25Index(s, dir, "documents")
      Retrieval.bm25Stored(
        graft.sources.Writers.prunedBm25Tf(s, path, Bm25Terms),
        s.read.parquet(s"$path/stats"),
        "doc_id", Bm25Terms)
    }),

    // The hybrid retrieval stack SERVED ENTIRELY FROM STORED LAYOUTS —
    // q136's composition (lexical arm + vector arm + RRF fuse) with
    // both arms swapped to their layout legs: BM25 probes the
    // token-partitioned tf index (q169), ANN probes the bucket-
    // partitioned IVF×PQ index (q162, ADC-ascending in place of brute
    // cosine — the compressed-serving trade), ranks fused 1/(60+r).
    // This is the deployment shape of a production retrieval stack: a
    // query touches two pruned directory sets and two bounded
    // artifacts, never corpus text or raw embeddings. The oracle
    // chains q28's BM25 replay, q156's routing/ADC replay cut at
    // top-100, and q136's fuse arithmetic.
    "q170_hybrid_stored" -> ((s, dir) => Q.ordered {
      import org.apache.spark.sql.expressions.Window
      import graft.operators.{Retrieval, Similarity}
      // INVARIANT the two un-partitioned rank windows below depend on:
      // each arm is cut to ≤ N rows FIRST (limit / TakeOrdered upstream),
      // so the single-partition global sort ranks a bounded head — the
      // MMR-head shape, safe at any corpus scale. Raising N to corpus
      // scale would silently plan a 1-partition sort (VERDICT r16 #3);
      // keep N a bounded retrieval head.
      val N = 100
      require(N <= 10000, s"q170 ranks its arms in un-partitioned " +
        s"windows over limit($N) heads — N must stay a bounded head")
      val bmPath = graft.sources.Writers.ensureBm25Index(s, dir, "documents")
      val lex = Retrieval.bm25Stored(
          graft.sources.Writers.prunedBm25Tf(s, bmPath, Bm25Terms),
          s.read.parquet(s"$bmPath/stats"), "doc_id", Bm25Terms)
        .orderBy(col("bm25").desc_nulls_last, col("doc_id").asc_nulls_first)
        .limit(N)
        .withColumn("r_lex", row_number().over(
          Window.orderBy(col("bm25").desc_nulls_last,
            col("doc_id").asc_nulls_first)).cast("long"))
        .select(col("doc_id").as("id"), col("r_lex"))
      val annPath = graft.sources.Writers.ensureIvfPqIndex(s, dir)
      val vec = Similarity.ivfPqSearchStored(
          s.read.parquet(s"$annPath/codes"),
          s.read.parquet(s"$annPath/codebook"),
          s.read.parquet(s"$annPath/centroids"),
          "vec_id",
          Q.t(s, dir, "embeddings").filter(col("vec_id") === 1)
            .select(col("embedding").as("qvec")),
          "qvec", nprobe = 3, k = N)
        .withColumn("r_vec", row_number().over(
          Window.orderBy(col("adist").asc_nulls_last,
            col("vec_id").asc_nulls_first)).cast("long"))
        .select(col("vec_id").as("id"), col("r_vec"))
      Retrieval.rrfFuse(lex, vec, "id", "r_lex", "r_vec")
    }),

    // The stored BM25 index built INCREMENTALLY (VERDICT r16 #1 — the
    // one architectural gap left: every ensure* serving layout was
    // rebuild-only, while the reference's whole raison d'être is the
    // delta split, dags/scraping_etl.py:51-74): build the layout from
    // the doc_id%3=0 slice, then fold the %3=1 and %3=2 slices in as
    // two fresh-batch merges (Writers.mergeBm25Index — fresh tf rows ∝
    // |fresh|, rewrite of ONLY the touched md5-prefix directories via
    // dynamic partition overwrite, stats updated ADDITIVELY through
    // the stored exact-DECIMAL sum_dl), then probe with q169's
    // identical pruned read. Same oracle as q28/q169: the LIFECYCLE
    // changes (build → merge → merge → probe), the scores must not —
    // a dropped row, double-counted doc, or drifted avgdl breaks the
    // hash. Merged ≡ rebuilt is additionally equality-pinned layout-
    // wide in SourcesSpec; merge-vs-rebuild cost is in SCALE.md round 17.
    "q171_bm25_index_merge" -> ((s, dir) => Q.ordered {
      import graft.operators.Retrieval
      val path = graft.sources.Writers.ensureBm25IndexMerged(s, dir, "documents")
      Retrieval.bm25Stored(
        graft.sources.Writers.prunedBm25Tf(s, path, Bm25Terms),
        s.read.parquet(s"$path/stats"),
        "doc_id", Bm25Terms)
    }),

    // The FULL layout lifecycle as one declared query: build(⅓) →
    // merge(⅓) → merge(⅓) → COMPACT → probe. Compaction is the
    // segment-maintenance op the append discipline implies (every
    // merge adds files; Writers.compactPartitioned rewrites each
    // md5-prefix directory's accumulated segments into ONE file,
    // row-identical — the Lucene segment-merge analog). Same oracle
    // as q28/q169/q171: maintenance must never move a score — a row
    // dropped or duplicated during the rewrite breaks the hash.
    // SourcesSpec pins the one-file-per-directory invariant.
    "q175_bm25_index_compact" -> ((s, dir) => Q.ordered {
      import graft.operators.Retrieval
      val path = graft.sources.Writers.ensureBm25IndexCompacted(s, dir, "documents")
      Retrieval.bm25Stored(
        graft.sources.Writers.prunedBm25Tf(s, path, Bm25Terms),
        s.read.parquet(s"$path/stats"),
        "doc_id", Bm25Terms)
    }),

    // The q171 lifecycle applied to the POSITIONAL postings leg (the
    // last rebuild-only serving layout): build the q158 postings
    // layout from the doc_id%3≠2 slice, fold the %3=2 slice in as a
    // fresh-batch segment append (Writers.mergePostings — one map-only
    // posexplode ∝ |fresh|, new files inside the touched md5-prefix
    // directories, nothing existing read or rewritten, no stats to
    // update), then run q158's exact pruned phrase probe. Same oracle
    // as q151/q158: a posting lost or doubled by the merge changes a
    // match count and breaks the hash.
    "q176_postings_merge" -> ((s, dir) => Q.ordered {
      import graft.operators.Retrieval
      val path = graft.sources.Writers.ensurePostingsMerged(s, dir, "documents")
      Retrieval.phraseSearch(
        graft.sources.Writers.prunedPostings(s, path, PhraseFixture),
        "doc_id", PhraseFixture)
    }),

    // The delete leg applied to the POSITIONAL postings layout (q177's
    // discipline for the q158/q176 leg): build incrementally (q176's
    // slices), tombstone the doc_id%7=3 docs
    // (Writers.deleteFromPostings — one appended id segment, no stats
    // to touch), probe with q158's exact pruned plan plus the
    // broadcast tombstone anti-join. The oracle is q151's phrase
    // replay over the COMPLEMENT corpus: a deleted doc surviving in
    // any posting directory, or a survivor losing a start position,
    // breaks the hash.
    "q181_postings_delete" -> ((s, dir) => Q.ordered {
      import graft.operators.Retrieval
      val path = graft.sources.Writers.ensurePostingsDeleted(s, dir, "documents")
      Retrieval.phraseSearch(
        graft.sources.Writers.prunedPostings(s, path, PhraseFixture),
        "doc_id", PhraseFixture)
    }),

    // SNAPSHOT (AS-OF) read of the MERGED postings layout — the third
    // leg of the q185/q186 reproducible-snapshot verb (VERDICT r18
    // #1): q176's layout was built from the doc_id%3≠2 slice (gen 0)
    // and merged the %3=2 slice in (gen 1); this phrase probe reads it
    // AS OF generation 1 — `gen < 1` — which must be the PRE-MERGE
    // build exactly. The oracle is q151's phrase replay restricted to
    // the %3≠2 slice: a merged posting leaking through the horizon
    // adds a doc or a start position and breaks the hash. This leg's
    // tombstones are id-only by design (positions immutable, changed
    // docs route delete→compact→re-merge), so deletes apply at every
    // horizon — documented in Writers.prunedPostings.
    "q187_postings_index_asof" -> ((s, dir) => Q.ordered {
      import graft.operators.Retrieval
      val path = graft.sources.Writers.ensurePostingsMerged(s, dir, "documents")
      Retrieval.phraseSearch(
        graft.sources.Writers.prunedPostings(s, path, PhraseFixture,
          asOfGen = Some(1L)),
        "doc_id", PhraseFixture)
    }),

    // The stored hybrid stack for a QUERY BATCH — the training-batch
    // retrieval deployment shape, composing the round's batch legs:
    // q173's stored lexical batch (ONE pruned scan of the union term
    // set's directories serves every query) ⊕ the new
    // ivfPqSearchStoredBatch (ONE pruned scan of the union
    // probed-bucket directories — q168's routing shape minus mining's
    // label logic), each cut to a per-qid top-50 head, fused per
    // (qid, id) with q136's RRF arithmetic. q170 answers ONE query
    // from the stored layouts; this answers a BATCH with the same two
    // scans — per-query cost is marginal, which is the whole point of
    // the layout investment. Every rank window is PARTITIONED by qid
    // (bounded per-group heads, never a global sort). The oracle
    // replays both arms per qid and the fuse.
    "q182_hybrid_stored_batch" -> ((s, dir) => Q.ordered {
      import org.apache.spark.sql.expressions.Window
      import graft.operators.{Retrieval, Similarity}
      val N = 50
      val bmPath = graft.sources.Writers.ensureBm25Index(s, dir, "documents")
      val lex = Retrieval.bm25StoredBatch(
          graft.sources.Writers.prunedBm25Tf(
            s, bmPath, BatchQueryTerms.flatMap(_._2).distinct),
          s.read.parquet(s"$bmPath/stats"), "doc_id", BatchQueryTerms)
        .withColumn("__rr", row_number().over(
          Window.partitionBy(col("qid"))
            .orderBy(col("bm25").desc_nulls_last,
              col("doc_id").asc_nulls_first)))
        .filter(col("__rr") <= N)
        .select(col("qid"), col("doc_id").as("id"),
          col("__rr").cast("long").as("r_lex"))
      val annPath = graft.sources.Writers.ensureIvfPqIndex(s, dir)
      val vec = Similarity.ivfPqSearchStoredBatch(
          s.read.parquet(s"$annPath/codes"),
          s.read.parquet(s"$annPath/codebook"),
          s.read.parquet(s"$annPath/centroids"),
          "vec_id",
          Q.t(s, dir, "embeddings")
            .filter(col("vec_id").isin(1L, 2L, 3L))
            .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
          "qid", "qvec", nprobe = 3, k = N)
        .withColumn("__rr", row_number().over(
          Window.partitionBy(col("qid"))
            .orderBy(col("adist").asc_nulls_last,
              col("vec_id").asc_nulls_first)))
        .select(col("qid"), col("vec_id").as("id"),
          col("__rr").cast("long").as("r_vec"))
      Retrieval.rrfFuseKeyed(lex, vec, "qid", "id", "r_lex", "r_vec")
    }),

    // The batch stack's QUALITY, oracle-checked — q172's grading
    // applied to q182 (the deployment's actual batch shape): the three
    // stored systems (per-qid fused / lex / ADC-vec) graded against
    // per-qid EXACT ground truth computed in the same query — live-BM25
    // ranks (the stored lex IS exact, q169's pin) fused with per-qid
    // brute-cosine ranks (one corpus scan crossed with the 3-query
    // broadcast — Similarity.cosineTopKBatch), cut at top-10 per qid.
    // rankEval at k=20 per (qid, system) — exact BIGINTs, 9 rows. Every
    // bounded head is localCheckpoint'd at construction (the q172
    // stance: each arm's layout/corpus scan executes exactly once);
    // every rank window is qid-partitioned.
    "q183_batch_stack_eval" -> ((s, dir) => Q.ordered {
      import org.apache.spark.sql.expressions.Window
      import graft.operators.{Retrieval, Similarity}
      val N = 50
      val bmPath = graft.sources.Writers.ensureBm25Index(s, dir, "documents")
      val lex = Retrieval.bm25StoredBatch(
          graft.sources.Writers.prunedBm25Tf(
            s, bmPath, BatchQueryTerms.flatMap(_._2).distinct),
          s.read.parquet(s"$bmPath/stats"), "doc_id", BatchQueryTerms)
        .withColumn("__rr", row_number().over(
          Window.partitionBy(col("qid"))
            .orderBy(col("bm25").desc_nulls_last,
              col("doc_id").asc_nulls_first)))
        .filter(col("__rr") <= N)
        .select(col("qid"), col("doc_id").as("id"),
          col("__rr").cast("long").as("r_lex"))
        .localCheckpoint()
      val annPath = graft.sources.Writers.ensureIvfPqIndex(s, dir)
      val vec = Similarity.ivfPqSearchStoredBatch(
          s.read.parquet(s"$annPath/codes"),
          s.read.parquet(s"$annPath/codebook"),
          s.read.parquet(s"$annPath/centroids"),
          "vec_id",
          Q.t(s, dir, "embeddings")
            .filter(col("vec_id").isin(1L, 2L, 3L))
            .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
          "qid", "qvec", nprobe = 3, k = N)
        .withColumn("__rr", row_number().over(
          Window.partitionBy(col("qid"))
            .orderBy(col("adist").asc_nulls_last,
              col("vec_id").asc_nulls_first)))
        .select(col("qid"), col("vec_id").as("id"),
          col("__rr").cast("long").as("r_vec"))
        .localCheckpoint()
      val sfus = Retrieval.rrfFuseKeyed(lex, vec, "qid", "id",
          "r_lex", "r_vec")
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("qid"))
            .orderBy(col("rrf").desc_nulls_last,
              col("id").asc_nulls_first)).cast("long"))
        .select(col("qid"), col("id"), col("rank"))
      val ranked = sfus.withColumn("system", lit("fused"))
        .unionByName(lex.select(col("qid"), col("id"),
          col("r_lex").as("rank")).withColumn("system", lit("lex")))
        .unionByName(vec.select(col("qid"), col("id"),
          col("r_vec").as("rank")).withColumn("system", lit("vec")))
      // per-qid exact ground truth: live-BM25 ranks (≡ lex) ⊕ per-qid
      // brute cosine, fused, top-10 per qid
      val bvec = Similarity.cosineTopKBatch(
          Q.t(s, dir, "embeddings"), "vec_id", "embedding",
          Q.t(s, dir, "embeddings").filter(col("vec_id").isin(1L, 2L, 3L))
            .select(col("vec_id").cast("long").as("qid"),
              col("embedding").as("bqvec")),
          "qid", "bqvec", k = N)
        .select(col("qid"), col("vec_id").as("id"),
          col("rank").as("r_bvec"))
        .localCheckpoint()
      val xtop = Retrieval.rrfFuseKeyed(lex, bvec, "qid", "id",
          "r_lex", "r_bvec")
        .withColumn("__xr", row_number().over(
          Window.partitionBy(col("qid"))
            .orderBy(col("rrf").desc_nulls_last,
              col("id").asc_nulls_first)))
        .filter(col("__xr") <= 10)
        .select(col("qid"), col("id"))
        .localCheckpoint()
      val xcnt = xtop.groupBy(col("qid"))
        .agg(count(lit(1)).as("n_rel_total"))
      val ev = Retrieval.rankEval(
        ranked.join(broadcast(xtop.withColumn("__rel", lit(1))),
          Seq("qid", "id"), "left"),
        "qid", col("__rel").isNotNull, col("rank"), k = 20,
        carry = Seq("system"))
      ev.join(broadcast(xcnt), Seq("qid"))
        .select(col("qid"), col("system"), col("first_rel_rank"),
          col("n_rel_at_k"), col("n_rel_total").cast("long"))
    }),

    // The DELETE leg of the layout lifecycle (the verb q171/q175 leave
    // open — opt-outs, contamination takedowns, dedup evictions; at
    // 100 TB a rebuild per delete batch is as unaffordable as one per
    // ingest batch): build incrementally (q171's slices), then
    // tombstone the doc_id%7=3 docs in ONE batch-proportional
    // deleteFromBm25Index call — (doc_id, del_gen) rows appended, dl
    // looked up from the id-pruned doclen leg, stats subtracted
    // through the exact DECIMAL sum_dl. The probe is q169's plan plus
    // the gen-aware tombstone anti-join BEFORE the df windows. The
    // oracle is a FROM-SCRATCH BM25 replay over the complement corpus
    // (doc_id % 7 <> 3): a surviving deleted row, an unsubtracted
    // avgdl, or a df window that still counts a deleted doc breaks the
    // hash.
    "q177_bm25_index_delete" -> ((s, dir) => Q.ordered {
      import graft.operators.Retrieval
      val path = graft.sources.Writers.ensureBm25IndexDeleted(s, dir, "documents")
      Retrieval.bm25Stored(
        graft.sources.Writers.prunedBm25Tf(s, path, Bm25Terms),
        s.read.parquet(s"$path/stats"),
        "doc_id", Bm25Terms)
    }),

    // q177's layout after compactBm25Index folds the tombstones into
    // the physical layout (live rows rewritten one-file-per-directory,
    // deletes/ dropped): the probe must STILL equal the complement
    // rebuild (same oracle as q177) while planning q169's exact
    // tombstone-free shape — PlanLint pins the scan count back at 2,
    // so "compaction removes the per-probe tombstone join" is a
    // checked claim, not a comment.
    "q179_bm25_delete_compact" -> ((s, dir) => Q.ordered {
      import graft.operators.Retrieval
      val path = graft.sources.Writers.ensureBm25IndexDeleteCompacted(
        s, dir, "documents")
      Retrieval.bm25Stored(
        graft.sources.Writers.prunedBm25Tf(s, path, Bm25Terms),
        s.read.parquet(s"$path/stats"),
        "doc_id", Bm25Terms)
    }),

    // UPDATE = delete + re-merge on the serving layout — the
    // reference's `ON CONFLICT (pk) DO UPDATE` (src/storage.py:41-53)
    // realized on the index itself, which is what the generation
    // stamps exist for: build over the full corpus, tombstone the
    // doc_id%5=4 docs, merge their CHANGED versions (text + " fresh
    // join") back in as a fresh batch stamped PAST the tombstone
    // (gen > del_gen — the anti-join keeps the new rows, kills the
    // old). Both steps ∝ the changed batch. The oracle is a
    // from-scratch BM25 replay over the UPDATED corpus: seeing both
    // versions, neither version, or stale stats breaks the hash.
    "q180_bm25_index_update" -> ((s, dir) => Q.ordered {
      import graft.operators.Retrieval
      val path = graft.sources.Writers.ensureBm25IndexUpdated(s, dir, "documents")
      Retrieval.bm25Stored(
        graft.sources.Writers.prunedBm25Tf(s, path, Bm25Terms),
        s.read.parquet(s"$path/stats"),
        "doc_id", Bm25Terms)
    }),

    // SNAPSHOT (AS-OF) read of the UPDATED lexical layout — q185's
    // reproducible-training-data verb on the BM25 leg (VERDICT r18
    // #1): q180's layout lived build(gen 0) → tombstone(del_gen 1) →
    // re-merge(gen 2); this probe reads it AS OF generation 1 — tf
    // visibility `gen < 1`, tombstone activity `del_gen < 1` — AND
    // replays the G-horizon stats: the layout stores only the CURRENT
    // 1-row stats, so Writers.bm25StatsAsOf recomputes (n_docs, avgdl,
    // sum_dl) from the doclen leg's visible rows at G — exact, because
    // decimal sums are association-free (the additive-chain invariant
    // the merge/delete verbs already rest on). The oracle is q28's
    // replay over the ORIGINAL corpus: the updated text leaking
    // through the horizon, a too-early tombstone, or stats drifting
    // from the G-horizon values all break the hash.
    "q186_bm25_index_asof" -> ((s, dir) => Q.ordered {
      import graft.operators.Retrieval
      val path = graft.sources.Writers.ensureBm25IndexUpdated(s, dir, "documents")
      Retrieval.bm25Stored(
        graft.sources.Writers.prunedBm25Tf(s, path, Bm25Terms,
          asOfGen = Some(1L)),
        graft.sources.Writers.bm25StatsAsOf(s, path, asOfGen = 1L),
        "doc_id", Bm25Terms)
    }),

    // The stored stack's QUALITY, oracle-checked (VERDICT r16 #2 —
    // q170's ADC/compression recall trade was spec-pinned only at
    // fixture scale; q163's rankEval graded only the live brute arms):
    // grade the three stored systems (fused stack, lexical arm, ADC
    // vector arm) against EXACT ground truth computed in the same
    // query — the exact fused head = live-BM25 ranks (the stored lex
    // ranks ARE exact, q169's bit-for-bit pin) ⊕ brute-cosine ranks,
    // RRF-fused, cut at top-10. Per system at k=20: first relevant
    // rank, relevant count, ground-truth size — exact BIGINTs (the
    // q163 discipline). This is the eval a deployment runs to price
    // its compression: the vec row isolates ADC recall, the fused row
    // shows what fusion recovers. All rank windows run over bounded
    // retrieval heads (the q170 invariant), and each bounded head is
    // localCheckpoint'd at construction (the q92/q164 stance): every
    // arm's layout/corpus scan executes exactly ONCE — the lazy form
    // re-planned the lex probe four times and the brute corpus scan
    // twice (Spark reuses no un-materialized subtree across branches).
    "q172_stored_stack_eval" -> ((s, dir) => Q.ordered {
      import org.apache.spark.sql.expressions.Window
      import graft.operators.{Retrieval, Similarity}
      val N = 100
      val bmPath = graft.sources.Writers.ensureBm25Index(s, dir, "documents")
      val lex = Retrieval.bm25Stored(
          graft.sources.Writers.prunedBm25Tf(s, bmPath, Bm25Terms),
          s.read.parquet(s"$bmPath/stats"), "doc_id", Bm25Terms)
        .orderBy(col("bm25").desc_nulls_last, col("doc_id").asc_nulls_first)
        .limit(N)
        .withColumn("r_lex", row_number().over(
          Window.orderBy(col("bm25").desc_nulls_last,
            col("doc_id").asc_nulls_first)).cast("long"))
        .select(col("doc_id").as("id"), col("r_lex"))
        .localCheckpoint()
      val annPath = graft.sources.Writers.ensureIvfPqIndex(s, dir)
      val vec = Similarity.ivfPqSearchStored(
          s.read.parquet(s"$annPath/codes"),
          s.read.parquet(s"$annPath/codebook"),
          s.read.parquet(s"$annPath/centroids"),
          "vec_id",
          Q.t(s, dir, "embeddings").filter(col("vec_id") === 1)
            .select(col("embedding").as("qvec")),
          "qvec", nprobe = 3, k = N)
        .withColumn("r_vec", row_number().over(
          Window.orderBy(col("adist").asc_nulls_last,
            col("vec_id").asc_nulls_first)).cast("long"))
        .select(col("vec_id").as("id"), col("r_vec"))
        .localCheckpoint()
      val sfus = Retrieval.rrfFuse(lex, vec, "id", "r_lex", "r_vec")
        .withColumn("rank", row_number().over(
          Window.orderBy(col("rrf").desc_nulls_last,
            col("id").asc_nulls_first)).cast("long"))
        .select(col("id"), col("rank"))
      val ranked = sfus.withColumn("system", lit("fused"))
        .unionByName(lex.select(col("id"), col("r_lex").as("rank"))
          .withColumn("system", lit("lex")))
        .unionByName(vec.select(col("id"), col("r_vec").as("rank"))
          .withColumn("system", lit("vec")))
      // exact ground truth: live-BM25 ranks (≡ lex) ⊕ brute cosine
      val bvec = Similarity.cosineTopK(
          Q.t(s, dir, "embeddings"), "vec_id", "embedding",
          Q.t(s, dir, "embeddings").filter(col("vec_id") === 1)
            .select(col("embedding").as("bqvec")),
          "bqvec", k = N)
        .withColumn("r_bvec", row_number().over(
          Window.orderBy(col("score").desc_nulls_last,
            col("vec_id").asc_nulls_first)).cast("long"))
        .select(col("vec_id").as("id"), col("r_bvec"))
      val xtop = Retrieval.rrfFuse(lex, bvec, "id", "r_lex", "r_bvec")
        .orderBy(col("rrf").desc_nulls_last, col("id").asc_nulls_first)
        .limit(10).select(col("id"))
        .localCheckpoint()
      // ground-truth size: a driver count of the 10-row checkpointed
      // head (the q140 trained-artifact stance — not a 1-row cross join)
      val nRel = xtop.count()
      val ev = Retrieval.rankEval(
        ranked.join(broadcast(xtop.withColumn("__rel", lit(1))),
          Seq("id"), "left"),
        "system", col("__rel").isNotNull, col("rank"), k = 20)
      ev.select(col("system"), col("first_rel_rank"), col("n_rel_at_k"),
        lit(nRel).as("n_rel_total"))
    }),

    // q142's STORED twin (VERDICT r16 #4 — the q168 move applied to the
    // lexical tier): a whole TRAINING BATCH of queries answered from
    // the stored BM25 layout in ONE pruned scan — the union of the
    // batch's term directories lands as plan-time PartitionFilters
    // literals (+ residual token-IN pushdown), per-(doc, term) scores
    // are computed once over the shared hit stream (df/idf are corpus
    // properties of the term, not of the asking query) and fan out to
    // queries through the broadcast (qid, token) table. Probe IO
    // tracks the UNION term set's posting mass — |Q| queries cost one
    // scan, never |Q| scans and never corpus text. Same oracle as
    // q142: layout, not semantics.
    "q173_bm25_stored_batch" -> ((s, dir) => Q.ordered {
      import graft.operators.Retrieval
      val path = graft.sources.Writers.ensureBm25Index(s, dir, "documents")
      Retrieval.bm25StoredBatch(
        graft.sources.Writers.prunedBm25Tf(
          s, path, BatchQueryTerms.flatMap(_._2).distinct),
        s.read.parquet(s"$path/stats"),
        "doc_id", BatchQueryTerms)
    }),

    // L4: per-language length-band filter — drop the outlier tails,
    // keeping docs inside the [p10, p90] percent_rank band of their
    // language's length distribution. One window shuffle on lang; the
    // rank ratio (rank-1)/(n-1) is exact integer arithmetic in double,
    // so the band edges are engine-portable.
    "q47_length_band" -> ((s, dir) => Q.ordered {
      import org.apache.spark.sql.expressions.Window
      Q.t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .withColumn("pr", percent_rank().over(
          Window.partitionBy(col("lang")).orderBy(col("n_chars").asc)))
        .filter(col("pr") >= 0.1 && col("pr") <= 0.9)
        .withColumn("pr", round(col("pr"), 6))
    }),

    // L4: training-sequence packing — per-lang shards, whitespace token
    // counts, 512-token budget. Window is partitioned by lang: no global
    // ordering, each shard packs independently (the scale-sane form).
    "q94_sequence_packing" -> ((s, dir) => Q.ordered {
      import graft.operators.Packing
      Packing.chunkedPack(
        Q.t(s, dir, "documents").select(col("doc_id"), col("lang"),
          TextStats.wsTokenCount(col("text")).as("n_tok")),
        shardCol = col("lang"), orderCol = col("doc_id"),
        nTokCol = col("n_tok"), budget = 512)
    }),

    // L4 flagship: the full curation DAG a training-data pipeline runs —
    // cross-document paragraph dedup (boilerplate strip, VERDICT r10 #2)
    // → langid + heuristic quality/repetition filters → model-based
    // quality gate (VERDICT r10 #5) → exact-dedup keep-first on the
    // content fingerprint → PII scrub → per-lang sequence packing. Pure
    // operator composition; every stage filters on this corpus:
    // 500 → 496 (paragraph dedup empties pure-duplicate pages) → 306
    // (heuristics) → 147 (model gate, logit > 0) → 134 (token-set
    // fingerprint dedup — catches reordered near-copies the 7-token
    // chunk grain can't).
    "q95_curation_e2e" -> ((s, dir) => Q.ordered {
      import graft.operators.{Cleaning, Dedup, Packing, QualityModel, Upsert}
      // Stage 1 — sub-document exact dedup: page-structure the text
      // (the q106 banner/chunk/footer synthesis), keep each paragraph's
      // globally-first (doc_id, pos) occurrence, flatten survivors back
      // to a clean token stream, drop docs that lose every paragraph.
      val bp1 = "subscribe to our newsletter for updates and offers"
      val bp2 = "all rights reserved contact our support team today"
      val paged = Q.wide(Q.t(s, dir, "documents"))
        .select(col("doc_id"),
          filter(split(col("text"), " "), t => t =!= "").as("toks0"))
        .withColumn("n", size(col("toks0")))
        .withColumn("nc", ((col("n") + 6) / 7).cast("int"))
        .select(col("doc_id"), array_join(concat(
          array(lit(bp1)),
          transform(sequence(lit(0), col("nc") - 1),
            i => array_join(slice(col("toks0"), i * 7 + 1, lit(7)), " ")),
          array(lit(bp2))), "\n").as("ptext"))
      val cleaned = Dedup.dedupParagraphs(paged, "doc_id", "ptext", "\n",
          withSpine = false) // fully-emptied docs drop here by absence
        .select(col("doc_id"),
          translate(col("clean_text"), "\n", " ").as("text"))
      // Stage 2 — heuristic scoring on the CLEANED text.
      val toks = split(col("text"), " ")
      val scored = cleaned.select(
        col("doc_id"), col("text"),
        TextStats.langId(toks, profiles).as("pred_lang"),
        TextStats.wsTokenCount(col("text")).as("n_tok"),
        size(array_distinct(toks)).cast("long").as("n_distinct"),
        TextStats.profileHits(toks, profiles(0)._2).as("stop_hits"),
        TextStats.topTokenFrac(toks).as("ttf"),
        TextStats.dupGramFrac(TextStats.bigrams(toks)).as("dbf"),
        TextStats.contentFingerprint(toks).as("content_fp"))
        .withColumn("quality", round(
          lit(0.3) * (col("n_distinct") / col("n_tok")) +
          lit(0.4) * (col("stop_hits") / col("n_tok")) +
          lit(0.3) * least(col("n_tok") / lit(100.0), lit(1.0)), 6))
        .filter(col("quality") >= 0.35 &&
          col("ttf") <= 0.12 && col("dbf") <= 0.06)
      // Stage 3 — model gate: the fastText-shaped hashed-n-gram linear
      // scorer (q109's model, same fixture artifact), keep logit > 0.
      // Inline form: the 4096-bucket table ships as an array literal so
      // the gate is map-side (the semi-join form would re-execute the
      // whole paragraph-dedup subtree on its second `docs` reference).
      val gated = QualityModel.gateInline(scored, split(col("text"), " "),
        QualityModel.fixtureWeights(s, 4096), 4096, minLogit = 0.0)
      val deduped = Upsert.keepFirst(gated, Seq("content_fp"),
        Seq(col("doc_id").asc_nulls_first))
      // redaction is a passthrough on this corpus (no natural PII) —
      // text_fp proves it ran without carrying full text in the output
      Packing.chunkedPack(
        deduped.select(col("doc_id"), col("pred_lang"), col("n_tok"),
          col("quality"), md5(Cleaning.redactPii(col("text"))).as("text_fp")),
        shardCol = col("pred_lang"), orderCol = col("doc_id"),
        nTokCol = col("n_tok"), budget = 512)
    }),

    // C7/L4: domain-blocklist filter — URL synthesized deterministically
    // from `source` (q83 pattern), host extracted row-locally, blocklist
    // applied as a broadcast LEFT ANTI join (3 of 20 sources blocked).
    // C7/L1: URL canonicalization + crawl-frontier dedup — the same
    // resource synthesized as case/port/tracking/slash/fragment variants
    // (doc_id % 100 keys ~5 docs to one resource; the mess mix cycles by
    // doc_id residues), Cleaning.canonicalUrl collapses them and
    // keep-first marks the gate decision a frontier makes per URL. The
    // window keys on the canonical string (hash-partitioned, no skew
    // pivot); kept = first (doc_id) occurrence.
    // Deliberately NOT Q.wide-wrapped (reversing ADVICE r11's
    // consistency wrap on measurement — VERDICT r12 #4): the map work is
    // doc_id-derived string synthesis, the cheapest thing the fan-out
    // guards, and the paired A/B lost BOTH at sf0.1 (0.27 s → 0.38 s)
    // and at ×10 (0.41 s → 0.64 s, SCALE.md round 13). The rule
    // recorded in SCALE.md r13: wrap stages whose per-row CPU dominates
    // an exchange of their input (hashing, tokenization, markup parse) —
    // never key-synthesis projections feeding a window that already
    // redistributes.
    "q113_url_canonical" -> ((s, dir) => Q.ordered {
      import graft.operators.Cleaning
      import org.apache.spark.sql.expressions.Window
      val k = col("doc_id") % 100
      val messy = Q.t(s, dir, "documents").select(col("doc_id"),
        concat(
          when(col("doc_id") % 2 === 0, lit("HTTP")).otherwise(lit("http")),
          lit("://"),
          when(col("doc_id") % 3 === 0,
              concat(lit("WWW.Site"), k, lit(".Example.COM")))
            .otherwise(concat(lit("www.site"), k, lit(".example.com"))),
          when(col("doc_id") % 5 === 0, lit(":80")).otherwise(lit("")),
          lit("/a/b"), k,
          when(col("doc_id") % 7 === 0, lit("/")).otherwise(lit("")),
          when(col("doc_id") % 4 === 0, lit("?utm_source=feed&b=2&a=1"))
            .otherwise(lit("?b=2&a=1")),
          when(col("doc_id") % 6 === 0, lit("#sec")).otherwise(lit(""))
        ).as("url"))
      messy
        .withColumn("canonical_url", Cleaning.canonicalUrl(col("url")))
        .withColumn("kept",
          row_number().over(Window.partitionBy(col("canonical_url"))
            .orderBy(col("doc_id").asc_nulls_first)) === 1)
    }),

    "q96_domain_filter" -> ((s, dir) => Q.ordered {
      import s.implicits._
      import graft.operators.Cleaning
      val docs = Q.t(s, dir, "documents").select(
        col("doc_id"), col("source"),
        concat(lit("https://"), col("source"), lit(".example.org/docs/"),
          col("doc_id").cast("string")).as("url"))
        .withColumn("host", Cleaning.urlHost(col("url")))
      val blocked = Seq("src3.example.org", "src7.example.org",
        "src15.example.org").toDF("domain")
      Cleaning.blockDomains(docs, col("host"), blocked, "domain")
    }),

    // L4: unigram-LM quality score — the perplexity-filter skeleton; the
    // corpus's own unigram distribution scores each doc's mean token
    // log-probability. Keep threshold -3.45 splits this corpus around
    // its median (-3.40).
    "q97_unigram_logprob" -> ((s, dir) => Q.ordered {
      TextStats.unigramLogprob(
        Q.t(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", split(col("text"), " "))
        .withColumn("keep", col("mean_logprob") >= -3.45)
    }),

    // C/L4: Unicode text normalization (the ftfy-lite pre-tokenization
    // pass) — typography mess synthesized deterministically per doc_id
    // residue (the q83/q91 pattern: curly quotes, en/em dashes, NBSP,
    // zero-width space, tab/VT controls, ragged spaces), then folded by
    // Cleaning.normalizeText. Map-only; the oracle rebuilds the mess
    // from chr() codes and replays the same translate/regexp chain.
    "q116_normalize_text" -> ((s, dir) => Q.ordered {
      import graft.operators.Cleaning
      val messy = concat(
        when(col("doc_id") % 2 === 0, lit("\u201Cq\u201D  ")).otherwise(lit("")),
        array_join(slice(split(col("text"), " "), 1, 5), " "),
        when(col("doc_id") % 3 === 0, lit(" x\u2013y\u2014z")).otherwise(lit("")),
        when(col("doc_id") % 5 === 0, lit("\u00A0nb\u00A0")).otherwise(lit("")),
        when(col("doc_id") % 7 === 0, lit("\tctl\u000B")).otherwise(lit("")),
        when(col("doc_id") % 4 === 0, lit("  sp\u2018s\u2019  ")).otherwise(lit("")),
        when(col("doc_id") % 11 === 0, lit("\u200Bzw")).otherwise(lit("")))
      Q.wide(Q.t(s, dir, "documents")).select(
        col("doc_id"),
        length(messy).cast("long").as("n_raw"),
        Cleaning.normalizeText(messy).as("clean_text"))
        .withColumn("n_clean", length(col("clean_text")).cast("long"))
    }),

    // L4: interpolated bigram-LM scoring (Jelinek–Mercer, λ=0.75) — the
    // perplexity-filter upgrade of q97: all statistics off the ONE
    // (doc, bigram) tf table via window sums, 1-row N broadcast. Keep
    // threshold -3.4 splits this corpus near its median (-3.387).
    "q115_bigram_logprob" -> ((s, dir) => Q.ordered {
      TextStats.bigramLogprob(
        Q.t(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", split(col("text"), " "))
        .withColumn("keep", col("mean_logprob") >= -3.4)
    }),

    // L4: per-source distribution-drift monitor — KL(source ‖ corpus)
    // over add-1-smoothed unigram distributions, the q98 rollup's
    // statistical upgrade (catches a source flooding off-distribution
    // before any per-doc filter fires). All statistics off the ONE
    // (source, token) tf table (two window sums + 1-row N broadcast);
    // per-term products DECIMAL-summed (q97 mechanism).
    "q118_source_drift" -> ((s, dir) => Q.ordered {
      TextStats.sourceDrift(Q.t(s, dir, "documents"), col("source"),
        split(col("text"), " "), 4096)
        .select(col("group").as("source"), col("n_tok"),
          col("n_distinct"), col("kl"))
    }),

    // L4: per-source corpus report — the monitoring rollup a pipeline
    // operator watches: doc/token volumes, language spread, exact-dup
    // rate (docs minus distinct content fingerprints), mean repetition.
    // One partial+final groupBy(source); means go through DECIMAL so
    // both engines sum identically.
    "q98_corpus_report" -> ((s, dir) => Q.ordered {
      val toks = split(col("text"), " ")
      Q.wide(Q.t(s, dir, "documents")).select(
        col("source"), col("lang"),
        TextStats.wsTokenCount(col("text")).cast("long").as("n_tok"),
        TextStats.contentFingerprint(toks).as("fp"),
        TextStats.topTokenFrac(toks).as("ttf"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("total_tokens"),
          countDistinct(col("lang")).as("n_langs"),
          (count(lit(1)) - countDistinct(col("fp"))).as("dup_docs"),
          round(sum(col("ttf").cast("decimal(18,6)")).cast("double") /
            count(lit(1)), 6).as("mean_ttf"))
    }),

    // L4: document fingerprinting — exact, order-insensitive content,
    // prefix (rolling-style), and a shard bucket for distribution.
    "q57_doc_fingerprint" -> ((s, dir) => Q.ordered {
      val toks = split(col("text"), " ")
      Q.wide(Q.t(s, dir, "documents")).select(
        col("doc_id"),
        TextStats.fullFingerprint(col("text")).as("full_fp"),
        TextStats.contentFingerprint(toks).as("content_fp"),
        TextStats.prefixFingerprint(toks, 16).as("prefix_fp"),
        TextStats.hashBucket(TextStats.fullFingerprint(col("text")), 1024).as("bucket"))
    }),

    // L4/P-family closure: generic HTML main-content extraction
    // (boilerplate removal) — the q100 pattern applied to markup: a page
    // is SYNTHESIZED around each document's words (head/title/style/
    // script chrome, a link-only nav and menu, three prose paragraphs —
    // one carrying an inline link, one an entity — a short copyright
    // block, a footer), so DuckDB can recompute the expected extraction
    // with pure string arithmetic over `text` while the Spark side must
    // recover it by actually LEXING the page with the one-pass native
    // graft_main_content expression. Any rule regression (drop
    // containers, raw-text skip, entity decode, whitespace collapse,
    // 25-char minimum, 1/3 link-density cap) breaks the hash. Map-only
    // at any scale.
    "q105_main_content" -> ((s, dir) => Q.ordered {
      import graft.functions.HtmlFunctions
      val base = Q.wide(Q.t(s, dir, "documents"))
        .select(col("doc_id"),
          filter(split(col("text"), " "), t => t =!= "").as("toks"))
        .withColumn("n", size(col("toks")))
        .withColumn("a", ((col("n") + 2) / 3).cast("int"))
        .withColumn("p1", array_join(slice(col("toks"), lit(1), col("a")), " "))
        .withColumn("p2toks", slice(col("toks"), col("a") + 1, col("a")))
        .withColumn("p3", array_join(
          slice(col("toks"), col("a") * 2 + 1,
            greatest(col("n") - col("a") * 2, lit(0))), " "))
        .withColumn("menu", array_join(
          transform(slice(col("toks"), lit(1), least(col("n"), lit(4))),
            (t, i) => concat(lit("<a href=\"/t/"), i.cast("string"),
              lit("\">"), t, lit("</a>"))), " "))
      val p2html = when(size(col("p2toks")) > 0, concat(
        lit("<p><a href=\"/rel\">"), element_at(col("p2toks"), 1), lit("</a>"),
        when(size(col("p2toks")) > 1, concat(lit(" "),
          array_join(slice(col("p2toks"), lit(2),
            size(col("p2toks")) - 1), " "))).otherwise(lit("")),
        lit("</p>"))).otherwise(lit(""))
      val html = concat(
        lit("<html><head><title>Doc</title><style>p{margin:0}</style>" +
          "<script>if(1<2){var x='<p>';}</script></head><body>" +
          "<header><h1>Corpus Viewer</h1></header>" +
          "<nav><ul><li><a href=\"/\">Home</a></li>" +
          "<li><a href=\"/browse\">Browse</a></li></ul></nav>" +
          "<div class=\"menu\">"), col("menu"), lit("</div><main>"),
        when(length(col("p1")) > 0,
          concat(lit("<p>"), col("p1"), lit("</p>"))).otherwise(lit("")),
        p2html,
        lit("<p>"), col("p3"), lit(" Q&amp;A</p></main>" +
          "<div class=\"foot\">(c) 2026 Example Corp</div>" +
          "<footer><a href=\"/tos\">Terms</a> &middot; " +
          "<a href=\"/privacy\">Privacy</a></footer></body></html>"))
      base.withColumn("m", HtmlFunctions.mainContent(html))
        .select(col("doc_id"), col("m.text").as("main_text"),
          col("m.kept").as("kept_blocks"), col("m.blocks").as("total_blocks"))
    }),

    // L4: REAL byte-pair encoding — the canonical greedy merge loop as a
    // native codegen expression (functions.BpeTokens), per word, flattened
    // back per document. The oracle replays a genuinely DIFFERENT
    // algorithm (one ascending nested-`replace` pass over ranks on a
    // `|sym|`-wrapped string — equivalent for a valid merge table, see
    // Bpe scaladoc; BpeSpec brute-forces the equivalence), so a greedy-
    // loop bug on either side breaks the hash. Map-only at any scale:
    // the merge table rides the expression to executors (the broadcast
    // role); no shuffle touches the corpus.
    "q107_bpe_encode" -> ((s, dir) => Q.ordered {
      import graft.functions.BpeFunctions
      val words = regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0))
      Q.wide(Q.t(s, dir, "documents"))
        .select(col("doc_id"), words.as("words"))
        .select(col("doc_id"),
          size(col("words")).cast("long").as("n_words"),
          flatten(transform(col("words"),
            w => BpeFunctions.bpeTokens(w, BpeFunctions.EnMerges))).as("toks"))
        .select(col("doc_id"), col("n_words"),
          size(col("toks")).cast("long").as("n_bpe"),
          array_join(col("toks"), " ").as("bpe_text"))
    }),

    // L4: BPE tokenizer TRAINING — the learning half of q107's encoder
    // (VERDICT r12 #1): Vocab.learnBpe runs Sennrich's merge loop
    // distributed — ONE corpus-sized aggregation (word-type counts),
    // then per rank one pair-count aggregation over the bounded type
    // table + a 1-row argmax collect (deterministic tie-break: count
    // DESC, pair ASC) + a row-local merge fold, localCheckpoint-
    // truncated (the q103/q92 loop shape). Output is the model artifact
    // itself: the rank-ordered merge table. The oracle re-learns the
    // same table in DuckDB from unrolled per-rank CTEs over the
    // |sym|-wrapped form (q107's replay representation) — a counting,
    // tie-break, or merge bug on either side breaks the hash.
    "q132_bpe_train" -> ((s, dir) => Q.ordered {
      val types = Q.t(s, dir, "documents")
        .select(explode(
          regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0)))
          .as("word"))
        .groupBy("word").agg(count(lit(1)).as("w"))
      val merges = graft.operators.Vocab.learnBpe(
        types, col("word"), col("w"), BpeTrainLevels)
      s.createDataFrame(
        merges.zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) })
        .toDF("merge_rank", "x", "y")
    }),

    // L4 end-to-end: the tokenizer PIPELINE — train the merge table from
    // the corpus (q132's loop), then encode the SAME corpus with the
    // learned table (q107's map-only greedy expression) and report the
    // per-doc token budget (n_words → n_bpe). This is the user story the
    // two halves exist for: no hand-written merge list anywhere. The
    // oracle re-learns the table AND re-encodes: per-type tokenization
    // is the training chain's own final wrapped form (the ascending
    // pass), joined back to each document's words — equivalent to the
    // Spark side's greedy re-encode for a valid (learned) table, the
    // Bpe-scaladoc equivalence BpeSpec brute-forces. Scale: training as
    // q132 (corpus-sized type agg + bounded loop), encode map-only with
    // the ≤nMerges table riding the expression.
    "q134_bpe_pipeline" -> ((s, dir) => Q.ordered {
      val words = regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0))
      val types = Q.t(s, dir, "documents")
        .select(explode(words).as("word"))
        .groupBy("word").agg(count(lit(1)).as("w"))
      val merges = graft.operators.Vocab.learnBpe(
        types, col("word"), col("w"), BpeTrainLevels)
      Q.wide(Q.t(s, dir, "documents"))
        .select(col("doc_id"), words.as("words"))
        .select(col("doc_id"),
          size(col("words")).cast("long").as("n_words"),
          size(flatten(transform(col("words"),
            w => graft.functions.BpeFunctions.bpeTokens(w, merges))))
            .cast("long").as("n_bpe"))
    }),

    // L4/L2 hybrid retrieval: reciprocal-rank fusion of the lexical BM25
    // top-N (q28's scorer) with the vector cosine top-N (q51's scorer) —
    // the standard no-calibration combiner (Cormack et al. 2009) every
    // RAG/retrieval stack runs where lexical and embedding signals must
    // merge. Both arms are cut to their bounded heads BEFORE ranking
    // (TakeOrdered top-N — never a global corpus sort), so the fusion
    // join runs on ≤ 2N rows; the fused score is a two-term sum of
    // IEEE divisions of exact integer ranks — bit-identical
    // cross-engine, no rounding step (the q111 lesson).
    "q136_rrf_fusion" -> ((s, dir) => Q.ordered {
      import org.apache.spark.sql.expressions.Window
      import graft.operators.{Retrieval, Similarity}
      val N = 100
      val lex = Retrieval.bm25(
          Q.wide(Q.t(s, dir, "documents")).select(col("doc_id"), col("text")),
          "doc_id", split(col("text"), " "), Seq("join", "filter", "scan"))
        .orderBy(col("bm25").desc_nulls_last, col("doc_id").asc_nulls_first)
        .limit(N)
        .withColumn("r_lex", row_number().over(
          Window.orderBy(col("bm25").desc_nulls_last,
            col("doc_id").asc_nulls_first)).cast("long"))
        .select(col("doc_id").as("id"), col("r_lex"))
      val vec = Similarity.cosineTopK(
          Q.t(s, dir, "embeddings"), "vec_id", "embedding",
          Q.t(s, dir, "embeddings").filter(col("vec_id") === 1)
            .select(col("embedding").as("qvec")),
          "qvec", k = N)
        .withColumn("r_vec", row_number().over(
          Window.orderBy(col("score").desc_nulls_last,
            col("vec_id").asc_nulls_first)).cast("long"))
        .select(col("vec_id").as("id"), col("r_vec"))
      Retrieval.rrfFuse(lex, vec, "id", "r_lex", "r_vec")
    }),

    // L4/K-family middle tier: model-based quality scoring — a
    // fastText-shaped linear classifier over md5-hashed unigram+bigram
    // features with integer micro-unit weights. The Spark side exercises
    // the REAL model path (broadcast weight-table join + partial-agg
    // sums); the oracle recomputes each feature's weight from the
    // fixture's generating formula inline — a hashing, bigram, join, or
    // aggregation bug on either side breaks the exact w_sum match before
    // the single rounded division even happens.
    "q109_quality_model" -> ((s, dir) => Q.ordered {
      import graft.operators.QualityModel
      val docs = Q.wide(Q.t(s, dir, "documents"))
        .select(col("doc_id"),
          filter(split(col("text"), " "), t => t =!= "").as("toks"))
      QualityModel.score(docs, "doc_id", col("toks"),
        QualityModel.fixtureWeights(s, 4096), 4096)
    }),

    // K-family learned tier: quality-model TRAINING (VERDICT r13 #3 —
    // q109 scored with a fixture table; this FITS the integer
    // micro-weight table from labeled data). Labels are the
    // deterministic length rule (≥ 55 tokens ≈ the corpus median →
    // balanced classes); 3 full-batch hard-sigmoid delta-rule steps
    // over md5-hashed unigram+bigram features, all-integer state. The
    // oracle RE-TRAINS the model: each step unrolls to margin / error /
    // gradient / weight-update CTEs (the q132 re-learn pattern), so a
    // featurization, clamp, floor-division, or aggregation divergence
    // on either side breaks the exact weight match at its first step.
    "q140_quality_train" -> ((s, dir) => Q.ordered {
      import graft.operators.QualityModel
      val docs = Q.t(s, dir, "documents")
        .select(col("doc_id"),
          filter(split(col("text"), " "), t => t =!= "").as("toks"))
      QualityModel.fit(docs, col("toks"),
        (size(col("toks")) >= QualityTrainLabelMin).cast("long"),
        QualityTrainBuckets, QualityTrainIters)
    }),

    // K/L4 learned tier, MULTICLASS (VERDICT r14 #8 — q54's langid is a
    // hand-written marker argmax; this TRAINS one): one-vs-rest over
    // the q140 feature space against the corpus's OWN lang labels —
    // simultaneous training (one featurize, one gradient job per
    // iteration computing all 5 classes), then the q54-shape row-local
    // argmax over inlined trained weights (exact BIGINT scores, first-
    // class tie-break, NULL for featureless docs). The oracle RE-TRAINS
    // all five binary models via the q140 CTE chain per class and
    // replays scoring + argmax — a divergence in any class's any step
    // moves some weight and breaks the hash.
    "q160_langid_trained" -> ((s, dir) => Q.ordered {
      import graft.operators.QualityModel
      val docs = Q.t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          filter(split(col("text"), " "), t => t =!= "").as("toks"))
      val w = QualityModel.fitMulticlass(docs, col("toks"), col("lang"),
        LangidClasses, LangidBuckets, LangidIters)
      QualityModel.predictClass(docs, col("toks"), w,
        LangidClasses, LangidBuckets, outCol = "lang")
        .drop("toks")
    }),

    // q160's STORED-MODEL twin (VERDICT r15 #2 — the learned tier
    // re-trained inside every declared execution; the q158/q162
    // layout discipline applied to model WEIGHTS): fitMulticlass runs
    // AT MOST ONCE per corpus (Writers.ensureModel) and persists the
    // bounded (class, bucket, w_micro) table as parquet; the declared
    // query is predictClass over the STORED weights — a bounded
    // parquet read collected at construction, then the q54 serving
    // shape (one corpus scan, row-local inlined-literal scores +
    // argmax, zero joins, zero exchanges). Same oracle as q160:
    // layout, not semantics — the stored weights ARE fitMulticlass
    // output, so any write/read/collation divergence breaks the same
    // hash q160 pins.
    "q165_langid_stored" -> ((s, dir) => Q.ordered {
      import graft.operators.QualityModel
      val docs = Q.t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          filter(split(col("text"), " "), t => t =!= "").as("toks"))
      val path = graft.sources.Writers.ensureModel(s, dir, "langid",
        s"${LangidClasses.mkString("")}_${LangidBuckets}_$LangidIters") {
        QualityModel.fitMulticlass(docs, col("toks"), col("lang"),
          LangidClasses, LangidBuckets, LangidIters)
      }
      QualityModel.predictClass(docs, col("toks"), s.read.parquet(path),
        LangidClasses, LangidBuckets, outCol = "lang")
        .drop("toks")
    }),

    // L4 retrieval, batch form: BM25 for a whole TABLE of probe queries
    // in ONE corpus pass (training-batch retrieval — per-query jobs
    // would be a driver-side loop). The union term set broadcast-
    // semi-prunes the exploded token stream, per-(doc, term) scores are
    // computed once (tf/df/dl/avgdl are query-independent) and fan out
    // to queries via the broadcast (qid, token) table. Scores are
    // EXACTLY per-query bm25 (RetrievalSpec pins the equality); the
    // oracle replays the q28 rounding chain per (qid, doc).
    "q142_bm25_batch" -> ((s, dir) => Q.ordered {
      import s.implicits._
      import graft.operators.Retrieval
      val queries = BatchQueryTerms.toDF("qid", "terms")
      Retrieval.bm25Batch(
        Q.wide(Q.t(s, dir, "documents")).select(col("doc_id"), col("text")),
        "doc_id", split(col("text"), " "),
        queries, "qid", col("terms"))
    }),

    // L4 vocabulary building: collocation mining — the word2vec phrases
    // pass. Every adjacent pair with c_ab >= 10 scored by the discounted
    // PMI RATIO (δ=2) — (c_ab−δ)/c_a · N/c_b, a fixed 4-op IEEE chain
    // over exact integer counts (no ln: ~1-ulp portable only; no
    // count×count product: each FACTOR stays < 2^53 where the product
    // form overflows at corpus scale). Two map+agg corpus passes into
    // vocab-bounded count tables; N rides the unigram table as a
    // single-partition window (vocab-bounded, the q145 shape); scoring
    // joins broadcast the unigram side.
    "q148_collocations" -> ((s, dir) => Q.ordered {
      TextStats.collocations(
        Q.wide(Q.t(s, dir, "documents")).select(col("doc_id"), col("text")),
        split(col("text"), " "), CollocMinCount, CollocDelta)
    }),

    // L4 vocabulary APPLY: greedy phrase-merge retokenization
    // (word2phrase) against the q148 table cut at score >= 1.2 — the
    // learn→apply composition the BPE pair (q132 train → q107 encode)
    // established, for phrases. The inherently-sequential left-to-right
    // greedy is window algebra (run head = last flag onset at or before
    // p, select even offsets from the head), every window sharing ONE
    // (doc_id; pos) exchange (the q144 discipline); the phrase table
    // broadcasts (bounded by the minCount cut). The oracle replays
    // phrase learning AND the full greedy per position.
    "q149_phrase_merge" -> ((s, dir) => Q.ordered {
      val docs = Q.wide(Q.t(s, dir, "documents"))
        .select(col("doc_id"), col("text"))
      val phrases = TextStats.collocations(docs, split(col("text"), " "),
        CollocMinCount, CollocDelta)
        .filter(col("score") >= CollocScoreMin)
      TextStats.phraseMerge(docs, "doc_id", split(col("text"), " "), phrases)
    }),

    // Retrieval-tier EXACT PHRASE search over a positional inverted
    // index (the lexical sibling of q136's ranked arms): postings built
    // map-only, probe = aligned-start aggregation — each posting of
    // phrase slot i votes for start pos−i, a start with |phrase| votes
    // is a match (never a k-way positional self-join). At corpus scale
    // the index is stored token-partitioned (q131's layout leg), so the
    // probe scans only the phrase's tokens. The oracle is the row-local
    // definition itself: every s with toks[s..s+k−1] == phrase.
    "q151_phrase_search" -> ((s, dir) => Q.ordered {
      import graft.operators.Retrieval
      val postings = Retrieval.invertedIndex(
        Q.wide(Q.t(s, dir, "documents"))
          .select(col("doc_id"),
            filter(split(col("text"), " "), t => t =!= "").as("toks")),
        "doc_id", col("toks"))
      Retrieval.phraseSearch(postings, "doc_id", PhraseFixture)
    }),

    // q151's STORED-layout twin (VERDICT r14 #5): the postings index
    // written ONCE partitioned by md5-prefix token directories
    // (Writers.ensurePostings — the q131/q133 layout discipline), the
    // probe reading only the phrase's directories via driver-computed
    // partition literals (PartitionFilters in the scan, PlanLint-
    // pinned) with the residual token IN (...) pushed into the parquet
    // reader. Same oracle as q151 — layout, not semantics (the
    // q130/q131 framing); probe IO tracks the phrase's posting mass,
    // not corpus bytes.
    "q158_phrase_stored" -> ((s, dir) => Q.ordered {
      import graft.operators.Retrieval
      val path = graft.sources.Writers.ensurePostings(s, dir, "documents")
      Retrieval.phraseSearch(
        graft.sources.Writers.prunedPostings(s, path, PhraseFixture),
        "doc_id", PhraseFixture)
    }),
  )

  /** q151 probe phrase — 18 matching docs / 19 starts at sf0.01;
    * repeated-token and overlapping-match semantics are RetrievalSpec's
    * job, volume is the oracle's. */
  private val PhraseFixture = Seq("fast", "table")

  /** q28/q169 probe terms — shared between the live and stored BM25
    * forms so the q28 oracle serves both (the fixture ALSO appears as
    * string literals inside bm25ChainSql's tf CTE — keep in sync). */
  private val Bm25Terms = Seq("join", "filter", "scan")

  /** The stored-hybrid-stack CTE chain shared by q170 (fuses and
    * returns it) and q172 (grades it against exact ground truth):
    * q156's exact-integer routing + ADC chain cut at top-100 ascending
    * (the stored ANN arm — q162's fixed vec_id<8 centroid table,
    * nprobe=3) ranked in `vecr`, and q28's BM25 chain (prepended by
    * the caller via [[bm25ChainSql]]) cut at top-100 ranked in `lexr`. */
  private lazy val hybridStoredChainSql: String =
    s"""q AS (SELECT CAST(embedding AS DOUBLE[]) AS qvec,
                    list_transform(embedding,
                      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qq
             FROM embeddings WHERE vec_id = 1),
       vq AS (SELECT vec_id,
                     list_transform(embedding,
                       x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
              FROM embeddings),
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
                      CAST(CAST(sum(CAST(dt.d2 AS DECIMAL(28,8)))
                           AS DECIMAL(28,8)) AS DOUBLE) AS adist
               FROM pop JOIN dt USING (m, code) GROUP BY 1),
       annk AS (SELECT vec_id, adist FROM tot
                ORDER BY adist ASC NULLS LAST, vec_id ASC LIMIT 100),
       vecr AS (SELECT vec_id AS id,
                       CAST(row_number() OVER (ORDER BY adist ASC NULLS LAST,
                                               vec_id ASC) AS BIGINT) AS r_vec
                FROM annk),
       lex AS (SELECT doc_id, bm25 FROM bm
               ORDER BY bm25 DESC NULLS LAST, doc_id ASC LIMIT 100),
       lexr AS (SELECT doc_id AS id,
                       CAST(row_number() OVER (ORDER BY bm25 DESC NULLS LAST,
                                               doc_id ASC) AS BIGINT) AS r_lex
                FROM lex)"""

  /** q170's oracle: the fully-stored hybrid stack replayed — the
    * [[hybridStoredChainSql]] arms under q136's CAST-pinned RRF fuse.
    * Layout, not semantics, for both arms; the only semantic swap vs
    * q136 is ANN's ADC ranking replacing brute cosine — replayed, not
    * approximated. */
  private lazy val hybridStoredSql: String =
    s"""WITH $bm25ChainSql,
       $hybridStoredChainSql
       SELECT coalesce(l.id, v.id) AS id, r_lex, r_vec,
              coalesce(CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + r_lex),
                       CAST(0.0 AS DOUBLE)) +
              coalesce(CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + r_vec),
                       CAST(0.0 AS DOUBLE)) AS rrf
       FROM lexr l FULL OUTER JOIN vecr v ON l.id = v.id
       ORDER BY ALL NULLS FIRST"""

  /** q172's oracle: the stored stack graded against EXACT ground truth
    * in one statement. The stored side is [[hybridStoredChainSql]]
    * verbatim (fused in `sfus`, per-arm ranks in `lexr`/`vecr`); the
    * ground truth is the EXACT fused head — live-BM25 ranks (lexr IS
    * exact: stored ≡ live bit-for-bit, the q169 pin) fused with
    * brute-cosine ranks (q136's cos chain) and cut at top-10. Each
    * stored system (fused / lex / vec) is rankEval'd at k=20: first
    * relevant rank, relevant count, ground-truth size — exact BIGINTs
    * (the q163 discipline; MRR/recall are one caller-side division). */
  private lazy val storedStackEvalSql: String =
    s"""WITH $bm25ChainSql,
       $hybridStoredChainSql,
       fused AS (SELECT coalesce(l.id, v.id) AS id, r_lex, r_vec,
              coalesce(CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + r_lex),
                       CAST(0.0 AS DOUBLE)) +
              coalesce(CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + r_vec),
                       CAST(0.0 AS DOUBLE)) AS rrf
              FROM lexr l FULL OUTER JOIN vecr v ON l.id = v.id),
       bq AS (SELECT embedding AS bqvec FROM embeddings WHERE vec_id = 1),
       bcos AS (SELECT * FROM (
                 SELECT vec_id,
                        round(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(bqvec AS DOUBLE[])) /
                              (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) *
                               sqrt(list_dot_product(CAST(bqvec AS DOUBLE[]), CAST(bqvec AS DOUBLE[])))), 6) AS score
                 FROM embeddings, bq
                 ORDER BY score DESC NULLS LAST, vec_id ASC LIMIT 100)),
       bvecr AS (SELECT vec_id AS id,
                        CAST(row_number() OVER (ORDER BY score DESC NULLS LAST,
                                                vec_id ASC) AS BIGINT) AS r_bvec
                 FROM bcos),
       xfused AS (SELECT coalesce(l.id, v.id) AS id,
              coalesce(CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + r_lex),
                       CAST(0.0 AS DOUBLE)) +
              coalesce(CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + r_bvec),
                       CAST(0.0 AS DOUBLE)) AS xrrf
              FROM lexr l FULL OUTER JOIN bvecr v ON l.id = v.id),
       xtop AS (SELECT id FROM xfused
                ORDER BY xrrf DESC NULLS LAST, id ASC LIMIT 10),
       sfus AS (SELECT id,
                       CAST(row_number() OVER (ORDER BY rrf DESC NULLS LAST,
                                               id ASC) AS BIGINT) AS rank
                FROM fused),
       ranked AS (SELECT 'fused' AS system, id, rank FROM sfus
                  UNION ALL SELECT 'lex', id, r_lex FROM lexr
                  UNION ALL SELECT 'vec', id, r_vec FROM vecr)
       SELECT system,
              CAST(min(CASE WHEN xt.id IS NOT NULL THEN rank END) AS BIGINT)
                AS first_rel_rank,
              CAST(sum(CASE WHEN xt.id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_rel_at_k,
              CAST((SELECT count(*) FROM xtop) AS BIGINT) AS n_rel_total
       FROM ranked r LEFT JOIN xtop xt ON r.id = xt.id
       WHERE rank <= 20
       GROUP BY 1 ORDER BY ALL NULLS FIRST"""

  // q148/q149 collocation parameters: δ=2 discounts rare-pair flukes;
  // minCount 10 is the surfacing floor; 1.2 cuts the ~8% upper tail of
  // this corpus's score distribution (max 2.39 at sf0.01) into the
  // q149 phrase table.
  private val CollocMinCount = 10L
  private val CollocDelta = 2L
  private val CollocScoreMin = 1.2

  /** q142 fixture: the probe-query table, shared by the Spark builder
    * and the SQL oracle generator so the two sides can't drift. Terms
    * overlap across queries deliberately — the per-(doc, term) score
    * reuse is the point of the batch form. */
  private val BatchQueryTerms: Seq[(Long, Seq[String])] = Seq(
    (1L, Seq("join", "filter", "scan")),
    (2L, Seq("data", "schema", "filter")),
    (3L, Seq("merge", "window")))

  /** q140 fixture constants — shared by the Spark builder and the SQL
    * oracle generator so the two sides can't drift. */
  private val QualityTrainBuckets = 128
  private val QualityTrainIters = 3
  private val QualityTrainLabelMin = 55
  private val QualityTrainLrDen = 1024L

  /** q160 fixture constants — the corpus's own lang label space (the
    * classes must be a FIXED literal list so the oracle generator and
    * the Spark builder cannot drift) and a 2-step/128-bucket training
    * chain (5 classes × 2 steps × 4 CTEs keeps the unrolled oracle
    * tractable; convergence depth is QualityModelSpec's job). */
  private val LangidClasses = Seq("de", "en", "es", "fr", "zh")
  private val LangidBuckets = 128
  private val LangidIters = 2
  private val LangidLrDen = 1024L

  /** q107's oracle: one word's BPE as the ascending nested-replace pass —
    * each char wrapped `|c|`, then rank-ordered `replace('|x||y|','|xy|')`
    * (leftmost-non-overlapping in both engines), then unwrapped. */
  private val bpeWordSql: String = {
    val wrapped = """regexp_replace(w, '(.)', '|\1|', 'g')"""
    val merged = graft.functions.BpeFunctions.EnMerges.foldLeft(wrapped) {
      case (acc, (x, y)) => s"replace($acc, '|$x||$y|', '|$x$y|')"
    }
    s"str_split(trim($merged, '|'), '||')"
  }

  /** q132's oracle: BPE training re-learned in SQL. Word types are held
    * in q107's `|sym|`-wrapped form; each rank k unrolls to three CTEs —
    * `p_k` adjacent-pair counts (split the wrapped string, pair adjacent
    * symbols, weight by word frequency), `m_k` the argmax under the
    * SAME deterministic tie-break as Vocab.learnBpe (count DESC, x ASC,
    * y ASC), and `w_{k+1}` the re-merge as one `replace('|x||y|' →
    * '|xy|')` (leftmost-non-overlapping in both engines, the q107
    * equivalence). The result is the union of the m_k rows — the learned
    * merge table itself. */
  private val bpeTrainSql: String = {
    val union = (0 until BpeTrainLevels)
      .map(k => s"SELECT CAST($k AS BIGINT) AS merge_rank, x, y FROM m$k")
      .mkString("\nUNION ALL ")
    s"""WITH $bpeTrainChainSql
        SELECT merge_rank, x, y FROM ($union)
        ORDER BY ALL NULLS FIRST"""
  }

  /** The shared training CTE chain (q132 reads the m_k merge rows, q134
    * additionally reads the FINAL tokenization w_LEVELS — each word type
    * carried alongside its evolving `|sym|`-wrapped form).
    *
    * AS MATERIALIZED throughout: DuckDB inlines a CTE once PER
    * REFERENCE by default, and each w_k is referenced twice (pair
    * counts + next level) — inlining doubles the tree per rank, 2^8
    * scans of documents by rank 8 (measured: "too many open files"). */
  /** q28's BM25 as a reusable CTE chain ending in
    * `bm(doc_id, n_terms, bm25)` — shared with q136's lexical arm.
    * Engine-parity notes live on the q28 entry: idf's ln rounded to 8
    * before use, per-term scores rounded to 6 and DECIMAL-summed,
    * 2.2 = k1+1 pre-computed. `src` is the corpus expression — the
    * lifecycle oracles (q177/q179: complement after delete; q180:
    * updated text after delete + re-merge) replay the SAME chain over
    * a from-scratch filtered/rewritten corpus, because that is exactly
    * what the incremental layout must be indistinguishable from. */
  private def bm25ChainSqlOver(src: String): String =
    s"""tok AS (SELECT doc_id, unnest(str_split(text, ' ')) AS token FROM $src),
       dl  AS (SELECT doc_id, CAST(len(str_split(text, ' ')) AS BIGINT) AS dl FROM $src),
       st  AS (SELECT count(*) AS n_docs,
                      round(CAST(CAST(sum(CAST(dl AS DECIMAL(28,6))) AS DECIMAL(28,6)) AS DOUBLE) / count(*), 6) AS avgdl
               FROM dl),
       tf  AS (SELECT doc_id, token, count(*) AS tf FROM tok
               WHERE token IN ('join', 'filter', 'scan') GROUP BY 1, 2),
       dfc AS (SELECT token, count(DISTINCT doc_id) AS df FROM tok
               WHERE token IN ('join', 'filter', 'scan') GROUP BY 1),
       sc  AS (SELECT t.doc_id,
                      round(round(ln((CAST(s.n_docs AS DOUBLE) - df + CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE)), 8)
                        * (t.tf * CAST(2.2 AS DOUBLE))
                        / (t.tf + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) + (CAST(0.75 AS DOUBLE) * d.dl) / s.avgdl)), 6) AS term_score
               FROM tf t JOIN dfc USING (token) JOIN dl d USING (doc_id) CROSS JOIN st s),
       bm  AS (SELECT doc_id, count(*) AS n_terms,
                      round(CAST(sum(CAST(term_score AS DECIMAL(28,6))) AS DOUBLE), 6) AS bm25
               FROM sc GROUP BY 1)"""

  private lazy val bm25ChainSql: String = bm25ChainSqlOver("documents")

  /** q177/q179's from-scratch ground truth: the q28 chain over the
    * complement corpus — what the tombstoned (q177) and
    * delete-compacted (q179) layouts must be indistinguishable from. */
  private lazy val bm25DeletedSql: String =
    s"""WITH ${bm25ChainSqlOver(
         "(SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 3) AS docs")}
       SELECT doc_id, n_terms, bm25
       FROM bm ORDER BY ALL NULLS FIRST"""

  /** The q142 batch-BM25 CTE chain ending in
    * `bmq(qid, doc_id, n_terms, bm25)` — the q28 rounding chain over
    * the UNION term set, per-(doc, term) scores fanned out to queries
    * through the generated (qid, token) VALUES table (generated from
    * [[BatchQueryTerms]] so the fixture can't drift from the Spark
    * builder). Shared by q142/q173's oracle and q182's lexical arm. */
  private lazy val bm25BatchChainSql: String = {
    val qtRows = BatchQueryTerms.flatMap { case (qid, terms) =>
      terms.map(t => s"(CAST($qid AS BIGINT), '$t')")
    }.mkString(", ")
    val termSet = BatchQueryTerms.flatMap(_._2).distinct
      .map(t => s"'$t'").mkString(", ")
    s"""qt(qid, token) AS (VALUES $qtRows),
       tok AS (SELECT doc_id, unnest(str_split(text, ' ')) AS token FROM documents),
       dl  AS (SELECT doc_id, CAST(len(str_split(text, ' ')) AS BIGINT) AS dl FROM documents),
       st  AS (SELECT count(*) AS n_docs,
                      round(CAST(CAST(sum(CAST(dl AS DECIMAL(28,6))) AS DECIMAL(28,6)) AS DOUBLE) / count(*), 6) AS avgdl
               FROM dl),
       tf  AS (SELECT doc_id, token, count(*) AS tf FROM tok
               WHERE token IN ($termSet) GROUP BY 1, 2),
       dfc AS (SELECT token, count(DISTINCT doc_id) AS df FROM tok
               WHERE token IN ($termSet) GROUP BY 1),
       sc  AS (SELECT t.doc_id, t.token,
                      round(round(ln((CAST(s.n_docs AS DOUBLE) - df + CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE)), 8)
                        * (t.tf * CAST(2.2 AS DOUBLE))
                        / (t.tf + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) + (CAST(0.75 AS DOUBLE) * d.dl) / s.avgdl)), 6) AS term_score
               FROM tf t JOIN dfc USING (token) JOIN dl d USING (doc_id) CROSS JOIN st s),
       bmq AS (SELECT qt.qid, sc.doc_id, count(*) AS n_terms,
                      round(CAST(sum(CAST(term_score AS DECIMAL(28,6))) AS DOUBLE), 6) AS bm25
               FROM sc JOIN qt USING (token)
               GROUP BY 1, 2)"""
  }

  /** q142's oracle: the batch chain's `bmq` table, totally ordered. */
  private lazy val bm25BatchSql: String =
    s"""WITH $bm25BatchChainSql
       SELECT qid, doc_id, n_terms, bm25
       FROM bmq ORDER BY ALL NULLS FIRST"""

  /** q182's oracle: the stored hybrid stack for a QUERY BATCH — per
    * qid, the [[bm25BatchChainSql]] lexical head (top-50,
    * bm25-desc/id-asc) fused with the ADC ANN head (top-50,
    * adist-asc/id-asc) under q136's CAST-pinned RRF arithmetic. The
    * ANN chain is [[hybridStoredChainSql]]'s replay with every
    * query-dependent CTE carrying qid (routing, ADC tables, scan
    * population and ranks all PARTITION BY qid); the corpus-side CTEs
    * (assignment, codebook) are query-independent and appear once —
    * exactly the sharing the Spark plan's single pruned scan claims.
    * Query vectors are embeddings 1/2/3 keyed to [[BatchQueryTerms]]'s
    * qids. */
  private lazy val hybridStoredBatchSql: String =
    s"""WITH $hybridStoredBatchChainSql
       SELECT coalesce(l.qid, v.qid) AS qid, coalesce(l.id, v.id) AS id,
              r_lex, r_vec,
              coalesce(CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + r_lex),
                       CAST(0.0 AS DOUBLE)) +
              coalesce(CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + r_vec),
                       CAST(0.0 AS DOUBLE)) AS rrf
       FROM lexr l FULL OUTER JOIN vecr v
         ON l.qid = v.qid AND l.id = v.id
       ORDER BY ALL NULLS FIRST"""

  /** The qid-keyed batch arms as a reusable chain ending in
    * `lexr(qid, id, r_lex)` / `vecr(qid, id, r_vec)` — shared by
    * q182's fuse and q183's eval. */
  private lazy val hybridStoredBatchChainSql: String =
    s"""$bm25BatchChainSql,
       lexr AS (SELECT qid, doc_id AS id, CAST(rr AS BIGINT) AS r_lex FROM (
                  SELECT qid, doc_id,
                         row_number() OVER (PARTITION BY qid
                           ORDER BY bm25 DESC NULLS LAST, doc_id ASC) AS rr
                  FROM bmq) WHERE rr <= 50),
       qb(qid) AS (VALUES (CAST(1 AS BIGINT)), (CAST(2 AS BIGINT)),
                          (CAST(3 AS BIGINT))),
       q AS (SELECT qid, CAST(embedding AS DOUBLE[]) AS qvec,
                    list_transform(embedding,
                      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qq
             FROM embeddings JOIN qb ON vec_id = qid),
       vq AS (SELECT vec_id,
                     list_transform(embedding,
                       x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
              FROM embeddings),
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
       ql AS (SELECT qid, unnest(qq) AS x,
                     generate_subscripts(qq, 1) AS i FROM q),
       pd AS (SELECT ql.qid, sl.cid,
                     CAST(sum((ql.x - sl.y) * (ql.x - sl.y)) AS BIGINT) AS d2
              FROM ql JOIN sl ON ql.i = sl.i GROUP BY 1, 2),
       probed AS (SELECT qid, cid FROM (
                    SELECT qid, cid,
                           row_number() OVER (PARTITION BY qid
                             ORDER BY d2 ASC, cid ASC) AS r
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
              FROM codes WHERE code IS NOT NULL),
       ac AS (SELECT m, code, pos, count(*) AS n,
                     CAST(sum(CAST(round(v * 1000000) AS BIGINT)) AS BIGINT) AS s
              FROM pc GROUP BY 1, 2, 3),
       cb AS (SELECT m, code,
                     list(CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0)
                          ORDER BY pos) AS cmean
              FROM ac GROUP BY 1, 2),
       qs AS (SELECT qid, m, list_slice(qvec, m*16 + 1, m*16 + 16) AS qsub
              FROM q, mm),
       dt AS (SELECT qs.qid, cb.m, cb.code,
                     round(list_dot_product(qs.qsub, qs.qsub)
                           - CAST(2.0 AS DOUBLE)
                             * list_dot_product(qs.qsub, cb.cmean)
                           + list_dot_product(cb.cmean, cb.cmean), 8)
                       + CAST(0.0 AS DOUBLE) AS d2
              FROM cb JOIN qs ON qs.m = cb.m),
       pop AS (SELECT p.qid, c.vec_id, c.m, c.code
               FROM codes c JOIN asg USING (vec_id)
                 JOIN probed p ON asg.cluster = p.cid
               WHERE c.code IS NOT NULL),
       tot AS (SELECT pop.qid, pop.vec_id,
                      CAST(CAST(sum(CAST(dt.d2 AS DECIMAL(28,8)))
                           AS DECIMAL(28,8)) AS DOUBLE) AS adist
               FROM pop JOIN dt ON dt.qid = pop.qid AND dt.m = pop.m
                 AND dt.code = pop.code
               GROUP BY 1, 2),
       vecr AS (SELECT qid, vec_id AS id, CAST(rr AS BIGINT) AS r_vec FROM (
                  SELECT qid, vec_id,
                         row_number() OVER (PARTITION BY qid
                           ORDER BY adist ASC NULLS LAST, vec_id ASC) AS rr
                  FROM tot) WHERE rr <= 50)"""

  /** q183's oracle: the BATCH stack graded against per-qid EXACT ground
    * truth — q172's grading generalized with every rank window
    * PARTITION BY qid. Ground truth per qid = live-BM25 ranks (lexr IS
    * exact, the q169 pin) fused with per-qid brute-cosine ranks, cut at
    * top-10; each stored system (fused / lex / vec) rankEval'd at k=20
    * per qid — exact BIGINTs. */
  private lazy val batchStackEvalSql: String =
    s"""WITH $hybridStoredBatchChainSql,
       fused AS (SELECT coalesce(l.qid, v.qid) AS qid,
                        coalesce(l.id, v.id) AS id, r_lex, r_vec,
              coalesce(CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + r_lex),
                       CAST(0.0 AS DOUBLE)) +
              coalesce(CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + r_vec),
                       CAST(0.0 AS DOUBLE)) AS rrf
              FROM lexr l FULL OUTER JOIN vecr v
                ON l.qid = v.qid AND l.id = v.id),
       bsc AS (SELECT q.qid, e.vec_id,
                      round(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qvec)
                            / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                                     CAST(e.embedding AS DOUBLE[])))
                               * sqrt(list_dot_product(q.qvec, q.qvec))), 6) AS score
               FROM embeddings e, q),
       bvecr AS (SELECT qid, vec_id AS id, CAST(rr AS BIGINT) AS r_bvec FROM (
                   SELECT qid, vec_id,
                          row_number() OVER (PARTITION BY qid
                            ORDER BY score DESC NULLS LAST, vec_id ASC) AS rr
                   FROM bsc) WHERE rr <= 50),
       xfused AS (SELECT coalesce(l.qid, v.qid) AS qid,
                         coalesce(l.id, v.id) AS id,
              coalesce(CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + r_lex),
                       CAST(0.0 AS DOUBLE)) +
              coalesce(CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + r_bvec),
                       CAST(0.0 AS DOUBLE)) AS xrrf
              FROM lexr l FULL OUTER JOIN bvecr v
                ON l.qid = v.qid AND l.id = v.id),
       xtop AS (SELECT qid, id FROM (
                  SELECT qid, id, row_number() OVER (PARTITION BY qid
                    ORDER BY xrrf DESC NULLS LAST, id ASC) AS xr
                  FROM xfused) WHERE xr <= 10),
       xcnt AS (SELECT qid, count(*) AS n FROM xtop GROUP BY 1),
       sfus AS (SELECT qid, id,
                       CAST(row_number() OVER (PARTITION BY qid
                         ORDER BY rrf DESC NULLS LAST, id ASC) AS BIGINT)
                         AS rank
                FROM fused),
       ranked AS (SELECT 'fused' AS system, qid, id, rank FROM sfus
                  UNION ALL SELECT 'lex', qid, id, r_lex FROM lexr
                  UNION ALL SELECT 'vec', qid, id, r_vec FROM vecr)
       SELECT r.qid, r.system,
              CAST(min(CASE WHEN xt.id IS NOT NULL THEN r.rank END)
                AS BIGINT) AS first_rel_rank,
              CAST(sum(CASE WHEN xt.id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_rel_at_k,
              CAST(max(xc.n) AS BIGINT) AS n_rel_total
       FROM ranked r
       LEFT JOIN xtop xt ON r.qid = xt.qid AND r.id = xt.id
       JOIN xcnt xc ON xc.qid = r.qid
       WHERE r.rank <= 20
       GROUP BY 1, 2 ORDER BY ALL NULLS FIRST"""

  // lazy: referenced by bpeTrainSql above during object init (a plain
  // later-declared val would still be null there — the compressionFilter
  // trap)
  private lazy val bpeTrainChainSql: String = {
    def level(k: Int): String =
      s"""p$k AS MATERIALIZED (
             SELECT p[1] AS x, p[2] AS y, sum(w) AS cnt
             FROM (SELECT unnest(list_transform(range(1, len(t)),
                            i -> [t[i], t[i + 1]])) AS p, w
                   FROM (SELECT str_split(trim(s, '|'), '||') AS t, w
                         FROM w$k))
             GROUP BY 1, 2),
           m$k AS MATERIALIZED (SELECT x, y FROM p$k
                   ORDER BY cnt DESC, x ASC, y ASC LIMIT 1),
           w${k + 1} AS MATERIALIZED (
             SELECT word, replace(s,
                      '|' || (SELECT x FROM m$k) || '||' ||
                             (SELECT y FROM m$k) || '|',
                      '|' || (SELECT x FROM m$k) ||
                             (SELECT y FROM m$k) || '|') AS s, w
             FROM w$k)"""
    s"""w0 AS MATERIALIZED (
          SELECT word, regexp_replace(word, '(.)', '|\\1|', 'g') AS s,
                 CAST(count(*) AS BIGINT) AS w
          FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
                FROM documents)
          GROUP BY 1, 2),
        ${(0 until BpeTrainLevels).map(level).mkString(",\n")}"""
  }

  /** Rows-only (RegistrySpec-documented): the DEFLATE bitstream is a zlib
    * artifact with no SQL equivalent — the gate's monotonicity and
    * fixtures are spec-pinned instead (TextStatsSpec). */
  // def, not val: `queries` above captures it during object init, and a
  // later-declared val would still be null at that point
  private def compressionFilter: (SparkSession, String) => DataFrame =
    (s, dir) => Q.ordered {
      // L4: compression-ratio quality gate (the information-density
      // complement of q90's repetition metrics): drop the too-compressible
      // tail (boilerplate/template spam) and the incompressible tail
      // (binary-ish garbage) in one row-local native-codegen pass.
      Q.wide(Q.t(s, dir, "documents"))
        .select(col("doc_id"), col("n_chars"),
          round(graft.functions.QualitySignals.deflateRatio(col("text")), 6)
            .as("deflate_ratio"))
        .withColumn("keep",
          (col("deflate_ratio") >= 0.25 && col("deflate_ratio") <= 1.1)
            .cast("int"))
    }

  override val oracleSql: Map[String, String] = Map(
    // Recomputes the expected main-content extraction of the q105
    // synthesized page with pure string arithmetic: paragraph texts from
    // the same token slices, the 25-char minimum, the 1/3 link-density
    // cap (paragraph 2's only anchor is its first word; the menu block
    // is all anchors, hence always dense: 3L > L + (k-1) for k words of
    // total length L >= k >= 1). Non-content chrome (head/title/style/
    // script/nav/header/footer) must contribute NOTHING — blocks are
    // exactly: menu, p1, p2 (when non-empty), p3 (always; 'Q&A' suffix
    // exercises entity decode), and the 21-char copyright line.
    "q105_main_content" ->
      """WITH d AS (SELECT doc_id,
                           list_filter(str_split(text, ' '), t -> t <> '') AS toks
                    FROM documents),
         s AS (SELECT doc_id, toks, len(toks) AS n, (len(toks) + 2) // 3 AS a FROM d),
         p AS (SELECT doc_id, n,
                      array_to_string(list_slice(toks, 1, a), ' ') AS p1,
                      array_to_string(list_slice(toks, a + 1, 2 * a), ' ') AS p2,
                      CASE WHEN n >= a + 1 THEN length(toks[a + 1]) ELSE 0 END AS w1len,
                      array_to_string(list_slice(toks, 2 * a + 1, n), ' ') AS p3base
               FROM s),
         e AS (SELECT doc_id, n, p1, p2, w1len,
                      CASE WHEN p3base = '' THEN 'Q&A'
                           ELSE p3base || ' Q&A' END AS p3
               FROM p),
         k AS (SELECT doc_id,
                      CASE WHEN length(p1) >= 25 THEN p1 END AS k1,
                      CASE WHEN length(p2) >= 25 AND 3 * w1len <= length(p2) THEN p2 END AS k2,
                      CASE WHEN length(p3) >= 25 THEN p3 END AS k3,
                      CAST(n > 0 AS INT) + CAST(p1 <> '' AS INT) +
                        CAST(p2 <> '' AS INT) + 1 + 1 AS total_blocks
               FROM e)
         SELECT doc_id,
                concat_ws(chr(10), k1, k2, k3) AS main_text,
                CAST(k1 IS NOT NULL AS INT) + CAST(k2 IS NOT NULL AS INT) +
                  CAST(k3 IS NOT NULL AS INT) AS kept_blocks,
                total_blocks
         FROM k
         ORDER BY ALL NULLS FIRST""",

    // Constants are CAST to DOUBLE so DuckDB's decimal literals don't
    // introduce exact-decimal intermediate math the Spark side (pure
    // doubles) can't reproduce; idf's ln is rounded to 8 before use
    // (libm-vs-JVM last-ulp), per-term scores rounded to 6 and summed in
    // DECIMAL. 2.2 = k1+1 (exact in binary: 1.2d + 1.0d == 2.2d).
    "q28_bm25" ->
      s"""WITH $bm25ChainSql
         SELECT doc_id, n_terms, bm25
         FROM bm ORDER BY ALL NULLS FIRST""",

    // IDENTICAL to q28's oracle — the stored layout changes where the
    // probe's tf/dl/stats bytes come from, never what BM25 scores
    "q169_bm25_stored" ->
      s"""WITH $bm25ChainSql
         SELECT doc_id, n_terms, bm25
         FROM bm ORDER BY ALL NULLS FIRST""",

    // IDENTICAL to q28's oracle again — the incremental build (slice →
    // merge → merge) must land on the exact layout a from-scratch
    // build writes; any merge defect (lost/duplicated tf rows, a
    // non-additive avgdl) moves a score and breaks the hash
    "q171_bm25_index_merge" ->
      s"""WITH $bm25ChainSql
         SELECT doc_id, n_terms, bm25
         FROM bm ORDER BY ALL NULLS FIRST""",

    // IDENTICAL again — compaction is segment maintenance: a row
    // dropped or duplicated by the directory rewrite moves a score
    "q175_bm25_index_compact" ->
      s"""WITH $bm25ChainSql
         SELECT doc_id, n_terms, bm25
         FROM bm ORDER BY ALL NULLS FIRST""",

    // NOT q28's oracle: the ground truth is a from-scratch build over
    // the COMPLEMENT corpus — the tombstoned layout must be
    // indistinguishable from never having indexed the deleted docs
    // (visibility, df windows, n_docs, avgdl — all of it)
    "q177_bm25_index_delete" -> bm25DeletedSql,

    // q177's oracle again — folding tombstones into the physical
    // layout must not move a score (and PlanLint separately pins that
    // the tombstone scan is GONE from the compacted probe's plan)
    "q179_bm25_delete_compact" -> bm25DeletedSql,

    // from-scratch replay over the UPDATED corpus: every %5=4 doc
    // scored with its new text exactly once — both versions visible,
    // neither visible, or stale length stats all break the hash
    "q180_bm25_index_update" ->
      s"""WITH ${bm25ChainSqlOver(
           "(SELECT doc_id, CASE WHEN doc_id % 5 = 4 " +
             "THEN text || ' fresh join' ELSE text END AS text " +
             "FROM documents) AS docs")}
         SELECT doc_id, n_terms, bm25
         FROM bm ORDER BY ALL NULLS FIRST""",

    // the AS-OF probe at the pre-update generation must be the
    // pre-update world: q28's replay over the ORIGINAL corpus — the
    // layout has since been updated (q180), the snapshot read unsees
    // both the tombstones and the re-merged versions, and the
    // recomputed G-horizon stats land on the original avgdl
    "q186_bm25_index_asof" ->
      s"""WITH $bm25ChainSql
         SELECT doc_id, n_terms, bm25
         FROM bm ORDER BY ALL NULLS FIRST""",

    "q170_hybrid_stored" -> hybridStoredSql,

    "q172_stored_stack_eval" -> storedStackEvalSql,

    // per-qid replay of both stored arms and the fuse — a query leaking
    // into another's head, a shared-scan row misattributed, or a rank
    // window crossing qids all break the hash
    "q182_hybrid_stored_batch" -> hybridStoredBatchSql,

    // the batch arms replayed per qid, graded against per-qid exact
    // ground truth — 9 exact-BIGINT rows (3 qids × 3 systems)
    "q183_batch_stack_eval" -> batchStackEvalSql,

    // both arms cut to their top-100 heads, ranked, full-outer fused:
    // rrf = 1/(60+r_lex) + 1/(60+r_vec), absent arm contributing 0
    "q136_rrf_fusion" ->
      s"""WITH $bm25ChainSql,
          lex AS (SELECT doc_id, bm25 FROM bm
                  ORDER BY bm25 DESC NULLS LAST, doc_id ASC LIMIT 100),
          lexr AS (SELECT doc_id AS id,
                          CAST(row_number() OVER (ORDER BY bm25 DESC NULLS LAST,
                                                  doc_id ASC) AS BIGINT) AS r_lex
                   FROM lex),
          q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 1),
          cos AS (SELECT * FROM (
                    SELECT vec_id,
                           round(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(qvec AS DOUBLE[])) /
                                 (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) *
                                  sqrt(list_dot_product(CAST(qvec AS DOUBLE[]), CAST(qvec AS DOUBLE[])))), 6) AS score
                    FROM embeddings, q
                    ORDER BY score DESC NULLS LAST, vec_id ASC LIMIT 100)),
          vecr AS (SELECT vec_id AS id,
                          CAST(row_number() OVER (ORDER BY score DESC NULLS LAST,
                                                  vec_id ASC) AS BIGINT) AS r_vec
                   FROM cos)
          SELECT coalesce(l.id, v.id) AS id, r_lex, r_vec,
                 coalesce(CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + r_lex),
                          CAST(0.0 AS DOUBLE)) +
                 coalesce(CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + r_vec),
                          CAST(0.0 AS DOUBLE)) AS rrf
          FROM lexr l FULL OUTER JOIN vecr v ON l.id = v.id
          ORDER BY ALL NULLS FIRST""",

    "q47_length_band" ->
      """SELECT doc_id, lang, n_chars, round(pr, 6) AS pr FROM (
           SELECT doc_id, lang, n_chars,
                  percent_rank() OVER (PARTITION BY lang ORDER BY n_chars ASC) AS pr
           FROM documents)
         WHERE pr >= 0.1 AND pr <= 0.9 ORDER BY ALL NULLS FIRST""",

    "q54_langid" ->
      s"""SELECT doc_id, lang,
                 ${hitsSql("en")} AS s_en,
                 ${hitsSql("es")} AS s_es,
                 ${hitsSql("de")} AS s_de,
                 CASE WHEN ${hitsSql("en")} >= ${hitsSql("es")} AND ${hitsSql("en")} >= ${hitsSql("de")} THEN 'en'
                      WHEN ${hitsSql("es")} >= ${hitsSql("de")} THEN 'es'
                      ELSE 'de' END AS pred_lang
          FROM documents ORDER BY ALL NULLS FIRST""",

    "q55_quality_score" ->
      s"""SELECT doc_id, n_tok, n_distinct, stop_hits,
                 n_distinct / n_tok AS ttr,
                 round(0.3 * (n_distinct / n_tok) +
                       0.4 * (stop_hits / n_tok) +
                       0.3 * least(n_tok / 100.0, 1.0), 6) AS quality
          FROM (SELECT doc_id,
                       len(str_split(text, ' ')) AS n_tok,
                       len(list_distinct(str_split(text, ' '))) AS n_distinct,
                       ${hitsSql("en")} AS stop_hits
                FROM documents)
          ORDER BY ALL NULLS FIRST""",

    "q56_token_count" ->
      """SELECT doc_id,
                len(str_split(text, ' ')) AS ws_tokens,
                len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS re_tokens,
                CAST(ceil(n_chars / 4.0) AS BIGINT) AS est_tokens
         FROM documents ORDER BY ALL NULLS FIRST""",

    "q71_tfidf" ->
      """WITH tok AS (SELECT doc_id, unnest(str_split(text, ' ')) AS token FROM documents),
         tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
         dfc AS (SELECT token, count(*) AS df
                 FROM (SELECT DISTINCT doc_id, token FROM tok) GROUP BY 1),
         tot AS (SELECT count(*) AS n_docs FROM documents)
         SELECT t.doc_id, t.token, t.tf, d.df,
                round(t.tf * ln(CAST(n_docs AS DOUBLE) / d.df), 6) AS tfidf
         FROM tf t JOIN dfc d USING (token), tot
         ORDER BY ALL NULLS FIRST""",

    // the row-local definition: tf per (doc, term), df as a count over
    // the same grouped table, score the exact tf·N long divided once
    "q157_tfidf_keywords" ->
      """WITH d AS (SELECT doc_id,
                           list_filter(str_split(text, ' '), t -> t <> '') AS toks
                    FROM documents),
         tfc AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
                 FROM (SELECT doc_id, unnest(toks) AS term FROM d)
                 GROUP BY 1, 2),
         wdf AS (SELECT *, CAST(count(*) OVER (PARTITION BY term) AS BIGINT) AS df
                 FROM tfc),
         n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
         s AS (SELECT doc_id, term, tf, df,
                      CAST(tf * n_docs AS DOUBLE) / df AS score
               FROM wdf, n),
         r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                   ORDER BY score DESC NULLS LAST, term ASC) AS rk
               FROM s)
         SELECT doc_id, term, tf, df, score FROM r WHERE rk <= 3
         ORDER BY ALL NULLS FIRST""",

    "q90_repetition_filter" ->
      """WITH t AS (SELECT doc_id, str_split(text, ' ') AS toks FROM documents),
         g AS (SELECT doc_id, toks,
                      list_transform(range(1, len(toks)),
                        i -> toks[i] || '_' || toks[i+1]) AS bg
               FROM t),
         m AS (SELECT doc_id,
                      CASE WHEN len(toks) = 0 THEN 0.0 ELSE
                        round(CAST(list_max(list_transform(list_distinct(toks),
                          x -> len(list_filter(toks, y -> y = x)))) AS DOUBLE)
                          / len(toks), 6) END AS top_tok_frac,
                      CASE WHEN len(bg) = 0 THEN 0.0 ELSE
                        round(1.0 - CAST(len(list_distinct(bg)) AS DOUBLE)
                          / len(bg), 6) END AS dup_bigram_frac
               FROM g)
         SELECT doc_id, top_tok_frac, dup_bigram_frac,
                (top_tok_frac <= 0.12 AND dup_bigram_frac <= 0.06) AS keep
         FROM m ORDER BY ALL NULLS FIRST""",

    "q98_corpus_report" ->
      """WITH m AS (SELECT source, lang,
                           CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tok,
                           md5(array_to_string(list_sort(list_distinct(str_split(text, ' '))), ' ')) AS fp,
                           CASE WHEN len(str_split(text, ' ')) = 0 THEN 0.0 ELSE
                             round(CAST(list_max(list_transform(list_distinct(str_split(text, ' ')),
                               x -> len(list_filter(str_split(text, ' '), y -> y = x)))) AS DOUBLE)
                               / len(str_split(text, ' ')), 6) END AS ttf
                    FROM documents)
         SELECT source,
                count(*) AS n_docs,
                CAST(sum(n_tok) AS BIGINT) AS total_tokens,
                count(DISTINCT lang) AS n_langs,
                count(*) - count(DISTINCT fp) AS dup_docs,
                round(CAST(sum(CAST(ttf AS DECIMAL(18,6))) AS DOUBLE)
                  / count(*), 6) AS mean_ttf
         FROM m GROUP BY source ORDER BY ALL NULLS FIRST""",

    "q97_unigram_logprob" ->
      """WITH tok AS (SELECT doc_id, unnest(str_split(text, ' ')) AS token FROM documents),
         tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
         cnt AS (SELECT token, count(*) AS c FROM tok GROUP BY 1),
         n AS (SELECT count(*) AS n FROM tok),
         sc AS (SELECT t.doc_id,
                       sum(CAST(t.tf * round(ln(CAST(c.c AS DOUBLE) / n.n), 8)
                           AS DECIMAL(28,8))) AS s,
                       CAST(sum(t.tf) AS BIGINT) AS n_tok
                FROM tf t JOIN cnt c USING (token) CROSS JOIN n
                GROUP BY 1)
         SELECT doc_id, n_tok,
                round(CAST(s AS DOUBLE) / n_tok, 6) AS mean_logprob,
                round(CAST(s AS DOUBLE) / n_tok, 6) >= -3.45 AS keep
         FROM sc ORDER BY ALL NULLS FIRST""",

    // Replays synthesis + canonicalization: same parse regex (RE2 and
    // java.util.regex agree on this class-only pattern), same default-
    // port/trailing-slash/tracker rules, params list_sort'd on both
    // sides (ASCII, binary collation); kept = row_number 1 per
    // canonical key.
    "q113_url_canonical" ->
      s"""WITH m AS (SELECT doc_id,
             (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'http' END) || '://' ||
             (CASE WHEN doc_id % 3 = 0
                   THEN 'WWW.Site' || CAST(doc_id % 100 AS VARCHAR) || '.Example.COM'
                   ELSE 'www.site' || CAST(doc_id % 100 AS VARCHAR) || '.example.com' END) ||
             (CASE WHEN doc_id % 5 = 0 THEN ':80' ELSE '' END) ||
             '/a/b' || CAST(doc_id % 100 AS VARCHAR) ||
             (CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '' END) ||
             (CASE WHEN doc_id % 4 = 0 THEN '?utm_source=feed&b=2&a=1'
                   ELSE '?b=2&a=1' END) ||
             (CASE WHEN doc_id % 6 = 0 THEN '#sec' ELSE '' END) AS url
           FROM documents),
         p AS (SELECT doc_id, url,
                      lower(regexp_extract(url, '${graft.operators.Cleaning.UrlRe}', 1)) AS scheme,
                      lower(regexp_extract(url, '${graft.operators.Cleaning.UrlRe}', 2)) AS host,
                      regexp_extract(url, '${graft.operators.Cleaning.UrlRe}', 3) AS port,
                      regexp_extract(url, '${graft.operators.Cleaning.UrlRe}', 4) AS path0,
                      regexp_extract(url, '${graft.operators.Cleaning.UrlRe}', 5) AS query0
               FROM m),
         q AS (SELECT *, list_sort(list_filter(str_split(query0, '&'),
                 x -> x <> '' AND NOT regexp_matches(x,
                   '${graft.operators.Cleaning.TrackerRe}'))) AS ps
               FROM p),
         c AS (SELECT doc_id, url,
                      CASE WHEN host = '' THEN NULL ELSE
                        scheme || '://' || host ||
                        (CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
                                            OR (scheme = 'https' AND port = '443')
                              THEN '' ELSE ':' || port END) ||
                        (CASE WHEN regexp_replace(path0, '/+$$', '') = ''
                              THEN '/' ELSE regexp_replace(path0, '/+$$', '') END) ||
                        (CASE WHEN len(ps) > 0
                              THEN '?' || array_to_string(ps, '&') ELSE '' END)
                      END AS canonical_url
               FROM q)
         SELECT doc_id, url, canonical_url,
                row_number() OVER (PARTITION BY canonical_url
                                   ORDER BY doc_id) = 1 AS kept
         FROM c ORDER BY ALL NULLS FIRST""",

    // KL drift replay: same tf-table derivation (window sums go through
    // HUGEINT — CAST the max back to BIGINT), same add-1/vocab
    // smoothing constant, same round-8 log ratios and DECIMAL term sums.
    "q118_source_drift" ->
      """WITH tok AS (SELECT source AS grp, unnest(str_split(text, ' ')) AS token
                      FROM documents),
         tf AS (SELECT grp, token, count(*) AS tf FROM tok GROUP BY 1, 2),
         c AS (SELECT *, sum(tf) OVER (PARTITION BY grp) AS n_g,
                      sum(tf) OVER (PARTITION BY token) AS c_t FROM tf),
         n AS (SELECT sum(tf) AS n FROM tf),
         t AS (SELECT grp, n_g,
                      CAST(((CAST(tf + 1 AS DOUBLE) / CAST(n_g + 4096 AS DOUBLE)) *
                        (round(ln(CAST(tf + 1 AS DOUBLE) / CAST(n_g + 4096 AS DOUBLE)), 8) -
                         round(ln(CAST(c_t + 1 AS DOUBLE) / CAST(n + 4096 AS DOUBLE)), 8)))
                        AS DECIMAL(28,12)) AS term
               FROM c CROSS JOIN n)
         SELECT grp AS source,
                CAST(max(n_g) AS BIGINT) AS n_tok,
                CAST(count(*) AS BIGINT) AS n_distinct,
                round(CAST(CAST(sum(term) AS DECIMAL(28,12)) AS DOUBLE), 6)
                  + CAST(0.0 AS DOUBLE) AS kl
         FROM t GROUP BY 1 ORDER BY ALL NULLS FIRST""",

    // Rebuilds the typography mess from chr() codes and replays the
    // identical translate (shorter to-string deletes ZWSP on both
    // engines) + control-class + \s-collapse chain. Both engines'
    // length() counts these BMP chars identically (UTF-16 units =
    // codepoints here).
    "q116_normalize_text" ->
      """WITH m AS (SELECT doc_id,
             (CASE WHEN doc_id % 2 = 0
                   THEN chr(8220) || 'q' || chr(8221) || '  ' ELSE '' END) ||
             array_to_string(list_slice(str_split(text, ' '), 1, 5), ' ') ||
             (CASE WHEN doc_id % 3 = 0
                   THEN ' x' || chr(8211) || 'y' || chr(8212) || 'z' ELSE '' END) ||
             (CASE WHEN doc_id % 5 = 0
                   THEN chr(160) || 'nb' || chr(160) ELSE '' END) ||
             (CASE WHEN doc_id % 7 = 0
                   THEN chr(9) || 'ctl' || chr(11) ELSE '' END) ||
             (CASE WHEN doc_id % 4 = 0
                   THEN '  sp' || chr(8216) || 's' || chr(8217) || '  ' ELSE '' END) ||
             (CASE WHEN doc_id % 11 = 0
                   THEN chr(8203) || 'zw' ELSE '' END) AS messy
           FROM documents)
         SELECT doc_id,
                CAST(length(messy) AS BIGINT) AS n_raw,
                trim(regexp_replace(regexp_replace(
                  translate(messy,
                    chr(8216) || chr(8217) || chr(8220) || chr(8221) ||
                    chr(8211) || chr(8212) || chr(160) || chr(8203),
                    chr(39) || chr(39) || '""-- '),
                  '[\x00-\x1f\x7f]', ' ', 'g'),
                  '\s+', ' ', 'g')) AS clean_text,
                CAST(length(trim(regexp_replace(regexp_replace(
                  translate(messy,
                    chr(8216) || chr(8217) || chr(8220) || chr(8221) ||
                    chr(8211) || chr(8212) || chr(160) || chr(8203),
                    chr(39) || chr(39) || '""-- '),
                  '[\x00-\x1f\x7f]', ' ', 'g'),
                  '\s+', ' ', 'g'))) AS BIGINT) AS n_clean
         FROM m ORDER BY ALL NULLS FIRST""",

    // JM-interpolated bigram LM: same single-tf-table derivation (window
    // sums for cb/c1/c2, 1-row N), CAST(0.75/0.25 AS DOUBLE) forces
    // double interpolation (binary-exact λ), round-8 ln + DECIMAL doc
    // sums (q97 technique).
    "q115_bigram_logprob" ->
      """WITH d AS (SELECT doc_id, str_split(text, ' ') AS toks FROM documents),
         bgr AS (SELECT doc_id,
                        unnest(list_transform(range(1, len(toks)),
                          i -> toks[i] || '_' || toks[i + 1])) AS bg
                 FROM d),
         tf AS (SELECT doc_id, bg, count(*) AS tf FROM bgr GROUP BY 1, 2),
         x AS (SELECT *, str_split(bg, '_')[1] AS w1,
                      str_split(bg, '_')[-1] AS w2 FROM tf),
         c AS (SELECT *, sum(tf) OVER (PARTITION BY bg) AS cb,
                      sum(tf) OVER (PARTITION BY w1) AS c1,
                      sum(tf) OVER (PARTITION BY w2) AS c2 FROM x),
         n AS (SELECT sum(tf) AS n FROM tf),
         l AS (SELECT doc_id, tf,
                      round(ln(CAST(0.75 AS DOUBLE) *
                               (CAST(cb AS DOUBLE) / CAST(c1 AS DOUBLE)) +
                               CAST(0.25 AS DOUBLE) *
                               (CAST(c2 AS DOUBLE) / CAST(n AS DOUBLE))), 8) AS lp
               FROM c CROSS JOIN n),
         s AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_big,
                      round(CAST(CAST(sum(CAST(tf * lp AS DECIMAL(28,8)))
                                      AS DECIMAL(28,8)) AS DOUBLE)
                            / sum(tf), 6) AS mean_logprob
               FROM l GROUP BY 1)
         SELECT doc_id, n_big, mean_logprob,
                mean_logprob >= -3.4 AS keep
         FROM s ORDER BY ALL NULLS FIRST""",

    "q96_domain_filter" ->
      s"""WITH d AS (SELECT doc_id, source,
                           'https://' || source || '.example.org/docs/'
                             || CAST(doc_id AS VARCHAR) AS url
                    FROM documents),
         h AS (SELECT *, lower(regexp_extract(url,
                 '${graft.operators.Cleaning.HostRe}', 1)) AS host
               FROM d),
         b(domain) AS (VALUES ('src3.example.org'), ('src7.example.org'),
                              ('src15.example.org'))
         SELECT doc_id, source, url, host FROM h
         WHERE host NOT IN (SELECT domain FROM b)
         ORDER BY ALL NULLS FIRST""",

    "q95_curation_e2e" ->
      s"""WITH d0 AS (SELECT doc_id,
                             list_filter(str_split(text, ' '), t -> t <> '') AS toks
                      FROM documents),
         c0 AS (SELECT doc_id, toks, len(toks) AS n,
                       (len(toks) + 6) // 7 AS nc FROM d0),
         ps AS (SELECT doc_id,
                       ['subscribe to our newsletter for updates and offers'] ||
                         list_transform(range(0, nc), i ->
                           array_to_string(list_slice(toks, i * 7 + 1,
                             least((i + 1) * 7, n)), ' ')) ||
                         ['all rights reserved contact our support team today'] AS paras
                FROM c0),
         pp AS (SELECT doc_id,
                       generate_subscripts(paras, 1) - 1 AS pos,
                       unnest(paras) AS para
                FROM ps),
         w0 AS (SELECT doc_id, pos, para,
                       row_number() OVER (PARTITION BY md5(para)
                                          ORDER BY doc_id, pos) AS rn
                FROM pp),
         cl AS (SELECT doc_id,
                       array_to_string(list(para ORDER BY pos), ' ') AS text
                FROM w0 WHERE rn = 1 GROUP BY doc_id),
         t AS (SELECT doc_id, text, str_split(text, ' ') AS toks FROM cl),
         m AS (SELECT doc_id, text, toks,
                      CASE WHEN ${hitsSql("en")} >= ${hitsSql("es")} AND ${hitsSql("en")} >= ${hitsSql("de")} THEN 'en'
                           WHEN ${hitsSql("es")} >= ${hitsSql("de")} THEN 'es'
                           ELSE 'de' END AS pred_lang,
                      len(toks) AS n_tok,
                      len(list_distinct(toks)) AS n_distinct,
                      ${hitsSql("en")} AS stop_hits,
                      CASE WHEN len(toks) = 0 THEN 0.0 ELSE
                        round(CAST(list_max(list_transform(list_distinct(toks),
                          x -> len(list_filter(toks, y -> y = x)))) AS DOUBLE)
                          / len(toks), 6) END AS ttf,
                      CASE WHEN len(toks) < 2 THEN 0.0 ELSE
                        round(1.0 - CAST(len(list_distinct(list_transform(range(1, len(toks)),
                          i -> toks[i] || '_' || toks[i+1]))) AS DOUBLE)
                          / (len(toks) - 1), 6) END AS dbf,
                      md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS content_fp
               FROM t),
         q AS (SELECT *, round(0.3 * (n_distinct / n_tok) +
                               0.4 * (stop_hits / n_tok) +
                               0.3 * least(n_tok / 100.0, 1.0), 6) AS quality
               FROM m),
         kept AS (SELECT * FROM q
                  WHERE quality >= 0.35 AND ttf <= 0.12 AND dbf <= 0.06),
         fe AS (SELECT doc_id,
                       unnest(toks || list_transform(range(1, len(toks)),
                         i -> toks[i] || ' ' || toks[i + 1])) AS feat
                FROM kept),
         fb AS (SELECT doc_id,
                       CAST('0x' || substr(md5(feat), 1, 8) AS BIGINT) % 4096 AS bucket
                FROM fe),
         fs AS (SELECT doc_id,
                       CAST(count(*) AS BIGINT) AS n_feats,
                       CAST(sum((bucket * 41 + 7) % 2001 - 1000) AS BIGINT) AS w_sum
                FROM fb GROUP BY doc_id),
         g AS (SELECT doc_id FROM fs
               WHERE round(CAST(w_sum AS DOUBLE) /
                           (CAST(n_feats AS DOUBLE) * CAST(1000000.0 AS DOUBLE)),
                           6) + CAST(0.0 AS DOUBLE) > CAST(0.0 AS DOUBLE)),
         gated AS (SELECT k.* FROM kept k JOIN g USING (doc_id)),
         ded AS (SELECT * FROM gated
                 QUALIFY row_number() OVER (PARTITION BY content_fp
                   ORDER BY doc_id NULLS FIRST) = 1),
         red AS (SELECT doc_id, pred_lang, n_tok, quality,
                        md5(regexp_replace(regexp_replace(regexp_replace(text,
                          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                          '\\b\\d{3}[-. ]\\d{3,4}[-. ]\\d{4}\\b|\\(\\d{3}\\)[-. ]?\\d{3,4}[-. ]\\d{4}\\b', '<PHONE>', 'g'),
                          '\\b\\d{9,}\\b', '<ID>', 'g')) AS text_fp
                 FROM ded),
         p AS (SELECT *,
                      CAST(sum(n_tok) OVER (PARTITION BY pred_lang ORDER BY doc_id
                        ROWS UNBOUNDED PRECEDING) - n_tok AS BIGINT) AS tok_before
               FROM red)
         SELECT doc_id, pred_lang, n_tok, quality, text_fp, tok_before,
                CAST(floor(CAST(tok_before AS DOUBLE) / 512) AS BIGINT) AS seq_id,
                tok_before % 512 AS tok_offset
         FROM p ORDER BY ALL NULLS FIRST""",

    "q94_sequence_packing" ->
      """WITH m AS (SELECT doc_id, lang,
                           len(str_split(text, ' ')) AS n_tok
                    FROM documents),
         p AS (SELECT doc_id, lang, n_tok,
                      CAST(sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                        ROWS UNBOUNDED PRECEDING) - n_tok AS BIGINT) AS tok_before
               FROM m)
         SELECT doc_id, lang, n_tok, tok_before,
                CAST(floor(CAST(tok_before AS DOUBLE) / 512) AS BIGINT) AS seq_id,
                tok_before % 512 AS tok_offset
         FROM p ORDER BY ALL NULLS FIRST""",

    "q91_pii_redaction" ->
      """WITH ann AS (
           SELECT doc_id,
                  text || ' contact user' || CAST(doc_id AS VARCHAR)
                       || '@example.com or call 555-'
                       || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || '-'
                       || lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0')
                       || ' ref ' || CAST(doc_id + 900000000 AS VARCHAR) AS txt
           FROM documents),
         red AS (
           SELECT doc_id, txt,
                  regexp_replace(
                    regexp_replace(
                      regexp_replace(txt,
                        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                        '<EMAIL>', 'g'),
                      '\b\d{3}[-. ]\d{3,4}[-. ]\d{4}\b|\(\d{3}\)[-. ]?\d{3,4}[-. ]\d{4}\b', '<PHONE>', 'g'),
                    '\b\d{9,}\b', '<ID>', 'g') AS redacted
           FROM ann)
         SELECT doc_id,
                len(regexp_extract_all(txt,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
                len(regexp_extract_all(txt, '\b\d{3}[-. ]\d{3,4}[-. ]\d{4}\b|\(\d{3}\)[-. ]?\d{3,4}[-. ]\d{4}\b')) AS n_phone,
                redacted,
                len(regexp_extract_all(redacted, '<ID>')) AS n_id
         FROM red ORDER BY ALL NULLS FIRST""",

    "q57_doc_fingerprint" ->
      """SELECT doc_id,
                md5(text) AS full_fp,
                md5(array_to_string(list_sort(list_distinct(str_split(text, ' '))), ' ')) AS content_fp,
                md5(array_to_string(str_split(text, ' ')[1:16], ' ')) AS prefix_fp,
                CAST('0x' || substr(md5(text), 1, 8) AS BIGINT) % 1024 AS bucket
         FROM documents ORDER BY ALL NULLS FIRST""",

    "q132_bpe_train" -> bpeTrainSql,

    // re-learn the table, then read each word type's FINAL tokenization
    // off the chain's last wrapped form and join it back to the docs;
    // empty-word docs survive via the left join
    "q134_bpe_pipeline" ->
      s"""WITH $bpeTrainChainSql,
          enc AS (SELECT word,
                         CAST(len(str_split(trim(s, '|'), '||')) AS BIGINT)
                           AS n_tok
                  FROM w$BpeTrainLevels),
          docw AS (SELECT doc_id,
                          unnest(regexp_extract_all(lower(text), '[a-z]+'))
                            AS word
                   FROM documents),
          per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
                         CAST(sum(e.n_tok) AS BIGINT) AS n_bpe
                  FROM docw JOIN enc e USING (word) GROUP BY 1)
          SELECT d.doc_id,
                 CAST(coalesce(per.n_words, 0) AS BIGINT) AS n_words,
                 CAST(coalesce(per.n_bpe, 0) AS BIGINT) AS n_bpe
          FROM documents d LEFT JOIN per USING (doc_id)
          ORDER BY ALL NULLS FIRST""",

    "q107_bpe_encode" ->
      s"""WITH w AS (SELECT doc_id,
                            regexp_extract_all(lower(text), '[a-z]+') AS words
                     FROM documents),
          t AS (SELECT doc_id,
                       CAST(len(words) AS BIGINT) AS n_words,
                       flatten(list_transform(words, w -> $bpeWordSql)) AS toks
                FROM w)
          SELECT doc_id, n_words,
                 CAST(len(toks) AS BIGINT) AS n_bpe,
                 array_to_string(toks, ' ') AS bpe_text
          FROM t
          ORDER BY ALL NULLS FIRST""",

    // Weight lookup replayed from the fixture's generating formula
    // ((bucket*41+7)%2001-1000 micro-units) instead of the table join;
    // the only float op is the one final double division + round(6),
    // spelled identically on the Spark side.
    "q109_quality_model" ->
      """WITH d AS (SELECT doc_id,
                           list_filter(str_split(text, ' '), t -> t <> '') AS toks
                    FROM documents),
         f AS (SELECT doc_id,
                      unnest(toks || list_transform(range(1, len(toks)),
                        i -> toks[i] || ' ' || toks[i + 1])) AS feat
               FROM d),
         b AS (SELECT doc_id,
                      CAST('0x' || substr(md5(feat), 1, 8) AS BIGINT) % 4096 AS bucket
               FROM f),
         s AS (SELECT doc_id,
                      CAST(count(*) AS BIGINT) AS n_feats,
                      CAST(sum((bucket * 41 + 7) % 2001 - 1000) AS BIGINT) AS w_sum
               FROM b GROUP BY doc_id),
         t AS (SELECT d.doc_id,
                      coalesce(s.n_feats, 0) AS n_feats,
                      coalesce(s.w_sum, 0) AS w_sum,
                      round(CAST(s.w_sum AS DOUBLE) /
                            (CAST(s.n_feats AS DOUBLE) * CAST(1000000.0 AS DOUBLE)),
                            6) + CAST(0.0 AS DOUBLE) AS logit
               FROM d LEFT JOIN s USING (doc_id))
         SELECT doc_id, n_feats, w_sum, logit,
                CASE WHEN logit > 0 THEN 'keep' ELSE 'drop' END AS label
         FROM t
         ORDER BY ALL NULLS FIRST""",

    "q140_quality_train" -> qualityTrainSql,
    "q160_langid_trained" -> langidTrainedSql,
    // layout, not semantics: the stored weights ARE fitMulticlass
    // output, so q165 replays q160's re-train + score + argmax chain
    "q165_langid_stored" -> langidTrainedSql,
    "q142_bm25_batch" -> bm25BatchSql,

    // IDENTICAL to q142's oracle — the stored layout changes where the
    // batch probe's tf/dl/stats bytes come from, never what BM25
    // scores; a pruning or fan-out defect breaks the per-(qid, doc) hash
    "q173_bm25_stored_batch" -> bm25BatchSql,

    // replays both count tables and the 4-op IEEE ratio chain —
    // (c_ab−δ)/c_a · N/c_b in that exact order, every operand an exact
    // integer cast to double
    "q148_collocations" ->
      s"""WITH d AS MATERIALIZED (
             SELECT str_split(text, ' ') AS toks FROM documents),
         uni AS (SELECT unnest(toks) AS w FROM d),
         uc AS (SELECT w, count(*) AS c FROM uni GROUP BY 1),
         un AS MATERIALIZED (
             SELECT w, c, sum(c) OVER () AS n FROM uc),
         bgr AS (SELECT unnest(list_transform(range(1, len(toks)),
                   i -> toks[i] || '_' || toks[i + 1])) AS bg FROM d),
         bc AS (SELECT bg, count(*) AS c_ab FROM bgr GROUP BY 1),
         bs AS (SELECT str_split(bg, '_')[1] AS wa,
                       str_split(bg, '_')[-1] AS wb, c_ab
                FROM bc WHERE c_ab >= $CollocMinCount)
         SELECT wa, wb, a.c AS c_a, b.c AS c_b, c_ab,
                (CAST(c_ab - $CollocDelta AS DOUBLE) / CAST(a.c AS DOUBLE)) *
                (CAST(a.n AS DOUBLE) / CAST(b.c AS DOUBLE)) AS score
         FROM bs JOIN un a ON wa = a.w JOIN un b ON wb = b.w
         ORDER BY ALL NULLS FIRST""",

    // phrase learning (the q148 chain cut at the threshold) + the full
    // greedy replayed per position: flag, onset, running-max run head,
    // even-offset selection, emit gate, dense renumber
    "q149_phrase_merge" ->
      s"""WITH d AS MATERIALIZED (
             SELECT doc_id, str_split(text, ' ') AS toks FROM documents),
         uni AS (SELECT unnest(toks) AS w FROM d),
         uc AS (SELECT w, count(*) AS c FROM uni GROUP BY 1),
         un AS MATERIALIZED (
             SELECT w, c, sum(c) OVER () AS n FROM uc),
         bgr AS (SELECT unnest(list_transform(range(1, len(toks)),
                   i -> toks[i] || '_' || toks[i + 1])) AS bg FROM d),
         bc AS (SELECT bg, count(*) AS c_ab FROM bgr GROUP BY 1),
         bs AS (SELECT str_split(bg, '_')[1] AS wa,
                       str_split(bg, '_')[-1] AS wb, c_ab
                FROM bc WHERE c_ab >= $CollocMinCount),
         ph AS MATERIALIZED (
             SELECT wa, wb FROM (
               SELECT wa, wb,
                      (CAST(c_ab - $CollocDelta AS DOUBLE) /
                       CAST(a.c AS DOUBLE)) *
                      (CAST(a.n AS DOUBLE) / CAST(b.c AS DOUBLE)) AS score
               FROM bs JOIN un a ON wa = a.w JOIN un b ON wb = b.w)
             WHERE score >= $CollocScoreMin),
         tok AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS pos,
                        toks FROM d),
         tw AS (SELECT doc_id, pos, toks[pos] AS w,
                       lead(toks[pos]) OVER (PARTITION BY doc_id
                                             ORDER BY pos) AS nxt
                FROM tok),
         fl AS (SELECT t.doc_id, t.pos, t.w, t.nxt,
                       (p.wa IS NOT NULL) AS flag
                FROM tw t LEFT JOIN ph p ON t.w = p.wa AND t.nxt = p.wb),
         on1 AS (SELECT *, flag AND NOT coalesce(
                   lag(flag) OVER (PARTITION BY doc_id ORDER BY pos),
                   false) AS onset FROM fl),
         hd AS (SELECT *, max(CASE WHEN onset THEN pos END)
                          OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS UNBOUNDED PRECEDING) AS head FROM on1),
         sl AS (SELECT *, flag AND (pos - head) % 2 = 0 AS sel FROM hd),
         em AS (SELECT *, NOT coalesce(
                   lag(sel) OVER (PARTITION BY doc_id ORDER BY pos),
                   false) AS emit FROM sl)
         SELECT doc_id,
                CAST(row_number() OVER (PARTITION BY doc_id ORDER BY pos)
                     AS INT) AS pos_out,
                CASE WHEN sel THEN w || '_' || nxt ELSE w END AS token
         FROM em WHERE emit
         ORDER BY ALL NULLS FIRST""",

    // the row-local phrase definition itself: every 1-based start s with
    // toks[s] = w0 AND toks[s+1] = w1; engine positions are 0-based
    "q151_phrase_search" ->
      """WITH d AS (SELECT doc_id,
                           list_filter(str_split(text, ' '), t -> t <> '') AS toks
                    FROM documents),
         m AS (SELECT doc_id,
                      list_filter(range(1, len(toks)),
                        s -> toks[s] = 'fast' AND toks[s + 1] = 'table') AS starts
               FROM d)
         SELECT doc_id, CAST(len(starts) AS BIGINT) AS n_matches,
                CAST(list_min(starts) - 1 AS BIGINT) AS first_pos
         FROM m WHERE len(starts) > 0
         ORDER BY ALL NULLS FIRST""",

    // IDENTICAL to q151's oracle — the merged layout changes where the
    // probe's bytes come from, never what the phrase matches; a posting
    // lost or doubled by the segment append changes a match count
    "q176_postings_merge" ->
      """WITH d AS (SELECT doc_id,
                           list_filter(str_split(text, ' '), t -> t <> '') AS toks
                    FROM documents),
         m AS (SELECT doc_id,
                      list_filter(range(1, len(toks)),
                        s -> toks[s] = 'fast' AND toks[s + 1] = 'table') AS starts
               FROM d)
         SELECT doc_id, CAST(len(starts) AS BIGINT) AS n_matches,
                CAST(list_min(starts) - 1 AS BIGINT) AS first_pos
         FROM m WHERE len(starts) > 0
         ORDER BY ALL NULLS FIRST""",

    // the AS-OF phrase probe at the pre-merge generation must be the
    // pre-merge world: q151's replay over the BUILD slice only — the
    // %3=2 postings merged since stay invisible behind the horizon
    "q187_postings_index_asof" ->
      """WITH d AS (SELECT doc_id,
                           list_filter(str_split(text, ' '), t -> t <> '') AS toks
                    FROM documents WHERE doc_id % 3 <> 2),
         m AS (SELECT doc_id,
                      list_filter(range(1, len(toks)),
                        s -> toks[s] = 'fast' AND toks[s + 1] = 'table') AS starts
               FROM d)
         SELECT doc_id, CAST(len(starts) AS BIGINT) AS n_matches,
                CAST(list_min(starts) - 1 AS BIGINT) AS first_pos
         FROM m WHERE len(starts) > 0
         ORDER BY ALL NULLS FIRST""",

    // q151's phrase replay over the COMPLEMENT corpus — the tombstoned
    // postings layout must be indistinguishable from never having
    // indexed the deleted docs
    "q181_postings_delete" ->
      """WITH d AS (SELECT doc_id,
                           list_filter(str_split(text, ' '), t -> t <> '') AS toks
                    FROM documents WHERE doc_id % 7 <> 3),
         m AS (SELECT doc_id,
                      list_filter(range(1, len(toks)),
                        s -> toks[s] = 'fast' AND toks[s + 1] = 'table') AS starts
               FROM d)
         SELECT doc_id, CAST(len(starts) AS BIGINT) AS n_matches,
                CAST(list_min(starts) - 1 AS BIGINT) AS first_pos
         FROM m WHERE len(starts) > 0
         ORDER BY ALL NULLS FIRST""",

    // IDENTICAL to q151's oracle — the stored layout changes where the
    // probe's bytes come from, never what the phrase matches
    "q158_phrase_stored" ->
      """WITH d AS (SELECT doc_id,
                           list_filter(str_split(text, ' '), t -> t <> '') AS toks
                    FROM documents),
         m AS (SELECT doc_id,
                      list_filter(range(1, len(toks)),
                        s -> toks[s] = 'fast' AND toks[s + 1] = 'table') AS starts
               FROM d)
         SELECT doc_id, CAST(len(starts) AS BIGINT) AS n_matches,
                CAST(list_min(starts) - 1 AS BIGINT) AS first_pos
         FROM m WHERE len(starts) > 0
         ORDER BY ALL NULLS FIRST""",
  )

  /** q140's oracle: the quality model RE-TRAINED in SQL. One shared
    * feature CTE (doc, label, bucket — q109's md5 featurization), then
    * each gradient step k unrolls to four CTEs: `m_k` exact BIGINT
    * margins (features ⋈ w_{k-1}), `e_k` hard-sigmoid errors
    * (clamp(floor(margin/4.0)+5e5, 0, 1e6) − y·1e6 — /4.0 and the
    * floor-div below are exact power-of-two double ops on both
    * engines), `g_k` per-bucket BIGINT gradient sums, `w_k` the
    * floor-division update. AS MATERIALIZED throughout — each CTE is
    * referenced twice downstream and DuckDB inlines per reference
    * (the q132 2^N-scan lesson). */
  private lazy val qualityTrainSql: String = {
    val steps = (1 to QualityTrainIters).map { k =>
      s"""m$k AS MATERIALIZED (
            SELECT doc_id, y, CAST(sum(w.w_micro) AS BIGINT) AS margin
            FROM b JOIN w${k - 1} w USING (bucket) GROUP BY doc_id, y),
          e$k AS MATERIALIZED (
            SELECT doc_id,
                   least(greatest(CAST(floor(CAST(margin AS DOUBLE) / 4.0)
                       AS BIGINT) + 500000, 0), 1000000)
                     - y * 1000000 AS e
            FROM m$k),
          g$k AS MATERIALIZED (
            SELECT bucket, CAST(sum(e.e) AS BIGINT) AS g
            FROM b JOIN e$k e USING (doc_id) GROUP BY bucket),
          w$k AS MATERIALIZED (
            SELECT w.bucket,
                   w.w_micro - CAST(floor(CAST(coalesce(g.g, 0) AS DOUBLE)
                     / $QualityTrainLrDen.0) AS BIGINT) AS w_micro
            FROM w${k - 1} w LEFT JOIN g$k g USING (bucket))"""
    }.mkString(",\n")
    s"""WITH d AS (SELECT doc_id,
                          list_filter(str_split(text, ' '), t -> t <> '') AS toks
                   FROM documents),
        lab AS (SELECT doc_id,
                       CASE WHEN len(toks) >= $QualityTrainLabelMin
                            THEN 1 ELSE 0 END AS y,
                       toks
                FROM d),
        f AS (SELECT doc_id, y,
                     unnest(toks || list_transform(range(1, len(toks)),
                       i -> toks[i] || ' ' || toks[i + 1])) AS feat
              FROM lab),
        b AS MATERIALIZED (
          SELECT doc_id, y,
                 CAST('0x' || substr(md5(feat), 1, 8) AS BIGINT)
                   % $QualityTrainBuckets AS bucket
          FROM f),
        w0 AS MATERIALIZED (
          SELECT CAST(unnest(range($QualityTrainBuckets)) AS BIGINT) AS bucket,
                 CAST(0 AS BIGINT) AS w_micro),
        $steps
        SELECT bucket, w_micro FROM w$QualityTrainIters
        ORDER BY ALL NULLS FIRST"""
  }

  /** q160's oracle: FIVE one-vs-rest quality models re-trained in SQL —
    * per class the exact q140 gradient chain (label-free shared feature
    * CTE, labels joined per class at the error step), then per-doc
    * per-class BIGINT scores and the q54 first-wins argmax CASE.
    * AS MATERIALIZED throughout (the q132 2^N-scan lesson). */
  private lazy val langidTrainedSql: String = {
    val classChains = LangidClasses.map { c =>
      val w0 =
        s"""w0_$c AS MATERIALIZED (
              SELECT CAST(unnest(range($LangidBuckets)) AS BIGINT) AS bucket,
                     CAST(0 AS BIGINT) AS w_micro)"""
      val steps = (1 to LangidIters).map { k =>
        s"""m${k}_$c AS MATERIALIZED (
              SELECT doc_id, CAST(sum(w.w_micro) AS BIGINT) AS margin
              FROM b JOIN w${k - 1}_$c w USING (bucket) GROUP BY doc_id),
            e${k}_$c AS MATERIALIZED (
              SELECT m.doc_id,
                     least(greatest(CAST(floor(CAST(margin AS DOUBLE) / 4.0)
                         AS BIGINT) + 500000, 0), 1000000)
                       - (CASE WHEN y.lang = '$c' THEN 1 ELSE 0 END) * 1000000
                         AS e
              FROM m${k}_$c m JOIN y USING (doc_id)),
            g${k}_$c AS MATERIALIZED (
              SELECT bucket, CAST(sum(e.e) AS BIGINT) AS g
              FROM b JOIN e${k}_$c e USING (doc_id) GROUP BY bucket),
            w${k}_$c AS MATERIALIZED (
              SELECT w.bucket,
                     w.w_micro - CAST(floor(CAST(coalesce(g.g, 0) AS DOUBLE)
                       / $LangidLrDen.0) AS BIGINT) AS w_micro
              FROM w${k - 1}_$c w LEFT JOIN g${k}_$c g USING (bucket))"""
      }.mkString(",\n")
      s"$w0,\n$steps"
    }.mkString(",\n")
    val scoreCtes = LangidClasses.map { c =>
      s"""s_$c AS MATERIALIZED (
            SELECT doc_id, CAST(sum(w.w_micro) AS BIGINT) AS s
            FROM b JOIN w${LangidIters}_$c w USING (bucket) GROUP BY 1)"""
    }.mkString(",\n")
    val scoreCols = LangidClasses.map(c => s"s_$c.s AS score_$c").mkString(",\n                ")
    val joins = LangidClasses.map(c => s"LEFT JOIN s_$c USING (doc_id)").mkString("\n              ")
    // the q54 fold: class i wins iff its score >= every LATER class's;
    // a featureless doc (all scores NULL) predicts NULL, guarded first
    // (a NULL CASE condition would otherwise fall through to the ELSE)
    val argmax = {
      val whens = LangidClasses.init.zipWithIndex.map { case (c, i) =>
        val later = LangidClasses.drop(i + 1)
          .map(c2 => s"s_$c.s >= s_$c2.s").mkString(" AND ")
        s"WHEN $later THEN '$c'"
      }.mkString("\n                     ")
      s"""CASE WHEN s_${LangidClasses.head}.s IS NULL THEN NULL
                     $whens
                     ELSE '${LangidClasses.last}' END"""
    }
    s"""WITH d AS (SELECT doc_id, lang,
                          list_filter(str_split(text, ' '), t -> t <> '') AS toks
                   FROM documents),
        f AS (SELECT doc_id,
                     unnest(toks || list_transform(range(1, len(toks)),
                       i -> toks[i] || ' ' || toks[i + 1])) AS feat
              FROM d),
        b AS MATERIALIZED (
          SELECT doc_id,
                 CAST('0x' || substr(md5(feat), 1, 8) AS BIGINT)
                   % $LangidBuckets AS bucket
          FROM f),
        y AS MATERIALIZED (SELECT doc_id, lang FROM d),
        $classChains,
        $scoreCtes
        SELECT d.doc_id, d.lang,
                $scoreCols,
                $argmax AS pred_lang
        FROM d $joins
        ORDER BY ALL NULLS FIRST"""
  }
}
