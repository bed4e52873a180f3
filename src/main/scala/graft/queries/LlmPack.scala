package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Cleaning, Dedup, Multimodal, Similarity, Vocab}

/** LLM-data-pipeline queries — SURVEY §2.9 L1–L4 (BASELINE north star):
  * near-dedup, vector similarity search, multimodal doc-array columns,
  * text analysis. Seeds: the reference's checksum dedup (scraping_etl.py:51-74),
  * the `documentos` array-of-{label,url} column (detail_parser.py:26-62,
  * storage.py:146-147), and its regex text fields.
  *
  * Scale notes per query:
  *  - q50 exact Jaccard runs on a bounded candidate set; the unbounded-corpus
  *    path is MinHash+LSH banding (graft.operators.Dedup) where candidates
  *    come from one shuffle on (band, bucket) — exercised by q54+ and tests.
  *  - q51 brute-force cosine is the correctness baseline; orderBy+limit plans
  *    TakeOrderedAndProject (per-partition top-k). The ANN path is
  *    Similarity.ivfAssign bucket pruning.
  *  - q52/q53 are explode + hash-agg pipelines — shuffle only on group keys.
  */
object LlmPack extends QueryPack {

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // L1: exact token-set Jaccard near-dup pairs over a candidate set,
    // with the df-cap guard in-plan: this corpus's unigram vocab is tiny
    // (31 tokens, max df 44/50 docs), so without the cap the token join is
    // dense — Σ df(t)² ≈ all-pairs. maxDfFrac=0.5 drops near-universal
    // tokens before sizes and intersection (mirrored in the oracle).
    "q50_jaccard_pairs" -> ((s, dir) => Q.ordered(
      Dedup.jaccardPairs(
        Q.t(s, dir, "documents").filter(col("doc_id") % 10 === 0),
        "doc_id", split(col("text"), " "), tau = 0.5, maxDfFrac = 0.5))),

    // L2: the k-means ASSIGNMENT step with driver-visible correctness —
    // every vector to its nearest of the k=4 seed vectors (exactly
    // Similarity.kmeans' seed rule + per-iteration argmin, as one lazy
    // plan: corpus × broadcast-k candidates → groupBy-min). Distances are
    // computed over 1e3-quantized integer components so both engines do
    // EXACT arithmetic (no float-sum association drift can flip an
    // argmin), and (dist, seed) packs into one BIGINT so min() itself is
    // the deterministic tie-break (min dist, then min seed id). The
    // trained-loop twin (Similarity.kmeans) keeps its Spark-side
    // convergence/recall tests; this row pins the assignment semantics
    // against the oracle.
    "q23_kmeans_assign" -> ((s, dir) => Q.ordered {
      val k = 4
      def quant(v: Column): Column =
        transform(v, x => round(x.cast("double") * 1000).cast("long"))
      val vecs = Q.wide(Q.t(s, dir, "embeddings"))
        .select(col("vec_id"), quant(col("embedding")).as("qv"))
      val seeds = Q.t(s, dir, "embeddings").filter(col("vec_id") < k)
        .select(col("vec_id").as("c"), quant(col("embedding")).as("qc"))
      vecs.crossJoin(broadcast(seeds))
        .select(col("vec_id"),
          (aggregate(zip_with(col("qv"), col("qc"), (x, y) => (x - y) * (x - y)),
            lit(0L), (s, x) => s + x) * 8 + col("c")).as("packed"))
        .groupBy("vec_id").agg(min("packed").as("p"))
        .select(col("vec_id"), (col("p") % 8).as("cluster"),
          expr("p div 8").as("d_min"))
    }),

    // L4: vocabulary build — top-N tokens by (count DESC, token ASC),
    // contiguous ids. The rank window runs over the bounded top-N, never
    // corpus rows (see operators.Vocab).
    "q24_vocab_topk" -> ((s, dir) => Q.ordered(
      Vocab.build(
        Q.wide(Q.t(s, dir, "documents"))
          .select(explode(split(col("text"), " ")).as("token")),
        "token", n = 500))),

    // L4: sequence encoding — every document as its vocab-id sequence
    // (order-preserving, OOV→0) via a broadcast dictionary join; the
    // text→ids step every training pipeline runs after curation.
    "q25_token_encode" -> ((s, dir) => Q.ordered(Q.jsonArrays {
      val vocab = Vocab.build(
        Q.t(s, dir, "documents")
          .select(explode(split(col("text"), " ")).as("token")),
        "token", n = 500)
      Vocab.encode(
        Q.wide(Q.t(s, dir, "documents")).select(col("doc_id"), col("text")),
        "doc_id", split(col("text"), " "), vocab)
    })),

    // L4: per-source quota sampling — cap each source at its first 20
    // docs (deterministic order), the "source mixing" step that stops one
    // crawl domain from dominating a training corpus. Plans as
    // WindowGroupLimit: partial per-partition top-20 BEFORE the shuffle.
    "q26_source_quota" -> ((s, dir) => Q.ordered(
      Q.t(s, dir, "documents")
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("source")).orderBy(col("doc_id").asc))
          .cast("long"))
        .filter(col("rank") <= 20)
        .select(col("doc_id"), col("source"), col("rank")))),

    // L2: brute-force cosine top-20 against the vec_id=1 query vector.
    "q51_cosine_topk" -> ((s, dir) => Q.ordered(
      Similarity.cosineTopK(
        Q.t(s, dir, "embeddings"), "vec_id", "embedding",
        Q.t(s, dir, "embeddings").filter(col("vec_id") === 1)
          .select(col("embedding").as("qvec")),
        "qvec", k = 20))),

    // L2 hard-negative mining (contrastive training data): per query,
    // the top-10 most-cosine-similar corpus vectors whose LABEL differs
    // — similar-but-irrelevant is what teaches an embedding model its
    // margins. Query batch = 3 vectors, broadcast into one corpus scan
    // (the q51 bounded nested-loop shape); per-query top-k is a rank
    // window (WindowGroupLimit cuts before the shuffle).
    "q153_hard_negatives" -> ((s, dir) => Q.ordered {
      val emb = Q.t(s, dir, "embeddings")
      Similarity.hardNegatives(
        emb, "vec_id", "embedding", "label",
        emb.filter(col("vec_id") < 3).select(
          col("vec_id").as("qid"), col("embedding").as("qvec"),
          col("label").as("qlabel")),
        "qid", "qvec", "qlabel", k = 10)
    }),

    // L2 hard-negative mining at BATCH scale (VERDICT r14 #1): q153's
    // label-disqualified top-k composed with q141's coarse IVF routing —
    // per query only its nprobe nearest buckets' vectors are ranked, so
    // batch mining costs |Q|×bucket instead of |Q|×corpus, and the
    // corpus join is a bucket-key EQUI-join (no nested loop, no
    // whitelist). The oracle replays all three deterministic artifacts:
    // coarse buckets, exact-millionth centroid means, the per-query
    // rounded dot-identity probe ranking — then the disqualified
    // cosine top-k over the probed population only.
    "q155_routed_negatives" -> ((s, dir) => Q.ordered {
      val emb = Q.t(s, dir, "embeddings")
      Similarity.routedNegatives(
        emb, "vec_id", "embedding", "label",
        emb.filter(col("vec_id") < 3).select(
          col("vec_id").as("qid"), col("embedding").as("qvec"),
          col("label").as("qlabel")),
        "qid", "qvec", "qlabel", probeDims = 8, nprobe = 4, k = 10)
    }),

    // q155's STORED twin (VERDICT r15 #7 — q162 probes one query;
    // mining probes a batch): hard-negative mining against the
    // MATERIALIZED bucket-partitioned IVF×PQ layout. Routing is
    // driver-side exact-integer per query over the stored centroid
    // table; the distinct probed-bucket union (≤ centroid count, never
    // |Q|) lands as plan-time PartitionFilters literals, so the ONLY
    // corpus-sized read is the pruned codes scan; the label payload
    // rides the codes layout (written at build time), so
    // disqualification runs in-scan with no base-table join; ranking
    // is ADC distance ascending (the compressed-index trade vs q155's
    // exact cosine — recall A/B in SCALE.md round 16). The oracle replays
    // the q156 assignment + per-query probe ranking, the per-qid ADC
    // tables, and the disqualified DECIMAL-sum top-k.
    "q168_routed_negatives_stored" -> ((s, dir) => Q.ordered {
      val path = graft.sources.Writers.ensureIvfPqIndex(s, dir)
      val emb = Q.t(s, dir, "embeddings")
      Similarity.routedNegativesStored(
        s.read.parquet(s"$path/codes"),
        s.read.parquet(s"$path/codebook"),
        s.read.parquet(s"$path/centroids"),
        "vec_id", "label",
        emb.filter(col("vec_id") < 3).select(
          col("vec_id").as("qid"), col("embedding").as("qvec"),
          col("label").as("qlabel")),
        "qid", "qvec", "qlabel", nprobe = 4, k = 10)
    }),

    // L2 eval: retrieval-quality measurement — the metric primitive the
    // whole tier is tuned against. 8 broadcast query vectors rank the
    // corpus by round-6 cosine (the q51/q153 bounded-batch shape,
    // WindowGroupLimit top-10 per query); relevance = SAME label, the
    // corpus's own ground truth. Per query: first relevant rank (NULL
    // when none reach the top 10), relevant-in-top-10 count, and the
    // same-label population excluding the query itself (the recall
    // denominator) — all exact BIGINTs; MRR / recall@10 are one
    // row-local division the caller applies (Retrieval.rankEval
    // scaladoc: fractional keys cost cross-engine parity).
    "q163_retrieval_eval" -> ((s, dir) => Q.ordered {
      import org.apache.spark.sql.expressions.Window
      import graft.operators.Retrieval
      val emb = Q.wide(Q.t(s, dir, "embeddings"))
      val queries = Q.t(s, dir, "embeddings")
        .filter(col("vec_id") >= 1 && col("vec_id") <= 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
          col("label").as("qlabel"))
      val ranked = emb.crossJoin(broadcast(queries))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("qlabel"), col("vec_id"), col("label"),
          (round(Similarity.cosine(col("embedding"), col("qvec")), 6)
            + lit(0.0)).as("score"))
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("qid"))
            .orderBy(col("score").desc_nulls_last,
              col("vec_id").asc_nulls_first)))
      val ev = Retrieval.rankEval(
        ranked.withColumn("rel", col("label") === col("qlabel")),
        "qid", col("rel"), col("rank"), k = 10, carry = Seq("qlabel"))
      val totals = Q.t(s, dir, "embeddings")
        .groupBy(col("label").as("qlabel"))
        .agg(count(lit(1)).as("__n"))
      ev.join(broadcast(totals), Seq("qlabel"))
        .select(col("qid"), col("first_rel_rank"), col("n_rel_at_k"),
          (col("__n") - lit(1L)).cast("long").as("n_rel_total"))
    }),

    // L3: multimodal doc-ref array (label,url structs) built per row and
    // exploded with position — the reference's `documentos` shape. The
    // third entry is conditional (variable-length collections); src0 rows
    // carry a NULL collection normalized to [] first (C5,
    // reference src/storage.py:146-147) so they explode to zero rows.
    "q52_explode_docs" -> ((s, dir) => Q.ordered {
      def url(suffix: String) =
        concat(lit("https://"), col("source"), lit(".example.com/"),
          col("doc_id").cast("string"), lit(suffix))
      val full = array(
        struct(lit("pdf").as("label"), url(".pdf").as("url")),
        struct(lit("html").as("label"), url(".html").as("url")),
        struct(lit("xml").as("label"), url(".xml").as("url")))
      val documentos = Cleaning.nullToEmptyArray(
        when(col("source") =!= "src0",
          slice(full, lit(1), when(col("n_chars") > 300, 3).otherwise(2))))
      Q.t(s, dir, "documents")
        .select(col("doc_id"), posexplode(documentos).as(Seq("pos", "doc")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          col("doc.label").as("label"), col("doc.url").as("url"))
    }),

    // L2 native-expression variant of q51: the custom codegen DotProduct
    // (graft.functions.DotProduct) instead of aggregate/zip_with — same
    // semantics bit-for-bit, so the same oracle applies; the bench delta
    // between q51 and q65 measures the codegen win.
    "q65_cosine_topk_native" -> ((s, dir) => Q.ordered {
      val q = Q.t(s, dir, "embeddings").filter(col("vec_id") === 1)
        .select(col("embedding").as("qvec"))
      Q.t(s, dir, "embeddings").crossJoin(broadcast(q))
        .select(col("vec_id"),
          round(graft.functions.VectorFunctions.cosineNative(
            col("embedding"), col("qvec")), 6).as("score"))
        .orderBy(col("score").desc_nulls_last, col("vec_id").asc_nulls_first)
        .limit(20)
    }),

    // L3: multimodal binary-column pipeline — synthesize opaque payloads,
    // decode in bounded batches (stub decoder), emit fixed-dim features.
    // No DuckDB oracle (binary + foreign decode): driver rows-only check;
    // full behavior covered by MultimodalSpec.
    "q62_multimodal_decode" -> ((s, dir) => Q.ordered(
      Multimodal.decodeBatched(
        Multimodal.synthesizeMedia(Q.t(s, dir, "documents")),
        new Multimodal.ByteHistogramDecoder())
        .withColumn("hdr", graft.functions.ImageFunctions.imageMeta(col("payload")))
        .withColumn("ahdr", graft.functions.ImageFunctions.anyAudioMeta(col("payload")))
        .withColumn("vhdr", graft.functions.ImageFunctions.anyVideoMeta(col("payload")))
        .select(col("media_id"), col("kind"), col("ok"), col("n_frames"),
          round(element_at(col("features"), 1).cast("double"), 6).as("f0"),
          // REAL container-header parses (native image_dims / wav_info /
          // mp4_info / mkv_info / mkv_audio_info expressions): image
          // rows carry a genuine PNG header, audio rows alternate
          // RIFF/WAVE and WebM audio, video rows MP4 ftyp+moov and WebM
          // video (anyAudioMeta / anyVideoMeta coalesce per modality) —
          // each kind's metadata must round-trip the synthesized meta
          // and every foreign payload parses to NULL, not garbage
          col("hdr.format").as("hdr_format"),
          col("hdr.width").as("hdr_w"),
          col("hdr.height").as("hdr_h"),
          col("ahdr.sample_rate").as("hdr_sr"),
          col("ahdr.duration_ms").as("hdr_dur"),
          col("vhdr.width").as("hdr_vw"),
          col("vhdr.height").as("hdr_vh"),
          col("vhdr.duration_ms").as("hdr_vdur")))),

    // L3 oracle-checked twin of q62: the container-header parses ONLY.
    // synthesizeMedia's meta is pure arithmetic over n_chars, so DuckDB
    // can recompute the expected values independently — the Spark side
    // must recover them by PARSING the synthesized PNG/WAV/WebM/FLAC/
    // OGG/MP4 binary payloads with the native expressions. A parser bug
    // (or a header-synthesis bug) breaks the hash match; q62 keeps the
    // rows-only decode-stub composition.
    "q100_media_meta" -> ((s, dir) => Q.ordered(
      Multimodal.synthesizeMedia(Q.t(s, dir, "documents"))
        .withColumn("hdr", graft.functions.ImageFunctions.imageMeta(col("payload")))
        .withColumn("ahdr", graft.functions.ImageFunctions.anyAudioMeta(col("payload")))
        .withColumn("vhdr", graft.functions.ImageFunctions.anyVideoMeta(col("payload")))
        .select(col("media_id"), col("kind"),
          col("hdr.format").as("img_format"),
          col("hdr.width").as("img_w"),
          col("hdr.height").as("img_h"),
          col("ahdr.sample_rate").as("sample_rate"),
          col("ahdr.duration_ms").as("audio_ms"),
          col("vhdr.width").as("vid_w"),
          col("vhdr.height").as("vid_h"),
          col("vhdr.duration_ms").as("video_ms")))),

    // L3: PDF structure parse (VERDICT r15 #5 + r16 #3 — the one
    // container the reference actually stores: detail pages harvest
    // `.pdf` documentos, detail_parser.py:97-119). synthesizePdfs
    // builds COMPLETE PDFs from column math in BOTH eras — even
    // doc_ids a classic xref TABLE, odd doc_ids a PDF 1.5+ xref
    // STREAM (/Type/XRef, W[1 2 2] binary entries; fixed-width fields
    // make every offset a byte-exact constant); the Spark side must
    // recover version + page count by WALKING whichever structure is
    // present (header → startxref → table-or-stream → /Root → catalog
    // /Pages → /Count — graft_pdf_info; FlateDecode/PNG-predictor/
    // ObjStm variants are MultimodalSpec goldens, deflate bytes not
    // being column-replayable). Every 10th payload is truncated
    // mid-body: the walk fails bounds-checked and yields NULL, the
    // corrupt-bytes contract of the whole L3 family, oracle-checked
    // here rather than spec-only. The oracle is the q100 arithmetic
    // twin: version/pages recomputed from the generating formulas —
    // identical for both eras, so a stream-walk defect breaks half
    // the corpus's hash.
    "q167_pdf_meta" -> ((s, dir) => Q.ordered {
      val pdfs = Multimodal.synthesizePdfs(Q.t(s, dir, "documents"))
      val payload = when(col("pdf_id") % 10 === 7,
        substring(col("payload"), 1, 40)).otherwise(col("payload"))
      pdfs
        .withColumn("hdr", graft.functions.ImageFunctions.pdfMeta(payload))
        .select(col("pdf_id"),
          col("hdr.version").as("pdf_version"),
          col("hdr.pages").as("n_pages"))
    }),

    // W3: final-sink JSONB wrap (reference src/storage.py:146-147) — the
    // documentos array serialized to a JSON string column, NULL → '[]'.
    // Spark's and DuckDB's compact to_json formats agree byte-for-byte.
    "q67_jsonb_wrap" -> ((s, dir) => Q.ordered {
      def url(suffix: String) =
        concat(lit("https://"), col("source"), lit(".example.com/"),
          col("doc_id").cast("string"), lit(suffix))
      val full = array(
        struct(lit("pdf").as("label"), url(".pdf").as("url")),
        struct(lit("html").as("label"), url(".html").as("url")),
        struct(lit("xml").as("label"), url(".xml").as("url")))
      val documentos = Cleaning.nullToEmptyArray(
        when(col("source") =!= "src0",
          slice(full, lit(1), when(col("n_chars") > 300, 3).otherwise(2))))
      Q.t(s, dir, "documents")
        .select(col("doc_id"), to_json(documentos).as("documentos_json"))
    }),

    // L4: RAG/embedding-ingestion chunking — overlapping token windows
    // (size 32, stride 16 → 50% overlap so a boundary-straddling fact
    // stays intact in one chunk), trailing partials kept, map-only
    // (per-row sequence explode, zero shuffles — PlanLint budget 0).
    // The chunk rows are what q51/q86's embedding path indexes.
    "q124_rag_chunks" -> ((s, dir) => Q.ordered {
      graft.operators.Packing.slidingChunks(
        Q.wide(Q.t(s, dir, "documents")),
        col("doc_id"),
        filter(split(col("text"), " "), t => t =!= ""),
        chunkSize = 32, stride = 16)
    }),

    // L4: per-language token statistics — top-5 terms by frequency.
    "q53_token_stats" -> ((s, dir) => Q.ordered(
      Q.t(s, dir, "documents")
        .select(col("lang"), explode(split(col("text"), " ")).as("token"))
        .groupBy(col("lang"), col("token")).agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("lang"))
            .orderBy(col("cnt").desc_nulls_last, col("token").asc_nulls_first)))
        .filter(col("rn") <= 5))),
  )

  override val oracleSql: Map[String, String] = Map(
    "q124_rag_chunks" ->
      """WITH d AS (SELECT doc_id,
                           list_filter(str_split(text, ' '), t -> t <> '') AS toks
                    FROM documents),
         s AS (SELECT doc_id, toks,
                      unnest(generate_series(0, len(toks) - 1, 16)) AS start
               FROM d)
         SELECT doc_id,
                CAST(start // 16 AS INT) AS chunk_id,
                array_to_string(list_slice(toks, start + 1, start + 32), ' ')
                  AS chunk,
                CAST(least(32, len(toks) - start) AS INT) AS n_chunk_toks
         FROM s
         ORDER BY ALL NULLS FIRST""",

    "q50_jaccard_pairs" ->
      """WITH cand AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
         tok AS (SELECT DISTINCT doc_id, unnest(str_split(text, ' ')) AS token FROM cand),
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
         WHERE CAST(i.c AS DOUBLE) / (sa.n + sb.n - i.c) >= 0.5
         ORDER BY ALL NULLS FIRST""",

    "q24_vocab_topk" ->
      """WITH tok AS (SELECT unnest(str_split(text, ' ')) AS token FROM documents),
            c AS (SELECT token, count(*) AS n_tok FROM tok GROUP BY 1),
            v AS (SELECT token, CAST(n_tok AS BIGINT) AS n_tok,
                         CAST(row_number() OVER (ORDER BY n_tok DESC, token ASC) AS BIGINT) AS token_id
                  FROM c ORDER BY n_tok DESC, token ASC LIMIT 500)
         SELECT token, n_tok, token_id FROM v ORDER BY ALL NULLS FIRST""",

    "q25_token_encode" ->
      """WITH tok0 AS (SELECT unnest(str_split(text, ' ')) AS token FROM documents),
            c AS (SELECT token, count(*) AS n_tok FROM tok0 GROUP BY 1),
            v AS (SELECT token,
                         CAST(row_number() OVER (ORDER BY n_tok DESC, token ASC) AS BIGINT) AS token_id
                  FROM c ORDER BY n_tok DESC, token ASC LIMIT 500),
            tok AS (SELECT doc_id, unnest(str_split(text, ' ')) AS token,
                           generate_subscripts(str_split(text, ' '), 1) AS pos
                    FROM documents),
            j AS (SELECT t.doc_id, t.pos, coalesce(v.token_id, 0) AS tid
                  FROM tok t LEFT JOIN v ON t.token = v.token),
            e AS (SELECT doc_id, list(tid ORDER BY pos) AS ids,
                         count(*) AS n_tok
                  FROM j GROUP BY 1)
         SELECT doc_id, to_json(ids)::VARCHAR AS ids, CAST(n_tok AS BIGINT) AS n_tok
         FROM e ORDER BY ALL NULLS FIRST""",

    "q26_source_quota" ->
      """SELECT doc_id, source, rank FROM (
           SELECT doc_id, source,
                  CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id ASC) AS BIGINT) AS rank
           FROM documents)
         WHERE rank <= 20 ORDER BY ALL NULLS FIRST""",

    "q23_kmeans_assign" ->
      """WITH q AS (SELECT vec_id,
                           list_transform(embedding,
                             x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
                    FROM embeddings),
            seeds AS (SELECT vec_id AS c, qv AS qc FROM q WHERE vec_id < 4),
            ql AS (SELECT vec_id, unnest(qv) AS x, generate_subscripts(qv, 1) AS i FROM q),
            sl AS (SELECT c, unnest(qc) AS y, generate_subscripts(qc, 1) AS i FROM seeds),
            d AS (SELECT ql.vec_id, sl.c,
                         CAST(sum((ql.x - sl.y) * (ql.x - sl.y)) AS BIGINT) AS dist
                  FROM ql JOIN sl ON ql.i = sl.i GROUP BY 1, 2),
            a AS (SELECT vec_id, min(dist * 8 + c) AS p FROM d GROUP BY 1)
         SELECT vec_id, CAST(p % 8 AS BIGINT) AS cluster, CAST(p // 8 AS BIGINT) AS d_min
         FROM a ORDER BY ALL NULLS FIRST""",

    "q51_cosine_topk" ->
      """WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 1)
         SELECT * FROM (
           SELECT vec_id,
                  round(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(qvec AS DOUBLE[])) /
                        (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) *
                         sqrt(list_dot_product(CAST(qvec AS DOUBLE[]), CAST(qvec AS DOUBLE[])))), 6) AS score
           FROM embeddings, q
           ORDER BY score DESC NULLS LAST, vec_id ASC
           LIMIT 20)
         ORDER BY ALL NULLS FIRST""",

    // the q51 cosine chain per (query, candidate), label-disqualified,
    // ranked per query; + 0.0 matches the engine's -0.0 guard
    "q153_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qvec, label AS qlabel
                    FROM embeddings WHERE vec_id < 3),
         s AS (SELECT qid, vec_id, label,
                      round(list_dot_product(CAST(embedding AS DOUBLE[]),
                                             CAST(qvec AS DOUBLE[])) /
                            (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                                   CAST(embedding AS DOUBLE[]))) *
                             sqrt(list_dot_product(CAST(qvec AS DOUBLE[]),
                                                   CAST(qvec AS DOUBLE[])))), 6)
                        + CAST(0.0 AS DOUBLE) AS score
               FROM embeddings, q
               WHERE label <> qlabel AND vec_id <> qid),
         r AS (SELECT *, row_number() OVER (PARTITION BY qid
                           ORDER BY score DESC NULLS LAST, vec_id ASC) AS rk
               FROM s)
         SELECT qid, vec_id, label, score FROM r WHERE rk <= 10
         ORDER BY ALL NULLS FIRST""",

    // q141's coarse-bucket + centroid-mean + probe-ranking chain, made
    // PER-QUERY (row_number over qid), then q153's disqualified cosine
    // top-k restricted to each query's probed buckets — a divergence in
    // any routing artifact moves some query's candidate population and
    // breaks the hash
    "q155_routed_negatives" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qvec,
                           label AS qlabel
                    FROM embeddings WHERE vec_id < 3),
         s AS (SELECT vec_id, embedding, label,
                list_reverse_sort(list_transform(range(1, 9), i ->
                  [abs(CAST(embedding[i] AS DOUBLE)),
                   CAST(i AS DOUBLE) * CAST(sign(CAST(embedding[i] AS DOUBLE)) AS DOUBLE)])) AS st
                FROM embeddings),
         e AS (SELECT vec_id, embedding, label,
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
         pd AS (SELECT q.qid, c.bucket,
                       round(list_dot_product(q.qvec, q.qvec)
                             - CAST(2.0 AS DOUBLE) * list_dot_product(q.qvec, c.cm)
                             + list_dot_product(c.cm, c.cm), 8)
                         + CAST(0.0 AS DOUBLE) AS d2
                FROM cmean c, q),
         pr AS (SELECT qid, bucket FROM (
                  SELECT qid, bucket,
                         row_number() OVER (PARTITION BY qid
                             ORDER BY d2 ASC NULLS LAST, bucket ASC) AS r
                  FROM pd) WHERE r <= 4),
         cand AS (SELECT q.qid, e.vec_id, e.label,
                         round(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qvec) /
                               (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                                      CAST(e.embedding AS DOUBLE[]))) *
                                sqrt(list_dot_product(q.qvec, q.qvec))), 6)
                           + CAST(0.0 AS DOUBLE) AS score
                  FROM e JOIN pr ON e.bucket = pr.bucket
                       JOIN q ON pr.qid = q.qid
                  WHERE e.label <> q.qlabel AND e.vec_id <> q.qid),
         r AS (SELECT *, row_number() OVER (PARTITION BY qid
                           ORDER BY score DESC NULLS LAST, vec_id ASC) AS rk
               FROM cand)
         SELECT qid, vec_id, label, score FROM r WHERE rk <= 10
         ORDER BY ALL NULLS FIRST""",

    // the q156 exact-integer assignment over the stored layout's fixed
    // low-id centroids, per-QUERY integer probe ranking, per-qid ADC
    // tables (the q125 dot-identity chain), label/self disqualification,
    // DECIMAL-sum ascending top-10 per query
    "q168_routed_negatives_stored" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qvec,
                           label AS qlabel,
                           list_transform(embedding,
                             x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qq
                    FROM embeddings WHERE vec_id < 3),
         vq AS MATERIALIZED (
             SELECT vec_id, label,
                    list_transform(embedding,
                      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
             FROM embeddings),
         seeds AS (SELECT vec_id AS cid, qv AS cq FROM vq WHERE vec_id < 8),
         sl AS MATERIALIZED (
             SELECT cid, unnest(cq) AS y, generate_subscripts(cq, 1) AS i
             FROM seeds),
         vl AS (SELECT vec_id, unnest(qv) AS x,
                       generate_subscripts(qv, 1) AS i FROM vq),
         dist AS (SELECT vl.vec_id, sl.cid,
                         CAST(sum((vl.x - sl.y) * (vl.x - sl.y)) AS BIGINT) AS d2
                  FROM vl JOIN sl ON vl.i = sl.i GROUP BY 1, 2),
         asg AS MATERIALIZED (
             SELECT vec_id, CAST(min(d2 * 8 + cid) % 8 AS BIGINT) AS bucket
             FROM dist GROUP BY 1),
         ql AS (SELECT qid, unnest(qq) AS x,
                       generate_subscripts(qq, 1) AS i FROM q),
         pd AS (SELECT ql.qid, sl.cid,
                       CAST(sum((ql.x - sl.y) * (ql.x - sl.y)) AS BIGINT) AS d2
                FROM ql JOIN sl ON ql.i = sl.i GROUP BY 1, 2),
         pr AS (SELECT qid, cid FROM (
                  SELECT qid, cid, row_number() OVER (PARTITION BY qid
                           ORDER BY d2 ASC, cid ASC) AS r
                  FROM pd) WHERE r <= 4),
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
         dt AS MATERIALIZED (
             SELECT qs.qid, cb.m, cb.code,
                    round(list_dot_product(qs.qsub, qs.qsub)
                          - CAST(2.0 AS DOUBLE)
                            * list_dot_product(qs.qsub, cb.cmean)
                          + list_dot_product(cb.cmean, cb.cmean), 8)
                      + CAST(0.0 AS DOUBLE) AS d2
             FROM cb JOIN qs ON qs.m = cb.m),
         cand AS (SELECT pr.qid, c.vec_id, v.label, c.m, c.code
                  FROM codes c
                  JOIN asg ON asg.vec_id = c.vec_id
                  JOIN pr ON asg.bucket = pr.cid
                  JOIN vq v ON v.vec_id = c.vec_id
                  JOIN q ON q.qid = pr.qid
                  WHERE v.label <> q.qlabel AND c.vec_id <> q.qid
                    AND c.code IS NOT NULL),
         tot AS (SELECT cand.qid AS qid, vec_id, label,
                        CAST(CAST(sum(CAST(dt.d2 AS DECIMAL(28,8)))
                             AS DECIMAL(28,8)) AS DOUBLE) AS adist
                 FROM cand JOIN dt ON dt.qid = cand.qid
                      AND dt.m = cand.m AND dt.code = cand.code
                 GROUP BY 1, 2, 3),
         r AS (SELECT *, row_number() OVER (PARTITION BY qid
                          ORDER BY adist ASC NULLS LAST, vec_id ASC) AS rk
               FROM tot)
         SELECT qid, vec_id, label, adist FROM r WHERE rk <= 10
         ORDER BY ALL NULLS FIRST""",

    // the q51 cosine rank chain per query, then exact-integer eval:
    // first same-label rank, same-label count in the top 10, and the
    // label population minus the query itself as the recall denominator
    "q163_retrieval_eval" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qvec,
                           label AS qlabel
                    FROM embeddings WHERE vec_id BETWEEN 1 AND 8),
         sc AS (SELECT q.qid, q.qlabel, e.vec_id, e.label,
                       round(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qvec) /
                             (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                                    CAST(e.embedding AS DOUBLE[]))) *
                              sqrt(list_dot_product(q.qvec, q.qvec))), 6)
                         + CAST(0.0 AS DOUBLE) AS score
                FROM embeddings e, q
                WHERE e.vec_id <> q.qid),
         r AS (SELECT *, row_number() OVER (PARTITION BY qid
                         ORDER BY score DESC NULLS LAST, vec_id ASC) AS rank
               FROM sc),
         t AS (SELECT label, count(*) AS n FROM embeddings GROUP BY 1),
         ev AS (SELECT qid, qlabel,
                       CAST(min(CASE WHEN label = qlabel THEN rank END) AS BIGINT)
                         AS first_rel_rank,
                       CAST(sum(CASE WHEN label = qlabel THEN 1 ELSE 0 END) AS BIGINT)
                         AS n_rel_at_k
                FROM r WHERE rank <= 10 GROUP BY 1, 2)
         SELECT ev.qid, ev.first_rel_rank, ev.n_rel_at_k,
                CAST(t.n - 1 AS BIGINT) AS n_rel_total
         FROM ev JOIN t ON t.label = ev.qlabel
         ORDER BY ALL NULLS FIRST""",

    "q65_cosine_topk_native" ->
      """WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 1)
         SELECT * FROM (
           SELECT vec_id,
                  round(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(qvec AS DOUBLE[])) /
                        (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) *
                         sqrt(list_dot_product(CAST(qvec AS DOUBLE[]), CAST(qvec AS DOUBLE[])))), 6) AS score
           FROM embeddings, q
           ORDER BY score DESC NULLS LAST, vec_id ASC
           LIMIT 20)
         ORDER BY ALL NULLS FIRST""",

    "q52_explode_docs" ->
      """WITH u AS (SELECT doc_id, 'https://' || source || '.example.com/' || CAST(doc_id AS VARCHAR) AS base, n_chars
                    FROM documents WHERE source <> 'src0')
         SELECT doc_id, 0 AS pos, 'pdf' AS label, base || '.pdf' AS url FROM u
         UNION ALL
         SELECT doc_id, 1, 'html', base || '.html' FROM u
         UNION ALL
         SELECT doc_id, 2, 'xml', base || '.xml' FROM u WHERE n_chars > 300
         ORDER BY ALL NULLS FIRST""",

    "q67_jsonb_wrap" ->
      """WITH u AS (SELECT doc_id, source, n_chars,
                           'https://' || source || '.example.com/' || CAST(doc_id AS VARCHAR) AS base
                    FROM documents)
         SELECT doc_id,
                to_json(CASE WHEN source <> 'src0' THEN
                          CASE WHEN n_chars > 300
                               THEN [{'label': 'pdf', 'url': base || '.pdf'},
                                     {'label': 'html', 'url': base || '.html'},
                                     {'label': 'xml', 'url': base || '.xml'}]
                               ELSE [{'label': 'pdf', 'url': base || '.pdf'},
                                     {'label': 'html', 'url': base || '.html'}]
                          END
                        ELSE []::STRUCT(label VARCHAR, url VARCHAR)[]
                        END)::VARCHAR AS documentos_json
         FROM u ORDER BY ALL NULLS FIRST""",

    // the arithmetic twin of the Spark side's binary-header PARSE: kind
    // and metadata derive from doc_id/n_chars exactly as synthesizeMedia
    // builds them into the container bytes
    "q100_media_meta" ->
      """SELECT doc_id AS media_id,
                CASE doc_id % 3 WHEN 0 THEN 'image'
                                WHEN 1 THEN 'audio'
                                ELSE 'video' END AS kind,
                CASE WHEN doc_id % 3 = 0 THEN 'png' END AS img_format,
                CASE WHEN doc_id % 3 = 0 THEN CAST(n_chars % 640 + 1 AS INT) END AS img_w,
                CASE WHEN doc_id % 3 = 0 THEN CAST(n_chars % 480 + 1 AS INT) END AS img_h,
                CASE WHEN doc_id % 3 = 1 THEN 16000 END AS sample_rate,
                CASE WHEN doc_id % 3 = 1 THEN CAST(n_chars * 10 AS BIGINT) END AS audio_ms,
                CASE WHEN doc_id % 3 = 2 THEN CAST(n_chars % 640 + 1 AS INT) END AS vid_w,
                CASE WHEN doc_id % 3 = 2 THEN CAST(n_chars % 480 + 1 AS INT) END AS vid_h,
                CASE WHEN doc_id % 3 = 2 THEN CAST(n_chars * 10 AS BIGINT) END AS video_ms
         FROM documents ORDER BY ALL NULLS FIRST""",

    // the arithmetic twin of the Spark side's xref WALK: version and
    // page count derive from doc_id/n_chars exactly as synthesizePdfs
    // writes them into the PDF skeleton; the truncated tenth yields
    // NULLs (the walk can't reach startxref)
    "q167_pdf_meta" ->
      """SELECT doc_id AS pdf_id,
                CASE WHEN doc_id % 10 <> 7
                     THEN '1.' || CAST(doc_id % 5 + 3 AS VARCHAR)
                END AS pdf_version,
                CASE WHEN doc_id % 10 <> 7
                     THEN CAST(n_chars % 900 + 1 AS INT)
                END AS n_pages
         FROM documents ORDER BY ALL NULLS FIRST""",

    "q53_token_stats" ->
      """SELECT lang, token, cnt, rn FROM (
           SELECT lang, token, cnt,
                  row_number() OVER (PARTITION BY lang
                                     ORDER BY cnt DESC NULLS LAST,
                                              token ASC NULLS FIRST) AS rn
           FROM (SELECT lang, token, count(*) AS cnt
                 FROM (SELECT lang, unnest(str_split(text, ' ')) AS token FROM documents)
                 GROUP BY lang, token))
         WHERE rn <= 5 ORDER BY ALL NULLS FIRST""",
  )
}
