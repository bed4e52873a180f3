package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Near-duplicate detection — SURVEY §2.9 L1 (seeded by the reference's
  * checksum dedup, dags/scraping_etl.py:51-74 and src/storage.py:108-117,
  * generalized from exact-hash identity to token-set similarity).
  *
  * Three tiers, increasing scale:
  *  - [[jaccardPairs]] — exact all-pairs Jaccard via a token equi-join.
  *    O(sum over tokens of df(t)^2) pairs: correct, but only viable on a
  *    bounded candidate set. This is the oracle-checked form.
  *  - [[minhashSignature]] — per-doc MinHash signatures (k independent
  *    hash permutations approximated by md5(seed||token) minima). Banding
  *    those signatures ([[lshBuckets]]) gives the 100 TB path: candidate
  *    pairs come from equi-joining on (band, band-hash) buckets — a single
  *    shuffle on the bucket key, no quadratic blowup; exact Jaccard is then
  *    re-verified only within buckets.
  *  - [[simhashOf]] — 32-bit SimHash over [[tokenHashes]] for
  *    Hamming-style near-dup.
  *
  * All hash primitives are md5-derived so DuckDB can replay them exactly
  * (engine-portable oracles); xxhash64 is the cheaper swap-in when oracle
  * parity is not needed.
  */
object Dedup {

  /** Distinct (id, token) pairs from a token-array column. */
  def tokens(df: DataFrame, idCol: String, tokensCol: Column): DataFrame =
    df.select(col(idCol), explode(tokensCol).as("token")).distinct()

  /** L1 exact: all-pairs token-set Jaccard ≥ tau over a candidate set.
    * One shuffle for the token join, one for the pair aggregation, one
    * broadcast-friendly join back for sizes. The token frame is reused in
    * three branches but NOT cached here — Spark's exchange reuse covers
    * the shared shuffle, and an operator must not leak pinned blocks into
    * a long-lived session (callers that want caching own it).
    *
    * `maxDfFrac` is the blow-up guard of this operator (SCALE.md's standing
    * rule: every candidate-generation step needs one): the pair join costs
    * Σ over tokens of df(t)², so a token present in most docs makes the
    * join quadratic in corpus size. Tokens with document frequency above
    * `maxDfFrac × |docs|` are dropped BEFORE sizes and intersection — i.e.
    * stop-token removal, mirrored in the oracle — bounding per-token join
    * fan-out the way the LSH bucket cap bounds [[lshCandidates]]. The
    * corpus count is a 1-row aggregate broadcast into the df table (the
    * q71-tfidf pattern), not a driver-side action. */
  def jaccardPairs(df: DataFrame, idCol: String, tokensCol: Column,
                   tau: Double, maxDfFrac: Double = 1.0): DataFrame = {
    val tok = cappedTokens(df, idCol, tokensCol, maxDfFrac)
    // A window-count variant (sizes riding the token stream as a
    // doc-keyed window) was measured in r19 and REJECTED: it inserts an
    // id-keyed exchange of the full token stream ahead of the join's
    // token-keyed exchange — two full-stream shuffles instead of one,
    // and q92's pair stage regressed 2.65 → 3.13 s. The sizes aggregate
    // + join-back onto the (small) pair table stands.
    val sizes = tok.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
    val a = tok.select(col(idCol).as("id_a"), col("token"))
    val b = tok.select(col(idCol).as("id_b"), col("token"))
    val inter = a.join(b, Seq("token")).filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("c"))
    inter
      .join(sizes.select(col(idCol).as("id_a"), col("n").as("n_a")), Seq("id_a"))
      .join(sizes.select(col(idCol).as("id_b"), col("n").as("n_b")), Seq("id_b"))
      .withColumn("jaccard",
        col("c").cast("double") / (col("n_a") + col("n_b") - col("c")))
      .filter(col("jaccard") >= tau)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Shared df-cap prefilter of the distinct (id, token) stream: tokens
    * with document frequency above `maxDfFrac × |docs|` are dropped (the
    * stop-token blow-up guard of [[jaccardPairs]]/[[containmentPairs]]).
    * The df table stays a groupBy (map-side partial aggregation — a
    * corpus-wide stop token must NOT pivot into one window partition
    * before the cap drops it) and the corpus count stays a broadcast
    * 1-row aggregate, never a driver action. */
  private def cappedTokens(df: DataFrame, idCol: String, tokensCol: Column,
                           maxDfFrac: Double): DataFrame = {
    // r20 (guide §3.3 "materialising an intermediate truncates the
    // plan"): the distinct (id, token) stream is referenced by EVERY
    // downstream branch of the pair generators — the df-cap's corpus
    // count and df table here, then sizes and both join sides in the
    // caller — and Catalyst plans each reference as a full re-execution
    // of scan → shingle explode → distinct (q119's static plan carried
    // THREE full token-stream exchanges at ~2 s cumulative each, plus
    // their Generates, before this). One localCheckpoint computes the
    // stream once; all five references read the materialized blocks.
    // This is decision METADATA (id + shingle), never document payloads,
    // and it already crossed token-keyed exchanges whole — materializing
    // it stores the same bytes once instead of recomputing them 3-9x.
    // Blocks are MEMORY_AND_DISK (spill-safe) and freed by the
    // ContextCleaner when the returned plan goes out of scope.
    val raw = tokens(df, idCol, tokensCol).localCheckpoint()
    if (maxDfFrac >= 1.0) raw else {
      // countDistinct excludes a NULL id; callers pass a corpus PK, which
      // is non-null by contract (blank/NULL keys are dropped at C1 before
      // any dedup runs), so the df threshold denominator is exact.
      val total = raw.agg(countDistinct(col(idCol)).cast("double").as("__total"))
      val kept = raw.groupBy(col("token")).agg(count(lit(1)).as("__df"))
        .crossJoin(broadcast(total))
        .filter(col("__df") <= col("__total") * maxDfFrac)
        .select("token")
      // NOT checkpointed a second time: the capped stream's three caller
      // references re-plan only the df-agg + broadcast semi-join over the
      // checkpointed raw blocks, and a second materialization job was
      // measured SLOWER than those replans (q119 1.99 vs 1.90 s, q50
      // 0.53 vs 0.47, q60 0.96 vs 0.91 best-of-4, r20)
      raw.join(kept, Seq("token"))
    }
  }

  /** ASYMMETRIC near-dup: shingle CONTAINMENT pairs — the quote/extract
    * relation symmetric Jaccard misses. A short doc fully contained in a
    * long one (a pull-quote, an excerpt page, a doc + appended chrome)
    * has Jaccard |A∩B|/|A∪B| ≈ |A|/|B| → 0 as the length ratio grows,
    * but containment |A∩B|/min(|A|,|B|) = 1 regardless. Same sparse
    * token-join machinery as [[jaccardPairs]] (same df-cap guard — Σ
    * df(t)² bounds the pair stream); emits both directions so the
    * caller can tell "a inside b" from "b inside a".
    *
    * Output: (id_a, id_b, c_in_a = |∩|/|A|, c_in_b = |∩|/|B|) for pairs
    * with max(c_in_a, c_in_b) ≥ tau, a < b. Shingle sets, not bags —
    * callers pass the [[graft.operators.TextStats.bigrams]]/ngrams
    * column and duplicates within a doc are collapsed here. */
  def containmentPairs(df: DataFrame, idCol: String, tokensCol: Column,
                       tau: Double, maxDfFrac: Double = 1.0): DataFrame = {
    // same shape as [[jaccardPairs]] (see there, incl. the rejected
    // window-count variant): sizes aggregate + join-back onto the small
    // pair table.
    val tok = cappedTokens(df, idCol, tokensCol, maxDfFrac)
    val sizes = tok.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
    val a = tok.select(col(idCol).as("id_a"), col("token"))
    val b = tok.select(col(idCol).as("id_b"), col("token"))
    val inter = a.join(b, Seq("token")).filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("c"))
    inter
      .join(sizes.select(col(idCol).as("id_a"), col("n").as("n_a")), Seq("id_a"))
      .join(sizes.select(col(idCol).as("id_b"), col("n").as("n_b")), Seq("id_b"))
      .withColumn("c_in_a", round(col("c").cast("double") / col("n_a"), 6))
      .withColumn("c_in_b", round(col("c").cast("double") / col("n_b"), 6))
      .filter(greatest(col("c_in_a"), col("c_in_b")) >= tau)
      .select(col("id_a"), col("id_b"), col("c_in_a"), col("c_in_b"))
  }

  /** Engine-portable token hash for permutation `seed`: an 8-hex window
    * of md5((seed/4)||'|'||token) read as an unsigned 32-bit int — one
    * digest serves four seeds (window seed%4), so k=8 signatures cost two
    * md5 evaluations per token, not eight. Seed 0 is the first window of
    * md5('0|'||token), identical to the simple first-8-hex hash. */
  def tokenHash(token: Column, seed: Int): Column =
    graft.functions.HashFunctions.md5Window(
      concat_ws("|", lit((seed / 4).toString), token), seed % 4)

  /** MinHash signature: for each of `k` seeds, the minimum [[tokenHash]]
    * over the doc's tokens. Row-local over the token array — no shuffle. */
  def minhashSignature(tokensCol: Column, k: Int): Column =
    array((0 until k).map { seed =>
      array_min(transform(tokensCol, t => tokenHash(t, seed)))
    }: _*)

  /** LSH banding over a MinHash signature: rows (id, band, bucket-hash).
    * Docs sharing any (band, bucket) are candidate near-dups; joining on
    * these keys replaces the all-pairs join at scale. */
  def lshBuckets(df: DataFrame, idCol: String, sigCol: Column,
                 bands: Int, rowsPerBand: Int): DataFrame =
    df.select(col(idCol), posexplode(
        array((0 until bands).map { b =>
          md5(concat_ws("|",
            (b * rowsPerBand until (b + 1) * rowsPerBand)
              .map(i => element_at(sigCol, i + 1).cast("string")): _*))
        }: _*)).as(Seq("band", "bucket")))

  /** Candidate pairs from LSH buckets, with the load-bearing scale guard:
    * buckets larger than `maxBucketSize` are DROPPED before the self-join.
    * On a homogeneous corpus (boilerplate, templates, tiny vocab) the
    * non-discriminative bands put thousands of docs in one bucket and the
    * within-bucket join goes quadratic — measured: a 10× synthetic corpus
    * produced 9.6e8 candidate pairs uncapped. Oversized buckets mean
    * "these docs are all alike"; route them to exact-dup/clustering
    * handling instead of pairwise comparison. */
  def lshCandidates(buckets: DataFrame, maxBucketSize: Int): DataFrame = {
    val sized = buckets
      .withColumn("__n", count(lit(1))
        .over(org.apache.spark.sql.expressions.Window.partitionBy("band", "bucket")))
      .filter(col("__n") <= maxBucketSize)
      .drop("__n")
    val idCol = sized.columns.filterNot(Set("band", "bucket")).head
    sized.select(col(idCol).as("id_a"), col("band"), col("bucket"))
      .join(sized.select(col(idCol).as("id_b"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Incremental near-dup candidates: a FRESH batch probed against the
    * stored corpus bucket table — the daily-increment form of
    * [[lshCandidates]]. At 100 TB you never re-pair the whole corpus to
    * admit a day's crawl: the state bucket table ((band, bucket) → id) is
    * persisted once (bucketed by (band, bucket) — `sources.Bucketing` —
    * so this probe is a co-located join), and incremental cost is
    * ∝ |fresh|, not |corpus|. Same blow-up guard as the batch form:
    * state buckets over `maxBucketSize` members are dropped — a fresh doc
    * landing in a corpus mega-bucket means "alike to everything", which
    * belongs to exact-dup handling, not pairwise verification.
    *
    * Both inputs are [[lshBuckets]]-shaped (id, band, bucket); returns
    * distinct (id_new, id_old) candidate pairs. */
  def incrementalLshCandidates(state: DataFrame, fresh: DataFrame,
                               maxBucketSize: Int): DataFrame = {
    val sIdCol = state.columns.filterNot(Set("band", "bucket")).head
    val fIdCol = fresh.columns.filterNot(Set("band", "bucket")).head
    val capped = state
      .withColumn("__n", count(lit(1))
        .over(org.apache.spark.sql.expressions.Window.partitionBy("band", "bucket")))
      .filter(col("__n") <= maxBucketSize)
      .select(col(sIdCol).as("id_old"), col("band"), col("bucket"))
    fresh.select(col(fIdCol).as("id_new"), col("band"), col("bucket"))
      .join(capped, Seq("band", "bucket"))
      // a re-ingested doc probes its OWN stored buckets (the normal
      // streaming re-delivery case) — never a near-dup of itself
      .filter(col("id_new") =!= col("id_old"))
      .select("id_new", "id_old").distinct()
  }

  /** Per-token 32-bit hash array — materialize this ONCE (e.g. via
    * `withColumn`) before [[simhashOf]]: the md5 per token is the expensive
    * part, and the 32 per-bit aggregates must reference the computed
    * attribute, not re-evaluate the hash expression 32×. */
  def tokenHashes(tokensCol: Column): Column =
    transform(tokensCol, t => tokenHash(t, 0))

  /** 32-bit SimHash from a precomputed hash array: majority vote per bit
    * position, weighted by token frequency in the doc (ties → 0 bit). */
  def simhashOf(hashes: Column): Column = {
    val bits = (0 until 32).map { i =>
      val vote = aggregate(hashes, lit(0L),
        (acc, h) => acc +
          when(shiftright(h, i).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L))
      when(vote > 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Train/test decontamination — flag training docs whose n-gram sets
    * overlap a held-out corpus (the standard LLM-corpus contamination
    * check: a test n-gram appearing in a training doc means the eval is
    * compromised for that doc).
    *
    * Shape: per-doc DISTINCT gram sets on both sides; the test side
    * collapses to one distinct gram column (the small side — |test grams|,
    * not |test docs × doc length|); one equi-join train-grams × test-grams;
    * one groupBy on the train doc id. Scale guard (standing SCALE.md
    * rule): grams whose TRAIN document frequency exceeds
    * `maxDfFrac × |train|` are dropped from the test set before the join —
    * a gram present in half the corpus is boilerplate, not contamination,
    * and its join fan-out is df_train(g) × df_test(g). The train count is
    * a broadcast 1-row aggregate, never a driver action.
    *
    * Returns flagged train docs: (id, n_overlap, n_grams, frac) where
    * frac = |grams(d) ∩ testGrams| / |grams(d)|, rounded to 6 places,
    * kept when >= minFrac. */
  def decontaminate(train: DataFrame, test: DataFrame, idCol: String,
                    gramsCol: Column, minFrac: Double,
                    maxDfFrac: Double = 0.5): DataFrame = {
    // r19 restructure (same rows out, §2.3/§2.4 of the optimization
    // guide): the TEST gram set is the small side by the operator's own
    // contract (a held-out eval set probing a 100 TB train corpus), so it
    // is BROADCAST into the train gram stream — the train corpus is never
    // shuffled by gram for the probe (the old sort-merge join shuffled
    // every train gram occurrence). Train-side df only matters for grams
    // that are IN the test set (the cap drops test grams that are train
    // boilerplate; df(g) is unchanged by the semi-filter), so the df
    // aggregation runs over the matched stream, not the full corpus.
    // `n_grams` rides the explode (the array size is row-local) instead
    // of a separate spine aggregate joined back.
    val tg = train.select(col(idCol), array_distinct(gramsCol).as("__gs"))
    val trainG = tg.select(col(idCol),
      size(col("__gs")).cast("long").as("n_grams"),
      explode(col("__gs")).as("__g"))
    val testG = test.select(explode(array_distinct(gramsCol)).as("__g")).distinct()
    val nTrain = tg.agg(count(lit(1)).cast("double").as("__n"))
    // r20: the matched stream feeds both the df-cap aggregation and the
    // final per-doc overlap count — two references, each re-executing
    // the full train-corpus explode + broadcast probe. The hits are
    // test-bounded by the operator's contract (a small held-out set
    // probing the corpus), so materializing them once is bounded state;
    // the train corpus is scanned once for the probe (plus the 1-row
    // pruned count for the df denominator).
    val hit = trainG.join(broadcast(testG), Seq("__g")).localCheckpoint()
    val kept = hit.groupBy(col("__g")).agg(count(lit(1)).as("__df"))
      .crossJoin(broadcast(nTrain))
      .filter(col("__df") <= col("__n") * maxDfFrac)
      .select("__g")
    hit.join(broadcast(kept), Seq("__g"))
      .groupBy(col(idCol), col("n_grams")).agg(count(lit(1)).as("n_overlap"))
      .withColumn("frac", round(col("n_overlap") / col("n_grams"), 6))
      .filter(col("frac") >= minFrac)
      .select(col(idCol), col("n_overlap"), col("n_grams"), col("frac"))
  }

  /** Connected components over a near-dup pair graph — the step after
    * candidate pairs that an actual dedup pipeline needs: transitive
    * closure into clusters, then one representative per cluster (min id).
    *
    * Algorithm: min-label propagation with pointer jumping. Each node
    * starts labeled with its own id; every round each node takes the min
    * of its own label and its neighbors' labels, then path-halves by also
    * taking its label's label (labels always point at smaller ids, so the
    * label table doubles as a forest to jump through). Neighbor steps
    * alone converge in O(diameter) rounds; the jump makes it
    * O(log diameter) — the measured difference on the sf0.1 graph's
    * deepest chain. Per round: one equi-join (edges ⋈ labels on the
    * source endpoint) + one groupBy(dst) min + the jump self-join — all
    * key-partitioned shuffles, nothing on the driver except the scalar
    * convergence count (the standard iterate-until-fixpoint driver loop;
    * row data never leaves executors). `localCheckpoint` truncates
    * lineage each round so the plan doesn't grow with iteration count.
    * At 1000-executor scale the same loop holds — the label table is
    * |V| rows however big the corpus, and every step is key-partitioned.
    *
    * `nodes` supplies the full id universe so singletons (docs in no
    * pair) come out as their own cluster. Returns (idCol, cluster,
    * is_rep) with cluster = min reachable id. */
  def clusterPairs(pairs: DataFrame, aCol: String, bCol: String,
                   nodes: DataFrame, idCol: String,
                   maxIter: Int = 20): DataFrame = {
    // materialize the edge list once — it is re-joined every round, and
    // without this the (possibly expensive) pair-generation plan upstream
    // would re-execute per iteration
    val edges = pairs.select(col(aCol).as("__s"), col(bCol).as("__d"))
      .union(pairs.select(col(bCol).as("__s"), col(aCol).as("__d")))
      .localCheckpoint()
    // r19: the loop propagates labels over PAIR-CONNECTED nodes only — a
    // singleton's label is its own id at every round (it has no in-edges
    // and the jump finds nothing), yet the old full-universe label table
    // dragged |V| rows through three joins per round. Near-dup pair
    // graphs are sparse by construction (that is what dedup candidates
    // ARE), so the active set is tiny next to the corpus: at 100 TB the
    // per-round shuffles shrink from corpus-sized to duplicate-sized.
    // The semi-join keeps the label universe ⊆ `nodes` (edge endpoints
    // outside the node universe must stay ignored, exactly as the old
    // inner-join-on-labels shape ignored them); singletons re-attach in
    // one final left join, coalescing to their own id.
    val activeIds = nodes.select(col(idCol).as("__id"))
      .join(edges.select(col("__s").as("__id")).distinct(),
        Seq("__id"), "left_semi")
    var labels = activeIds.select(col("__id"), col("__id").as("__lab"))
      .localCheckpoint()
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIter) {
      val nbMin = edges.join(labels, col("__s") === col("__id"))
        .groupBy(col("__d")).agg(min(col("__lab")).as("__nb"))
      val cand = labels.join(nbMin, col("__id") === col("__d"), "left")
        .select(col("__id"), col("__lab").as("__old"),
          least(col("__lab"), col("__nb")).as("__l1"))
      // one pointer jump per round. A double-jump variant was measured
      // (round 7): the extra in-round join costs MORE than the rounds it
      // saves on realistic pair graphs (near-dup components are shallow
      // — the diameter is small by construction), so single-hop stands.
      val jump = cand.select(col("__id").as("__jid"), col("__l1").as("__jlab"))
      // LAZY checkpoint: the convergence count below is the action that
      // materializes it, so each round runs ONE job (compute + count)
      // instead of two (eager materialize, then count over the cache)
      val next = cand.join(jump, cand("__l1") === jump("__jid"), "left")
        .select(col("__id"), least(col("__l1"), col("__jlab")).as("__lab"),
          col("__old"))
        .localCheckpoint(false)
      changed = next.filter(col("__lab") < col("__old")).count()
      // next is now materialized — free the previous round's pinned
      // blocks instead of waiting for GC
      labels.unpersist()
      labels = next.select(col("__id"), col("__lab"))
      iter += 1
    }
    val lab = coalesce(col("__lab"), col(idCol))
    nodes.select(col(idCol))
      .join(labels.select(col("__id").as(idCol), col("__lab")),
        Seq(idCol), "left")
      .select(col(idCol), lab.as("cluster"),
        (col(idCol) === lab).as("is_rep"))
  }

  /** Live-paragraph METADATA stream: (id, __pos, __h) for each non-blank
    * paragraph — the paragraph text itself stays out of the stream (r19,
    * guide §8 "decide with small rows, move big rows once"): the keep
    * decision needs only the hash, and the rebuild re-derives text
    * row-locally from the spine ([[rebuildFromPositions]]), so the
    * hash-keyed decision exchange carries ~40 bytes/paragraph instead of
    * the paragraph bytes. */
  private def liveParagraphMeta(docs: DataFrame, idCol: String,
                                textCol: String, sep: String): DataFrame =
    docs
      .select(col(idCol), posexplode(
          split(col(textCol), java.util.regex.Pattern.quote(sep)))
        .as(Seq("__pos", "__para")))
      .filter(trim(col("__para")) =!= "")
      .select(col(idCol), col("__pos"), md5(trim(col("__para"))).as("__h"))

  /** Row-local positional rebuild against the doc spine: `kept` is the
    * per-doc surviving-position set ((idCol, __kp array) — duplicate
    * paragraphs only ever REMOVE positions, so it is small next to the
    * corpus and AQE broadcast-joins it when it fits); survivors are
    * re-sliced from the re-split text in position order. Totality comes
    * from the spine left join — a doc with no surviving paragraph (or no
    * live paragraph at all) reassembles to clean_text = "", n_kept = 0.
    * This replaces the r12 flag-based single-scan reassembly, which
    * shuffled every paragraph's TEXT through both the hash window and a
    * corpus-sized collect_list groupBy; the second (projection-pruned)
    * scan + row-local re-split is the cheaper side of that trade at any
    * scale where text dwarfs (id, pos, hash) rows — the q112 rebuild
    * measured the same trade at −29%. */
  private def rebuildFromPositions(docs: DataFrame, idCol: String,
                                   textCol: String, sep: String,
                                   kept: DataFrame,
                                   spine: Boolean): DataFrame = {
    val joined = docs
      .select(col(idCol),
        split(col(textCol), java.util.regex.Pattern.quote(sep)).as("__ps"))
      .join(kept, Seq(idCol), if (spine) "left" else "inner")
    val kp = sort_array(coalesce(col("__kp"), array().cast("array<int>")))
    joined.select(col(idCol),
      array_join(transform(kp, p => element_at(col("__ps"), p + 1)), sep)
        .as("clean_text"),
      size(filter(col("__ps"), p => trim(p) =!= "")).cast("long").as("n_paras"),
      when(col("__kp").isNotNull, size(col("__kp"))).otherwise(lit(0))
        .cast("long").as("n_kept"))
  }

  /** L1, sub-document granularity: cross-document paragraph-level exact
    * dedup — the Lee et al. "Deduplicating Training Data Makes Language
    * Models Better" ExactSubstr modality at paragraph grain. Doc-level
    * dedup (keep-first / MinHash) cannot catch the boilerplate paragraph
    * shared by millions of otherwise-distinct pages; this removes every
    * repeated paragraph from all but its globally-first occurrence and
    * reassembles the surviving text.
    *
    * Shape (r19 — two projection-pruned scans of the input, two
    * METADATA-only key-partitioned exchanges, no driver state): split +
    * posexplode to an (id, pos, hash) stream → keep-first via one
    * row_number window on the paragraph hash → per-doc kept-position
    * sets joined back to the doc spine → row-local positional re-split
    * ([[rebuildFromPositions]]). Paragraph text never enters a shuffle;
    * the r12 single-scan form moved every paragraph's bytes through both
    * the hash window and a corpus-sized collect_list groupBy, which is
    * the wrong side of the §8 payload/proxy trade.
    *
    * Returns one row per input doc: (idCol, clean_text, n_paras, n_kept)
    * — docs whose every paragraph lost keep-first come back with empty
    * text and n_kept = 0, so the caller can thread quality filters on
    * the survival ratio. With `withSpine = false` only SURVIVING docs
    * return, as (idCol, clean_text, n_kept) with n_kept ≥ 1 — the form
    * for callers whose next stage filters emptied docs anyway (q95).
    *
    * Canonicalization is trim-only (md5 of the trimmed paragraph);
    * callers wanting case-/punctuation-insensitive grain pass a
    * pre-normalized text column. md5 keeps the oracle replayable
    * engine-portably (file-wide contract).
    */
  def dedupParagraphs(docs: DataFrame, idCol: String, textCol: String,
                      sep: String, withSpine: Boolean = true): DataFrame =
    if (withSpine) {
      // Totality form: keep-first as ONE row_number window over the
      // paragraph hash, on the METADATA stream only (r19 — see
      // [[liveParagraphMeta]]): the window sorter buffers (id, pos, hash)
      // rows, never paragraph bytes. A mega-duplicated paragraph
      // concentrates only its own occurrences in the (spillable) window
      // sorter — the q112 stance on hash skew. A/B note (r14): the
      // orderBy-free `min(struct)` full-partition window was measured
      // SLOWER here — the unordered window buffers every partition for
      // its two-pass aggregate while row_number streams through the
      // sorter.
      val w = Window.partitionBy(col("__h")).orderBy(col(idCol), col("__pos"))
      val kept = liveParagraphMeta(docs, idCol, textCol, sep)
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .groupBy(col(idCol)).agg(collect_set(col("__pos")).as("__kp"))
      rebuildFromPositions(docs, idCol, textCol, sep, kept, spine = true)
        .select(col(idCol), col("clean_text"), col("n_paras"), col("n_kept"))
    } else {
      // Survivors-only form (q95's flagship stage): `min(struct(id, pos,
      // para))` per hash — the winner row is self-contained, so there is
      // no join back AND no spine: ONE reference of the input, and
      // partial aggregation collapses each hash's occurrences map-side
      // before the shuffle (the W2 keep-first skew argument). This form
      // deliberately does NOT take the withSpine branch's r19
      // metadata-only rebuild: its contract callers (q95) feed an
      // UNMATERIALIZED synthesis DAG, and a second spine reference
      // re-executes that whole subtree — measured +27% on q95 (2.13 →
      // 2.71 s) against the text-shuffle savings. Single-reference
      // stands; only docs with a surviving paragraph return.
      val paras = docs
        .select(col(idCol),
          posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
            .as(Seq("__pos", "__para")))
        .filter(trim(col("__para")) =!= "")
        .withColumn("__h", md5(trim(col("__para"))))
      paras
        .groupBy(col("__h"))
        .agg(min(struct(col(idCol), col("__pos"), col("__para"))).as("__w"))
        .select(col("__w").getField(idCol).as(idCol),
          col("__w").getField("__pos").as("__pos"),
          col("__w").getField("__para").as("__para"))
        .groupBy(col(idCol))
        .agg(count(lit(1)).as("n_kept"),
          array_join(
            transform(sort_array(collect_list(struct(col("__pos"), col("__para")))),
              p => p.getField("__para")), sep).as("clean_text"))
        .select(col(idCol), col("clean_text"), col("n_kept"))
    }

  /** Document-frequency boilerplate removal (the CCNet/C4 rule, the
    * policy complement of [[dedupParagraphs]]): a paragraph appearing in
    * MORE THAN `maxDf` distinct documents is chrome (nav text, cookie
    * banners, footers) and is removed from EVERY document — including
    * the first — while paragraphs under the threshold survive in all
    * their occurrences. Keep-first answers "which copy is canonical?";
    * the df rule answers "is this content at all?" — a real curation
    * DAG wants the df rule for chrome and keep-first for content dups.
    *
    * Shape (r12 single-scan rewrite, VERDICT r11 #2/#6 — the old
    * aggregate-then-anti-join form referenced the paragraph stream twice
    * and scanned the input a third time for the n_paras spine, and
    * exchange reuse cannot deduplicate those subtrees): paragraph
    * explode + md5 (row-local, ONE scan) → df per hash as
    * max(dense_rank(id)) over the hash window — two window functions,
    * one hash shuffle, no join-back — → over-threshold rows flagged (not
    * filtered, so fully-chrome docs stay present) → positional
    * reassembly. A corpus-wide banner concentrates only its own
    * occurrences in the (spillable) window sorter — the q112 hash-skew
    * stance.
    *
    * Returns (idCol, clean_text, n_paras, n_kept). */
  def dropCommonParagraphs(docs: DataFrame, idCol: String, textCol: String,
                           sep: String, maxDf: Long): DataFrame = {
    val byHash = Window.partitionBy(col("__h"))
    val kept = liveParagraphMeta(docs, idCol, textCol, sep)
      // distinct-doc count without count(distinct): ranks are dense over
      // the id order, so the partition max IS the number of distinct ids
      .withColumn("__dr", dense_rank().over(byHash.orderBy(col(idCol))))
      .withColumn("__df", max(col("__dr")).over(byHash))
      .filter(col("__df") <= maxDf)
      .groupBy(col(idCol)).agg(collect_set(col("__pos")).as("__kp"))
    rebuildFromPositions(docs, idCol, textCol, sep, kept, spine = true)
      .select(col(idCol), col("clean_text"), col("n_paras"), col("n_kept"))
  }

  /** Cross-document SUBSTRING-level exact dedup (the Lee et al. 2022
    * "Deduplicating Training Data Makes Language Models Better"
    * modality, re-grained): find every w-token window whose exact text
    * occurs anywhere else in the corpus, keep only its globally-first
    * (id, pos) occurrence, and strip the tokens covered by every other
    * occurrence. Catches the shared boilerplate RUN that paragraph
    * dedup ([[dedupParagraphs]]) misses when the duplicated text
    * doesn't align with paragraph boundaries — overlapping windows
    * (stride 1) make detection position-independent, and coverage
    * merging turns overlapping duplicate windows into maximal removed
    * spans for free (a token survives iff NO duplicate window covers
    * it).
    *
    * GRAIN CONTRACT (measured, SelectionSpec — VERDICT r14 #7): the
    * window grain is a SHARP detection threshold, not an approximation
    * gradient. A duplicated span of g tokens contains a duplicate
    * w-window iff g ≥ w, so spans shorter than `w` are structurally
    * INVISIBLE (measured miss rate 1.0 at every grain 4–7 under w=8)
    * while spans at or above it are FULLY removed (measured 0.0 at
    * grains 8–10) — there is no partial-credit band. Lee et al.'s
    * suffix-array form is exact at every grain; this operator trades
    * that for one-pass distributed hashing, and the trade is entirely
    * in `w`: choose it as the smallest duplicated span that MUST be
    * caught (Lee et al. use 50 tokens for training-data dedup; w=8
    * here only because the test corpus is synthetic and tiny). A finer
    * catch needs a smaller w — costing window-stream volume, never a
    * different plan — not a second pass.
    * [[dedupTokenWindowsIncremental]] (q120) inherits the same
    * contract.
    *
    * Phases (all hash-partitioned, nothing driver-side):
    *  1. window: explode positions 1..n-w+1, hash the w-token slice
    *     (md5 of the space-joined window — engine-portable);
    *  2. losers: ONE row_number window over (hash | id, pos) — a
    *     window's non-first occurrences are exactly the rn > 1 rows.
    *     A groupBy-min winner table (the [[dedupParagraphs]] shape)
    *     would need the window stream JOINED BACK to find losers,
    *     re-executing the whole corpus windowing on the second
    *     reference (the q95 lesson, verified on this operator's
    *     adaptive plan before the rewrite: exchange reuse cannot
    *     deduplicate the two subtrees);
    *  3. coverage: each loser explodes its w covered token positions,
    *     distinct'd to (id, tpos);
    *  4. rebuild: posexplode tokens, LEFT join the covered set on
    *     (id, tpos) as a keep flag (not an anti-join — dropped rows
    *     would lose fully-covered docs, which used to force a third
    *     spine scan), reassemble survivors per doc by position sort.
    *
    * Scale shape: the window stream is ~n_tokens rows (w-gram hashing
    * is row-local) and is computed ONCE; both shuffles key on
    * high-cardinality hashes (no skew pivot — a mega-duplicated window
    * concentrates only its OWN occurrences, and its group buffers in
    * the spillable window sorter); coverage explode is w× on DUPLICATE
    * windows only. The corpus is scanned twice (windows ×1, tokens ×1)
    * — at 100 TB the caller materializes the tokenized input once (the
    * W4 checkpoint handoff) exactly as q92/q103 checkpoint their
    * iteration state.
    *
    * Returns (idCol, clean_text, n_tok, n_kept) for every input doc —
    * fully-covered docs come back empty with n_kept = 0. Totality is
    * flag-based (r12, VERDICT r11 #6): `n_tok` rides alongside the token
    * posexplode_outer (which emits one null-token row for an empty/null
    * token array, keeping the doc present), covered positions mark rows
    * instead of anti-joining them away, and reassembly collects
    * conditionally — no third spine scan of the input. */
  def dedupTokenWindows(docs: DataFrame, idCol: String, toks: Column,
                        w: Int): DataFrame =
    windowDedupCore(docs, idCol, toks, w, known = None)._1

  /** The DISTINCT w-token window hashes of a corpus — the "everything
    * already ingested" side of [[dedupTokenWindowsIncremental]] when the
    * caller derives state from a prior corpus rather than a persisted
    * sink state. One column `__h`. */
  def tokenWindowHashes(docs: DataFrame, idCol: String, toks: Column,
                        w: Int): DataFrame =
    windowStream(docs.select(col(idCol), toks.as("__toks"))
      .withColumn("__n", size(col("__toks"))), idCol, w)
      .select(col("__h")).distinct()

  /** Incremental form of [[dedupTokenWindows]] — the q93 fresh-vs-state
    * shape at substring grain (and the core the streaming
    * [[graft.streaming.StreamingJobs.incrementalWindowBatch]] runs per
    * epoch): dedup `docs` against `known` window hashes IN ADDITION to
    * within-corpus keep-first. A known window strips ALL its occurrences
    * in `docs` (the prior corpus owns the canonical copy); an unknown
    * window keeps its first (id, pos) occurrence exactly as the batch
    * operator does. Cost ∝ |docs| windows + one hash equi-join against
    * `known` — never state × state.
    *
    * Returns (cleaned, novel): `cleaned` is the (idCol, clean_text,
    * n_tok, n_kept) totality output; `novel` is the one-column `__h`
    * table of first-occurrence hashes NOT in `known` — exactly what an
    * incremental caller merges into its state for the next epoch. Both
    * are lazy; a caller wanting only one pays only that plan. */
  def dedupTokenWindowsIncremental(docs: DataFrame, idCol: String,
                                   toks: Column, w: Int,
                                   known: DataFrame): (DataFrame, DataFrame) =
    windowDedupCore(docs, idCol, toks, w,
      Some(known.select(col(known.columns.head).as("__h"))))

  /** (id, pos, hash) stream of overlapping w-token windows. */
  private def windowStream(base: DataFrame, idCol: String, w: Int): DataFrame =
    base
      .filter(col("__n") >= w)
      .select(col(idCol), col("__toks"),
        explode(sequence(lit(1), col("__n") - (w - 1))).as("__pos"))
      .select(col(idCol), col("__pos"),
        md5(array_join(slice(col("__toks"), col("__pos"), lit(w)), " ")).as("__h"))

  private def windowDedupCore(docs: DataFrame, idCol: String, toks: Column,
                              w: Int, known: Option[DataFrame])
      : (DataFrame, DataFrame) = {
    require(w >= 2, s"window must be >= 2 tokens (got $w)")
    val base = docs.select(col(idCol), toks.as("__toks"))
      .withColumn("__n", size(col("__toks")))
    val windows = windowStream(base, idCol, w)
    val byOccurrence = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__h"))
      .orderBy(col(idCol).asc_nulls_first, col("__pos").asc_nulls_first)
    val ranked = windows.withColumn("__rn", row_number().over(byOccurrence))
    val probed = known match {
      case Some(k) => ranked.join(
        k.select(col("__h")).withColumn("__known", lit(true)), Seq("__h"), "left")
      case None => ranked.withColumn("__known", lit(null).cast("boolean"))
    }
    // r19 rebuild (same rows out; guide §2.3 "shuffle keys, not
    // payloads"): covered positions collapse to ONE per-doc set (dup
    // windows only — small by the dedup premise), joined to the docs on
    // the doc key; survivors are then rebuilt ROW-LOCALLY with
    // array_except over the position range (hash-based, O(n_tok +
    // n_cov), left-order-preserving). The old shape posexploded the
    // whole corpus, shuffled every token row by (id, tpos) for the
    // cover-mark join, and re-assembled through a corpus-sized
    // collect_list sort — two full token-stream exchanges and a sort
    // that all disappear; the one remaining exchange carries doc-keyed
    // rows, and AQE broadcast-joins the covered side outright when the
    // dup volume is small. Null/empty token arrays reproduce the old
    // posexplode_outer totality exactly: n_tok = size() (-1 for null),
    // n_kept = 0, clean_text = "".
    val covered = probed
      .filter(col("__rn") > 1 || col("__known").isNotNull)
      .select(col(idCol), explode(sequence(col("__pos"), col("__pos") + (w - 1)))
        .as("__tpos"))
      .groupBy(col(idCol)).agg(collect_set(col("__tpos")).as("__cov"))
    val keptPos = array_except(sequence(lit(1), col("__n")),
      coalesce(col("__cov"), array().cast("array<int>")))
    val cleaned = base.join(covered, Seq(idCol), "left")
      .select(col(idCol),
        when(col("__n") >= 1,
          array_join(transform(keptPos, p => element_at(col("__toks"), p)), " "))
          .otherwise(lit("")).as("clean_text"),
        col("__n").cast("long").as("n_tok"),
        when(col("__n") >= 1, size(keptPos)).otherwise(lit(0))
          .cast("long").as("n_kept"))
    val novel = probed
      .filter(col("__rn") === 1 && col("__known").isNull)
      .select(col("__h")).distinct()
    (cleaned, novel)
  }

  /** Hamming near-dup candidate pairs over a 64-bit perceptual hash
    * (dHash/SimHash family): split the hash into `bands` equal windows
    * and equi-join per band — the q58/q59 LSH shape, never all-pairs.
    * By pigeonhole the candidate set is EXACT for `maxDist` ≤
    * `bands − 1` (a pair within that many bit flips shares at least
    * one untouched band); above that it is the standard multi-index
    * approximation, and the operator's contract (mirrored by the
    * oracle) is band-match AND distance ≤ `maxDist`.
    *
    * `bands` is the CAPACITY knob (SCALE.md round-11): per-band
    * occupancy is corpus ÷ 2^(64/bands), and Σ bucket² turns
    * super-linear once it passes ~1 — at that point move to MORE,
    * NARROWER bands (8×8-bit trades exactness radius for a recall
    * boost at fixed cost) or fewer, wider ones (2×32-bit buys a 2^32
    * band space when the corpus outgrows 2^16). Default 4×16-bit
    * matches the q108 contract. Cost ∝ Σ bucket² — the same occupancy
    * math as the LSH caps; no shuffle beyond the one band join.
    *
    * Output: (a_id, b_id, hamming), a < b, deduped across bands. */
  def hammingPairs(df: DataFrame, idCol: String, hashCol: String,
                   maxDist: Int, bands: Int = 4): DataFrame = {
    require(bands >= 2 && 64 % bands == 0,
      s"bands must divide 64 and be >= 2 (got $bands)")
    val bw = 64 / bands
    val mask = if (bw == 64) -1L else (1L << bw) - 1
    // r20: the hash table is joined against itself (a and b band sides),
    // and each side re-executed the caller's full hash-production plan —
    // for q108 that is the BMP synthesis + graft_dhash decode, measured
    // as TWO ~1.2-1.8 s (cumulative) codegen pipelines over the same
    // rows. Materialize (id, h) once — 16 bytes/row of decision
    // metadata (guide §8: decode the payload once, move hashes) — and
    // band both sides off the checkpointed blocks.
    val banded = df
      .select(col(idCol).as("__id"), col(hashCol).as("__h"))
      .localCheckpoint()
      .select(col("__id"), col("__h"),
        posexplode(array((0 until bands).map(b =>
          shiftrightunsigned(col("__h"), b * bw)
            .bitwiseAND(lit(mask))): _*)).as(Seq("__band", "__bv")))
    val a = banded.select(col("__id").as("a_id"), col("__h").as("__ha"),
      col("__band"), col("__bv"))
    val b = banded.select(col("__id").as("b_id"), col("__h").as("__hb"),
      col("__band"), col("__bv"))
    a.join(b, Seq("__band", "__bv"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        bit_count(col("__ha").bitwiseXOR(col("__hb"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

}
