package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM training-data pipelines — SURVEY §2.9 L4
  * (seeded by the reference's regex text fields P8–P10 and lang-tagged
  * corpus). Language-ID, quality scoring, token counting, and document
  * fingerprinting — all row-local codegen-friendly built-ins, no UDFs, so
  * they run at full scan speed on any corpus size.
  */
object TextStats {

  /** Number of tokens that belong to a marker/stopword profile. */
  def profileHits(tokens: Column, markers: Seq[String]): Column =
    size(filter(tokens, t => t.isin(markers: _*))).cast("long")

  /** n-gram-heuristic language ID: score each candidate profile by marker
    * hits; highest score wins, ties broken by profile order. */
  def langId(tokens: Column, profiles: Seq[(String, Seq[String])]): Column = {
    val scored = profiles.map { case (lang, markers) =>
      (lang, profileHits(tokens, markers))
    }
    // first profile with score >= all others wins (stable tie-break)
    scored.zipWithIndex.foldRight(lit(scored.last._1)) {
      case (((lang, score), i), acc) =>
        val rest = scored.drop(i + 1).map(_._2)
        if (rest.isEmpty) acc
        else when(rest.map(score >= _).reduce(_ && _), lit(lang)).otherwise(acc)
    }
  }

  /** Whitespace token count. */
  def wsTokenCount(text: Column): Column =
    size(split(text, " ")).cast("long")

  /** BPE-ish regex token count: alnum runs as units. */
  def regexTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[a-z]+|[0-9]+"), lit(0))).cast("long")

  /** Char-length LLM token estimate (~4 chars/token). */
  def estTokenCount(nChars: Column): Column =
    ceil(nChars / lit(4.0)).cast("long")

  /** Exact document fingerprint (full text). */
  def fullFingerprint(text: Column): Column = md5(text)

  /** Canonical text for case/punctuation/whitespace-insensitive exact
    * dedup — the standard normalization pass BEFORE near-dup machinery
    * (two docs differing only in casing, punctuation, or spacing are the
    * same document): lowercase, non-alphanumerics → space, runs of
    * spaces collapsed, trimmed. RE2∩Java-safe regexes so the DuckDB
    * oracle replays it verbatim. Row-local, map-only at any scale. */
  def canonicalText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9 ]", " "), " +", " "))

  /** Order-insensitive content fingerprint: md5 of the sorted distinct
    * token set — stable under token reordering (near-dup prefilter). */
  def contentFingerprint(tokens: Column): Column =
    md5(array_join(sort_array(array_distinct(tokens)), " "))

  /** Prefix fingerprint over the first `n` tokens — the rolling-hash-style
    * fast prefilter (two docs sharing a long prefix hash are candidates). */
  def prefixFingerprint(tokens: Column, n: Int): Column =
    md5(array_join(slice(tokens, 1, n), " "))

  /** Shard bucket from a fingerprint: first 8 hex chars as uint32 mod m. */
  def hashBucket(fingerprint: Column, m: Int): Column =
    (conv(substring(fingerprint, 1, 8), 16, 10).cast("long") % m).cast("long")

  /** Token bigram shingles: w1_w2 pairs (n-gram dedup / LM features). */
  def bigrams(tokens: Column): Column =
    zip_with(
      slice(tokens, lit(1), size(tokens) - 1),
      slice(tokens, lit(2), size(tokens) - 1),
      (a, b) => concat(a, lit("_"), b))

  /** Fraction of all tokens taken by the single most frequent token — the
    * Gopher-style repetition signal (a page that is 30% one token is
    * boilerplate/spam, not prose). Row-local: max frequency = longest
    * equal run of the SORTED array, one aggregate pass after an
    * O(n log n) sort — not the naive distinct×scan form, which is
    * O(d·n) and stalls a task on one pathological 100k-token document.
    * [] → 0.0. */
  def topTokenFrac(tokens: Column): Column = {
    val zero = struct(lit(null).cast("string").as("prev"),
      lit(0L).as("run"), lit(0L).as("best"))
    val best = aggregate(
      array_sort(tokens), zero,
      (acc, x) => {
        val run = when(acc.getField("prev") === x, acc.getField("run") + 1)
          .otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    when(size(tokens) <= 0, lit(0.0))
      .otherwise(round(best.cast("double") / size(tokens), 6))
  }

  /** Fraction of n-grams that are repeats of an earlier n-gram in the same
    * doc (1 − distinct/total) — the Gopher duplicate-n-gram filter. Pass
    * the output of [[bigrams]]/[[ngrams]]; [] → 0.0 (a too-short doc has
    * no repetition evidence, so it is not penalized here — length floors
    * are a separate filter). */
  def dupGramFrac(grams: Column): Column =
    when(size(grams) <= 0, lit(0.0))
      .otherwise(round(
        lit(1.0) - size(array_distinct(grams)).cast("double") / size(grams), 6))

  /** Document text split into trimmed non-empty lines — the unit of the
    * Gopher duplicate-line signals and of intra-document dedup. */
  def lines(text: Column): Column =
    filter(transform(split(text, "\\r?\\n"), l => trim(l)), l => l =!= "")

  /** Corpus-level unigram language-model score per document — the
    * scalable skeleton of perplexity-based quality filtering: the
    * "model" is the corpus's own unigram distribution (one hash
    * aggregation), and each doc scores its mean token log-probability
    * (gibberish and off-distribution docs score low). Same shuffle shape
    * as tf-idf: tf ⋈ token-counts ⋈ broadcast 1-row total. Per-token
    * logs are rounded to 8 places and summed as DECIMAL so both engines
    * agree bit-for-bit (sum-of-double association differs otherwise).
    * Returns (idCol, n_tok, mean_logprob). */
  def unigramLogprob(df: DataFrame, idCol: String, tokensCol: Column): DataFrame = {
    val tok = df.select(col(idCol), explode(tokensCol).as("token"))
    // corpus token count c and total n both derive from the tf table —
    // per-token via a window sum, total via one aggregate over tf —
    // instead of re-exploding the corpus once per statistic (two extra
    // corpus scans + a distinct shuffle + a token join, the q28/q71
    // plan-iteration lesson). r20: the tf table itself is checkpointed —
    // its two references (window stream + 1-row total) re-executed the
    // corpus explode+agg per reference in the static plan (guide §3.3).
    val tf = tok.groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val withC = tf.withColumn("c",
      sum(col("tf")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("token"))))
    val n = tf.agg(sum(col("tf")).as("n"))
    withC.crossJoin(broadcast(n))
      .withColumn("lp", round(log(col("c").cast("double") / col("n")), 8))
      .groupBy(col(idCol))
      .agg(
        sum((col("tf") * col("lp")).cast("decimal(28,8)")).as("s"),
        sum(col("tf")).as("n_tok"))
      .select(col(idCol), col("n_tok"),
        round(col("s").cast("double") / col("n_tok"), 6).as("mean_logprob"))
  }

  /** Per-group distribution drift vs the corpus: KL(p_group ‖ p_corpus)
    * over add-1-smoothed unigram distributions — the ingest monitor
    * that catches a source going off-distribution (spam flood, language
    * flip, template takeover) before any per-doc filter does. One
    * (group, token) tf aggregation; group totals, corpus token counts
    * and the corpus total all derive from it (two window sums + one
    * 1-row broadcast — the q97 derivation lesson); per-term
    * round(ln,8) ratios are DECIMAL-summed per group (engine-exact).
    * Smoothing denominates over `vocab` (pass the corpus-wide distinct
    * token count, or any fixed constant ≥ it — it only needs to be the
    * SAME constant on the oracle side).
    *
    * KL here is Σ_t p_g(t)·(ln p_g(t) − ln p_c(t)) summed over the
    * group's OWN tokens only — the unsmoothed-support form: terms where
    * tf_g = 0 contribute 0, so the per-group sum needs no vocab
    * explode. Nonnegative up to smoothing, 0 for a group that IS the
    * corpus. */
  def sourceDrift(df: DataFrame, groupCol: Column, tokensCol: Column,
                  vocab: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // r20: checkpointed for the same reason as [[unigramLogprob]]'s tf —
    // the window stream and the 1-row total are two references, each
    // re-executing the corpus explode+agg in the static plan
    val tf = df.select(groupCol.as("group"), explode(tokensCol).as("token"))
      .groupBy(col("group"), col("token")).agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val withC = tf
      .withColumn("n_g", sum(col("tf")).over(Window.partitionBy(col("group"))))
      .withColumn("c_t", sum(col("tf")).over(Window.partitionBy(col("token"))))
    val n = tf.agg(sum(col("tf")).as("n"))
    def lp(c: Column, tot: Column): Column =
      round(log((c + lit(1)).cast("double") / (tot + lit(vocab)).cast("double")), 8)
    withC.crossJoin(broadcast(n))
      .withColumn("__pg",
        (col("tf") + lit(1)).cast("double") / (col("n_g") + lit(vocab)).cast("double"))
      .withColumn("__term",
        (col("__pg") * (lp(col("tf"), col("n_g")) - lp(col("c_t"), col("n"))))
          .cast("decimal(28,12)"))
      .groupBy(col("group"))
      .agg(max(col("n_g")).as("n_tok"),
        count(lit(1)).as("n_distinct"),
        sum(col("__term")).cast("decimal(28,12)").as("__s"))
      .select(col("group"), col("n_tok"), col("n_distinct"),
        (round(col("__s").cast("double"), 6) + lit(0.0)).as("kl"))
  }

  /** Interpolated bigram-LM scoring (Jelinek–Mercer): per-doc mean
    * log p(w2|w1) under p = λ·p_ML(w2|w1) + (1−λ)·p_uni(w2), the
    * perplexity-filter upgrade of [[unigramLogprob]] — a repetitive or
    * template page scores HIGH (its bigrams are corpus-frequent), rare
    * garbage scores low; curation gates on the band. λ must be
    * binary-exact (0.75/0.25 here) so the interpolation multiplies
    * identically cross-engine (the lit(1.0−0.85) trap, SKILL.md).
    *
    * Every statistic derives from the ONE (doc, bigram) tf table (the
    * q97 plan lesson — never re-explode the corpus per statistic):
    * bigram count, left-context count c1(w1) (= w1 occurrences as a
    * bigram left, the ML-proper denominator), unigram-interp count
    * c2(w2), each as a window sum over the tf table; total N as a
    * 1-row broadcast. Division/interpolation are pure scalar IEEE
    * (bit-equal cross-engine); ln is round(·,8)-pinned per term and
    * DECIMAL-summed per doc. Docs with < 2 tokens have no bigrams and
    * are absent (this corpus has none). Tokens must not contain '_'
    * (the [[bigrams]] join marker — file-wide contract). */
  def bigramLogprob(df: DataFrame, idCol: String, tokensCol: Column,
                    lam: Double = 0.75): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // r20 (the wave-1 cappedTokens treatment, guide §3.3): the (doc,
    // bigram) tf aggregate feeds c1, c2, N and the scored stream — four
    // references, each re-executing the corpus explode+agg subtree in
    // the static plan. One localCheckpoint of the metadata stream
    // (id, bigram, tf — no document payloads) computes it once.
    val tf = df.select(col(idCol), explode(bigrams(tokensCol)).as("bg"))
      .groupBy(col(idCol), col("bg")).agg(count(lit(1)).as("tf"))
      .withColumn("w1", substring_index(col("bg"), "_", 1))
      .withColumn("w2", substring_index(col("bg"), "_", -1))
      .localCheckpoint()
    // r19 (guide §2.3/§2.4): c1/c2 are UNIGRAM-vocab totals — a groupBy
    // collapses them map-side to vocab-bounded tables that broadcast into
    // the tf stream (the collocations "broadcast the unigram side"
    // stance), where the old per-statistic window sums each re-exchanged
    // AND re-sorted the full (doc, bigram) tf table (measured: 5
    // full-stream exchanges + 3 sorts → 3 exchanges + 1 sort). cb stays
    // a window: the bigram vocabulary is NOT broadcast-bounded at corpus
    // scale, and its window shares the one bg-keyed exchange. N rides
    // the bounded c1 table (Σ c1 = Σ tf — each bigram counts once under
    // its left word).
    val c1 = tf.groupBy(col("w1")).agg(sum(col("tf")).as("c1"))
    val c2 = tf.groupBy(col("w2")).agg(sum(col("tf")).as("c2"))
    val n = c1.agg(sum(col("c1")).as("n"))
    val withC = tf
      .withColumn("cb", sum(col("tf")).over(Window.partitionBy(col("bg"))))
      .join(broadcast(c1), Seq("w1"))
      .join(broadcast(c2), Seq("w2"))
    withC.crossJoin(broadcast(n))
      .withColumn("lp", round(log(
        lit(lam) * (col("cb").cast("double") / col("c1").cast("double")) +
        lit(1.0 - lam) * (col("c2").cast("double") / col("n").cast("double"))), 8))
      .groupBy(col(idCol))
      .agg(sum((col("tf") * col("lp")).cast("decimal(28,8)")).as("s"),
        sum(col("tf")).as("n_big"))
      .select(col(idCol), col("n_big"),
        round(col("s").cast("double") / col("n_big"), 6).as("mean_logprob"))
  }

  /** Word n-grams as '_'-joined strings — [[bigrams]] generalized by
    * zipping n shifted slices (all length `size - n + 1`). Row-local,
    * codegen-friendly; arrays shorter than n yield []. */
  def ngrams(tokens: Column, n: Int): Column = {
    require(n >= 1, s"ngram order must be >= 1, got $n")
    val win = size(tokens) - (n - 1)
    val joined = (1 until n).foldLeft(slice(tokens, lit(1), win)) { (acc, i) =>
      zip_with(acc, slice(tokens, lit(i + 1), win),
        (a, b) => concat(a, lit("_"), b))
    }
    when(size(tokens) >= n, joined).otherwise(array().cast("array<string>"))
  }

  /** Collocation (phrase) mining — the word2vec phrases pass (Mikolov et
    * al. 2013 §4): score each adjacent word pair by
    * `(c(ab) − δ) / c(a) · N / c(b)` — a discounted pointwise-mutual-
    * information RATIO (PMI without the log: same ranking, and the whole
    * rank key stays a fixed 4-op IEEE chain over exact integer counts, so
    * a SQL oracle replays it bit-for-bit; ln is only ~1-ulp portable,
    * SKILL.md). δ discounts rare-pair flukes; pairs below `minCount`
    * never surface. Score > 1 means the pair co-occurs more than
    * independence predicts; the phrase table for [[phraseMerge]] is a
    * threshold cut of this output.
    *
    * Plan shape (r20): ONE map+agg corpus pass — a (w, next) adjacency
    * stream aggregated to a vocabulary²-bounded pair table, materialized
    * once; unigram counts are a second-level aggregation OVER that
    * bounded table (Σ_next), bigram counts are its non-null-next rows.
    * No per-doc windows, no row-position shuffle. N rides the unigram
    * table as a single-partition window (vocab-bounded by definition —
    * the q145 n_candidates shape); the pair scoring joins broadcast the
    * unigram side.
    *
    * Tokens must not contain '_' (the [[bigrams]] marker — file-wide
    * contract). Counts-as-double stays exact below 2^53 per FACTOR (not
    * per product — the ratio form never multiplies two counts).
    * Output: (wa, wb, c_a, c_b, c_ab, score), c_ab >= minCount. */
  def collocations(df: DataFrame, tokensCol: Column, minCount: Long,
                   delta: Long = 2L): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1 (got $minCount)")
    // r20 (guide §2.3 "aggregate before you shuffle"): unigram and bigram
    // counts were TWO corpus explode+agg passes over the same tokens;
    // both now derive from ONE (w, next) adjacency stream — each token
    // occurrence emits exactly one row (next = the following token, null
    // at document end), so
    //   c(w)      = Σ over next of c(w, next)   (exact unigram counts)
    //   c_ab(a,b) = c(a, b) with b non-null     (exact bigram counts)
    // The (w, next) aggregate is vocabulary²-bounded (never data-sized);
    // it is localCheckpoint'ed so the two second-level aggregations read
    // the bounded table instead of re-running the corpus pass — counts
    // identical to [[unigramCounts]]/[[bigramCounts]] for token arrays
    // WITHOUT null elements (TextStatsSpec pins them; the streaming sink
    // keeps using those epoch-additive forms). A null token breaks the
    // identity: bigramCounts folds every pair with a null member into one
    // null bigram, while this stream keeps (null, w) as a wa = null pair
    // and drops (w, null) as a document end. The collocations output is
    // unaffected, since scoreCollocations' inner equi-joins drop null keys.
    val shifted = concat(
      slice(tokensCol, lit(2), greatest(size(tokensCol) - 1, lit(0))),
      array(lit(null).cast("string")))
    val adjacency = when(size(tokensCol) >= 1,
      zip_with(tokensCol, shifted,
        (a, b) => struct(a.as("w"), b.as("next"))))
      .otherwise(array().cast("array<struct<w:string,next:string>>"))
    val pairs = df
      .select(explode(adjacency).as("__p"))
      .select(col("__p.w").as("w"), col("__p.next").as("next"))
      .groupBy(col("w"), col("next")).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val uc = pairs.groupBy(col("w")).agg(sum(col("c")).as("c"))
    val bc = pairs.filter(col("next").isNotNull)
      .select(col("w").as("wa"), col("next").as("wb"), col("c").as("c_ab"))
    scoreCollocations(uc, bc.filter(col("c_ab") >= minCount), delta)
  }

  /** Token occurrence counts `(w, c)` — one map+agg corpus pass. The
    * count half of [[collocations]], exposed so the streaming sink can
    * accumulate epoch contributions (counts are exact and ADDITIVE —
    * vocabulary-bounded state, the sketch-sink family contract). */
  def unigramCounts(df: DataFrame, tokensCol: Column): DataFrame =
    df.select(explode(tokensCol).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))

  /** Adjacent-pair occurrence counts `(wa, wb, c_ab)` — one map+agg
    * corpus pass ([[unigramCounts]]'s pair sibling). */
  def bigramCounts(df: DataFrame, tokensCol: Column): DataFrame =
    df.select(explode(bigrams(tokensCol)).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("c_ab"))
      .select(substring_index(col("bg"), "_", 1).as("wa"),
        substring_index(col("bg"), "_", -1).as("wb"), col("c_ab"))

  /** The scoring half of [[collocations]], over ALREADY-AGGREGATED count
    * tables (`uc` = (w, c), `bc` = (wa, wb, c_ab)) — N rides the
    * vocab-bounded unigram table as a single-partition window, the
    * unigram side broadcasts into both scoring joins, and the score is
    * the fixed 4-op IEEE chain over exact integer counts. */
  def scoreCollocations(uc: DataFrame, bc: DataFrame,
                        delta: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val un = uc.withColumn("n", sum(col("c")).over(Window.partitionBy(lit(1))))
    bc
      .join(broadcast(un.select(col("w").as("wa"), col("c").as("c_a"),
        col("n"))), Seq("wa"))
      .join(broadcast(un.select(col("w").as("wb"), col("c").as("c_b"))),
        Seq("wb"))
      .select(col("wa"), col("wb"), col("c_a"), col("c_b"), col("c_ab"),
        (((col("c_ab") - lit(delta)).cast("double") /
          col("c_a").cast("double")) *
          (col("n").cast("double") / col("c_b").cast("double")))
          .as("score"))
  }

  /** Greedy phrase-merge retokenization — applies a learned phrase table
    * (e.g. a [[collocations]] threshold cut) to a corpus the way
    * word2phrase does: scan each document left to right, merge the first
    * eligible adjacent pair, skip past it, continue — so merges never
    * overlap and a run of consecutively-eligible positions merges at
    * alternate offsets from its head. The vocabulary-building sibling of
    * the BPE APPLY stage (q107 encodes against learned merges;
    * this re-tokenizes against learned phrases).
    *
    * The inherently-sequential greedy is window-algebra, not a loop:
    * within a maximal run of consecutive flagged positions the selected
    * set is exactly {head, head+2, head+4, …}, and the run head of any
    * flagged position p is the LAST flag-onset at or before p — one
    * running `max(case when onset then pos end)` frame. Every window
    * (lead, lag, onset, head, output renumber) shares the single
    * (idCol; pos) partitioning+order, and the emit filter preserves it —
    * ONE keyed exchange end to end (the q144 discipline). The phrase
    * table broadcasts (bounded by the collocation minCount cut:
    * ≤ N/minCount rows).
    *
    * Output: (idCol, pos_out, token) — the retokenized corpus, one row
    * per surviving token, `pos_out` dense 1-based per doc. */
  def phraseMerge(df: DataFrame, idCol: String, tokensCol: Column,
                  phrases: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val runFrame = byDoc.rowsBetween(Window.unboundedPreceding,
      Window.currentRow)
    val tok = df.select(col(idCol), posexplode(tokensCol).as(Seq("p", "w")))
      .select(col(idCol), (col("p") + 1).as("pos"), col("w"))
      .withColumn("nxt", lead(col("w"), 1).over(byDoc))
    val ph = phrases.select(col("wa"), col("wb"), lit(true).as("__ph"))
      .distinct()
    val flagged = tok
      .join(broadcast(ph),
        tok("w") === ph("wa") && tok("nxt") === ph("wb"), "left_outer")
      .select(col(idCol), col("pos"), col("w"), col("nxt"),
        coalesce(col("__ph"), lit(false)).as("flag"))
    val sel = flagged
      .withColumn("onset",
        col("flag") && !coalesce(lag(col("flag"), 1).over(byDoc), lit(false)))
      .withColumn("head",
        max(when(col("onset"), col("pos"))).over(runFrame))
      .withColumn("sel",
        col("flag") && (col("pos") - col("head")) % 2 === 0)
      .withColumn("emit",
        !coalesce(lag(col("sel"), 1).over(byDoc), lit(false)))
    sel.filter(col("emit"))
      .select(col(idCol),
        row_number().over(byDoc).as("pos_out"),
        when(col("sel"), concat(col("w"), lit("_"), col("nxt")))
          .otherwise(col("w")).as("token"))
  }

  /** Per-document tf-idf keyword extraction — the top-k terms that
    * characterize each document (the tagging/labeling pass a curation
    * pipeline runs before routing or faceted search). Score is the
    * ln-FREE idf ratio `tf · N / df` (the q148 discipline: ln is only
    * ~1-ulp portable cross-engine and monotone in the ratio anyway, so
    * the RANKING is identical and the score itself replays exactly —
    * tf·N stays an exact long, one IEEE division is correctly rounded
    * in both engines). Ties break on term asc.
    *
    * Scale shape (the q115 discipline): everything derives from ONE
    * (doc, term) tf table — df as a term-keyed count window over it, N
    * as a bounded 1-row broadcast (its own stats scan, the q28/q71
    * shape) — then one per-doc rank window that plans WindowGroupLimit
    * (partial top-k before the exchange). Two corpus scans (tf +
    * 1-row stats), three keyed exchanges, no data-sized state
    * (PlanLint-pinned via q157).
    *
    * Output: (idCol, term, tf, df, score) for each kept keyword. */
  def tfidfKeywords(docs: DataFrame, idCol: String, toks: Column,
                    k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    import org.apache.spark.sql.expressions.Window
    val n = broadcast(docs.agg(count(lit(1)).as("__n_docs")))
    val tf = docs.select(col(idCol), explode(toks).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    tf
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("term"))))
      .crossJoin(n)
      .withColumn("score",
        (col("tf") * col("__n_docs")).cast("double") / col("df"))
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col(idCol))
          .orderBy(col("score").desc_nulls_last, col("term").asc_nulls_first)))
      .filter(col("__rk") <= k)
      .select(col(idCol), col("term"), col("tf"), col("df"), col("score"))
  }
}
