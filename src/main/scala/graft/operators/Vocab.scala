package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vocabulary building + sequence encoding — the step between curation
  * and training that turns text into token-id sequences (the unigram/
  * word-level skeleton of a BPE pipeline; the reference stops at raw
  * text, SURVEY §2.9 L4 extends here).
  *
  * Scale shape: [[build]] is one hash aggregation over the exploded
  * token stream followed by a top-N — the N-row vocab is bounded by
  * construction, so the final global rank window runs over N rows, never
  * corpus rows. [[encode]] broadcasts that bounded vocab into a map-side
  * left join (no shuffle on the corpus beyond the per-doc regroup), so
  * at 100 TB the corpus streams past an in-memory dictionary — UNLESS
  * the dictionary's estimated size exceeds `maxBroadcastBytes`, in which
  * case the hint is withheld and the lookup plans as a shuffle join (a
  * forced broadcast of an executor-memory-sized dictionary is an OOM,
  * not an optimization — VERDICT r7 #6).
  */
object Vocab {

  /** Top-`n` vocabulary by (count DESC, token ASC — the deterministic
    * tie-break), with contiguous 1-based `token_id` in that order. */
  def build(tokens: DataFrame, tokenCol: String, n: Int): DataFrame = {
    val counted = tokens.groupBy(col(tokenCol).as("token"))
      .agg(count(lit(1)).as("n_tok"))
      .orderBy(col("n_tok").desc, col("token").asc)
      .limit(n)
    // rank window over the already-bounded top-N (<= n rows, one task)
    counted.withColumn("token_id",
      row_number().over(Window.orderBy(col("n_tok").desc, col("token").asc))
        .cast("long"))
  }

  /** Distributed BPE merge-table TRAINING (Sennrich et al. 2016 —
    * learn_bpe's loop; the counterpart of [[graft.functions.BpeTokens]],
    * which only ENCODES with a given table, VERDICT r12 #1). Input is
    * the word-TYPE table `(word, weight)` — the caller aggregates the
    * corpus down to distinct words with counts first, which is the ONE
    * corpus-sized step of BPE training (at 100 TB: one hash aggregation;
    * everything after runs on the bounded type table, exactly how
    * subword-nmt/fastBPE train on `get_vocabulary()` output).
    *
    * RANK-AXIS SCALING (VERDICT r13 #1 — the r13 form re-aggregated
    * every adjacent pair of every type and collected a 1-row argmax PER
    * RANK: a 32k-merge production vocab was ~64k full-table Spark
    * jobs). This form is Sennrich's incremental `get_stats` delta,
    * distributed, plus batched merges — and it is EXACT: the returned
    * table is bit-identical to the sequential loop's (VocabSpec
    * golden-match; the q132/q134 oracles re-learn it rank by rank).
    *
    *  - A driver-side pair-count VIEW holds exact counts for the top
    *    `snapshotSize` pairs (one full aggregation when (re)snapshotted)
    *    plus every pair created since. Counts of pairs outside the view
    *    only ever DECREASE (a new adjacency needs a new symbol, and new
    *    symbols are tracked), so the view's argmax is trustworthy while
    *    its max exceeds the snapshot's cut-off count (`floor`); when a
    *    snapshot captures ALL pairs (ASCII text: ≤ ~26² initial bigrams)
    *    the view is COMPLETE and is maintained exactly forever — the
    *    argmax never runs another full aggregation.
    *  - Per iteration a BATCH of merges is taken from the view: the
    *    SPECULATIVE sorted prefix (count DESC, pair UTF-8 ASC).
    *    [[mergePairs]] chains single-pair folds, so any prefix applies
    *    in exact sequential order — no disjointness requirement; the
    *    prefix stops only at the floor or — in non-complete mode —
    *    after a merge whose output string collides with an earlier
    *    merged symbol, the one case a positive delta could hit an
    *    untracked pair. Batch depth is ADAPTIVE in [1, maxBatch]:
    *    doubled after a fully-validated batch, cut to the validated
    *    prefix after a truncation — Zipfian corpora (big count gaps,
    *    speculation survives) converge to deep batches, tie-dense
    *    corpora (near-uniform counts, SCALE.md round 15's fixtures)
    *    fall back toward per-rank without paying for dead speculation.
    *  - ONE job per batch computes, over AFFECTED types only (those
    *    containing some batch adjacency — a row changed at any step
    *    contains one initially, since batch pairs are made of
    *    pre-batch symbols), the per-STEP pair-count deltas as actual
    *    array diffs: signed adjacent-pairs of state_i vs state_{i-1},
    *    each state a named column computed once, both sides filtered
    *    to pairs touching {x_i, y_i, x_i·y_i} (destroyed pairs touch
    *    x/y, created pairs touch the merged symbol; surviving
    *    bystanders cancel — emitting only the neighborhood keeps the
    *    delta shuffle far under corpus-pair volume). The driver then
    *    VALIDATES the batch sequentially — step i commits only if the
    *    view's argmax (count DESC, pair UTF-8 ASC — Spark's binary
    *    string order, replicated by [[utf8PairLt]]) still equals batch
    *    pair i after applying steps 1..i-1's deltas; a failed step
    *    truncates the batch there (the next iteration re-selects from
    *    the corrected view), so speculation can cost work but never
    *    correctness.
    *  - The committed fold advances `state` and is `localCheckpoint`ed
    *    PER BATCH: an uncommitted fold would otherwise re-execute over
    *    the full type table inside every subsequent delta job (folds
    *    are the per-row cost driver — measured dominant on the 200k-
    *    type fixture of SCALE.md round 15), so each fold runs exactly
    *    once per full-table pass.
    *
    * Jobs: one full aggregation per snapshot (ONE total for alphabetic
    * corpora) + one delta job per batch + checkpoints — versus one
    * full-table aggregation + collect per rank. Per-batch cost shrinks
    * down the Zipf tail with the affected-type count, which is what
    * makes wall-clock sub-linear in ranks (SCALE.md round 15: 10→100
    * rank-axis exponents 0.63 complete, 0.93 non-complete).
    *
    * NON-COMPLETE regime, measured (SCALE.md r15, `bpe-train-cjk` —
    * a 2048-ideograph alphabet whose ~6k realized initial pairs exceed
    * the default snapshot): re-snapshots do NOT accumulate — floor
    * trust held ONE snapshot across 2400 ranks at 68% pair coverage,
    * because the snapshot tail's count sits far below the merge
    * horizon's. Sizing rule: `snapshotSize` ≥ realized initial pair
    * count guarantees complete mode; otherwise size it so the floor
    * count lands well under the counts you'll still be merging —
    * coverage of the UNIVERSE is not required. The regime's measured
    * cost is elsewhere: tie-dense alphabets truncate speculation
    * (rank-axis exponent ~0.93 vs 0.63 complete), governed by
    * `maxBatch`, not snapshots.
    *
    * The learned table is VALID by construction — rank k's components
    * exist before rank k — which is precisely the property
    * [[graft.functions.Bpe]]'s ascending-pass oracle equivalence rests
    * on, so the learned merges feed `bpeTokens` directly (VocabSpec
    * round-trips the corpus through the learned table). Initial symbols
    * are Unicode code points via `bpeTokens(word, Nil)` — the SAME
    * symbolization the encoder starts from. Returns the merge list in
    * rank order; stops early when no adjacent pair remains. */
  def learnBpe(types: DataFrame, word: Column, weight: Column, nMerges: Int,
               snapshotSize: Int = 4096,
               maxBatch: Int = 16): Seq[(String, String)] =
    learnBpeWithStats(types, word, weight, nMerges, snapshotSize, maxBatch)._1

  /** Training-loop observability for [[learnBpe]]: how many FULL
    * type-table pair aggregations ran (`snapshots` — ONE for a corpus
    * whose initial pair universe fits `snapshotSize`, the complete
    * regime; each extra one is the non-complete regime's re-snapshot
    * cost), how many speculative batches committed work, and how many
    * were truncated mid-validation. SCALE.md round 15 reports these for
    * the non-complete regime and derives the snapshotSize sizing rule. */
  final case class BpeStats(snapshots: Int, batches: Int, truncations: Int)

  /** [[learnBpe]] + its [[BpeStats]] — same training, same result. */
  def learnBpeWithStats(types: DataFrame, word: Column, weight: Column,
                        nMerges: Int, snapshotSize: Int = 4096,
                        maxBatch: Int = 16): (Seq[(String, String)], BpeStats) = {
    require(nMerges >= 0, s"nMerges must be >= 0 (got $nMerges)")
    require(snapshotSize >= 1 && maxBatch >= 1)
    // a maxBatch-deep chain of merge stages (each a few nested lambda
    // functions) legitimately needs more analyzer fixpoint passes than
    // the default 100 — resolution cost is per-BATCH-JOB plan depth,
    // bounded by maxBatch, not by nMerges
    val sess = types.sparkSession
    val itKey = "spark.sql.analyzer.maxIterations"
    if (sess.conf.get(itKey, "100").toInt < 400) sess.conf.set(itKey, "400")
    var state = types
      .select(graft.functions.BpeFunctions.bpeTokens(word, Nil).as("syms"),
        weight.cast("long").as("w"))
      .filter(size(col("syms")) >= 2)
      .localCheckpoint()
    val merges = ArrayBuffer.empty[(String, String)]
    val mergedStrings = scala.collection.mutable.Set.empty[String]
    val view = scala.collection.mutable.HashMap.empty[(String, String), Long]
    var complete = false
    var floor = Long.MaxValue // forces the first snapshot
    var lastSnapPair: (String, String) = null
    var needSnapshot = true
    var rank = 0
    var depth = math.min(2, maxBatch) // adaptive speculation depth
    var exhausted = false
    var nSnapshots = 0
    var nBatches = 0
    var nTruncations = 0

    def viewMax: Option[((String, String), Long)] = {
      var best: ((String, String), Long) = null
      view.foreach { e =>
        if (e._2 > 0 && (best == null || e._2 > best._2 ||
          (e._2 == best._2 && utf8PairLt(e._1, best._1)))) best = e
      }
      Option(best)
    }

    // is `pair` at `cnt` certainly the global argmax if it wins the
    // view-side tie-break? Unseen pairs sat at (≤ floor, lex-after the
    // snapshot's LAST row) when snapshotted and only ever decay, so a
    // candidate strictly above the floor — or AT the floor but at-or-
    // before the last snapshot row in the total order — beats them all.
    def trusted(pair: (String, String), cnt: Long): Boolean =
      complete || cnt > floor ||
        cnt == floor && (pair == lastSnapPair || utf8PairLt(pair, lastSnapPair))

    while (rank < nMerges && !exhausted) {
      if (needSnapshot ||
        !complete && viewMax.forall { case (p, c) => !trusted(p, c) }) {
        val snap = state
          .select(col("w"), explode(adjacentPairs(col("syms"))).as("p"))
          .groupBy(col("p.x").as("x"), col("p.y").as("y"))
          .agg(sum(col("w")).as("cnt"))
          .orderBy(col("cnt").desc, col("x").asc, col("y").asc)
          .limit(snapshotSize)
          .collect()
        view.clear()
        snap.foreach(r =>
          view((r.getString(0), r.getString(1))) = r.getLong(2))
        nSnapshots += 1
        complete = snap.length < snapshotSize
        floor = if (complete) Long.MinValue else snap.last.getLong(2)
        lastSnapPair =
          if (complete) null else (snap.last.getString(0), snap.last.getString(1))
        needSnapshot = false
      }
      // ---- batch selection: speculative sorted prefix of the view
      val sorted = view.toSeq.filter(_._2 > 0)
        .sortWith((a, b) => a._2 > b._2 || (a._2 == b._2 && utf8PairLt(a._1, b._1)))
      val batch = ArrayBuffer.empty[(String, String)]
      var open = true
      val it = sorted.iterator
      while (open && it.hasNext && batch.size < depth &&
        batch.size < nMerges - rank) {
        val ((x, y), cnt) = it.next()
        if (!trusted((x, y), cnt)) open = false
        else {
          batch += ((x, y))
          // output-string collision with an EARLIER merged symbol: the
          // only source of positive deltas to untracked pairs — end the
          // batch here and rebuild the view from data afterwards
          if (!complete && mergedStrings(x + y)) { open = false; needSnapshot = true }
        }
      }
      if (batch.isEmpty) exhausted = true
      else {
        // ---- one job: per-step signed pair deltas over affected types
        val ps = batch.toSeq
        val affected = exists(adjacentPairs(col("syms")), p =>
          ps.map { case (x, y) =>
            p.getField("x") === lit(x) && p.getField("y") === lit(y)
          }.reduce(_ || _))
        // each intermediate state is a NAMED column (computed once, not
        // re-derived per diff side), chained in sequential merge order
        var staged = state.filter(affected)
          .select(col("w"), col("syms").as("__s0"))
        for (i <- 1 to ps.length)
          staged = staged.withColumn(s"__s$i",
            mergePairs(col(s"__s${i - 1}"), Seq(ps(i - 1))))
        def touches(p: Column, syms: Seq[String]): Column =
          syms.map(s => p.getField("x") === lit(s) ||
            p.getField("y") === lit(s)).reduce(_ || _)
        val deltaArr = concat((1 to ps.length).flatMap { i =>
          val (x, y) = ps(i - 1)
          // both sides filtered by the SAME symbol set {x, y, xy}: the
          // merged string is included on the old side too, so a
          // collision-created pair that already existed cancels its
          // surviving occurrences instead of double-counting them
          val hood = Seq(x, y, x + y)
          Seq(
            transform(filter(adjacentPairs(col(s"__s$i")), p => touches(p, hood)),
              p => struct(lit(i).as("step"), p.getField("x").as("x"),
                p.getField("y").as("y"), lit(1L).as("sgn"))),
            transform(filter(adjacentPairs(col(s"__s${i - 1}")), p => touches(p, hood)),
              p => struct(lit(i).as("step"), p.getField("x").as("x"),
                p.getField("y").as("y"), lit(-1L).as("sgn"))))
        }: _*)
        val deltas = staged
          .select(col("w"), explode(deltaArr).as("d"))
          .groupBy(col("d.step").as("step"), col("d.x").as("x"),
            col("d.y").as("y"))
          .agg(sum(col("d.sgn") * col("w")).as("delta"))
          .filter(col("delta") =!= 0)
          .collect()
          .groupBy(_.getInt(0))
        // ---- sequential validation against the exactly-maintained view
        val batchMerged = ps.map(p => p._1 + p._2).toSet
        var validated = 0
        var mismatch = false
        while (validated < ps.length && !mismatch) {
          val cand = ps(validated)
          viewMax match {
            case Some((best, cnt)) =>
              if (!trusted(best, cnt)) {
                // counts decayed into the untrusted region mid-batch
                mismatch = true; needSnapshot = true
              } else if (best == cand) {
                merges += cand
                mergedStrings += (cand._1 + cand._2)
                deltas.getOrElse(validated + 1, Array.empty).foreach { r =>
                  val k = (r.getString(1), r.getString(2))
                  // untracked non-new pairs only ever decrease — skip
                  // them in non-complete mode (they stay under floor);
                  // pairs involving a batch-created symbol are NEW
                  // (pre-count 0) and enter the view with exact counts
                  if (view.contains(k) || complete ||
                    batchMerged(k._1) || batchMerged(k._2)) {
                    val nv = view.getOrElse(k, 0L) + r.getLong(3)
                    if (nv == 0L) view.remove(k) else view(k) = nv
                  }
                }
                validated += 1
              } else mismatch = true // a created pair outranked the
              // speculative pick — view is exact, just re-select
            case None =>
              mismatch = true; needSnapshot = !complete
          }
        }
        nBatches += 1
        if (validated < ps.length) nTruncations += 1
        depth =
          if (validated == ps.length) math.min(maxBatch, depth * 2)
          else math.max(1, validated)
        if (validated > 0) {
          // per-batch checkpoint: each fold executes exactly once per
          // full-table pass (see scaladoc); the previous batch's blocks
          // are freed eagerly — thousands of ranks would otherwise pin
          // thousands of superseded block sets (the kmeans pattern).
          // One withColumn PER STEP (a named attribute between levels),
          // never one inlined mergePairs chain: mergeOne's map form
          // references its input ~6×, so an inlined k-deep chain is a
          // 6^k-node Column tree — construction alone hangs the driver
          // at k=16 (CollapseProject's cheap-expression guard keeps the
          // named levels from being re-inlined by the optimizer)
          val next = ps.take(validated)
            .foldLeft(state) { (df, p) =>
              df.withColumn("syms", mergePairs(col("syms"), Seq(p)))
            }
            .filter(size(col("syms")) >= 2)
            .localCheckpoint()
          state.unpersist()
          state = next
          rank += validated
        } else if (!needSnapshot) {
          // no forward progress and no snapshot scheduled: impossible by
          // construction (step 1 re-reads the unchanged view), but guard
          // against an infinite loop defensively
          exhausted = true
        }
      }
    }
    (merges.toSeq, BpeStats(nSnapshots, nBatches, nTruncations))
  }

  /** Spark's binary (UTF-8 byte) string order on pairs — the driver-side
    * replica of `ORDER BY x ASC, y ASC` over StringType, so the view's
    * argmax tie-break matches the engine's exactly (UTF-16
    * `String.compareTo` diverges for supplementary-plane code points). */
  private[operators] def utf8PairLt(a: (String, String),
                                    b: (String, String)): Boolean = {
    val cx = utf8Cmp(a._1, b._1)
    cx < 0 || cx == 0 && utf8Cmp(a._2, b._2) < 0
  }

  private def utf8Cmp(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    while (i < x.length && i < y.length) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  /** Adjacent symbol pairs of one array as `struct(x, y)` — every
    * position, including overlapping repeats (aaa → (a,a) twice: the
    * get_stats counting contract). */
  private def adjacentPairs(syms: Column): Column =
    zip_with(
      slice(syms, lit(1), size(syms) - 1),
      slice(syms, lit(2), size(syms) - 1),
      (a, b) => struct(a.as("x"), b.as("y")))

  /** Apply the merges in `ps` IN ORDER — each a fold merging all
    * leftmost-non-overlapping `(x, y)` adjacencies into `xy`: carry
    * (emitted prefix, pending symbol); a pending `x` followed by `y`
    * emits the merged symbol and clears, anything else flushes the
    * pending symbol. One pass per pair, chained, so the composite is
    * exactly the sequential Sennrich merge sequence for ANY pair list
    * (no commutation assumption); each single pass matches
    * [[graft.functions.Bpe.encode]]'s merge step (VocabSpec
    * cross-checks the fold against the JVM loop). */
  private def mergePairs(syms: Column, ps: Seq[(String, String)]): Column =
    ps.foldLeft(syms) { case (acc, (x, y)) => mergeOne(acc, x, y) }

  /** One merge pass with a LET-BINDING around its input: the body
    * references `syms` ~6× (the map form's element_at lookups), and a
    * k-reference expression chained depth-d deep goes k^d — both the
    * inlined Column tree and, even with named per-level columns,
    * Catalyst's constraint-propagation alias substitution
    * (EqualNullSafe(s_i, body(s_{i-1})) substituted transitively) hang
    * the driver at d=16. Routing the input through a one-element
    * `transform` lambda makes every body reference a LAMBDA VARIABLE (a
    * leaf) and each level's expression reference its predecessor exactly
    * ONCE, so chains stay linear in every Catalyst pass. */
  private def mergeOne(syms: Column, x: String, y: String): Column =
    element_at(transform(array(syms), s => mergeOneBody(s, x, y)), 1)

  private def mergeOneBody(syms: Column, x: String, y: String): Column =
    if (x != y) {
      // x ≠ y ⇒ matches can never overlap (a match at i+1 would need
      // syms[i+1] == x == y), so leftmost-non-overlapping degenerates
      // to "merge every (x, y) adjacency" — a PURE MAP over 1-based
      // positions (O(1) element_at lookups, no fold state, none of the
      // per-element array-concat the fold pays): drop each match's y,
      // rewrite each match's x to xy
      val n = size(syms)
      val keep = filter(sequence(lit(1), n), i =>
        !(i > lit(1) && element_at(syms, (i - 1).cast("int")) === lit(x) &&
          element_at(syms, i.cast("int")) === lit(y)))
      transform(keep, i =>
        when(element_at(syms, i.cast("int")) === lit(x) && i < n &&
          element_at(syms, (i + 1).cast("int")) === lit(y), lit(x + y))
          .otherwise(element_at(syms, i.cast("int"))))
    } else {
      // x == y: runs of x merge greedily left-to-right (⌊run/2⌋ pairs)
      // — genuinely sequential, keep the fold
      val empty = typedLit(Seq.empty[String]).as("acc")
      val noPend = lit(null).cast("string").as("pend")
      aggregate(
        syms,
        struct(empty, noPend),
        (st, s) => {
          val acc = st.getField("acc")
          val pend = st.getField("pend")
          when(pend.isNull, struct(acc.as("acc"), s.as("pend")))
            .when(pend === lit(x) && s === lit(y),
              struct(concat(acc, array(lit(x + y))).as("acc"), noPend))
            .otherwise(struct(concat(acc, array(pend)).as("acc"), s.as("pend")))
        },
        st => when(st.getField("pend").isNull, st.getField("acc"))
          .otherwise(concat(st.getField("acc"), array(st.getField("pend")))))
    }

  /** Encode each document's token sequence as vocab ids, order-preserving;
    * out-of-vocabulary tokens map to `unkId`. Returns (idCol, ids, n_tok).
    * `vocab` must carry (token, token_id) — pass [[build]]'s output.
    *
    * The broadcast hint is applied only while Catalyst's size estimate of
    * the dictionary stays under `maxBroadcastBytes` (default 64 MiB — a
    * few million tokens); above it the plain join lets Spark pick a
    * shuffle join, trading one extra corpus shuffle on `token` for not
    * materializing the dictionary on every executor. The estimate comes
    * from plan statistics (no job runs at construction). */
  def encode(docs: DataFrame, idCol: String, toks: Column,
             vocab: DataFrame, unkId: Long = 0L,
             maxBroadcastBytes: Long = 64L << 20): DataFrame = {
    val dict = vocab.select(col("token"), col("token_id"))
    val small =
      dict.queryExecution.optimizedPlan.stats.sizeInBytes <= maxBroadcastBytes
    docs.select(col(idCol), posexplode(toks).as(Seq("__pos", "token")))
      .join(if (small) broadcast(dict) else dict, Seq("token"), "left")
      .groupBy(col(idCol))
      .agg(
        transform(
          array_sort(collect_list(struct(col("__pos"),
            coalesce(col("token_id"), lit(unkId)).as("__tid")))),
          p => p.getField("__tid")).as("ids"),
        count(lit(1)).as("n_tok"))
  }
}
