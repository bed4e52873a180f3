package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}

import graft.operators.{Dedup, Delta, Profile, QualityModel, Retrieval, Similarity, Sketches, TextStats, Upsert}
import graft.sources.Writers

/** Structured Streaming surface — SURVEY §2.8 G10. The reference's daily
  * Airflow micro-batch + checksum delta (dags/master_etl.py:22,
  * dags/scraping_etl.py:51-74) upgraded to true streams:
  *
  *  - [[tumblingCounts]] — watermarked tumbling-window aggregation (the
  *    streaming form of q44's date_trunc bucket agg);
  *  - [[sessionCounts]] — session windows per key;
  *  - [[dedupWithinWatermark]] — the raw-table PK dedup (W2) with BOUNDED
  *    state: the watermark evicts keys, unlike the reference's forever-state
  *    Postgres raw table (documented deviation, SURVEY §7.4.10);
  *  - [[deltaStream]] — the J1 delta split as arbitrary stateful
  *    processing: per-key last-fingerprint state, emitting only new/changed
  *    rows.
  *
  * All state is keyed and watermark-bounded — at 1000 executors state
  * partitions by key exactly like a batch shuffle; nothing accumulates on
  * the driver. Batch queries stay the oracle-checked source of truth; these
  * jobs are covered by MemoryStream ScalaTests (no DuckDB oracle exists for
  * streaming semantics).
  *
  * The incremental sinks are the reference's scheduled run (compute this
  * run's delta, upsert it into stored state) as one epoch body each: a
  * `*Batch(batch, epochId, …)` that [[foreachEpoch]] starts on a stream.
  * Every body runs the same epoch-sink protocol, written once in
  * [[runEpoch]]: read each state leg's latest version as of
  * `__epoch < epochId`, write the epoch's output over `outDir/epoch=N`,
  * merge the fresh contribution stamped `__epoch = N` (evicting
  * `__epoch <= N - maxEpochAge` when `maxEpochAge > 0`), then write one
  * metrics row under `outDir/_metrics/epoch=N`. Replay contract:
  * foreachBatch is at-least-once, and re-running the SAME
  * (batch, epochId) leaves identical output and state — the prior read
  * never sees the epoch's own rows, the output and metrics overwrite by
  * epoch, and the `__epoch`-versioned keyed merge is content-idempotent.
  */
object StreamingJobs {

  /** G10: tumbling-window counts; late rows beyond `delay` are dropped. */
  def tumblingCounts(events: DataFrame, tsCol: String, delay: String,
                     windowLen: String): DataFrame =
    events.withWatermark(tsCol, delay)
      .groupBy(window(col(tsCol), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"),
           sum(col("value").cast("decimal(28,10)")).cast("double").as("sum_value"))
      .select(col("window.start").as("bucket"), col("event_type"),
        col("n"), col("sum_value"))

  /** G10: session windows — gap-based grouping per user. */
  def sessionCounts(events: DataFrame, tsCol: String, delay: String,
                    gap: String): DataFrame =
    events.withWatermark(tsCol, delay)
      .groupBy(session_window(col(tsCol), gap), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start").as("session_start"),
        col("user_id"), col("n"))

  /** S2/J4 streaming: per-row enrichment as a stream-static left join —
    * the dimension is re-read per micro-batch (so slowly-changing dims
    * pick up updates), the stream side never buffers. Broadcast/AQE
    * decisions apply per batch exactly as in the batch path. */
  def enrichStream(stream: DataFrame, dim: DataFrame,
                   streamKey: String, dimKey: String): DataFrame =
    stream.join(dim, stream(streamKey) === dim(dimKey), "left")

  /** W2 streaming: exact dedup with watermark-bounded state. */
  def dedupWithinWatermark(events: DataFrame, tsCol: String, delay: String,
                           keys: Seq[String]): DataFrame =
    events.withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(keys)

  /** Run `step(batch, epochId)` on every micro-batch of `df`; the caller
    * `.start()`s the returned writer. The step is an epoch body with its
    * arguments bound — `foreachEpoch(docs)(cmsBatch(_, _, col("w"),
    * stateDir, outDir))` — or any batch action, e.g. the reference's
    * storage_etl as a streaming sink: `Writers.mergeState` per
    * micro-batch, the same upsert semantics as the batch path
    * (foreachBatch is the batch-sink escape hatch, so sink behavior is
    * identical in both modes). */
  def foreachEpoch(df: DataFrame)(
      step: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    df.writeStream.outputMode(OutputMode.Append).foreachBatch(step)

  /** A versioned state leg of an epoch body: its directory and its merge
    * key. Sinks that keep each epoch's contribution apart (the additive
    * ones) put `__epoch` in the key. */
  private final case class Leg(dir: String, key: Seq[String])

  /** What an epoch body hands to [[runEpoch]]: its output, its fresh
    * contribution per state leg, and its flagged count. The last two are
    * evaluated after the output is written, so they may derive from
    * [[Epoch.written]]. */
  private final class Emit(val out: DataFrame,
                           fresh: => Seq[(Leg, DataFrame)],
                           flagged: => Long) {
    def contributions: Seq[(Leg, DataFrame)] = fresh
    def flaggedCount: Long = flagged
  }

  /** The epoch a [[runEpoch]] body runs in. */
  private final class Epoch(val spark: SparkSession, val id: Long,
                            outPath: String) {
    /** `df` stamped with this epoch as its `__epoch` version. */
    def stamp(df: DataFrame): DataFrame = df.withColumn("__epoch", lit(id))

    /** `leg`'s state before this epoch: its latest committed version
      * restricted to `__epoch < id` (a replay never sees its own
      * half-merged rows), or, before the leg's first merge, an empty
      * frame with the contribution's schema — `like`, stamped. */
    def prior(leg: Leg, like: DataFrame): DataFrame =
      Writers.readState(spark, leg.dir)
        .fold(stamp(like).limit(0))(_.filter(col("__epoch") < id))

    /** This epoch's output as written (read once, on first use). */
    lazy val written: DataFrame = spark.read.parquet(outPath)
  }

  /** The law of the additive sinks (mergeable summaries — counts sum,
    * minima re-reduce, per-epoch heads re-rank): the cumulative summary is
    * `reduce` over the prior contributions ∪ the fresh one, both cut to
    * the same `cols`. It equals one build over the concatenated stream,
    * and it is summary-sized, never data-sized. */
  private def cumulative(prior: DataFrame, fresh: DataFrame, cols: String*)(
      reduce: DataFrame => DataFrame): DataFrame =
    reduce(prior.select(cols.map(col): _*)
      .unionByName(fresh.select(cols.map(col): _*)))

  /** The epoch-sink protocol, written once for every `*Batch` body
    * (`body` names it in errors). `input` holds the epoch's input rows —
    * the micro-batch, or a cached frame with one row per batch row — and
    * its count is `input_rows`. `run` supplies the epoch's output,
    * fresh contributions and flagged count; this then
    *  1. overwrites `outDir/epoch=N` with the output;
    *  2. merges each leg's contribution, stamped `__epoch = N`, with
    *     [[Writers.mergeState]] on the leg's key, `__epoch` as version,
    *     evicting `__epoch <= N - maxEpochAge` when `maxEpochAge > 0`
    *     (0 retains every epoch; a negative age is rejected) — a
    *     deterministic function of (row epoch, N), so replay stays
    *     content-idempotent;
    *  3. overwrites `outDir/_metrics/epoch=N` with one row
    *     `(input_rows, flagged, state_rows, flagged_kind, flagged_pairs)`
    *     — the reference's per-run delta-count logging
    *     (dags/scraping_etl.py:71), generalized. The `_` prefix keeps the
    *     sidecar out of reads of `outDir`; `flagged_kind` names what
    *     `flagged` counts; `flagged_pairs` repeats it only when that
    *     kind is "flagged_pairs". `state_rows` counts the first leg at the
    *     epoch's OWN horizon (`__epoch <= N`), so a replay re-records the
    *     number it recorded the first time, unless eviction has since
    *     removed rows from before its window; it is 0 without a leg.
    *
    * Spark actions per epoch, beside those the body runs itself (the
    * bodies' docs name theirs): a schema read of each leg's latest
    * version in `prior`; the output write; per leg, `mergeState`'s read of
    * the latest version, its write and its read-back; then for the
    * metrics: a count of `input` — which re-runs the micro-batch's
    * source and plan unless the body passes it cached (the maintenance
    * bodies cache the batch; `labelBatch` passes its cached labeled
    * rows) — the body's flagged count (a read-back of the output,
    * counted whole or filtered on its payload columns, or a count over
    * the late rows; kmv, hist, rrf and profile emit a constant), a count
    * of the first leg's latest version filtered on `__epoch` (which reads
    * that column from every state file), and the one-row metrics
    * write. */
  private def runEpoch(body: String, input: DataFrame, epochId: Long,
                       outDir: String, maxEpochAge: Int = 0,
                       flaggedKind: String = "flagged_pairs")(
                       run: Epoch => Emit): Unit = {
    require(maxEpochAge >= 0,
      s"$body: maxEpochAge must be >= 0 (0 retains every epoch), got " +
        s"$maxEpochAge at epoch $epochId")
    val spark = input.sparkSession
    val outPath = s"$outDir/epoch=$epochId"
    val ep = new Epoch(spark, epochId, outPath)
    val emit = run(ep)
    emit.out.write.mode("overwrite").parquet(outPath)
    val legs = emit.contributions
    val evict =
      if (maxEpochAge > 0) Some(col("__epoch") <= epochId - maxEpochAge)
      else None
    legs.foreach { case (leg, fresh) =>
      Writers.mergeState(spark, leg.dir, ep.stamp(fresh), leg.key,
        col("__epoch"), evict)
    }
    val inputRows = input.count()
    val flagged = emit.flaggedCount
    val stateRows = legs.headOption
      .flatMap { case (leg, _) => Writers.readState(spark, leg.dir) }
      .fold(0L)(_.filter(col("__epoch") <= epochId).count())
    import spark.implicits._
    Seq((inputRows, flagged, stateRows, flaggedKind))
      .toDF("input_rows", "flagged", "state_rows", "flagged_kind")
      .withColumn("flagged_pairs",
        when(col("flagged_kind") === "flagged_pairs", col("flagged")))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$outDir/_metrics/epoch=$epochId")
  }

  /** L1 streaming: incremental near-dup against a persisted bucket state —
    * the production shape of q93 (`Dedup.incrementalLshCandidates`). Each
    * micro-batch is minhashed and its LSH buckets are (a) probed against
    * the stored corpus bucket table, appending flagged (id_new, id_old)
    * candidate pairs to `outDir`, then (b) merged into the state for the
    * following batches. Probe cost per batch ∝ batch size, never corpus
    * size; the state table is the same versioned-parquet merge the batch
    * path uses, so batch and stream agree on state layout. By default
    * within-batch dups are NOT flagged (the probe runs against prior
    * state only); `withinBatch = true` closes that gap by also running
    * the batch-form `Dedup.lshCandidates` self-pairing on the
    * micro-batch — same bucket cap — and unioning those pairs (oriented
    * id_new > id_old, the later doc flagged against the earlier) into
    * the epoch output. The trade is one extra bucket self-join per
    * batch, ∝ batch², never corpus.
    *
    * Replay-safe (foreachBatch re-executes an epoch after failure):
    * bucket rows carry their epoch, the probe EXCLUDES state rows of the
    * current epoch (a replayed batch must not see its own half-merged
    * buckets), flagged pairs overwrite a per-epoch directory instead of
    * blind-appending, and the (id, band)-keyed state merge with the epoch
    * as version is content-idempotent under replay — calling this twice
    * with the SAME (batch, epochId) leaves identical output and state.
    *
    * `maxEpochAge` is the state-compaction knob (VERDICT r7 #3 — without
    * it the bucket table grows per epoch forever, becoming its own 100 TB
    * problem): N > 0 keeps only the last N epochs' buckets — each merge
    * evicts rows with `__epoch <= epochId - N`, so state size plateaus at
    * the N-epoch working set. The semantic trade (same as
    * [[deltaStreamBounded]]'s TTL): a fresh doc whose only near-dup
    * entered MORE than N epochs ago is no longer flagged — the sliding-
    * window dedup contract. 0 = retain forever (the exact contract).
    * Eviction depends only on (row epoch, current epochId), so replay
    * stays content-idempotent. */
  def incrementalDedupBatch(batch: DataFrame, epochId: Long, idCol: String,
                            tokensCol: Column,
                            stateDir: String, outDir: String,
                            k: Int = 8, bands: Int = 4, rowsPerBand: Int = 2,
                            maxBucketSize: Int = 50,
                            maxEpochAge: Int = 0,
                            withinBatch: Boolean = false): Unit =
    runEpoch("incrementalDedupBatch", batch, epochId, outDir,
        maxEpochAge) { ep =>
      val sigs = batch.select(col(idCol),
        Dedup.minhashSignature(tokensCol, k).as("sig"))
      val buckets = Dedup.lshBuckets(sigs, idCol, col("sig"), bands, rowsPerBand)
      val leg = Leg(stateDir, Seq(idCol, "band"))
      val cross = Dedup.incrementalLshCandidates(
        ep.prior(leg, buckets).drop("__epoch"), buckets, maxBucketSize)
      val flagged = if (!withinBatch) cross else {
        // same-batch pairs via the batch-form self-pairing (same cap);
        // lshCandidates orients id_a < id_b, so the LATER id is flagged
        // against the earlier — deterministic under replay
        val within = Dedup.lshCandidates(buckets, maxBucketSize)
          .select(col("id_b").as("id_new"), col("id_a").as("id_old"))
        cross.unionByName(within).distinct()
      }
      new Emit(flagged, Seq(leg -> buckets), ep.written.count())
    }

  /** [[incrementalDedupBatch]]'s EXACT-grain sibling at paragraph level:
    * each micro-batch of documents is paragraph-deduplicated against
    * everything already ingested (the crawl-ingest form of
    * [[graft.operators.Dedup.dedupParagraphs]] — dedup each new crawl
    * against all prior crawls without re-pairing the corpus). Per
    * epoch: hash paragraphs (md5, trim grain), keep-first WITHIN the
    * batch (row_number over (hash | id, pos) — the q112 single-pass
    * form), LEFT ANTI the persisted hash state (a paragraph seen in any
    * PRIOR epoch drops from every doc of this one), reassemble cleaned
    * docs to `outDir/epoch=N`, then merge this epoch's surviving hashes
    * into the versioned state. Probe cost ∝ |batch| paragraphs; state
    * is ONE narrow row per distinct paragraph hash ever kept.
    *
    * Same replay contract as the LSH sinks: state reads filter
    * `__epoch < epochId` and output overwrites by epoch, so re-running
    * the SAME (batch, epochId) is a no-op; same `maxEpochAge`
    * compaction trade (N > 0 → a paragraph unseen for N epochs is
    * forgotten and readmitted — the sliding-window contract; 0 =
    * exact-forever).
    *
    * Paragraph grain is the FINEST grain whose state is naturally
    * sub-corpus-sized: a q112-style substring sink persists one state
    * row per w-token window — ~n_tokens rows, a state table the size of
    * the tokenized corpus under exact-forever retention. That grain
    * EXISTS as [[incrementalWindowBatch]], but its 100 TB stance is
    * inverted: `maxEpochAge` bounding is the REQUIRED configuration
    * (state plateaus at the N-epoch working set), exact-forever is the
    * bounded-corpus special case, and the periodic batch
    * [[graft.operators.Dedup.dedupTokenWindows]] pass over the
    * materialized corpus remains the exact-grain source of truth. */
  def incrementalParagraphBatch(batch: DataFrame, epochId: Long,
                                idCol: String, textCol: String, sep: String,
                                stateDir: String, outDir: String,
                                maxEpochAge: Int = 0): Unit =
    runEpoch("incrementalParagraphBatch", batch, epochId, outDir,
        maxEpochAge, "docs_fully_deduped") { ep =>
      val quoted = java.util.regex.Pattern.quote(sep)
      val paras = batch
        .select(col(idCol), posexplode(split(col(textCol), quoted))
          .as(Seq("__pos", "__para")))
        .filter(trim(col("__para")) =!= "")
        .withColumn("__h", md5(trim(col("__para"))))
      val byOccurrence = Window.partitionBy(col("__h"))
        .orderBy(col(idCol).asc_nulls_first, col("__pos").asc_nulls_first)
      val batchWinners = paras
        .withColumn("__rn", row_number().over(byOccurrence))
        .filter(col("__rn") === 1)
        .drop("__rn")
      val leg = Leg(stateDir, Seq("__h"))
      val state = ep.prior(leg, paras.select(col("__h")))
      val kept = batchWinners
        .join(state.select(col("__h")), Seq("__h"), "left_anti")
      val cleaned = kept
        .groupBy(col(idCol))
        .agg(count(lit(1)).as("n_kept"),
          array_join(
            transform(sort_array(collect_list(struct(col("__pos"), col("__para")))),
              p => p.getField("__para")), sep).as("clean_text"))
      val out = batch.select(col(idCol))
        .join(cleaned, Seq(idCol), "left")
        .select(col(idCol),
          coalesce(col("clean_text"), lit("")).as("clean_text"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"))
      new Emit(out, Seq(leg -> kept.select(col("__h")).distinct()),
        ep.written.filter(col("n_kept") === 0).count())
    }

  /** [[incrementalParagraphBatch]]'s SUBSTRING-grain sibling — the
    * bounded-state streaming form of
    * [[graft.operators.Dedup.dedupTokenWindows]] (the trade VERDICT r11
    * #8 asked to close): each micro-batch's overlapping w-token windows
    * are deduped within the batch (row_number keep-first over the window
    * hash) AND against every window hash persisted from prior epochs — a
    * window seen before strips ALL its occurrences in the new batch;
    * tokens covered by any stripped window are removed and the survivors
    * reassembled to `outDir/epoch=N`. Probe cost ∝ |batch| windows; with
    * EMPTY state an epoch's output equals the batch operator's output on
    * the same docs (pinned by StreamingSpec).
    *
    * State is ONE narrow row per distinct w-token window hash ever
    * kept — ~n_tokens of the ingested corpus under `maxEpochAge = 0`,
    * which is exactly why this grain stayed batch-only until now. The
    * 100 TB stance therefore INVERTS the other sinks' default:
    * `maxEpochAge = N > 0` is the production configuration (state
    * plateaus at the N-epoch window working set; a run first seen more
    * than N epochs ago is forgotten and readmitted — the sliding-window
    * contract), 0 = exact-forever is for bounded corpora, and the
    * periodic batch dedupTokenWindows pass over the materialized corpus
    * stays the exact source of truth.
    *
    * Replay contract, same as the siblings: state reads filter
    * `__epoch < epochId`, output overwrites by epoch, and only NOVEL
    * first-occurrence hashes merge (a state-known hash keeps its
    * original epoch — refreshing it on sight would make a replayed
    * probe's `< epochId` filter miss it and change the replay's
    * output). */
  def incrementalWindowBatch(batch: DataFrame, epochId: Long,
                             idCol: String, toks: Column, w: Int,
                             stateDir: String, outDir: String,
                             maxEpochAge: Int = 0): Unit =
    runEpoch("incrementalWindowBatch", batch, epochId, outDir,
        maxEpochAge, "docs_shortened") { ep =>
      val leg = Leg(stateDir, Seq("__h"))
      val state = ep.prior(leg, batch.select(lit("").as("__h")))
      // the batch operator IS the epoch core: covered = within-batch
      // non-first occurrences OR any occurrence of a state-known window
      // (prior epochs own the canonical copy); `novel` is exactly the
      // first-occurrence-and-unknown hash set the next epoch must know
      val (cleaned, novel) = Dedup.dedupTokenWindowsIncremental(
        batch, idCol, toks, w, state.select(col("__h")))
      new Emit(cleaned, Seq(leg -> novel),
        ep.written.filter(col("n_kept") < col("n_tok")).count())
    }

  /** Mergeable-sketch streaming state — the count-min frequency monitor
    * ([[graft.operators.Sketches]]) as an incremental sink. Each
    * micro-batch's items are sketched (`cmsBuild`, depth×width counts),
    * the epoch's contribution is merged into versioned state, and the
    * batch's distinct items are probed against the CUMULATIVE sketch —
    * emitting the current heavy-hitter estimates (`est >= threshold`) to
    * `outDir/epoch=N`. This is WHY sketches are the canonical streaming
    * state: bounded (state ≤ depth·width rows PER EPOCH regardless of
    * stream volume), exactly mergeable (bucket-wise sum — cumulative
    * estimates equal a single build over the concatenated stream, pinned
    * by StreamingSpec), and evictable by time (`maxEpochAge` N > 0 sums
    * only the last N epochs' contributions — a sliding-window frequency
    * monitor, the natural drift-alarm configuration; 0 = all-time
    * counts).
    *
    * Replay contract, family-standard: state rows are keyed
    * (r, bucket, __epoch) so a replayed epoch OVERWRITES its own
    * contribution instead of double-counting (additive state is the one
    * place blind re-merge would silently corrupt — keying by epoch is
    * what makes `+` replay-safe); probes filter `__epoch < epochId`
    * before adding the fresh contribution; output overwrites by
    * epoch. */
  def cmsBatch(batch: DataFrame, epochId: Long, itemCol: Column,
               stateDir: String, outDir: String,
               depth: Int = 4, width: Int = 2048, threshold: Long = 100,
               maxEpochAge: Int = 0): Unit =
    runEpoch("cmsBatch", batch, epochId, outDir, maxEpochAge,
        "heavy_hitters") { ep =>
      val fresh = Sketches.cmsBuild(batch, itemCol, depth, width)
      val leg = Leg(stateDir, Seq("r", "bucket", "__epoch"))
      // cumulative sketch at THIS epoch's horizon (≤ depth·width rows)
      val sketch = cumulative(ep.prior(leg, fresh), fresh, "r", "bucket", "cnt")(
        _.groupBy("r", "bucket").agg(sum("cnt").as("cnt")))
      val hitters = Sketches.cmsEstimate(
          batch.select(itemCol.as("item")).distinct(), col("item"),
          sketch, depth, width)
        .filter(col("est") >= threshold)
      new Emit(hitters, Seq(leg -> fresh), ep.written.count())
    }

  /** [[cmsBatch]]'s distinct-count sibling — the KMV sketch
    * ([[graft.operators.Sketches.kmvMinima]]/`kmvEstimate`, q135's
    * operator) as an incremental sink: each micro-batch contributes its
    * own ≤ k minima, the cumulative (or `maxEpochAge`-sliding) distinct
    * estimate is emitted to `outDir/epoch=N` as one `(k, n_mins, h_k,
    * est)` row. State is ≤ k rows PER RETAINED EPOCH — corpus-
    * independent — and exactly mergeable: the k-minima of a union equal
    * the k-minima of the union of per-part k-minima, so the cumulative
    * estimate equals a one-shot build over the concatenated stream
    * (StreamingSpec pins the equality). The production question this
    * answers: "how many distinct URLs/keys have we ingested (all-time,
    * or over the last N epochs)" without data-sized distinct state.
    *
    * Replay contract, family-standard (the cmsBatch shape): per-epoch
    * contributions keyed (h, __epoch) — a replayed epoch overwrites its
    * own rows, probes filter `__epoch < epochId`, output overwrites by
    * epoch. `maxEpochAge` N > 0 retains only the last N epochs'
    * minima → a sliding-window distinct monitor. */
  def kmvBatch(batch: DataFrame, epochId: Long, itemCol: Column,
               stateDir: String, outDir: String,
               k: Int = 256, maxEpochAge: Int = 0): Unit =
    runEpoch("kmvBatch", batch, epochId, outDir, maxEpochAge,
        "distinct_estimates_emitted") { ep =>
      val fresh = Sketches.kmvMinima(batch, itemCol, k)
      val leg = Leg(stateDir, Seq("h", "__epoch"))
      new Emit(cumulative(ep.prior(leg, fresh), fresh, "h")(
        Sketches.kmvEstimate(_, k)), Seq(leg -> fresh), 1L)
    }

  /** [[cmsBatch]]/[[kmvBatch]]'s QUANTILE sibling — the log-linear
    * histogram sketch ([[graft.operators.Sketches.histBuild]], q143's
    * operator) as an incremental sink: each micro-batch contributes its
    * own `(bin, cnt)` rows, and the cumulative (or `maxEpochAge`-sliding)
    * quantile estimates are emitted to `outDir/epoch=N` as one
    * `(n, p50, …)` row — the streaming latency/size-distribution monitor
    * next to kmvBatch's distinct counter and cmsBatch's frequency alarm.
    * State is ≤ 64·2^kb rows PER RETAINED EPOCH regardless of stream
    * volume, and counts are ADDITIVE, so the cumulative estimate equals
    * a one-shot build over the concatenated stream (StreamingSpec pins
    * the equality; the per-part merge law itself is SketchesSpec's).
    * `value` must already be a positive integer (micro-units — the
    * operator's contract).
    *
    * Replay contract, family-standard: contributions keyed
    * (bin, __epoch) — a replayed epoch overwrites its own rows; probes
    * filter `__epoch < epochId` before adding the fresh contribution;
    * output overwrites by epoch. */
  def histBatch(batch: DataFrame, epochId: Long, value: Column,
                stateDir: String, outDir: String,
                kb: Int = 5, pcts: Seq[Int] = Seq(50, 90, 99),
                maxEpochAge: Int = 0): Unit =
    runEpoch("histBatch", batch, epochId, outDir, maxEpochAge,
        "quantile_rows_emitted") { ep =>
      val fresh = Sketches.histBuild(batch, value, kb)
      val leg = Leg(stateDir, Seq("bin", "__epoch"))
      val hist = cumulative(ep.prior(leg, fresh), fresh, "bin", "cnt")(
        _.groupBy("bin").agg(sum("cnt").as("cnt")))
      new Emit(Sketches.histQuantiles(hist, kb, pcts), Seq(leg -> fresh), 1L)
    }

  /** The sketch-sink family's QA member — the per-column dataset
    * profile (q154's operator) maintained incrementally: each
    * micro-batch contributes its ADDITIVE per-column moments
    * ([[graft.operators.Profile.moments]] — counts sum, extremes
    * min/max) and its per-column KMV minima, and the cumulative (or
    * `maxEpochAge`-sliding) stats card is emitted to `outDir/epoch=N`
    * as one row per profiled column: `(col_name, n_rows, n_null,
    * min_v, max_v, avg_len, est_distinct)`. The production question:
    * "what does the ingest stream look like, per column, right now" —
    * drift triage and schema QA without re-scanning history.
    *
    * The exact-distinct batch form must see every value, so the
    * streaming twin swaps that one field for the KMV estimate
    * ([[graft.operators.Sketches.kmvMinimaBy]] — the q135 tier): state
    * is |cols| moment rows + ≤ k minima PER COLUMN per retained epoch,
    * corpus-independent. Every other field is EXACTLY the batch
    * operator's: moments are additive and re-reduced per emit (min/max
    * re-reduce correctly under epoch eviction too — each retained
    * epoch holds its own extremes), and the avg_len chain is the same
    * exact-integer → DECIMAL → double division, so the cumulative card
    * equals `Profile.profile` over the concatenated stream on all
    * exact fields while `est_distinct` equals `kmvDistinct` over it
    * (both StreamingSpec-pinned).
    *
    * Replay contract, family-standard: two legs, moment rows under
    * `stateDir/moments` keyed (col_name, __epoch) and minima rows under
    * `stateDir/kmv` keyed (col_name, h, __epoch) — a replayed epoch
    * overwrites its own contributions; probes filter
    * `__epoch < epochId`; output overwrites by epoch; `state_rows`
    * counts the moments leg. */
  def profileBatch(batch: DataFrame, epochId: Long, cols: Seq[String],
                   stateDir: String, outDir: String,
                   k: Int = 256, maxEpochAge: Int = 0): Unit =
    runEpoch("profileBatch", batch, epochId, outDir, maxEpochAge,
        "profile_rows_emitted") { ep =>
      val moments = Leg(s"$stateDir/moments", Seq("col_name", "__epoch"))
      val minima = Leg(s"$stateDir/kmv", Seq("col_name", "h", "__epoch"))
      val freshM = Profile.moments(batch, cols)
      val freshK = Sketches.kmvMinimaBy(
          Profile.melt(batch, cols), col("col_name"), col("v"), k)
        .withColumnRenamed("g", "col_name")
      val reduced = cumulative(ep.prior(moments, freshM), freshM,
          "col_name", "n_rows", "n_null", "sum_len", "min_v", "max_v")(
        _.groupBy(col("col_name"))
          .agg(sum(col("n_rows")).as("n_rows"),
            sum(col("n_null")).as("n_null"),
            sum(col("sum_len")).as("sum_len"),
            min(col("min_v")).as("min_v"),
            max(col("max_v")).as("max_v")))
      val est = cumulative(ep.prior(minima, freshK), freshK, "col_name", "h")(
          m => Sketches.kmvEstimateBy(m.withColumnRenamed("col_name", "g"), k))
        .select(col("g").as("col_name"), col("est").as("est_distinct"))
      val card = Profile.finishMoments(reduced)
        // an all-null column contributes no minima → no est row → 0 distinct
        .join(est, Seq("col_name"), "left")
        .withColumn("est_distinct", coalesce(col("est_distinct"), lit(0.0)))
      new Emit(card, Seq(moments -> freshM, minima -> freshK),
        cols.size.toLong)
    }

  /** The sketch-sink family's VOCABULARY-mining member — incremental
    * collocation mining (q148's operator as a sink): each micro-batch
    * contributes its own unigram and bigram count rows, and the
    * cumulative (or `maxEpochAge`-sliding) scored collocation table —
    * [[graft.operators.TextStats.scoreCollocations]] over the SUMMED
    * counts — is emitted to `outDir/epoch=N`. The production question:
    * "which phrases are emerging in the ingest stream" without ever
    * holding corpus-sized state — counts are exact and ADDITIVE and the
    * state is VOCABULARY-bounded per retained epoch, so the cumulative
    * table EQUALS the one-shot `TextStats.collocations` over the
    * concatenated stream (StreamingSpec pins the equality, score doubles
    * included — identical integer counts → identical IEEE chain).
    * `maxEpochAge` N > 0 keeps a sliding vocabulary window — TRENDING
    * phrases, not all-time.
    *
    * Replay contract, family-standard ([[cmsBatch]]): contributions
    * keyed (side, wa, wb, __epoch) — side 'u' rows carry (w, '') —
    * a replayed epoch overwrites its own rows; probes filter
    * `__epoch < epochId` before adding the fresh contribution;
    * output overwrites by epoch. */
  def collocBatch(batch: DataFrame, epochId: Long, tokensCol: Column,
                  stateDir: String, outDir: String,
                  minCount: Long, delta: Long = 2L,
                  maxEpochAge: Int = 0): Unit =
    runEpoch("collocBatch", batch, epochId, outDir, maxEpochAge,
        "collocations_emitted") { ep =>
      val fresh = TextStats.unigramCounts(batch, tokensCol)
        .select(lit("u").as("side"), col("w").as("wa"), lit("").as("wb"),
          col("c"))
        .unionByName(TextStats.bigramCounts(batch, tokensCol)
          .select(lit("b").as("side"), col("wa"), col("wb"),
            col("c_ab").as("c")))
      val leg = Leg(stateDir, Seq("side", "wa", "wb", "__epoch"))
      val counts = cumulative(ep.prior(leg, fresh), fresh, "side", "wa", "wb", "c")(
        _.groupBy("side", "wa", "wb").agg(sum("c").as("c")))
      val scored = TextStats.scoreCollocations(
        counts.filter(col("side") === "u")
          .select(col("wa").as("w"), col("c")),
        counts.filter(col("side") === "b")
          .select(col("wa"), col("wb"), col("c").as("c_ab"))
          .filter(col("c_ab") >= minCount),
        delta)
      new Emit(scored, Seq(leg -> fresh), ep.written.count())
    }

  /** The retrieval tier's streaming story (VERDICT r13 #8 — q136's
    * fusion had no incremental form): maintain the HYBRID top-`n` of a
    * scored document stream. Input rows carry the two arm scores
    * (lexical, vector) as nullable doubles — score computation is
    * upstream and must be ROW-LOCAL for the maintained head to be exact
    * (cosine against a fixed probe is; BM25 is once its corpus stats
    * are frozen to a reference snapshot, the standard production
    * contract for a serving-time scorer — drifting stats would change
    * ALREADY-SEEN docs' scores, which no bounded-state sink can
    * retrofit). Each epoch emits the fused head to `outDir/epoch=N`:
    * per-arm cumulative top-`n` (score DESC, id ASC — the deterministic
    * tie-break), ranks 1..n, fused by [[graft.operators.Retrieval
    * .rrfFuse]] — the EXACT rrf of the one-shot per-arm heads over
    * everything ingested, because top-n is mergeable: top-n(s1 ∪ s2) =
    * top-n(top-n(s1) ∪ top-n(s2)) for row-local scores (StreamingSpec
    * pins the equality against the batch composition).
    *
    * Scale/state shape, family-standard ([[kmvBatch]]): state is each
    * epoch's per-arm BATCH-LOCAL head — ≤ 2n rows per retained epoch,
    * corpus-independent — and the merge re-ranks ≤ retained·2n rows
    * (driver-bounded windows over arm partitions, never a corpus
    * sort; the batch-local heads themselves are TakeOrdered cuts).
    * Replay contract: contributions keyed (arm, id, __epoch) — a
    * replayed epoch overwrites its own rows; merges read `__epoch <
    * epochId` plus the fresh contribution; output overwrites by epoch.
    * `maxEpochAge` N > 0 retains only the last N epochs' heads → a
    * sliding-freshness retrieval head (late docs age out with their
    * epoch). Duplicate ids across epochs (re-scored docs) collapse to
    * their best score per arm before ranking. */
  def rrfTopKBatch(batch: DataFrame, epochId: Long, idCol: String,
                   scoreA: Column, scoreB: Column,
                   stateDir: String, outDir: String,
                   n: Int = 100, c: Double = 60.0,
                   maxEpochAge: Int = 0): Unit =
    runEpoch("rrfTopKBatch", batch, epochId, outDir, maxEpochAge,
        "fused_heads_emitted") { ep =>
      def armHead(arm: String, s: Column): DataFrame = batch
        .filter(s.isNotNull)
        .select(lit(arm).as("arm"), col(idCol).cast("string").as("id"),
          s.cast("double").as("score"))
        .orderBy(col("score").desc, col("id").asc)
        .limit(n)
      val fresh = armHead("a", scoreA).unionByName(armHead("b", scoreB))
      val leg = Leg(stateDir, Seq("arm", "id", "__epoch"))
      // cumulative per-arm heads over ≤ retained·2n contribution rows:
      // best score per (arm, id), then rank 1..n per arm
      val rankW = Window.partitionBy(col("arm"))
        .orderBy(col("score").desc, col("id").asc)
      val heads = cumulative(ep.prior(leg, fresh), fresh, "arm", "id", "score")(
        _.groupBy(col("arm"), col("id"))
          .agg(max(col("score")).as("score"))
          .withColumn("r", row_number().over(rankW).cast("long"))
          .filter(col("r") <= n))
      val fused = Retrieval.rrfFuse(
        heads.filter(col("arm") === "a").select(col("id"), col("r").as("r_lex")),
        heads.filter(col("arm") === "b").select(col("id"), col("r").as("r_vec")),
        "id", "r_lex", "r_vec", c)
      new Emit(fused, Seq(leg -> fresh), 1L)
    }

  /** The sketch-sink family's LEXICAL-RETRIEVAL member — the positional
    * inverted index as a sink (q151/q158's stored table built
    * incrementally; VERDICT r14 stretch): postings are exact and
    * ADDITIVE (each epoch contributes its own docs' (token, id, pos)
    * rows — the index over a union of corpora IS the union of their
    * indexes), so the cumulative index equals the one-shot
    * `Retrieval.invertedIndex` over the concatenated stream, and each
    * epoch emits the `probePhrase`'s `Retrieval.phraseSearch` result
    * over the cumulative index to `outDir/epoch=N` — "which documents
    * match this phrase, as of this epoch" (StreamingSpec pins equality
    * with the one-shot build at every horizon).
    *
    * Contract: an APPEND-ONLY document stream — each doc_id's content
    * arrives once; a crash-replayed EPOCH overwrites its own keyed
    * contribution ((token, id, pos, __epoch) PK, the family rule) and
    * is idempotent, but a doc re-delivered in a LATER epoch with
    * different content would leave its old postings standing (the
    * mutable-doc case routes through a keyed `Writers.mergeState` upsert
    * instead — rebuild the index from merged docs). `assertAppendOnly`
    * makes that contract CHECKABLE instead of purely documented (ADVICE
    * r15): each epoch compares the fresh batch's re-delivered doc_ids'
    * posting sets against prior state (probe ∝ the re-delivered subset,
    * never state×state, one extra collect) and RAISES on a content
    * change — for sources that promise append-only but can't prove it.
    * `maxEpochAge` > 0 keeps a sliding index (recent-epoch retrieval
    * only). State is posting-mass-bounded per retained epoch — the
    * postings ARE the product, as with every layout table; at
    * production scale the state directory is the token-partitioned
    * layout ([[graft.sources.Writers.ensurePostings]]) and probes prune
    * to their tokens' directories. */
  def invertedIndexBatch(batch: DataFrame, epochId: Long, idCol: String,
                         tokensCol: Column, stateDir: String,
                         outDir: String, probePhrase: Seq[String],
                         maxEpochAge: Int = 0,
                         assertAppendOnly: Boolean = false): Unit =
    runEpoch("invertedIndexBatch", batch, epochId, outDir, maxEpochAge,
        "phrase_match_docs") { ep =>
      val fresh = Retrieval.invertedIndex(batch, idCol, tokensCol)
      val leg = Leg(stateDir, Seq("token", idCol, "pos", "__epoch"))
      val prior = ep.prior(leg, fresh)
      if (assertAppendOnly) {
        // re-delivered ids only (semi-join — probe ∝ |fresh|, the family
        // incremental rule); content changed ⇔ the (token, pos) multiset
        // differs, detected as any (id, token, pos) present on exactly one
        // side. A replay of the SAME content matches both sides and passes
        // (crash-replay idempotence is unaffected).
        val redelivered = fresh.select(col(idCol)).distinct()
          .join(prior.select(col(idCol)).distinct(), Seq(idCol), "left_semi")
        val sideOf = (df: DataFrame, p: Int, f: Int) =>
          df.select(col(idCol), col("token"), col("pos"))
            .join(redelivered, Seq(idCol), "left_semi")
            .select(col(idCol), col("token"), col("pos"),
              lit(p.toLong).as("__p"), lit(f.toLong).as("__f"))
        val changed = sideOf(prior, 1, 0).unionByName(sideOf(fresh, 0, 1))
          .groupBy(col(idCol), col("token"), col("pos"))
          .agg(sum(col("__p")).as("__np"), sum(col("__f")).as("__nf"))
          .filter(col("__np") === 0 || col("__nf") === 0)
          .select(col(idCol)).distinct()
          .orderBy(col(idCol)).limit(5)
          .collect().map(_.get(0))
        require(changed.isEmpty,
          s"invertedIndexBatch append-only contract violated at epoch " +
            s"$epochId: doc ids ${changed.mkString(", ")} were re-delivered " +
            s"with different posting sets — their old postings would stand " +
            s"and corrupt phrase results; upsert mutable docs with " +
            s"Writers.mergeState and rebuild the index from merged docs")
      }
      val matches = cumulative(prior, fresh, "token", idCol, "pos")(
        Retrieval.phraseSearch(_, idCol, probePhrase))
      new Emit(matches, Seq(leg -> fresh), ep.written.count())
    }

  /** Streaming ANN index — the FAISS deployment contract made a sink:
    * TRAIN ONCE, ADD FOREVER. The first NON-EMPTY batch trains the two
    * bounded artifacts (coarse centroid table = its `coarseK` lowest-id
    * vectors, the q156 fixed-seed rule; PQ codebook =
    * [[graft.operators.Similarity.pqCodebook]] over that batch's own
    * codes) and FREEZES them under `stateDir/artifacts`; every batch
    * then codes its vectors against the frozen artifacts (row-local,
    * exact, replayable) and merges (id, codes, bucket, __epoch) into
    * the versioned state leg `stateDir/codes` — PK (id, __epoch), the
    * invertedIndexBatch append-only contract (ids are content-addressed
    * vectors; a re-observed id keeps its FIRST coding at probe time;
    * mutable vectors route through a keyed `Writers.mergeState`
    * upsert). Each epoch emits the probe query's cumulative
    * [[graft.operators.Similarity.ivfPqSearchStored]] top-k to
    * `outDir/epoch=N`. An empty epoch before training (checked with one
    * `isEmpty` job) emits an empty result and a metrics row with zero
    * counts; it trains nothing and merges nothing.
    *
    * Freezing is WHY this streams: retraining codebook/centroids per
    * epoch would re-code every prior vector (a full-state rewrite per
    * batch); frozen artifacts make the epoch cost ∝ |batch| coding +
    * one probe of the cumulative code table. The trade, stated
    * plainly: distribution drift between the training batch and later
    * data costs RECALL (ADC distances stay exact for the codes as
    * written) — the same trade FAISS ships; the retrain move is a new
    * index built offline and cut over, not an in-place mutation.
    * `maxEpochAge` > 0 slides the searchable window (codes age out by
    * first-seen epoch — the family eviction contract). */
  def ivfCodesBatch(batch: DataFrame, epochId: Long, idCol: String,
                    vecCol: String, stateDir: String, outDir: String,
                    queryVec: Seq[Float], nprobe: Int, k: Int,
                    coarseK: Int = 8, m: Int = 4, subDim: Int = 16,
                    probeDims: Int = 4, maxEpochAge: Int = 0): Unit =
    runEpoch("ivfCodesBatch", batch, epochId, outDir, maxEpochAge,
        "ann_topk_rows") { ep =>
      val spark = ep.spark
      val artDone = Paths.get(s"$stateDir/artifacts/_done")
      val trained = Files.exists(artDone)
      if (!trained && batch.isEmpty)
        // nothing to train on and nothing searchable yet: an empty
        // epoch before training emits an empty result, not a crash
        new Emit(spark.range(0).select(col("id").as(idCol),
          lit(0.0).as("adist")), Nil, 0L)
      else {
        if (!trained) {
          val coarse = batch
            .orderBy(col(idCol).asc_nulls_last).limit(coarseK)
            .select(col(idCol).cast("long").as("cid"), col(vecCol).as("cvec"))
          val (_, book) = Similarity.ivfPqIndexTables(
            batch, idCol, vecCol, coarse, "cid", "cvec", m, subDim, probeDims)
          coarse.write.mode("overwrite")
            .parquet(s"$stateDir/artifacts/centroids")
          book.write.mode("overwrite").parquet(s"$stateDir/artifacts/codebook")
          // marker last: a crash mid-write retrains on replay (the
          // postings-marker discipline); content is a pure function of the
          // training batch, so a replayed train overwrites with itself
          Files.writeString(artDone, "1")
        }
        val cents = spark.read.parquet(s"$stateDir/artifacts/centroids")
        val book = spark.read.parquet(s"$stateDir/artifacts/codebook")
        val (coded, _) = Similarity.ivfPqIndexTables(
          batch, idCol, vecCol, cents, "cid", "cvec", m, subDim, probeDims)
        val fresh = ep.stamp(coded)
        val leg = Leg(s"$stateDir/codes", Seq(idCol, "__epoch"))
        // probe view: first-seen coding wins for a re-observed id (the
        // append-only contract applied at read, so a duplicate send can
        // never surface one id twice in a top-k)
        val searchable = Upsert.keepFirst(
          ep.prior(leg, fresh).unionByName(fresh), Seq(idCol),
          Seq(col("__epoch").asc))
        val query = spark.range(1)
          .select(typedLit(queryVec).cast("array<float>").as("qvec"))
        new Emit(Similarity.ivfPqSearchStored(searchable, book, cents, idCol,
            query, "qvec", nprobe, k, m, subDim, probeDims),
          Seq(leg -> fresh), ep.written.count())
      }
    }

  /** [[cmsBatch]]'s membership sibling — the Bloom ingest gate
    * ([[graft.operators.Sketches.bloomBuild]]/`bloomProbe`) as an
    * incremental sink: each micro-batch's keys probe the persisted bit
    * state, rows whose key is DEFINITELY NEW (any unset bit) pass to
    * `outDir/epoch=N`, and the batch's bit positions merge into state.
    * The crawl-frontier shape: "have I seen this URL/fingerprint before"
    * against a state that is ≤ k·m rows TOTAL — not per epoch, not per
    * key — no matter how many keys ever flowed through.
    *
    * Semantics trade, stated plainly: no false negatives (a seen key
    * NEVER passes twice while its bits are retained), but a false
    * positive silently DROPS a genuinely-new key (deterministic given
    * (state, k, m) — q123's oracle pins the same arithmetic). Size m at
    * ~10 bits per expected distinct key for ~1% FP at k=4; when the
    * stream outgrows m, the right move is a bigger rebuilt filter, not
    * living with saturation. The exact-grain alternative with linear
    * state is a keyed `Writers.mergeState` upsert or
    * [[incrementalParagraphBatch]].
    *
    * Replay contract, family-standard: bit rows are keyed by bit id and
    * merge NOVEL-ONLY (a state-known bit keeps its first epoch — the
    * paragraph-sink lesson: refreshing it would change a replayed
    * probe's `__epoch < epochId` view); output overwrites by epoch.
    * `maxEpochAge` N > 0 evicts bits last-first-seen more than N epochs
    * ago — a key whose every bit aged out is readmitted (sliding-window
    * membership). Bits age on their FIRST-SEEN epoch — the novel-only
    * merge never refreshes them — so a late key that merely shares bits
    * with old keys can be readmitted once those age out: the same
    * first-seen contract as the paragraph/window sinks, and the
    * direction a dedup gate can tolerate (an occasional duplicate
    * passes; nothing new is ever silently retained as "seen"). */
  def bloomGateBatch(batch: DataFrame, epochId: Long, keyCol: Column,
                     stateDir: String, outDir: String,
                     k: Int = 4, m: Int = 1 << 20,
                     maxEpochAge: Int = 0): Unit =
    runEpoch("bloomGateBatch", batch, epochId, outDir, maxEpochAge,
        "rows_passed") { ep =>
      // the WHOLE batch's bits (passed or not — a dropped FP key's bits
      // are already set by definition); only the novel ones merge
      val freshBits = Sketches.bloomBuild(batch, keyCol, k, m)
      val leg = Leg(stateDir, Seq("bit"))
      val state = ep.prior(leg, freshBits).select(col("bit"))
      // definitely-new rows: at least one of the key's k bits unset in the
      // prior state (no within-batch dedup here — two copies of a new key
      // in ONE batch both pass; the gate is cross-epoch, and the exact
      // within-batch grain belongs to keepFirst on the passed output).
      // bloomProbe's re-group folds FULLY-identical duplicate rows into
      // one (its documented keyed-table contract) — batches should be
      // row-distinct, which any id-carrying ingest batch is.
      val passed = Sketches.bloomProbe(batch, keyCol, state, k, m)
        .filter(col("maybe_member") === 0)
        .drop("maybe_member")
      new Emit(passed, Seq(leg -> freshBits.join(state, Seq("bit"), "left_anti")),
        ep.written.count())
    }

  /** [[graft.operators.TimeSeries.gapFill]]'s incremental form (VERDICT
    * r12 #8): per-key state holds the fill seed — (last emitted period,
    * last forward-filled value) — so each micro-batch extends every
    * touched key's dense grid from exactly where the previous epoch
    * stopped, including `was_gap` rows for whole periods that fell
    * BETWEEN epochs. Emits (key, period, value_ff, was_gap) to
    * `outDir/epoch=N`; concatenated epoch outputs equal one batch
    * `gapFill` over the concatenated stream whenever each key's events
    * arrive period-monotonically across epochs (StreamingSpec pins the
    * equivalence).
    *
    * Late data: a key's state `last_period` IS its per-key watermark —
    * (key, period) aggregates at or before it were already emitted
    * (possibly as filled gaps) and are DROPPED, counted in the metrics
    * sidecar as `late_period_rows_dropped`. Keys absent from a batch
    * emit nothing and keep their seed (the next batch fills the
    * intervening gap); a key evicted by `maxEpochAge` re-seeds at its
    * next event — the family's standard readmission trade.
    *
    * Replay contract, family-standard: state rows are keyed
    * (key, __epoch) — per-epoch APPENDS, never in-place seed updates —
    * so the probe's `__epoch < epochId` filter reconstructs exactly the
    * pre-epoch view (the cmsBatch lesson: state a replay must re-derive
    * cannot be overwritten in place), with the latest retained row per
    * key as the live seed; the new seed is the latest period per key of
    * the output as written; output overwrites by epoch. State grows by
    * |touched keys| per epoch; `maxEpochAge` bounds it to the sliding
    * working set. */
  def gapFillBatch(batch: DataFrame, epochId: Long, key: Column, ts: Column,
                   value: Column, stateDir: String, outDir: String,
                   grain: String = "hour", maxEpochAge: Int = 0): Unit =
    runEpoch("gapFillBatch", batch, epochId, outDir, maxEpochAge,
        "late_period_rows_dropped") { ep =>
      val step = expr(s"interval 1 $grain")
      val fresh = batch.select(key.as("key"), date_trunc(grain, ts).as("period"),
        value.as("__v"))
      val leg = Leg(stateDir, Seq("key", "__epoch"))
      val stateAll = ep.prior(leg, fresh.select(col("key"),
        col("period").as("last_period"), lit(0.0).as("last_value")))
      // live seed = latest retained state row per key
      val seed = Upsert.keepFirst(stateAll, Seq("key"), Seq(col("__epoch").desc))
        .select(col("key"), col("last_period"), col("last_value"))
      val agg = fresh.groupBy(col("key"), col("period"))
        .agg(graft.queries.Q.sumExact(col("__v")).as("v"))
        .join(seed, Seq("key"), "left")
      val late = agg.filter(col("last_period").isNotNull &&
        col("period") <= col("last_period"))
      val kept = agg.filter(col("last_period").isNull ||
        col("period") > col("last_period"))
      // per-key grid: resume one grain after the seed (covering inter-epoch
      // gaps), or at the key's own first period when unseeded
      val grid = kept.groupBy(col("key"))
        .agg(min(col("period")).as("pmin"), max(col("period")).as("pmax"),
          max(col("last_period")).as("last_period"),
          max(col("last_value")).as("last_value"))
        .select(col("key"), col("last_value"),
          explode(sequence(
            coalesce(col("last_period") + step, col("pmin")),
            col("pmax"), step)).as("period"))
      val w = Window.partitionBy(col("key")).orderBy(col("period"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val filled = grid
        .join(kept.select(col("key"), col("period"), col("v")),
          Seq("key", "period"), "left")
        .select(col("key"), col("period"),
          coalesce(last(col("v"), ignoreNulls = true).over(w),
            col("last_value")).as("value_ff"),
          col("v").isNull.cast("int").as("was_gap"))
      new Emit(filled,
        Seq(leg -> Upsert.keepFirst(ep.written, Seq("key"),
            Seq(col("period").desc))
          .select(col("key"), col("period").as("last_period"),
            col("value_ff").as("last_value"))),
        late.count())
    }

  /** [[graft.operators.Delta.scd2]]'s incremental sink — SCD2 history
    * maintenance at ingest (q144's operator; the epoch core is
    * [[graft.operators.Delta.scd2Merge]], whose equality to the full
    * rebuild is spec-pinned batch-side — the q120/incrementalWindowBatch
    * pattern of oracle-checked epoch cores). Per-key state holds only
    * the OPEN version's observation row + its version number; each
    * micro-batch folds its observations in and emits the REBUILT version
    * rows of touched keys to `outDir/epoch=N`. Reconstruction = keep the
    * LATEST emitted row per (key, version_nr) across epochs — that
    * equals `Delta.scd2` over the concatenated observation stream
    * (StreamingSpec pins the equivalence): a version's row only ever
    * changes by closing its interval, and each change re-emits it.
    *
    * Late contract (the gapFillBatch shape): an observation at or before
    * its key's open-version `(tsCol, tieCols…)` is DROPPED and counted
    * in the metrics sidecar (`late_observations_dropped`) — history
    * rewrites belong to a batch backfill, not a bounded-state sink.
    * State is ONE row per touched key per epoch (corpus-bounded by live
    * keys, never by history depth); `maxEpochAge` evicts keys idle for
    * N epochs (a re-appearing key re-seeds at version 1 — the family's
    * standard readmission trade, acceptable where idle entities are
    * retired entities).
    *
    * Replay contract, family-standard: state keyed (keyCols…, __epoch) —
    * per-epoch APPENDS, never in-place seed updates — so the probe's
    * `__epoch < epochId` filter reconstructs exactly the pre-epoch view;
    * the new seed is the current version rows of the output as written;
    * output overwrites by epoch. */
  def scd2Batch(batch: DataFrame, epochId: Long, keyCols: Seq[String],
                tsCol: String, tieCols: Seq[String], trackCols: Seq[String],
                stateDir: String, outDir: String,
                maxEpochAge: Int = 0): Unit =
    runEpoch("scd2Batch", batch, epochId, outDir, maxEpochAge,
        "late_observations_dropped") { ep =>
      val ordCols = tsCol +: tieCols
      val leg = Leg(stateDir, keyCols :+ "__epoch")
      val stateAll = ep.prior(leg, batch.withColumn("version_nr", lit(1L)))
      // live seed = the latest retained open-version row per key
      val seed = Upsert.keepFirst(stateAll, keyCols, Seq(col("__epoch").desc))
        .drop("__epoch")
      // late gate: observations must sort strictly after the open
      // version's (ts, tie…) — compared as one struct so timestamp ties
      // fall through to the tie columns
      val seedKeyed = seed.select(
        (keyCols.map(col) :+
          struct(ordCols.map(col): _*).as("__seed_ord")): _*)
      val gated = batch.join(seedKeyed, keyCols, "left")
      val obsOrd = struct(ordCols.map(col): _*)
      val late = gated.filter(col("__seed_ord").isNotNull &&
        obsOrd <= col("__seed_ord"))
      val kept = gated.filter(col("__seed_ord").isNull ||
        obsOrd > col("__seed_ord")).drop("__seed_ord")
      // the seed rows ARE an scd2 history of only-open versions
      val history = seed
        .withColumn("valid_from", col(tsCol))
        .withColumn("valid_to", lit(Delta.OpenVersion))
        .withColumn("is_current", lit(1))
      val merged = Delta.scd2Merge(
        history, kept, keyCols, tsCol, tieCols, trackCols)
      val touched = merged.join(
        kept.select(keyCols.map(col): _*).distinct(), keyCols, "left_semi")
      new Emit(touched,
        Seq(leg -> ep.written.filter(col("is_current") === 1)
          .drop("valid_from", "valid_to", "is_current")),
        late.count())
    }

  /** [[incrementalDedupBatch]]'s vector twin: each micro-batch of
    * embeddings probes the persisted IVF bucket state for cosine
    * near-dups, then merges its own buckets into the state — the
    * embedding-dedup-at-ingest shape. Same replay contract: epoch-keyed
    * output overwrite + versioned keep-max state merge make a re-run of
    * the SAME (batch, epochId) a no-op. Same within-batch option as the
    * text sink: by default the probe runs against PRIOR state only, so
    * two near-dup vectors arriving in the SAME micro-batch are not
    * flagged against each other; `withinBatch = true` also self-probes
    * the micro-batch (same bucket cap, pairs oriented id_new > id_old)
    * and unions those pairs into the epoch output. And the
    * same compaction knob: `maxEpochAge` N > 0 keeps only the last N
    * epochs' vectors in state (sliding-window dedup; older near-dups go
    * unflagged), 0 retains forever. */
  def incrementalEmbeddingBatch(batch: DataFrame, epochId: Long,
                                idCol: String, vecCol: String,
                                stateDir: String, outDir: String,
                                probeDims: Int = 8, maxBucketSize: Int = 100,
                                minCosine: Double = 0.9,
                                maxEpochAge: Int = 0,
                                withinBatch: Boolean = false): Unit =
    runEpoch("incrementalEmbeddingBatch", batch, epochId, outDir,
        maxEpochAge) { ep =>
      val bucketed = batch
        .withColumn("bucket", Similarity.ivfAssign(col(vecCol), probeDims))
        .filter(col("bucket").isNotNull)
        .select(col(idCol), col("bucket"), col(vecCol))
      val leg = Leg(stateDir, Seq(idCol))
      def probe(state: DataFrame) = Similarity.incrementalEmbeddingCandidates(
        state, bucketed.drop("bucket"), idCol, vecCol, probeDims,
        maxBucketSize, minCosine)
      val cross = probe(ep.prior(leg, bucketed).drop("__epoch"))
      // self-probe yields both orientations of every same-batch pair
      // (self-matches already excluded); keep one, later id flagged
      // against the earlier — consistent with the text sink
      val flagged = if (!withinBatch) cross
        else cross.unionByName(probe(bucketed)
          .filter(col("id_new") > col("id_old"))).distinct()
      new Emit(flagged, Seq(leg -> bucketed), ep.written.count())
    }

  /** Streaming labeling with a FROZEN stored model — the deployment
    * shape of the learned tier (q165's serving half as a stream): the
    * weight table is a BOUNDED artifact read from `modelPath` (the
    * `Writers.ensureModel` layout) each epoch, and the micro-batch is
    * labeled MAP-ONLY via `QualityModel.predictClass` (one-pass native
    * featurize + fused k-margin lookup + argmax). Epoch cost ∝ |batch|;
    * this is the family's one STATELESS sink — labeling is a pure
    * function of (doc, model), so there is no stateDir, no merge, and
    * replay idempotence holds by construction (each epoch overwrites
    * its own keyed output). Model retraining follows the ivfCodesBatch
    * frozen-artifact contract: train offline, write a NEW artifact,
    * cut the sink over — never mutate the live path mid-stream (a
    * half-read weight table would label one epoch with a torn model).
    * Emits the labeled batch (idCol + per-class scores + pred column)
    * to `outDir/epoch=N`; the metrics sidecar counts labeled rows
    * (state_rows is 0 — stateless). */
  def labelBatch(batch: DataFrame, epochId: Long, idCol: String,
                 tokensCol: Column, modelPath: String, classes: Seq[String],
                 buckets: Int, outDir: String,
                 outCol: String = "class"): Unit = {
    // cache → count → write: the labeled-row counter and the input-row
    // count come from the SAME computed batch the epoch persists (one
    // model pass; the write and both counts replay from cache —
    // predictClass keeps one row per input row) instead of re-reading
    // the written parquet (ADVICE r16) or re-running the micro-batch
    val labeled = QualityModel.predictClass(
        batch.select(col(idCol), tokensCol.as("__toks")), col("__toks"),
        batch.sparkSession.read.parquet(modelPath), classes, buckets, outCol)
      .drop("__toks")
      .cache()
    try runEpoch("labelBatch", labeled, epochId, outDir,
        flaggedKind = "rows_labeled") { _ =>
      val flagged = labeled.filter(col(s"pred_$outCol").isNotNull).count()
      new Emit(labeled, Nil, flagged)
    } finally labeled.unpersist()
  }

  /** Fail an epoch of a maintenance body whose ops are not all
    * add | update | delete. */
  private def requireKnownOps(ops: DataFrame, body: String,
                              epochId: Long): Unit = {
    val bad = ops.filter(!col("op").isin("add", "update", "delete")).count()
    require(bad == 0L, s"$body: $bad rows with unknown op in epoch " +
      s"$epochId — ops must be add | update | delete")
  }

  /** Streaming MAINTENANCE of the stored BM25 SERVING layout — the CDC
    * deployment loop, closing the lifecycle ring: the batch path builds
    * / merges / deletes / updates the layout (q169/q171/q177/q180), and
    * this sink drives those same verbs from a change stream. Each epoch
    * carries (op, doc_id, text) rows with op ∈ add | update | delete
    * (the reference's upsert stream made explicit,
    * dags/scraping_etl.py:51-74), routed at cost ∝ the epoch:
    *  1. EVERY referenced doc that is currently live is tombstoned
    *     ([[graft.sources.Writers.deleteFromBm25Index]] — deletes
    *     proper, the delete half of updates, and no-ops for brand-new
    *     ids; idempotent);
    *  2. add/update rows merge their content back in, stamped past the
    *     tombstone ([[graft.sources.Writers.mergeBm25Index]] — the q180
    *     generation discipline; at the layout level add and update are
    *     both upserts, the op tag's delete/non-delete split is what
    *     routes).
    * Each epoch writes the probe query's post-CDC scores to
    * `outDir/epoch=N` — StreamingSpec pins every horizon ≡ a
    * from-scratch build over the post-CDC corpus. The layout must
    * exist before the first epoch; `writeBm25Index` over ZERO docs is
    * the supported empty bootstrap. The layout is this body's state, so
    * it runs [[runEpoch]] with no state leg (`state_rows` is 0) over
    * the cached ops, and the maintenance policy check runs after the
    * metrics row.
    *
    * Replay note — the COMMIT-PROTOCOL × STREAMING interaction
    * (VERDICT r18 #8), both halves spec-pinned in StreamingSpec:
    *  - a crash BETWEEN a verb's commit flip and the checkpoint
    *    advance re-delivers a COMPLETED epoch (foreachBatch is
    *    at-least-once), and the replay lands content-idempotent — the
    *    re-delete tombstones the epoch's own merged rows, the re-merge
    *    re-adds the same content one generation later, the stats
    *    subtract/add the same exact decimals;
    *  - a crash INSIDE a verb's multi-file commit leaves its appended
    *    files UNCOMMITTED (invisible — Writers.visibleRows' read-time
    *    protocol) plus an abandoned writer lock; the next epoch
    *    detects the lock (this stream is the layout's single writer by
    *    deployment contract, so a held lock at epoch start can only be
    *    its own crashed predecessor), vacuums the torn files, and
    *    replays — the retry lands exactly once.
    * A production deployment gets the same guarantees from a table
    * format's atomic MERGE INTO (the Writers.mergeState framing:
    * operator semantics here, commit protocol there). */
  def bm25MaintenanceBatch(batch: DataFrame, epochId: Long,
                           indexPath: String, outDir: String,
                           probeTerms: Seq[String]): Unit = {
    val spark = batch.sparkSession
    val cached = batch.select(col("op"), col("doc_id"), col("text")).cache()
    try {
      runEpoch("bm25MaintenanceBatch", cached, epochId, outDir,
          flaggedKind = "docs_deleted") { _ =>
        requireKnownOps(cached, "bm25MaintenanceBatch", epochId)
        // CRASH RECOVERY (single-writer deployment: the CDC stream IS the
        // layout's one writer, so a lock held at epoch start can only be
        // this stream's crashed predecessor — a replayed epoch whose verb
        // died mid-flight): vacuum collects the torn files the read-time
        // commit already hid and releases the lock, and the replay below
        // then lands content-idempotent. Syscall-priced when no crash.
        if (Writers.writerLockHeld(indexPath))
          Writers.vacuumBm25Index(spark, indexPath)
        // allowEmpty: an epoch whose ops cover the ENTIRE live set (a
        // full refresh) transits the layout through empty between the
        // delete and the merge — a valid CDC state, never a dead end
        // (the merge's additive stats bootstrap from the empty shape;
        // ADVICE r17)
        Writers.deleteFromBm25Index(spark, indexPath,
          cached.select(col("doc_id")), allowEmpty = true)
        Writers.mergeBm25Index(spark, indexPath,
          cached.filter(col("op") =!= "delete")
            .select(col("doc_id"), col("text")))
        new Emit(Retrieval.bm25Stored(
              Writers.prunedBm25Tf(spark, indexPath, probeTerms),
              spark.read.parquet(s"$indexPath/stats"), "doc_id", probeTerms)
            .coalesce(1),
          Nil, cached.filter(col("op") === "delete").count())
      }
      // SELF-HEALING: every epoch appends tombstones, so a long-running
      // stream would eventually hit the MaxTombstoneRows hard cap and
      // wedge (every replay re-throws) — the policy check is
      // metadata-priced and fires compaction on its own cadence, well
      // before the cap (ADVICE r18). Visibility is identical across a
      // compaction, so probe outputs and replay idempotence are
      // unchanged.
      Writers.maintainBm25Index(spark, indexPath)
    } finally cached.unpersist()
  }

  /** Streaming MAINTENANCE of the stored IVF×PQ SERVING layout — the
    * [[bm25MaintenanceBatch]] contract on the VECTOR leg (VERDICT r17
    * #6, closing the verb×layout×stream matrix): each epoch carries
    * (op, vec_id, embedding) rows with op ∈ add | update | delete,
    * routed at cost ∝ the epoch against FROZEN codebook/centroid
    * artifacts (the FAISS train-before-stream contract — the layout's
    * codebook and centroids must exist before the first epoch; the
    * codes leg may start EMPTY, the supported bootstrap):
    *  1. every referenced id is tombstoned
    *     ([[graft.sources.Writers.deleteFromIvfPqIndex]] — deletes
    *     proper, the delete half of updates, and kill-nothing stamps
    *     for brand-new ids, which the vector leg cannot distinguish
    *     cheaply: codes are bucket-partitioned, there is no id-pruned
    *     leg to probe — the tombstone is harmless and compacted away);
    *  2. add/update rows re-encode against the frozen artifacts and
    *     merge in stamped past their tombstones
    *     ([[graft.sources.Writers.mergeIvfPqIndex]] — the q184
    *     generation discipline).
    * Each epoch writes the probe's post-CDC ANN top-k to
    * `outDir/epoch=N` — StreamingSpec pins every horizon ≡ a
    * from-scratch encode over the post-CDC corpus with the same frozen
    * artifacts, last-epoch replay content-idempotence, and the
    * empty-codes bootstrap. Same at-least-once/torn-write caveat and
    * the same stateless [[runEpoch]] use as the BM25 body (production:
    * table-format MERGE INTO). */
  def ivfPqMaintenanceBatch(batch: DataFrame, epochId: Long,
                            indexPath: String, outDir: String,
                            probeVec: Seq[Double], nprobe: Int = 3,
                            k: Int = 20, m: Int = 4, subDim: Int = 16,
                            probeDims: Int = 4): Unit = {
    val spark = batch.sparkSession
    val cached = batch.select(col("op"), col("vec_id"), col("embedding"))
      .cache()
    try {
      runEpoch("ivfPqMaintenanceBatch", cached, epochId, outDir,
          flaggedKind = "vecs_deleted") { _ =>
        requireKnownOps(cached, "ivfPqMaintenanceBatch", epochId)
        // crash recovery — the bm25MaintenanceBatch stance: a lock held
        // at epoch start is this stream's crashed predecessor; vacuum
        // collects its torn files and releases, the replay lands once
        if (Writers.writerLockHeld(indexPath))
          Writers.vacuumIvfPqIndex(spark, indexPath)
        Writers.deleteFromIvfPqIndex(spark, indexPath,
          cached.select(col("vec_id")))
        val upserts = cached.filter(col("op") =!= "delete")
          .select(col("vec_id"), col("embedding"))
        // an all-delete epoch merges nothing — skip the verb rather than
        // advance the generation counter for an empty batch (keeps
        // re-delete row-idempotence intact across such epochs)
        if (upserts.limit(1).count() > 0)
          Writers.mergeIvfPqIndex(spark, indexPath, upserts,
            m = m, subDim = subDim, probeDims = probeDims)
        val probed =
          if (Writers.hasParquetFiles(s"$indexPath/codes")) {
            val query = spark.range(1).select(
              array(probeVec.map(v => lit(v.toFloat)): _*).as("qvec"))
            Similarity.ivfPqSearchStored(
              Writers.liveCodes(spark, indexPath),
              spark.read.parquet(s"$indexPath/codebook"),
              spark.read.parquet(s"$indexPath/centroids"),
              "vec_id", query, "qvec", nprobe, k, m, subDim, probeDims)
          } else // all-delete epoch emptied the layout: schema-stable empty
            spark.range(0).select(col("id").as("vec_id"),
              lit(0.0).as("adist"))
        new Emit(probed.coalesce(1), Nil,
          cached.filter(col("op") === "delete").count())
      }
      // SELF-HEALING compaction cadence — the bm25MaintenanceBatch
      // rationale (ADVICE r18): without it every epoch's tombstone
      // append marches the layout toward the MaxTombstoneRows hard cap
      // and the stream wedges there.
      if (Writers.hasParquetFiles(s"$indexPath/codes"))
        Writers.maintainIvfPqIndex(spark, indexPath)
    } finally cached.unpersist()
  }

  /** The metrics sidecar of an incremental sink's `outDir` as a
    * DataFrame: (epoch, input_rows, flagged, state_rows, flagged_kind,
    * flagged_pairs), one row per processed epoch (written by
    * [[runEpoch]]). `flagged_kind` says what `flagged` counts for that
    * sink ("flagged_pairs" for the LSH/IVF sinks, "docs_fully_deduped"
    * for the paragraph sink); `flagged_pairs` is the legacy pair-count
    * column, NULL on epochs whose kind isn't a pair count. `state_rows`
    * deltas across consecutive epochs expose compaction (eviction) at
    * work. */
  def epochMetrics(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(s"$outDir/_metrics")

  /** Watermark-side observability for the query-surface jobs
    * ([[tumblingCounts]]/[[sessionCounts]]/[[dedupWithinWatermark]]):
    * the engine's own progress feed as a DataFrame — per micro-batch
    * input rows, live state rows, and rows DROPPED AS TOO LATE by the
    * watermark (the counter a pipeline alerts on when upstream lag
    * starts eating data). Snapshot of `recentProgress`; call after
    * `processAllAvailable()` in tests or on a schedule in production. */
  def progressMetrics(query: org.apache.spark.sql.streaming.StreamingQuery): DataFrame = {
    val spark = query.sparkSession
    import spark.implicits._
    query.recentProgress.toSeq.map { p =>
      val ops = Option(p.stateOperators).getOrElse(Array.empty)
      (p.batchId, p.numInputRows,
        ops.map(_.numRowsTotal).sum,
        ops.map(_.numRowsDroppedByWatermark).sum)
    }.toDF("batch_id", "input_rows", "state_rows", "dropped_late_rows")
  }

  /** A fingerprinted record flowing through the delta stream. */
  final case class KeyedRecord(key: String, hash: String, payload: String)

  /** A fingerprinted record with event time, for the bounded-state form. */
  final case class TimedRecord(key: String, hash: String, payload: String,
                               ts: java.sql.Timestamp)

  /** J1 streaming: per-key last-hash state; emit only rows whose
    * fingerprint is absent or changed (the reference's to_detail branch,
    * dags/scraping_etl.py:66-69, with streaming state instead of the raw
    * table scan). */
  def deltaStream(ds: Dataset[KeyedRecord]): Dataset[KeyedRecord] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: String, rows: Iterator[KeyedRecord], state: GroupState[String]) => {
          val out = Seq.newBuilder[KeyedRecord]
          var cur = state.getOption
          rows.foreach { r =>
            if (!cur.contains(r.hash)) { out += r; cur = Some(r.hash) }
          }
          cur.foreach(state.update)
          out.result().iterator
        })
  }

  /** [[deltaStream]] with BOUNDED state: per-key fingerprints expire
    * `ttlMs` after the key's last event (event-time timeout against the
    * watermark). At 100 TB keys are unbounded — without a TTL the state
    * store grows forever; with it, a key silent past its TTL re-emits on
    * return (at-least-once delta, the documented trade for bounded state —
    * SURVEY §7.4.10). */
  def deltaStreamBounded(ds: Dataset[TimedRecord], delay: String,
                         ttlMs: Long): Dataset[TimedRecord] = {
    import ds.sparkSession.implicits._
    ds.withWatermark("ts", delay)
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (_: String, rows: Iterator[TimedRecord], state: GroupState[String]) => {
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val out = Seq.newBuilder[TimedRecord]
            var cur = state.getOption
            var maxTs = Long.MinValue
            rows.foreach { r =>
              if (!cur.contains(r.hash)) { out += r; cur = Some(r.hash) }
              maxTs = math.max(maxTs, r.ts.getTime)
            }
            cur.foreach(state.update)
            if (maxTs != Long.MinValue)
              state.setTimeoutTimestamp(
                math.max(state.getCurrentWatermarkMs() + 1, maxTs + ttlMs))
            out.result().iterator
          }
        })
  }
}
