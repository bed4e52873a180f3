package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Sketches, TextStats}
import graft.sources.Bucketing

/** Scale-tier operators as oracle-checked queries: the bucketed
  * co-located join (zero-shuffle recurring joins) and the deterministic
  * bounded-state sketches (count-min frequency, Bloom membership).
  * These are the shapes that keep working when the corpus is 1000×
  * the cluster's shuffle capacity — each one's exact arithmetic is
  * nevertheless pinned by a DuckDB oracle at test scale.
  */
object ScalePack extends QueryPack {

  private val CmsDepth = 4
  // sized by the saturation rule width ≥ distinct·ln2/depth with margin
  // (Sketches.cmsCapacity): capacity ≈ 47k distinct keys covers the
  // bigram vocabulary at every SF this harness runs (sf0.01 ≈ 0.9k,
  // sf0.1 ≈ 20k); the r12 width of 2048 saturated at sf0.1 and the
  // estimate guard added for VERDICT r12 #3 would now (correctly)
  // refuse to probe it
  private val CmsWidth = 8192
  private val CmsThreshold = 40L

  private val BloomK = 4
  private val BloomM = 8192

  private val KmvK = 256

  // 2^5 = 32 sub-bins per octave → relative error ≤ 1/32 ≈ 3.1%
  private val HistKb = 5

  // SON two-phase: 4 shards, global threshold 40 → local gate ceil(40/4)
  private val FreqShards = 4
  private val FreqMinCount = 40L

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // G4 scale path: co-located SortMergeJoin over tables bucketed by the
    // join key — ZERO shuffle exchanges for the join AND the follow-on
    // per-key aggregation (HashPartitioning(o_orderkey) satisfies both;
    // PlanLintSpec pins the exchange-free plan). The bucketed layout is
    // written once per corpus (Bucketing.ensureBucketed memoizes) — the
    // production shape where a nightly delta join against data-sized
    // state pays zero shuffles after the one-time layout. The merge hint
    // keeps the broadcast planner from hiding the co-location at test
    // scale (at 100 TB neither side broadcasts anyway).
    "q121_bucketed_join" -> ((s, dir) => Q.ordered {
      val o = Bucketing.ensureBucketed(s, dir, "orders", Seq("o_orderkey"), 16)
      val l = Bucketing.ensureBucketed(s, dir, "lineitem", Seq("l_orderkey"), 16)
      l.hint("merge")
        .join(o, l("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_orderkey"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          Q.sumExact(col("l_extendedprice")).as("sum_price"))
    }),

    // THE recurring pipeline join on the bucketed layout: q22's delta
    // split (the reference's soul — changed-or-new vs stored state,
    // dags/scraping_etl.py:51-74) with BOTH sides read from the
    // lineitem table bucketed by l_orderkey (shared with q121's layout,
    // written once per corpus). The state dedup groupBy, the delta left
    // join, everything — ZERO keyed shuffle exchanges, because
    // HashPartitioning(l_orderkey) satisfies every downstream
    // (l_orderkey, l_linenumber) distribution (subset rule). Same
    // semantics and SAME oracle as q22: bucketing is layout, not
    // meaning — the q22/q130 bench delta prices the nightly shuffles
    // the layout deletes.
    "q130_bucketed_delta" -> ((s, dir) => Q.ordered {
      val li = Bucketing.ensureBucketed(s, dir, "lineitem",
        Seq("l_orderkey"), 16)
      def hash(flag: org.apache.spark.sql.Column) =
        graft.operators.Fingerprint.rowHash(Seq(
          col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          flag, col("l_linestatus")))
      val fresh = li.select(col("l_orderkey"), col("l_linenumber"),
        hash(col("l_returnflag")).as("row_hash"))
      val state = li.filter(col("l_orderkey") % 2 === 0)
        .select(col("l_orderkey"), col("l_linenumber"),
          hash(when(col("l_suppkey") % 7 === 0, lit("CHANGED"))
            .otherwise(col("l_returnflag"))).as("row_hash"))
        .groupBy("l_orderkey", "l_linenumber")
        .agg(min("row_hash").as("row_hash"))
      graft.operators.Delta.split(
        fresh.hint("merge"), state, Seq("l_orderkey", "l_linenumber"))._1
    }),

    // Directory-partition pruning, the third leg of the layout family
    // (q121/q130 bucket for joins, this partitions for filters): events
    // written once partitioned by event_type, and the filtered read
    // touches ONE of the five partition directories — `PartitionFilters`
    // in the scan, pinned by PlanLintSpec. At 100 TB the partition key
    // (date/source/type) deletes the IO of every non-matching partition
    // before a single row is read; same oracle rows as scanning the flat
    // table (layout, not semantics — the q130 framing).
    "q131_partition_pruning" -> ((s, dir) => Q.ordered {
      val path = graft.sources.Writers.ensurePartitioned(
        s, dir, "events", Seq("event_type"))
      s.read.parquet(path)
        .filter(col("event_type") === "view" && col("user_id") < 50)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_views"),
          Q.sumExact(col("value")).as("sum_value"))
    }),

    // Zone skipping, the FOURTH layout leg (buckets → joins q121/q130,
    // directories → categorical filters q131, SORT ORDER → range
    // predicates): lineitem laid out once range-sorted by l_shipdate
    // (Writers.ensureSorted), then a two-month date band reads only the
    // row groups whose min/max overlap the band — the reader's
    // stats-based skip, pinned by PlanLintSpec against actual scan
    // metrics (rows out of the scan ≪ table rows; the flat table scans
    // everything because every row group spans the full date range).
    // Same oracle rows as the flat scan — layout, not semantics (the
    // q130/q131 framing). At 100 TB this is the "last 2 days of a
    // 6-year table" query costing 2 days of IO.
    "q133_zone_skipping" -> ((s, dir) => Q.ordered {
      val path = graft.sources.Writers.ensureSorted(
        s, dir, "lineitem", "l_shipdate")
      s.read.parquet(path)
        .filter(col("l_shipdate") >= lit("1996-02-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"),
          Q.sumExact(col("l_extendedprice")).as("sum_price"))
    }),

    // Count-min heavy hitters over corpus bigrams: the sketch is
    // depth×width = 32768 rows NO MATTER the corpus size (vs the exact
    // (bigram, count) table, which is data-sized) — build is one
    // map-side-combinable aggregation, probe broadcasts the sketch.
    // Estimates OVERCOUNT on collision (never under), so `est >= T`
    // returns every true heavy hitter plus deterministic false
    // positives. The estimate carries the r13 saturation guard
    // (Sketches.cmsEstimate default): a corpus whose bigram vocabulary
    // outgrows cmsCapacity(depth, width) fails loudly with the resize
    // rule instead of silently flagging every key. Candidates here are
    // the corpus's bounded bigram vocabulary; at 100 TB the candidate
    // list is an external dictionary or a sampled shortlist, probed the
    // same way.
    "q122_cms_heavy_hitters" -> ((s, dir) => Q.ordered {
      val toks = Q.wide(Q.t(s, dir, "documents"))
        .select(explode(TextStats.bigrams(split(col("text"), " "))).as("bg"))
      val sketch = Sketches.cmsBuild(toks, col("bg"), CmsDepth, CmsWidth)
      Sketches.cmsEstimate(toks.distinct(), col("bg"), sketch, CmsDepth, CmsWidth)
        .filter(col("est") >= CmsThreshold)
        .select(col("item").as("bigram"), col("est"))
    }),

    // KMV distinct-count sketch — the ORACLE-CHECKED sibling of q63's
    // engine-specific HLL (G2's approximate tier, finally hash-pinned):
    // state is "the k smallest distinct md5 hashes" (a ≤ k-value typed
    // Aggregator buffer, CONSTANT per task), estimate (k−1)·2^32/h_k is
    // one IEEE division of exact integers — both engines replay it
    // bit-for-bit. Relative error ~ 1/√k (k=256 → ~6%); the exact
    // distinct count rides along as the audit column (the q123
    // ground-truth pattern — production runs the sketch alone).
    "q135_kmv_distinct" -> ((s, dir) => Q.ordered {
      val li = Q.t(s, dir, "lineitem")
      val sk = Sketches.kmvDistinct(li, col("l_partkey").cast("string"), KmvK)
      val exact = li.agg(countDistinct(col("l_partkey")).as("n_exact"))
      sk.crossJoin(broadcast(exact))
    }),

    // Log-linear histogram quantiles — the ORACLE-CHECKED approximate-
    // quantile tier (HdrHistogram/DDSketch bucket family), closing
    // q137's documented caveat: exact `percentile` buffers the VALUE
    // DOMAIN (fine for graded small-integer columns, unbounded for
    // continuous ones) and approx_percentile is an engine-specific
    // sketch (the q63 rows-only stance) — this sketch is ≤ 64·2^kb
    // additive count rows per group REGARDLESS of domain, and every
    // step (octave via binary-string length, sub-bin via shifts,
    // integer rank targets, bin-edge estimates) is exact integer
    // arithmetic both engines replay bit-for-bit. Relative error
    // ≤ 2^−kb; the exact q72-style percentiles ride along as the audit
    // columns (the q135 n_exact pattern — production runs the sketch
    // alone, in ONE pass, mergeable across partitions/epochs).
    "q143_hist_quantiles" -> ((s, dir) => Q.ordered {
      val ev = Q.t(s, dir, "events")
      val scaled = ev.select(col("event_type"),
        round(col("value") * 100).cast("long").as("v"))
      val sk = Sketches.histBuild(scaled, col("v"), HistKb, Seq("event_type"))
      val est = Sketches
        .histQuantiles(sk, HistKb, Seq(50, 90, 99), Seq("event_type"))
        .select(col("event_type"), col("n").as("n_rows"),
          (col("p50") / 100.0).as("p50"),
          (col("p90") / 100.0).as("p90"),
          (col("p99") / 100.0).as("p99"))
      val exact = ev.groupBy(col("event_type"))
        .agg(round(percentile(col("value"), lit(0.5)), 6).as("exact_p50"),
          round(percentile(col("value"), lit(0.9)), 6).as("exact_p90"),
          round(percentile(col("value"), lit(0.99)), 6).as("exact_p99"))
      est.join(broadcast(exact), Seq("event_type"))
    }),

    // Two-phase EXACT heavy hitters (SON candidate+verify) — the exact
    // sibling of q122's count-min: same corpus, same bigram grain, but
    // the answer is every bigram's TRUE global count >= T, no false
    // positives, via deterministic md5 row-sharding (shards=4), a local
    // ceil(T/P) candidate gate (pigeonhole: recall is GUARANTEED, spec-
    // pinned equal to the direct groupBy), and an exact recount
    // restricted to the broadcast candidate list. The full (bigram,
    // count) table never materializes globally — phase 1's output is
    // n·P/T-bounded by construction, which is what survives a vocabulary
    // 1000× the cluster's shuffle capacity. n_candidates carries the
    // phase-1 cut as the audit column (this deliberately FLAT corpus is
    // SON's worst case — SCALE.md's "SON exact heavy hitters" section
    // shows the real cut on a Zipfian stream).
    "q145_exact_heavy_hitters" -> ((s, dir) => Q.ordered {
      val toks = Q.wide(Q.t(s, dir, "documents"))
        .select(col("doc_id"),
          explode(TextStats.bigrams(split(col("text"), " "))).as("bg"))
      Sketches.frequentItems(toks, col("bg"),
        col("doc_id").cast("string"), FreqShards, FreqMinCount)
        .select(col("item").as("bigram"), col("cnt"), col("n_candidates"))
    }),

    // Bloom membership gate: "which probe keys are definitely NOT in the
    // state set" from a k·m-bit filter instead of an anti-join against
    // data-sized state. State = custkeys holding an 'F' order; probe =
    // every customer. No false negatives (every true member probes 1);
    // false positives are a deterministic function of (state, k, m) and
    // the oracle replicates them bit-for-bit. `is_member` carries the
    // exact ground truth so the output IS the false-positive audit.
    // Sizing rule at scale: m ≈ 10 bits per expected distinct key for
    // ~1% FP at k=4 — m is pinned here so the filter is a pure function
    // of the state set.
    "q123_bloom_gate" -> ((s, dir) => Q.ordered {
      val fMembers = Q.t(s, dir, "orders")
        .filter(col("o_orderstatus") === "F")
        .select(col("o_custkey")).distinct()
      val bits = Sketches.bloomBuild(
        fMembers.select(col("o_custkey").cast("string").as("k")),
        col("k"), BloomK, BloomM)
      val probed = Sketches.bloomProbe(
        Q.t(s, dir, "customer").select(col("c_custkey")),
        col("c_custkey").cast("string"), bits, BloomK, BloomM)
      probed
        .join(fMembers.withColumn("is_member", lit(1)),
          probed("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"), col("maybe_member"),
          coalesce(col("is_member"), lit(0)).as("is_member"))
    }),
  )

  override val oracleSql: Map[String, String] = Map(

    "q131_partition_pruning" ->
      s"""SELECT user_id, CAST(count(*) AS BIGINT) AS n_views,
                 ${Q.sumExactSql("value")} AS sum_value
          FROM events
          WHERE event_type = 'view' AND user_id < 50
          GROUP BY 1
          ORDER BY ALL NULLS FIRST""",

    // identical to q22's oracle — the bucketed layout must not change a
    // single row, only the exchanges in the physical plan
    "q130_bucketed_delta" ->
      s"""WITH fresh AS (
            SELECT l_orderkey, l_linenumber,
                   ${graft.operators.Fingerprint.sqlExpr(Seq("l_orderkey",
                     "l_linenumber", "l_partkey", "l_returnflag",
                     "l_linestatus"))} AS row_hash
            FROM lineitem),
          state AS (
            SELECT l_orderkey, l_linenumber,
                   min(md5(concat_ws('|', coalesce(CAST(l_orderkey AS VARCHAR), ''),
                                       coalesce(CAST(l_linenumber AS VARCHAR), ''),
                                       coalesce(CAST(l_partkey AS VARCHAR), ''),
                                       coalesce(CASE WHEN l_suppkey % 7 = 0 THEN 'CHANGED' ELSE l_returnflag END, ''),
                                       coalesce(l_linestatus, '')))) AS row_hash
            FROM lineitem WHERE l_orderkey % 2 = 0
            GROUP BY l_orderkey, l_linenumber)
          SELECT f.l_orderkey, f.l_linenumber, f.row_hash
          FROM fresh f LEFT JOIN state s
            ON f.l_orderkey = s.l_orderkey AND f.l_linenumber = s.l_linenumber
          WHERE s.row_hash IS NULL OR s.row_hash <> f.row_hash
          ORDER BY ALL NULLS FIRST""",

    // identical rows to a flat-table scan — the sorted layout must only
    // change which row groups the reader touches
    "q133_zone_skipping" ->
      s"""SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
                 ${Q.sumExactSql("l_extendedprice")} AS sum_price
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-02-01 00:00:00'
            AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
          GROUP BY 1
          ORDER BY ALL NULLS FIRST""",

    "q121_bucketed_join" ->
      s"""SELECT o_orderkey, o_orderpriority,
                 CAST(count(*) AS BIGINT) AS n_items,
                 ${Q.sumExactSql("l_extendedprice")} AS sum_price
          FROM orders JOIN lineitem ON l_orderkey = o_orderkey
          GROUP BY 1, 2
          ORDER BY ALL NULLS FIRST""",

    "q122_cms_heavy_hitters" ->
      s"""WITH d AS (SELECT str_split(text, ' ') AS toks FROM documents),
          bgr AS (SELECT unnest(list_transform(range(1, len(toks)),
                           i -> toks[i] || '_' || toks[i + 1])) AS bg
                  FROM d),
          h AS (SELECT bg, r,
                       CAST('0x' || substr(md5(bg), 1 + 8 * r, 8) AS BIGINT)
                         % $CmsWidth AS bucket
                FROM bgr, (SELECT unnest([0, 1, 2, 3]) AS r)),
          sk AS (SELECT r, bucket, count(*) AS cnt FROM h GROUP BY 1, 2),
          cand AS (SELECT DISTINCT bg, r, bucket FROM h),
          est AS (SELECT c.bg AS bigram, CAST(min(sk.cnt) AS BIGINT) AS est
                  FROM cand c JOIN sk USING (r, bucket) GROUP BY 1)
          SELECT bigram, est FROM est WHERE est >= $CmsThreshold
          ORDER BY ALL NULLS FIRST""",

    "q135_kmv_distinct" ->
      s"""WITH h AS (SELECT DISTINCT
                CAST('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 8)
                  AS BIGINT) AS h
              FROM lineitem),
          mins AS (SELECT h FROM h ORDER BY h LIMIT $KmvK),
          agg AS (SELECT CAST(count(*) AS BIGINT) AS n_mins,
                         max(h) AS h_k
                  FROM mins),
          ex AS (SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_exact
                 FROM lineitem)
          SELECT CAST($KmvK AS BIGINT) AS k, n_mins, h_k,
                 CASE WHEN n_mins < $KmvK THEN CAST(n_mins AS DOUBLE)
                      ELSE CAST(${KmvK - 1} AS DOUBLE)
                           * CAST(4294967296 AS DOUBLE)
                           / CAST(h_k AS DOUBLE) END AS est,
                 n_exact
          FROM agg, ex
          ORDER BY ALL NULLS FIRST""",

    // replays the full bucket arithmetic: octave from the binary-string
    // length, sub-bin and lower edges via shifts, ceil-rank targets via
    // integer division — nothing transcendental anywhere
    "q143_hist_quantiles" -> {
      val k = 1 << 5; val kb = 5
      s"""WITH ev AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v
                      FROM events),
          b AS (SELECT event_type,
                       CASE WHEN v < 1 THEN CAST(-1 AS BIGINT)
                            ELSE (length(bin(v)) - 1) * $k
                              + ((v << $kb) >> (length(bin(v)) - 1)) - $k
                       END AS bin
                FROM ev),
          sk AS (SELECT event_type, bin, CAST(count(*) AS BIGINT) AS cnt
                 FROM b GROUP BY 1, 2),
          c AS (SELECT event_type, bin, cnt,
                       CAST(sum(cnt) OVER (PARTITION BY event_type
                                           ORDER BY bin) AS BIGINT) AS cum,
                       CAST(sum(cnt) OVER (PARTITION BY event_type)
                            AS BIGINT) AS n,
                       CASE WHEN bin < 0 THEN CAST(0 AS BIGINT)
                            ELSE (($k + (bin & ${k - 1})) << (bin >> $kb))
                                   >> $kb
                       END AS low
                FROM sk),
          q AS (SELECT event_type, max(n) AS n_rows,
                       min(CASE WHEN cum >= (n * 50 + 99) // 100 THEN low END)
                         / 100.0 AS p50,
                       min(CASE WHEN cum >= (n * 90 + 99) // 100 THEN low END)
                         / 100.0 AS p90,
                       min(CASE WHEN cum >= (n * 99 + 99) // 100 THEN low END)
                         / 100.0 AS p99
                FROM c GROUP BY 1),
          ex AS (SELECT event_type,
                        round(quantile_cont(value, 0.5), 6) AS exact_p50,
                        round(quantile_cont(value, 0.9), 6) AS exact_p90,
                        round(quantile_cont(value, 0.99), 6) AS exact_p99
                 FROM events GROUP BY 1)
          SELECT q.event_type, n_rows, p50, p90, p99,
                 exact_p50, exact_p90, exact_p99
          FROM q JOIN ex USING (event_type)
          ORDER BY ALL NULLS FIRST"""
    },

    // replays the full two-phase chain: md5 doc-shard, local ceil(T/P)
    // gate, candidate join, exact recount — a divergence in the
    // CANDIDATE set (not just the final counts) breaks n_candidates
    "q145_exact_heavy_hitters" ->
      s"""WITH d AS (SELECT doc_id, str_split(text, ' ') AS toks
                     FROM documents),
          bgr AS (SELECT CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                              1, 8) AS BIGINT) % $FreqShards AS sh,
                         unnest(list_transform(range(1, len(toks)),
                           i -> toks[i] || '_' || toks[i + 1])) AS bg
                  FROM d),
          loc AS (SELECT sh, bg, count(*) AS n FROM bgr GROUP BY 1, 2),
          cand AS (SELECT DISTINCT bg FROM loc
                   WHERE n >= ${(FreqMinCount + FreqShards - 1) / FreqShards}),
          candn AS (SELECT bg,
                           (SELECT CAST(count(*) AS BIGINT) FROM cand)
                             AS n_candidates
                    FROM cand),
          hh AS (SELECT b.bg AS bigram, CAST(count(*) AS BIGINT) AS cnt,
                        CAST(max(n_candidates) AS BIGINT) AS n_candidates
                 FROM bgr b JOIN candn c ON b.bg = c.bg GROUP BY 1)
          SELECT bigram, cnt, n_candidates FROM hh WHERE cnt >= $FreqMinCount
          ORDER BY ALL NULLS FIRST""",

    "q123_bloom_gate" ->
      s"""WITH state AS (SELECT DISTINCT o_custkey FROM orders
                         WHERE o_orderstatus = 'F'),
          idx AS (SELECT unnest([0, 1, 2, 3]) AS r),
          bits AS (SELECT DISTINCT r * $BloomM +
                     CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)),
                                         1 + 8 * r, 8) AS BIGINT) % $BloomM
                     AS bit
                   FROM state, idx),
          probe AS (SELECT c_custkey, r * $BloomM +
                      CAST('0x' || substr(md5(CAST(c_custkey AS VARCHAR)),
                                          1 + 8 * r, 8) AS BIGINT) % $BloomM
                      AS bit
                    FROM customer, idx),
          hits AS (SELECT c_custkey, count(b.bit) AS nh
                   FROM probe p LEFT JOIN bits b USING (bit) GROUP BY 1)
          SELECT h.c_custkey,
                 CAST(nh = $BloomK AS INT) AS maybe_member,
                 CAST(h.c_custkey IN (SELECT o_custkey FROM state) AS INT)
                   AS is_member
          FROM hits h
          ORDER BY ALL NULLS FIRST""",
  )
}
