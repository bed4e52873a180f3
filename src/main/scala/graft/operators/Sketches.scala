package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.functions.HashFunctions

/** Bounded-state frequency/membership sketches — the approximate
  * structures a 100 TB pipeline uses where exact state would itself be
  * data-sized (SURVEY §2.9 scale tier; Cormode & Muthukrishnan 2005
  * count-min, Bloom 1970 membership).
  *
  * Both sketches here are DETERMINISTIC: every hash row is an md5 digest
  * window (`HashFunctions.md5Window`, the engine's portable hash
  * contract, SURVEY §7.4.8), so a DuckDB oracle can replicate the sketch
  * arithmetic bit-for-bit — the estimates themselves are oracle-checked,
  * not just "plausible".
  *
  * Scale shape shared by both:
  *  - BUILD is one map-side-combinable aggregation over the stream of
  *    items: the sketch is `depth × width` (CMS) or ≤ `k·m` (Bloom) rows
  *    REGARDLESS of corpus size — the whole point. One shuffle whose
  *    output is bounded by the sketch dimensions, not the data.
  *  - PROBE broadcasts the bounded sketch and costs one pass over the
  *    probe side — never a corpus × corpus join, never a driver collect.
  *  - The reference keeps its whole key→hash state as one in-memory
  *    python dict on the driver (/root/reference/src/storage.py:66-74
  *    `fetch_existing_raw` returns dict(cur.fetchall()) over the entire
  *    raw table) — a shape that cannot exceed one machine; these
  *    bounded sketches are the distributed replacements.
  */
object Sketches {

  /** One row per (hash-row, bucket) with this item's positions —
    * `posexplode` supplies the row index r, the value is h_r(item) % width.
    * All `depth` digests come from ONE md5 evaluation (windows 0–3). */
  private def hashRows(item: Column, depth: Int, width: Int): Column = {
    require(depth >= 1 && depth <= 4,
      s"sketch depth must be in [1, 4] — md5 yields 4 independent " +
        s"32-bit windows (got $depth)")
    array((0 until depth).map(r => HashFunctions.md5Window(item, r) % width): _*)
  }

  /** Count-min sketch BUILD: the `depth × width` counts table from one
    * aggregation over `items` (one row per occurrence). Output columns
    * `(r, bucket, cnt)`; at most `depth · width` rows — broadcastable by
    * construction. */
  def cmsBuild(items: DataFrame, item: Column, depth: Int, width: Int): DataFrame =
    items
      .select(posexplode(hashRows(item, depth, width)).as(Seq("r", "bucket")))
      .groupBy("r", "bucket")
      .agg(count(lit(1)).as("cnt"))

  /** Distinct-key capacity heuristic for a `depth × width` count-min
    * sketch: past ~`depth·width/ln2` distinct build keys the rows are
    * essentially fully occupied and every estimate carries collision
    * mass — SCALE.md r12 measured exactly this (w=2048 vs 20k keys →
    * the heavy-hitter set converged on "every key"). Size
    * `width ≥ distinct·ln2/depth` with margin. */
  def cmsCapacity(depth: Int, width: Int): Long =
    (depth.toLong * width / math.log(2)).toLong

  /** Per-row occupancy at the capacity point: with `d` distinct keys
    * hashed into `width` buckets the expected occupied fraction is
    * `1 − e^(−d/width)`; at d = [[cmsCapacity]] that is
    * `1 − e^(−depth/ln2)` — the executable saturation signal, read off
    * the sketch's own row sizes (bounded — no extra pass over any
    * corpus). */
  private def saturationOccupancy(depth: Int, width: Int): Long =
    math.ceil(width * (1.0 - math.exp(-depth / math.log(2)))).toLong

  /** Count-min ESTIMATE for each candidate: min over the `depth` rows of
    * the candidate's bucket counts — an OVERESTIMATE of the true count,
    * never an under (collisions only add). `candidates` must expose the
    * item under the column produced by `item`; output `(item, est)`.
    *
    * The sketch is broadcast (≤ depth·width rows); the probe is one pass
    * over `candidates` + a bounded-side join. A candidate absent from
    * the build stream estimates ≥ 0 via the left join (its buckets may
    * simply not exist in the counts table).
    *
    * Saturation guard (VERDICT r12 #3): a sketch whose build stream held
    * ≫ [[cmsCapacity]] distinct keys still satisfies the overcount-only
    * contract but estimates nothing — every bucket carries collision
    * mass. That condition is visible in the sketch itself: per-row
    * occupancy (a `count over (partition by r)` window on the ≤
    * depth·width-row sketch — bounded work, no corpus reference) crosses
    * [[saturationOccupancy]] exactly when distinct ≈ capacity. With
    * `failOnSaturation` (the default) any probe of a saturated sketch
    * raises at runtime with the resize rule instead of silently
    * returning noise; pass false only for a deliberately-narrow sketch
    * (tests, adversarial-blowup guards). */
  def cmsEstimate(candidates: DataFrame, item: Column,
                  sketch: DataFrame, depth: Int, width: Int,
                  failOnSaturation: Boolean = true): DataFrame = {
    val probed = candidates
      .select(item.as("item"))
      .select(col("item"),
        posexplode(hashRows(col("item"), depth, width)).as(Seq("r", "bucket")))
    val guarded =
      if (!failOnSaturation) sketch.withColumn("__occ", lit(0L))
      else sketch.withColumn("__occ", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("r")))
    val occThresh = saturationOccupancy(depth, width)
    probed
      .join(broadcast(guarded), Seq("r", "bucket"), "left")
      .groupBy("item")
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"),
        max(coalesce(col("__occ"), lit(0L))).as("__occ"))
      .select(col("item"),
        when(col("__occ") >= occThresh, raise_error(concat(
          lit(s"graft count-min sketch saturated: row occupancy "),
          col("__occ"),
          lit(s"/$width at depth=$depth — distinct build keys exceed " +
            s"capacity ~${cmsCapacity(depth, width)} " +
            s"(depth*width/ln2); resize width >= distinct*ln2/depth"))))
          .otherwise(col("est")).as("est"))
  }

  /** KMV (k-minimum-values) distinct-count sketch (Bar-Yossef et al.
    * 2002; Beyer et al. 2007) — the ORACLE-CHECKABLE sibling of q63's
    * HLL: where HLL's register layout is engine-specific (rows-only by
    * documented design), KMV's entire state is "the k smallest distinct
    * md5 hash values", and its estimate `(k−1)·2^32 / h_k` is one IEEE
    * division of exact integers — bit-replayable by any SQL engine.
    * Relative error ~ 1/√k.
    *
    * Scale shape: a typed [[Aggregator]] whose buffer is a ≤ k-element
    * sorted array — CONSTANT state per task regardless of data (each
    * partition partially aggregates to ≤ k values before the 1-group
    * final merge; nothing data-sized moves). When fewer than k distinct
    * hashes exist the sketch IS the distinct set and the estimate is
    * exact — the standard small-cardinality rule. */
  class KmvAgg(k: Int) extends Aggregator[Long, Array[Long], Array[Long]] {
    require(k >= 2, s"kmv k must be >= 2 (got $k)")

    override def zero: Array[Long] = Array.emptyLongArray

    override def reduce(buf: Array[Long], h: Long): Array[Long] = {
      val i = java.util.Arrays.binarySearch(buf, h)
      if (i >= 0) buf // already held
      else {
        val ins = -i - 1
        if (buf.length < k) {
          val out = new Array[Long](buf.length + 1)
          System.arraycopy(buf, 0, out, 0, ins)
          out(ins) = h
          System.arraycopy(buf, ins, out, ins + 1, buf.length - ins)
          out
        } else if (ins < k) {
          // displaces the current k-th minimum
          val out = new Array[Long](k)
          System.arraycopy(buf, 0, out, 0, ins)
          out(ins) = h
          System.arraycopy(buf, ins, out, ins + 1, k - ins - 1)
          out
        } else buf
      }
    }

    override def merge(a: Array[Long], b: Array[Long]): Array[Long] =
      b.foldLeft(a)(reduce)

    override def finish(buf: Array[Long]): Array[Long] = buf

    override def bufferEncoder: Encoder[Array[Long]] =
      ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[Array[Long]] =
      ExpressionEncoder[Array[Long]]()
  }

  /** The ≤ k smallest distinct md5 hashes of `item` as rows `(h)` — the
    * KMV sketch state itself (exactly mergeable: the k-minima of a union
    * equal the k-minima of the union of per-part k-minima, which is what
    * makes the streaming form's per-epoch contributions re-reducible). */
  def kmvMinima(items: DataFrame, item: Column, k: Int): DataFrame =
    items
      .select(HashFunctions.md5Window(item, 0).as("h"))
      .agg(udaf(new KmvAgg(k), Encoders.scalaLong).apply(col("h")).as("mins"))
      .select(explode(col("mins")).as("h"))

  /** One-row `(k, n_mins, h_k, est)` from any bounded superset of the
    * true minima rows `(h)` (re-reduces to the k smallest distinct
    * first): `est = (k−1)·2^32/h_k`, or the exact count while fewer than
    * k hashes exist. */
  def kmvEstimate(minima: DataFrame, k: Int): DataFrame =
    minima.select(col("h")).distinct()
      .orderBy(col("h").asc).limit(k)
      .agg(count(lit(1)).as("n_mins"), max(col("h")).as("h_k"))
      .select(
        lit(k.toLong).as("k"),
        col("n_mins"),
        col("h_k"),
        when(col("n_mins") < k, col("n_mins").cast("double"))
          .otherwise(lit((k - 1).toDouble) * lit(4294967296.0) /
            col("h_k").cast("double")).as("est"))

  /** One-row distinct-count estimate for `item` over `items`:
    * [[kmvMinima]] (one partial-aggregable pass, per-task state the
    * ≤ k-value buffer) reduced through [[kmvEstimate]]. */
  def kmvDistinct(items: DataFrame, item: Column, k: Int): DataFrame =
    kmvEstimate(kmvMinima(items, item, k), k)

  /** Per-GROUP KMV minima — the ≤ k smallest distinct md5 hashes of
    * `item` within each value of `group`, as rows `(g, h)`. One keyed
    * aggregation whose per-task buffer is a ≤ k-long array PER GROUP
    * (groups × k bounded state, never data-sized); same merge law as
    * [[kmvMinima]], per group. NULL items contribute nothing (the
    * distinct count is over values, matching [[Profile.profile]]'s
    * `n_distinct` contract). */
  def kmvMinimaBy(items: DataFrame, group: Column, item: Column,
                  k: Int): DataFrame =
    items
      .filter(item.isNotNull)
      .select(group.as("g"), HashFunctions.md5Window(item, 0).as("h"))
      .groupBy(col("g"))
      .agg(udaf(new KmvAgg(k), Encoders.scalaLong).apply(col("h")).as("mins"))
      .select(col("g"), explode(col("mins")).as("h"))

  /** Per-group `(g, k, n_mins, h_k, est)` from any bounded superset of
    * each group's true minima rows `(g, h)` — re-reduces each group to
    * its k smallest distinct first (KmvAgg output is ascending, so h_k
    * is the last element), then applies [[kmvEstimate]]'s exact
    * formula. */
  def kmvEstimateBy(minima: DataFrame, k: Int): DataFrame =
    minima.select(col("g"), col("h"))
      .groupBy(col("g"))
      .agg(udaf(new KmvAgg(k), Encoders.scalaLong).apply(col("h")).as("mins"))
      .select(col("g"), size(col("mins")).cast("long").as("n_mins"),
        element_at(col("mins"), size(col("mins"))).as("h_k"))
      .select(col("g"), lit(k.toLong).as("k"), col("n_mins"), col("h_k"),
        when(col("n_mins") < k, col("n_mins").cast("double"))
          .otherwise(lit((k - 1).toDouble) * lit(4294967296.0) /
            col("h_k").cast("double")).as("est"))

  /** Log-linear histogram bin id for a positive integer value — the
    * HdrHistogram / DDSketch bucket family (Masson et al., VLDB 2019),
    * built to be ORACLE-REPLAYABLE: the octave `e = floor(log2 v)` comes
    * from the binary-string length (`length(bin(v)) − 1` — pure integer
    * arithmetic, no transcendental whose last ulp could differ across
    * engines), and the sub-bin is the value's next `kb` bits
    * (`(v << kb >> e) − 2^kb`). Bin id = `e·2^kb + sub`.
    *
    * Properties:
    *  - state is ≤ 64·2^kb bins REGARDLESS of the value domain — the
    *    bounded-state answer to exact `percentile`'s value-domain buffer
    *    (q137's documented caveat for unbounded continuous domains);
    *  - relative bin width ≤ 2^−kb once `e ≥ kb`; below that every
    *    integer owns its bin (exact) — the standard HDR small-value rule;
    *  - counts are ADDITIVE, so sketches merge by unioned `sum(cnt)`
    *    (the same re-reducibility that makes the CMS/KMV streaming forms
    *    work).
    *
    * Values < 1 land in the reserved underflow bin −1 (lower edge 0);
    * callers hold `v < 2^(57−kb)` so the shift cannot overflow (scale
    * real-valued data to integer micro-units first — exactly the md5 /
    * DECIMAL portability discipline, SURVEY §7.4.8). */
  def histBin(v: Column, kb: Int): Column = {
    require(kb >= 1 && kb <= 8,
      s"hist kb must be in [1, 8] — 2^kb sub-bins per octave (got $kb)")
    val k = 1L << kb
    val e = (length(bin(v)) - 1).cast("int")
    val sub = call_function("shiftright", shiftleft(v, kb), e) - k
    when(v < 1, lit(-1L)).otherwise(e.cast("long") * k + sub)
  }

  /** Inclusive lower edge of a [[histBin]] bin, in the value's own integer
    * units: `((2^kb + sub) << e) >> kb` — again pure shifts, so both
    * engines agree bit-for-bit. The quantile ESTIMATE is this edge (an
    * underestimate by at most one bin width, i.e. relative error ≤ 2^−kb
    * for `e ≥ kb`). Underflow bin → 0. */
  def histLowerEdge(binId: Column, kb: Int): Column = {
    val k = 1L << kb
    val e = shiftright(binId, kb).cast("int")
    val sub = binId.bitwiseAND(lit(k - 1))
    when(binId < 0, lit(0L))
      .otherwise(shiftright(call_function("shiftleft", lit(k) + sub, e), kb))
  }

  /** Histogram BUILD: one map-side-combinable aggregation over `items` to
    * `(groupCols…, bin, cnt)` — ≤ 64·2^kb rows per group no matter how
    * many rows fed it (the whole point: a 100 TB column's distribution
    * summary moves ~2k rows per group through the shuffle). */
  def histBuild(items: DataFrame, value: Column, kb: Int,
                groupCols: Seq[String] = Nil): DataFrame =
    items
      .groupBy((groupCols.map(col) :+ histBin(value, kb).as("bin")): _*)
      .agg(count(lit(1)).as("cnt"))

  /** Quantile ESTIMATES from a built (or merged) sketch: for each pct in
    * `pcts` (integer percents — the rank target `ceil(n·pct/100)` stays
    * in exact integer arithmetic on both engines), the lower edge of the
    * first bin whose cumulative count reaches the target. All work here
    * is windows/aggs over the BOUNDED sketch table — nothing data-sized.
    * Output: `(groupCols…, n, p<pct>…)` with estimates in the value's
    * integer units. */
  def histQuantiles(sketch: DataFrame, kb: Int, pcts: Seq[Int],
                    groupCols: Seq[String] = Nil): DataFrame = {
    require(pcts.nonEmpty && pcts.forall(p => p >= 1 && p <= 100),
      s"pcts must be integer percents in [1, 100] (got $pcts)")
    import org.apache.spark.sql.expressions.Window
    val part =
      if (groupCols.isEmpty) Window.partitionBy(lit(1))
      else Window.partitionBy(groupCols.map(col): _*)
    val c = sketch
      .withColumn("__cum", sum(col("cnt")).over(part.orderBy(col("bin").asc)))
      .withColumn("__n", sum(col("cnt")).over(part))
      .withColumn("__low", histLowerEdge(col("bin"), kb))
    val aggs = max(col("__n")).as("n") +: pcts.map { p =>
      min(when(col("__cum") >= expr(s"(__n * $p + 99) div 100"), col("__low")))
        .as(s"p$p")
    }
    val g = if (groupCols.isEmpty) c.groupBy() else c.groupBy(groupCols.map(col): _*)
    g.agg(aggs.head, aggs.tail: _*)
  }

  /** Two-phase EXACT heavy hitters — the SON candidate-generation /
    * verification pattern (Savasere-Omiecinski-Navathe 1995, the
    * frequent-itemset 2-pass specialized to single items): where q122's
    * count-min returns OVERestimates plus deterministic false positives,
    * this returns the exact global count of every item with
    * `cnt >= minCount` — and nothing else — in two bounded passes.
    *
    * Phase 1 groups by `(shard, item)` where `shard` is a DETERMINISTIC
    * row-identity hash (md5 of a row key, never Spark's partition id —
    * the result must be a pure function of the data so the oracle can
    * replay it), and keeps items locally frequent in SOME shard
    * (`cnt >= ceil(minCount / shards)`). Pigeonhole guarantees recall:
    * an item with global count >= minCount must reach the local
    * threshold in at least one of the `shards` cells — so phase 2's
    * exact recount restricted to the candidate set (broadcast semi-join)
    * loses nothing. The law `frequentItems == groupBy.count.filter` is
    * spec-pinned (SketchesSpec).
    *
    * Scale shape: the full `(item, count)` table is NEVER materialized
    * globally. Phase 1 is map-side combinable and its OUTPUT is bounded
    * by construction — each shard can hold at most
    * `|occurrences| · shards / minCount` locally-frequent items, so the
    * candidate list is `n·P/T`-bounded and broadcastable whenever
    * `minCount` is a meaningful fraction of the stream (the heavy-hitter
    * regime). Phase 2 moves only candidate-matching occurrences through
    * its aggregation. Two scans of `items` by design (candidate+verify
    * is a 2-pass family) — cache or re-read, both bounded; PlanLint pins
    * the budget on q145.
    *
    * The `n_candidates` audit column carries the phase-1 cut so the
    * bound is VISIBLE in the output (flat distributions — the SON worst
    * case — show a small cut; Zipfian corpora, where heavy hitters
    * matter, show orders of magnitude: SCALE.md's "SON exact heavy
    * hitters" section measures it). Reference seed: the scraper's category
    * frequency rollups (/root/reference/src/classifier.py:123-156 label
    * distribution) — at 100 TB "which labels are frequent" cannot hash
    * the whole vocabulary. */
  def frequentItems(items: DataFrame, item: Column, shardKey: Column,
                    shards: Int, minCount: Long): DataFrame = {
    require(shards >= 1, s"shards must be >= 1 (got $shards)")
    require(minCount >= 1, s"minCount must be >= 1 (got $minCount)")
    val localMin = (minCount + shards - 1) / shards
    val assigned = items.select(
      item.as("item"),
      (HashFunctions.md5Window(shardKey, 0) % shards).as("__shard"))
    // the audit count rides ON the candidate rows (a window over the
    // bounded candidate table) so the inner broadcast join both gates
    // phase 2 AND delivers the cut — one phase-1 evaluation, not one per
    // consumer (scan budget 2, PlanLint-pinned on q145)
    val candidates = assigned
      .groupBy("__shard", "item")
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= localMin)
      .select("item").distinct()
      .withColumn("n_candidates", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(lit(1))))
    assigned
      .join(broadcast(candidates), Seq("item"))
      .groupBy("item", "n_candidates")
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
      .select(col("item"), col("cnt"), col("n_candidates"))
  }

  /** Deterministic Bloom filter BUILD: the set-bit table for `state`'s
    * keys — bit ids are `r·m + h_r(key) % m` for r in [0, k), so the k
    * hash families occupy disjoint id ranges and a single `distinct`
    * yields ≤ k·m rows (the filter's fixed size, corpus-independent).
    * Size m at ~10 bits per expected distinct key for ~1% false
    * positives with k=4; this builder pins m explicitly so the filter —
    * and its oracle — is a pure function of the state set. */
  def bloomBuild(state: DataFrame, key: Column, k: Int, m: Int): DataFrame =
    state
      .select(explode(hashBits(key, k, m)).as("bit"))
      .distinct()

  private def hashBits(key: Column, k: Int, m: Int): Column = {
    require(k >= 1 && k <= 4,
      s"bloom k must be in [1, 4] — md5 yields 4 independent 32-bit " +
        s"windows (got $k)")
    array((0 until k).map(r =>
      HashFunctions.md5Window(key, r) % m + lit(r.toLong * m)): _*)
  }

  /** Bloom MEMBERSHIP probe: `maybe_member = 1` iff ALL k bit positions
    * of the probe key are set in `bits`. No false negatives (a state key
    * always probes 1); false positives are deterministic given (state,
    * k, m). The bits table is broadcast (≤ k·m rows); cost is one pass
    * over the probe side — the 100 TB "skip known keys" gate that
    * replaces a full anti-join against data-sized state. Output: `probe`
    * plus an INT `maybe_member` column. `probe` rows must be DISTINCT (a
    * keyed table): the re-group after the bit explode folds identical
    * rows together, and a duplicated row would double its bit count. */
  def bloomProbe(probe: DataFrame, key: Column,
                 bits: DataFrame, k: Int, m: Int): DataFrame = {
    val cols = probe.columns
    probe
      .withColumn("__bit", explode(hashBits(key, k, m)))
      .join(broadcast(bits.withColumnRenamed("bit", "__bit")
        .withColumn("__hit", lit(1))), Seq("__bit"), "left")
      .groupBy(cols.map(col).toIndexedSeq: _*)
      .agg((count(col("__hit")) === k).cast("int").as("maybe_member"))
  }
}
