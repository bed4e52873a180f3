package graft

import org.apache.spark.sql.SparkSession

/** Recommended session construction for the engine — the one place the
  * library's session invariants live:
  *  - UTC session timezone (date/time parity with any ANSI oracle);
  *  - nanos-as-long parquet reads (TIMESTAMP(NANOS) sources — Tables);
  *  - AQE with skew-join splitting (on by default in Spark 4, pinned
  *    here so a cluster-side default flip can't regress skewed joins);
  *  - graft native functions registered (SQL-callable graft_dot);
  *  - a generated-code cache sized for the whole declared suite
  *    ([[CodegenCacheEntries]]). The size is a static conf that Spark's
  *    `CodeGenerator` reads once per JVM, at its first use: a session
  *    built after any codegen in the same JVM silently keeps the size
  *    that first use saw. One full `graft.Bench` pass compiles
  *    2,353 distinct classes; the cap is sized from that count.
  *
  * `shufflePartitions` should be ≈ total executor cores on a real
  * cluster; the mains pass SPARK_GRAFT_CPUS.
  */
object GraftSession {
  /** `spark.sql.codegen.cache.maxEntries`: the cache of compiled
    * whole-stage and expression classes, keyed by generated source.
    * Spark's default of 100 is below what one `etl_tail` pass of the
    * benchmark generates (126 classes), so each class was evicted before
    * its next use and every warm pass recompiled about 100 of them.
    *
    * Sized from a count (Spark's `CodegenMetrics` compile counter, at
    * `local[4]` on sf0.1, in a JVM whose cache never evicts): one full
    * `graft.Bench` pass over every declared query compiles 2,353
    * distinct classes, its warm-up included, and a second pass compiles
    * 34 more, in 9 queries whose plans differ from pass to pass (those
    * classes are never reused). One pass's working set is therefore
    * 2,387 classes. The cap holds it plus half again, because the cache
    * (Guava's) splits its size over 4 segments, each evicting its own
    * least recently used class once it holds a quarter of the cap, and
    * because declared queries added later, or plans that differ at
    * another scale or core count, add classes. The cache holds at most
    * this many classes; a JVM that compiles fewer never fills it. */
  val CodegenCacheEntries: Int = 2387 * 3 / 2

  def build(master: String, shufflePartitions: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", shufflePartitions))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // isAdjustedToUTC=false µs columns (one events-corpus generation)
      // read directly as session-zoned TimestampType instead of NTZ: the
      // session is pinned UTC so the instants are identical to the
      // NTZ→LTZ cast Tables.events would otherwise apply — and with the
      // cast collapsing to identity, ts predicates push down to the scan
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // outputTimestampType stays at the INT96 default HERE: the
      // driver's pandas comparator reads INT96 as tz-naive and
      // TIMESTAMP_MICROS(UTC-adjusted) as tz-aware, so flipping it
      // session-wide broke hash parity on every timestamp-emitting
      // oracle query (q44/q64/q127, measured r13). Layout writes that
      // NEED real min/max stats (zone maps — Writers.ensureSorted) pin
      // TIMESTAMP_MICROS in their own cloned session instead.
      // catalog-table writes (bucketed layouts — sources.Bucketing) land
      // in the per-JVM scratch root, never the library user's cwd, and
      // are removed at JVM exit. PID-scoped: the in-memory catalog is
      // per-JVM, so a SHARED warehouse path makes every concurrent graft
      // process see the others' live tables as catalog-less orphans (and
      // Bucketing's stale-location recovery would delete them mid-query
      // — ADVICE r12). Two live processes can never share a PID, so
      // per-PID scoping makes any orphan in this warehouse provably ours
      // (PID reuse only inherits a DEAD process's leftovers, which the
      // recovery path exists to clear).
      .config("spark.sql.warehouse.dir",
        s"${sources.Writers.scratchRoot}/warehouse")
      // allow co-partitioned joins on a PREFIX of the join keys: tables
      // bucketed by l_orderkey then joined on (l_orderkey, l_linenumber)
      // are correctly co-located (equal keys ⇒ equal bucket) — the
      // default-true strictness would re-shuffle both sides and defeat
      // the bucketed layout for every composite-key delta join (q130)
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      // whole-payload JSON validity: with partial results enabled,
      // from_json can populate leading struct fields of a record that
      // fails mid-parse (version/config dependent), so "first field
      // non-null" would no longer mean "payload parsed" — q139's valid
      // flag and any truncated-ingest gate built the same way must see
      // the all-null struct DuckDB's json_valid guard models (ADVICE r13)
      .config("spark.sql.json.enablePartialResults", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // AQE partition-coalescing knobs, env-parameterized for cluster
      // deployments (guide §2.2: size partitions 100 MB–1 GB there).
      // parallelismFirst deliberately KEEPS Spark's default (true):
      // byte-sized coalescing (false + 64m advisory) was A/B'd r20 on
      // the 12 hottest queries and lost consistently — best-of-4 10–40%
      // slower (q22 1.75 vs 1.22 s, q120 1.48 vs 1.03, q119 3.39 vs
      // 2.28) because a KB-scale stage coalesced to ONE reduce task
      // serializes the md5/tokenize compute that still dominates it;
      // defaultParallelism-floored coalescing keeps those stages wide.
      // On a real cluster flip it false and raise the advisory target
      // (OPTIMIZATION_r20.md records the trade).
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        sys.env.getOrElse("SPARK_GRAFT_AQE_PARALLELISM_FIRST", "true"))
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        sys.env.getOrElse("SPARK_GRAFT_ADVISORY_PARTITION", "64m"))
      .config("spark.sql.codegen.cache.maxEntries",
        CodegenCacheEntries.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    functions.GraftFunctions.register(spark)
    spark
  }
}
