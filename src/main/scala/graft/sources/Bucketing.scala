package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed tables — co-located joins and aggregations (SURVEY §2.8 G4
  * scale path). Writing both sides of a recurring equi-join bucketed by
  * the join key (same bucket count) lets Spark plan a SortMergeJoin with
  * NO shuffle exchange on either side: each task reads matching bucket
  * files directly. At 100 TB this converts the nightly delta join's two
  * full-table shuffles into zero — the single biggest recurring saving a
  * state-keeping pipeline can bank.
  *
  * Bucket counts must match across co-joined tables, be sized so one
  * bucket fits an executor (rows / buckets ≲ a few hundred MB), and be
  * chosen once — changing them rewrites the table.
  */
object Bucketing {

  /** Write `df` as a bucketed catalog table (sorted within buckets so
    * merge joins skip the sort too).
    *
    * Stale-location guard: with the default in-memory catalog, a table's
    * managed directory OUTLIVES the catalog entry across JVMs — the next
    * session's `saveAsTable` then fails CREATE with
    * LOCATION_ALREADY_EXISTS even in overwrite mode (overwrite only
    * applies to tables the catalog knows). When the catalog has no entry
    * but the warehouse location exists, it is an orphan from a DEAD
    * process of this same deterministic layout — remove it before the
    * write. Safe to delete only because GraftSession scopes the
    * warehouse dir per-PID (ADVICE r12): a concurrent live graft
    * process writes under its own warehouse, so nothing here can see —
    * let alone delete — another live session's tables. (A
    * metastore-backed deployment never hits this branch: the catalog
    * entry persists with the files.) */
  def writeBucketed(df: DataFrame, table: String, keys: Seq[String],
                    numBuckets: Int): Unit = {
    val spark = df.sparkSession
    if (!spark.catalog.tableExists(table)) {
      val wh = spark.conf.get("spark.sql.warehouse.dir")
      val loc = new org.apache.hadoop.fs.Path(wh, table.toLowerCase)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
    }
    df.write
      .bucketBy(numBuckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .mode("overwrite")
      .format("parquet")
      .saveAsTable(table)
  }

  /** Read a bucketed table back (bucket metadata comes from the catalog). */
  def readBucketed(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  // computeIfAbsent map (not a keySet add): concurrent first callers of
  // one layout raced with add-then-write — the loser read a missing or
  // partial table while the winner was still writing (ADVICE r13).
  private val prepared =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Bucketed view of corpus table `name`, written AT MOST ONCE per
    * (JVM, corpus dir): the write is the one-time table-layout cost that
    * every subsequent co-located join amortizes — exactly how bucketing
    * is used in production (lay the table out once, join nightly for
    * free). The catalog table name carries a corpus-dir hash so two
    * corpora in one session can't alias. Returns the bucketed frame. */
  def ensureBucketed(spark: SparkSession, dir: String, name: String,
                     keys: Seq[String], numBuckets: Int): DataFrame = {
    // md5-derived corpus-dir token (the engine's portable hash contract),
    // not String.hashCode: a 32-bit hashCode collision between two corpus
    // dirs in one JVM would silently alias their layouts (ADVICE r12)
    val table = s"graft_b_${name}_${SourceKeys.dirToken(dir)}_$numBuckets"
    prepared.computeIfAbsent(table, { t =>
      writeBucketed(graft.Tables.load(spark, dir, name), t, keys, numBuckets)
      t
    })
    readBucketed(spark, table)
  }
}
