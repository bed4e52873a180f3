package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole forked test JVM (never stopped —
  * suites run sequentially in the same fork). */
object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.warehouse.dir",
      s"${graft.sources.Writers.scratchRoot}/warehouse")
    .config("spark.sql.session.timeZone", "UTC")
    // nanos-typed events corpora need this at session build (Tables.events
    // no longer sets it as a read side-effect — VERDICT r11 #4)
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    // prefix-key co-partitioned joins on bucketed layouts (GraftSession
    // mirrors this — q130's delta join on (l_orderkey, l_linenumber)
    // over tables bucketed by l_orderkey)
    .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
    .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
    .config("spark.sql.codegen.cache.maxEntries",
      GraftSession.CodegenCacheEntries.toString)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** A fresh directory named `prefix…` under the JVM's scratch root
    * ([[graft.sources.Writers.scratchRoot]]), which a shutdown hook
    * removes — test fixtures leave nothing in the temp directory. */
  def tmpDir(prefix: String): String = {
    val root = java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(graft.sources.Writers.scratchRoot))
    java.nio.file.Files.createTempDirectory(root, prefix).toString
  }
}
