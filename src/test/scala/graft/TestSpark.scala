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

  /** Run `body` with Spark's codegen fallback off: a generated class
    * that fails to compile (Janino's 64 KB method limit, an emitted call
    * that does not resolve) throws instead of running interpreted.
    * `ConvertToLocalRelation` is excluded too, or a projection over a
    * local relation is folded on the driver and never generated. The
    * previous settings are restored afterwards. */
  def codegenOnly[T](body: => T): T = {
    val confs = Seq(
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false",
      "spark.sql.optimizer.excludedRules" ->
        "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  /** A fresh directory named `prefix…` under the JVM's scratch root
    * ([[graft.sources.Writers.scratchRoot]]), which a shutdown hook
    * removes — test fixtures leave nothing in the temp directory. */
  def tmpDir(prefix: String): String = {
    val root = java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(graft.sources.Writers.scratchRoot))
    java.nio.file.Files.createTempDirectory(root, prefix).toString
  }

  /** Make the next append into `leg` fail AFTER it has published its
    * files: Hadoop's committer writes the `leg/_SUCCESS` marker last,
    * and a non-empty directory in its place refuses that write. Returns
    * the undo, which restores the leg for the next append. */
  def failNextCommit(leg: String): () => Unit = {
    val marker = java.nio.file.Paths.get(leg, "_SUCCESS")
    java.nio.file.Files.deleteIfExists(marker)
    val block = java.nio.file.Files.createDirectories(marker.resolve("block"))
    () => {
      java.nio.file.Files.delete(block)
      java.nio.file.Files.delete(marker)
    }
  }

  /** `n` deterministic 64-dimension float vectors (vec_id, embedding) —
    * the shape of the corpus `embeddings` table, small enough for a
    * stored IVF×PQ layout (m = 4 sub-quantizers of 16 dimensions). */
  def vectors(n: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{array, col, sin}
    spark.range(n).select(col("id").as("vec_id"),
      array((1 to 64).map(j => sin(col("id") * j + j).cast("float")): _*)
        .as("embedding"))
  }
}
