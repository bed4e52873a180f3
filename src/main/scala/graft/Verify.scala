package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    // Dump queries concurrently: Spark schedules independent jobs from
    // multiple submitter threads, so small queries pipeline instead of
    // serializing on per-job overhead (plans stay deterministic — only
    // submission order varies).
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    import scala.concurrent.duration._
    // dev-iteration filter (comma-separated name substrings); the driver
    // never sets it, so the default dump is every registered query
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    def selected(name: String): Boolean =
      only.forall(_.exists(name.contains))
    val futures = SparkEntry.queries.toSeq.filter(q => selected(q._1))
      .map { case (name, fn) =>
      name -> scala.concurrent.Future {
        // own job group per query → a hung/timed-out query is cancellable
        // without losing the rest of the round (round-1 lesson: one bad
        // query must never zero every other result)
        spark.sparkContext.setJobGroup(name, name, interruptOnCancel = true)
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        } finally spark.sparkContext.clearJobGroup()
      }
    }
    futures.foreach { case (name, f) =>
      try scala.concurrent.Await.result(f, 10.minutes)
      catch { case _: java.util.concurrent.TimeoutException =>
        System.err.println(s"[verify] $name timed out; cancelling its jobs")
        spark.sparkContext.cancelJobGroup(name)
      }
    }
    // drain the pool before spark.stop(): a late-starting future must not
    // race the shutdown (its write would die on a stopped context)
    pool.shutdown()
    pool.awaitTermination(2, java.util.concurrent.TimeUnit.MINUTES)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
