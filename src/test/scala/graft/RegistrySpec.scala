package graft

import org.scalatest.funsuite.AnyFunSuite

/** Consistency of the driver-contract registry itself — the failure modes
  * `toMap` hides: a pack silently overwriting another pack's query id, an
  * oracle for a query that no longer exists, or a query quietly shipping
  * without an oracle (the driver then records only a weak rows-only
  * check). Every deliberate rows-only query must be listed here WITH its
  * justification, so a forgotten oracle is a test failure, not a silent
  * downgrade. */
class RegistrySpec extends AnyFunSuite {

  /** Queries that deliberately have no DuckDB oracle (SURVEY §8). */
  private val rowsOnly = Map(
    "q62_multimodal_decode" ->
      "binary payload + foreign decode stub has no SQL equivalent",
    "q63_approx_distinct" ->
      "HLL sketch internals are engine-specific; only the estimate exists",
    "q129_compression_filter" ->
      ("the DEFLATE bitstream is a zlib artifact with no SQL equivalent " +
        "(DuckDB ships no deflate scalar); gate monotonicity and fixtures " +
        "are spec-pinned in TextStatsSpec instead"))

  test("query ids are globally unique across packs (toMap hides collisions)") {
    val packsField = SparkEntry.getClass.getDeclaredFields
      .find(_.getName == "packs").get
    packsField.setAccessible(true)
    val packs = packsField.get(SparkEntry)
      .asInstanceOf[Seq[graft.queries.QueryPack]]
    val all = packs.flatMap(_.queries.keys)
    val dups = all.groupBy(identity).filter(_._2.size > 1).keys
    assert(dups.isEmpty, s"query id defined in more than one pack: $dups")
    assert(all.size == SparkEntry.queries.size)
  }

  test("every oracle references a declared query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle without a query: $orphans")
  }

  test("every query is oracle-checked or documented rows-only") {
    val unoracled = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    val undocumented = unoracled -- rowsOnly.keySet
    assert(undocumented.isEmpty,
      s"query shipping without an oracle and without a documented " +
        s"rows-only justification: $undocumented")
    val stale = rowsOnly.keySet -- unoracled
    assert(stale.isEmpty,
      s"rows-only entry now HAS an oracle — remove from the list: $stale")
  }

  test("every oracle ends in a total ORDER BY (the hash-compare contract)") {
    val missing = SparkEntry.oracleSql.filterNot { case (_, sql) =>
      sql.toUpperCase.contains("ORDER BY ALL NULLS FIRST")
    }.keys
    assert(missing.isEmpty, s"oracle without ORDER BY ALL NULLS FIRST: $missing")
  }

  test("no declared query emits array/map/struct columns (driver comparator contract)") {
    // The driver's pandas comparator cannot sort/hash nested cells — a raw
    // ArrayType column flips a query to `err` driver-side even when the
    // semantics are right (CORRECTNESS_r05 q83/q87/q88/q99). Every declared
    // query must serialize nested columns (Q.jsonArrays / to_json) before
    // the output boundary. Schema-only: analysis, no job.
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    val dir = "/root/testdata/sf0.001"
    val offenders = SparkEntry.queries.toSeq.flatMap { case (name, q) =>
      q(TestSpark.spark, dir).schema.fields.collect {
        case f if f.dataType.isInstanceOf[ArrayType] ||
                  f.dataType.isInstanceOf[MapType] ||
                  f.dataType.isInstanceOf[StructType] =>
          s"$name.${f.name}: ${f.dataType.simpleString}"
      }
    }
    assert(offenders.isEmpty,
      s"declared query emits nested columns the driver cannot compare: $offenders")
  }

  test("every reference citation in main sources points at a file that exists") {
    // The repo's discipline is line-level citation of the reference; a
    // fabricated path (VERDICT r12 found one) is corrosive precisely
    // because nothing checked it. Extract every cited reference file —
    // absolute (/root/reference/...) or repo-relative (src/...py,
    // dags/...py) — from every main .scala file and check it against one
    // of two sources of truth:
    //  - the reference checkout, where it exists: every citation is stat'ed
    //    under it, and so is every file SURVEY.md cites, which keeps the
    //    record below honest;
    //  - otherwise SURVEY.md, the committed analysis written from that
    //    checkout: every citation must be one of the files it cites.
    // The fallback exists because the checkout is not part of the repo; a
    // clone without it would fail here for a reason that has nothing to do
    // with the citations, and the guard would stop guarding.
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    // .py sources and .yml configs; a bare configs/ path naming a file in
    // the repo's own configs/ directory is a repo path, not a citation
    val cite = """(/root/reference/)?((?:src|dags|tests|configs)/[A-Za-z0-9_/]+\.(?:py|yml))""".r
    def cited(p: Path): Iterator[String] =
      cite.findAllMatchIn(new String(Files.readAllBytes(p), "UTF-8"))
        .filterNot(m => m.group(1) == null && m.group(2).startsWith("configs/") &&
          Files.isRegularFile(Paths.get(m.group(2))))
        .map(_.group(2))
    val mainDir = Paths.get("src/main/scala")
    val citations = Files.walk(mainDir).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap(p => cited(p).map(p.toString -> _))
      .toSeq.distinct
    val surveyed = cited(Paths.get("SURVEY.md")).toSet
    val reference = Paths.get("/root/reference")
    if (Files.isDirectory(reference)) {
      def inReference(rel: String) = Files.exists(reference.resolve(rel))
      val missing = citations.filterNot { case (_, rel) => inReference(rel) }
      assert(missing.isEmpty,
        s"citation of a file missing from the reference at $reference: $missing")
      val stale = surveyed.filterNot(inReference)
      assert(stale.isEmpty,
        s"SURVEY.md cites files missing from the reference at $reference: $stale")
    } else {
      val missing = citations.filterNot { case (_, rel) => surveyed(rel) }
      assert(missing.isEmpty,
        s"no reference checkout at $reference, so citations were checked " +
          "against SURVEY.md's record of it; these cite a file SURVEY.md " +
          s"does not record: $missing. Cite the real file, checked against " +
          "the reference; do not add the path to SURVEY.md by hand.")
    }
  }

  test("README names exactly the mains under src/main") {
    // every runnable entry point is documented, and no retired one is
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val mainDef = """def main\(args: Array\[String\]\)""".r
    val objectDef = """\bobject (\w+)""".r
    val defined = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val text = new String(Files.readAllBytes(p), "UTF-8")
        mainDef.findAllMatchIn(text).map(m =>
          objectDef.findAllMatchIn(text.take(m.start)).toSeq.last.group(1))
      }.toSet
    val mainsLine = """^\s*([A-Z]\w*(?: / [A-Z]\w*)+)\s.*\bmains\b""".r
    val lines = new String(Files.readAllBytes(Paths.get("README.md")), "UTF-8")
      .split("\n").toSeq.flatMap(l => mainsLine.findFirstMatchIn(l))
    assert(lines.size == 1, s"README.md needs one 'A / B / ... mains' line: $lines")
    val named = lines.head.group(1).split(" / ").toSet
    assert(named == defined,
      s"README.md names ${(named -- defined).mkString(", ")} with no main; " +
        s"mains it does not name: ${(defined -- named).mkString(", ")}")
  }
}
