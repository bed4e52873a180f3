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

  test("every public member under src/main is reached, or allowlisted " +
    "with the spec that covers it") {
    // A member counts as reached when its name, as a whole word, occurs
    // somewhere a shipped path can call it from: another src/main file,
    // its own file beyond its definition (overloads count each other:
    // look at those by hand), etlbench/src or tools. Roots: `def main`;
    // Spark expression overrides and functions.GraftExtensions, which
    // Spark loads by name, are overrides or classes and never scanned.
    // Everything else must be in the allowlist, with the spec that checks
    // it against an independent computation, and the list may not go
    // stale: a listed member that is now reached, or gone, fails too.
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    def sources(root: String, ext: String): Seq[Path] =
      Files.walk(Paths.get(root)).iterator().asScala
        .filter(_.toString.endsWith(ext)).toSeq.sortBy(_.toString)
    def read(p: Path) = new String(Files.readAllBytes(p), "UTF-8")
    def word(name: String) =
      s"\\b${java.util.regex.Pattern.quote(name)}\\b".r
    val main = sources("src/main/scala", ".scala").map(p =>
      p.toString -> read(p))
    // a name inside a string literal (an error message, a metrics label)
    // calls nothing: literal text is blanked, its `$name` and `${…}`
    // splices are code and stay
    def code(t: String) = stripComments(t, blankStrings = true, keepSplices = true)
    val scanned = main.map { case (f, t) => f -> code(t) }
    val outside = (sources("etlbench/src", ".scala")
      .map(p => code(read(p))) ++
      sources("tools", ".py").map(p => read(p).replaceAll("#.*", "")))
      .mkString("\n")
    val unreached = (for {
      (f, text) <- main
      name <- publicMembers(text) if name != "main"
      w = word(name)
      if !scanned.exists { case (g, t) =>
        w.findAllMatchIn(t).size > (if (g == f) 1 else 0) }
      if w.findFirstIn(outside).isEmpty
    } yield (f, name)).toSet
    val entries = read(Paths.get("src/test/resources/reachability-allowlist.txt"))
      .split("\n").toSeq.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\\|").toSeq.map(_.trim))
    val malformed = entries.filterNot(e => e.size == 4 && e.forall(_.nonEmpty))
    assert(malformed.isEmpty,
      s"allowlist lines are 'file | member | covering spec | reason': $malformed")
    val listed = entries.map(e => (e(0), e(1))).toSet
    val missing = unreached -- listed
    assert(missing.isEmpty,
      "public members that no declared query, main, etlbench or tool " +
        "reaches — delete them, make them private, or allowlist them " +
        s"with their covering spec: ${missing.toSeq.sorted.mkString(", ")}")
    val stale = listed -- unreached
    assert(stale.isEmpty,
      "allowlisted members that are now reached or no longer exist — " +
        s"remove them from the allowlist: ${stale.toSeq.sorted.mkString(", ")}")
    val uncovered = entries.filterNot { e =>
      val spec = Paths.get(s"src/test/scala/graft/${e(2)}.scala")
      Files.isRegularFile(spec) && word(e(1)).findFirstIn(read(spec)).nonEmpty
    }
    assert(uncovered.isEmpty,
      s"allowlist entries whose covering spec does not exist or never " +
        s"names the member: ${uncovered.map(e => e(1) + " / " + e(2))}")
  }

  /** `text` without comments. With `blankStrings`, string and char
    * literal contents are blanked too, so a structure scan sees no brace
    * or keyword inside a literal; with `keepSplices` as well, the `$name`
    * and `${…}` splices of an interpolated string are kept. Newlines are
    * kept. */
  private def stripComments(text: String, blankStrings: Boolean,
                            keepSplices: Boolean = false): String = {
    val out = new StringBuilder
    val n = text.length
    def ident(c: Char) = c.isLetterOrDigit || c == '_'
    // end of the `${…}` splice whose `{` is at `from`; a string literal
    // nested in the splice may hold braces and quotes
    def spliceEnd(from: Int): Int = {
      var depth = 0
      var j = from
      while (j < n) {
        text(j) match {
          case '{' => depth += 1
          case '}' => depth -= 1; if (depth == 0) return j + 1
          case '"' => j = text.indexOf('"', j + 1); if (j < 0) return n
          case _ =>
        }
        j += 1
      }
      n
    }
    // an interpolated literal's opening quote follows its interpolator
    def interpolated(quote: Int) = quote > 0 && ident(text(quote - 1))
    def lit(from: Int, to: Int, quote: String, interp: Boolean): Unit = {
      out ++= quote
      var j = from
      while (j < to) {
        val c = text(j)
        val splice = keepSplices && interp && c == '$' && j + 1 < to
        if (!blankStrings || c == '\n') { out += c; j += 1 }
        else if (splice && text(j + 1) == '{') {
          val e = math.min(to, spliceEnd(j + 1))
          out ++= text.substring(j, e); j = e
        } else if (splice && ident(text(j + 1)) && !text(j + 1).isDigit) {
          var e = j + 1
          while (e < to && ident(text(e))) e += 1
          out ++= text.substring(j, e); j = e
        } else if (splice && text(j + 1) == '$') { out ++= "  "; j += 2 }
        else { out += ' '; j += 1 }
      }
      out ++= quote
    }
    var i = 0
    while (i < n) {
      if (text.startsWith("//", i)) {
        val j = text.indexOf('\n', i)
        i = if (j < 0) n else j
      } else if (text.startsWith("/*", i)) {
        var depth = 1
        i += 2
        while (i < n && depth > 0) {
          if (text.startsWith("/*", i)) { depth += 1; i += 2 }
          else if (text.startsWith("*/", i)) { depth -= 1; i += 2 }
          else { if (text(i) == '\n') out += '\n'; i += 1 }
        }
      } else if (text.startsWith("\"\"\"", i)) {
        var j = text.indexOf("\"\"\"", i + 3)
        if (j < 0) j = n
        while (j + 3 < n && text(j + 3) == '"') j += 1
        lit(i + 3, j, "\"\"\"", interpolated(i))
        i = math.min(n, j + 3)
      } else if (text(i) == '"') {
        val interp = interpolated(i)
        var j = i + 1
        while (j < n && text(j) != '"' && text(j) != '\n') {
          if (text(j) == '\\') j += 1
          else if (interp && text(j) == '$' && j + 1 < n &&
              text(j + 1) == '{') j = spliceEnd(j + 1) - 1
          j += 1
        }
        lit(i + 1, math.min(j, n), "\"", interp)
        i = j + 1
      } else if (text(i) == '\'' && i + 2 < n &&
          (text(i + 2) == '\'' || text(i + 1) == '\\')) {
        val j = text.indexOf('\'', if (text(i + 1) == '\\') i + 3 else i + 2)
        lit(i + 1, j, "'", interp = false)
        i = j + 1
      } else {
        out += text(i)
        i += 1
      }
    }
    out.toString
  }

  /** Names of the public member-level `def`s and `val`s of a source file:
    * declared directly in an object, class or trait body (not inside a
    * method, not a constructor parameter), without `private`,
    * `protected` or `override`. A `{` opens a template body when the
    * last declaration keyword before it (parenthesized groups removed)
    * is `object`, `class`, `trait` or `new`, with no `=` after it. */
  private def publicMembers(text: String): Seq[String] = {
    val s = stripComments(text, blankStrings = true)
    val token = """[{}()\[\];]|\b(def|val)\s+([A-Za-z_]\w*)""".r
    val keyword = """\b(object|class|trait|def|val|var|new|type)\b""".r
    val hidden = """\b(private|protected|override)\b""".r
    final class Frame(val template: Boolean, var parens: Int, var head: Int)
    var frames = List(new Frame(true, 0, 0))
    val found = Seq.newBuilder[String]
    token.findAllMatchIn(s).foreach { m =>
      val top = frames.head
      m.matched match {
        case "(" | "[" => top.parens += 1
        case ")" | "]" => top.parens -= 1
        case "{" =>
          val head = (1 to 3).foldLeft(s.substring(top.head, m.start))(
            (h, _) => h.replaceAll("""\([^()]*\)""", ""))
          val template = keyword.findAllMatchIn(head).toSeq.lastOption
            .exists(k => Set("object", "class", "trait", "new")(k.group(1)) &&
              !head.substring(k.start).replace("=>", "").contains("="))
          top.head = m.end
          frames = new Frame(template, 0, m.end) :: frames
        case "}" =>
          if (frames.size > 1) frames = frames.tail
          frames.head.head = m.end
        case ";" => top.head = m.end
        case _ =>
          val lineStart = s.lastIndexOf('\n', m.start) + 1
          if (top.template && top.parens == 0 &&
              hidden.findFirstIn(s.substring(lineStart, m.start)).isEmpty)
            found += m.group(2)
      }
    }
    found.result()
  }
}
