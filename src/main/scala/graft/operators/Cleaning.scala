package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Cleaning / normalization operators — the reference's WHERE clause and
  * scalar expressions (SURVEY §2.5 C1–C7). One normal form throughout:
  * blank means `trim(c) = ''` OR NULL (the reference conflates '',
  * whitespace, and missing — src/storage.py:103,149-152).
  */
object Cleaning {

  /** C1 (reference dags/processing_etl.py:64-69 et al.): drop rows whose
    * key is missing or blank after trim. */
  def requireNonBlank(df: DataFrame, key: String): DataFrame =
    df.filter(col(key).isNotNull && trim(col(key)) =!= "")

  /** C4 (reference src/storage.py:149-152): ''-after-trim → NULL. */
  def emptyToNull(c: Column): Column = nullif(trim(c), lit(""))

  /** C5 (reference src/storage.py:146-147): null collection → []. */
  def nullToEmptyArray(c: Column): Column = coalesce(c, array())

  /** C6 (reference configs/colombia.yml:72-78, peru.yml:65-67): date parse
    * accepting several formats; try_to_date keeps ANSI mode non-throwing. */
  def parseDate(c: Column, formats: Seq[String]): Column =
    coalesce(formats.map(f => try_to_date(c, f)): _*)

  /** C7 (reference list_parser.py:65, detail_parser.py:100-106): URL
    * absolutize + force-https. */
  def absolutize(base: String, href: Column): Column =
    when(href.startsWith("http"), href).otherwise(concat(lit(base), href))

  def forceHttps(url: Column): Column =
    regexp_replace(url, "^http:", "https:")

  /** Host part of a URL, lowercased — the key a domain blocklist matches
    * on. A blocklist must FAIL CLOSED against trivial evasion, so the
    * scheme matches case-insensitively and userinfo/port are stripped
    * ('HTTPS://u@Bad.Org:8080/x' → 'bad.org'). URL parsers and browsers
    * take the host AFTER THE LAST '@' in the authority, so the userinfo
    * part is greedy over '@' and the host class excludes it — a
    * double-@ URL ('http://a@b@bad.org/') resolves to 'bad.org', not an
    * '@'-bearing pseudo-host that slips past the blocklist. Row-local
    * regexp; returns '' for non-URL strings (C4's blank normal form, so a
    * malformed url never accidentally matches a rule). */
  val HostRe = "(?i)^[a-z][a-z0-9+.-]*://(?:[^/?#]*@)?([^/:?#@]+)"

  def urlHost(url: Column): Column =
    lower(regexp_extract(url, HostRe, 1))

  /** Unicode text normalization — the ftfy-lite pass a crawl pipeline
    * runs before tokenization/hashing (curly quotes, em/en dashes,
    * NBSP, zero-width chars, control bytes, ragged whitespace all make
    * semantically-equal text hash differently, poisoning every dedup
    * grain upstream of it). Three row-local steps, engine-portable:
    *  1. fold typography: ‘ ’ → ', “ ” → ", – — → -, NBSP → space,
    *     zero-width space DELETED (translate with a shorter to-string
    *     deletes — same semantics both engines);
    *  2. control bytes ([\x00-\x1f\x7f]) → space;
    *  3. collapse whitespace runs to one space, trim. \s is ASCII-only
    *     in BOTH regex engines (Java util.regex and RE2) — that parity
    *     is why NBSP must be folded by translate FIRST. */
  def normalizeText(c: Column): Column =
    trim(regexp_replace(
      regexp_replace(
        translate(c,
          "\u2018\u2019\u201C\u201D\u2013\u2014\u00A0\u200B",
          "''\"\"-- "),
        "[\\x00-\\x1f\\x7f]", " "),
      "\\s+", " "))

  /** Full URL parse for canonicalization: scheme, userinfo-stripped
    * host, explicit port, path, query (fragment consumed, never kept).
    * Same authority rules as [[HostRe]] (greedy userinfo over '@'),
    * plus brackets excluded from the host class so a bracketed IPv6
    * authority ('http://[::1]/') FAILS the parse whole → NULL (the
    * fail-closed contract), instead of emitting a '[' pseudo-host. */
  val UrlRe: String =
    "^([A-Za-z][A-Za-z0-9+.-]*)://(?:[^/?#]*@)?([^/:?#@\\[\\]]+)" +
      "(?::([0-9]+))?([^?#]*)(?:\\?([^#]*))?(?:#.*)?$"

  /** Query params a canonicalizer drops: click/campaign trackers that
    * vary per referral without changing the resource. Anchored — 'ref'
    * matches the param name exactly, not a prefix. */
  val TrackerRe: String =
    "^(utm_[^=]*|fbclid|gclid|msclkid|ref|mc_cid|mc_eid)(=.*)?$"

  /** C7 at corpus grain: URL canonicalization — the key under which a
    * crawl pipeline dedups fetched pages (the same resource arrives as
    * tracking-parameter/case/port/slash variants from every referrer).
    * Row-local, one regexp parse + array ops, engine-portable:
    *  - scheme + host lowercased, userinfo stripped;
    *  - default port dropped (http:80 / https:443), others kept;
    *  - trailing slashes stripped, empty path → '/';
    *  - tracking params ([[TrackerRe]]) removed, the rest SORTED (param
    *    order is transport noise) and rejoined; empty query dropped;
    *  - fragment always dropped (client-side only).
    * Non-URL strings → NULL (C4's blank normal form). Known edges,
    * deliberately out of contract: a zero-padded default port (':080')
    * is kept (the compare is against the literal '80'/'443' — padded
    * ports are malformed-client noise, and keeping them splits rather
    * than wrongly merges resources, the safe direction for dedup);
    * tracker-param names match case-sensitively (query params ARE
    * case-sensitive; 'UTM_SOURCE' is a different param). */
  def canonicalUrl(url: Column): Column = {
    val scheme = lower(regexp_extract(url, UrlRe, 1))
    val host   = lower(regexp_extract(url, UrlRe, 2))
    val port   = regexp_extract(url, UrlRe, 3)
    val path0  = regexp_extract(url, UrlRe, 4)
    val query0 = regexp_extract(url, UrlRe, 5)
    val portPart = when(port === "" ||
        (scheme === "http" && port === "80") ||
        (scheme === "https" && port === "443"), lit(""))
      .otherwise(concat(lit(":"), port))
    val path = regexp_replace(path0, "/+$", "")
    val pathPart = when(path === "", lit("/")).otherwise(path)
    val params = array_sort(filter(split(query0, "&"),
      p => p =!= "" && !p.rlike(TrackerRe)))
    val queryPart = when(size(params) > 0,
      concat(lit("?"), array_join(params, "&"))).otherwise(lit(""))
    when(host === "", lit(null).cast("string"))
      .otherwise(concat(scheme, lit("://"), host, portPart, pathPart, queryPart))
  }

  /** Corpus-pipeline domain filter: drop rows whose host appears in the
    * blocklist — a broadcast LEFT ANTI join, so at 100 TB the corpus
    * streams past an in-memory blocklist with no shuffle on the big side
    * (blocklists are thousands of rows; never sort-merge this). */
  def blockDomains(df: DataFrame, hostCol: Column, blocked: DataFrame,
                   domainCol: String): DataFrame =
    df.join(broadcast(blocked), hostCol === blocked(domainCol), "left_anti")

  // --- PII scrub (training-corpus extension of C4's normal-form idea) ---
  // RE2-safe patterns (no lookaround) so the same regex runs verbatim in
  // Spark (Java regex) and the DuckDB oracle (RE2). Applied in order:
  // email first (consumes its digits), then phone, then bare long ids —
  // after the first two passes no phone/email digits remain, so the id
  // pattern can't double-redact.
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  // 3-3-4 (NANP) and 3-4-4 groupings, '-'/'.'/' ' separators, optional
  // area-code parens: covers 555-123-4567, (555) 123-4567, 555.123.4567,
  // 555-0123-4567. Version strings (1.2.3) stay untouched — every group
  // needs 3+ digits. The bare form keeps its leading \b so the match
  // can't start mid-digit-run (leaving unredacted digit fragments that
  // would also escape LongIdRe's 9-digit floor); the paren alternative
  // is self-anchoring.
  val PhoneRe =
    "\\b\\d{3}[-. ]\\d{3,4}[-. ]\\d{4}\\b|\\(\\d{3}\\)[-. ]?\\d{3,4}[-. ]\\d{4}\\b"
  val LongIdRe = "\\b\\d{9,}\\b"

  /** Replace emails, phone numbers, and 9+-digit bare ids with typed
    * placeholder tags. Row-local codegen'd regexp work — at 100 TB this
    * is a map-only stage with no shuffle. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        PhoneRe, "<PHONE>"),
      LongIdRe, "<ID>")

  /** Fuzzy canonical-key recovery — entity resolution of scraped/typo'd
    * keys against a bounded canonical dictionary (the C1/C7 family's
    * edit-distance tier: exact normalization handles case/whitespace/
    * URL mess; this handles CHARACTER damage — dropped, doubled,
    * substituted letters — the reference's lookup keys arrive with,
    * src/storage.py:103's lookup_key normalization being exact-only).
    *
    * Blocking + verify, the classic ER shape: candidates must share the
    * FIRST character OR the LAST character (two blocking passes unioned
    * — r13's first-char-only block silently missed any key whose damage
    * hit character 1, ADVICE r13) and sit within `maxDist` of the dirty
    * key's length (cheap algebraic necessary conditions), then the
    * exact `levenshtein` verifies. RECALL CONTRACT: any damage of ≤
    * maxDist single-character edits that leaves the first OR the last
    * character intact is recoverable — in particular EVERY single-edit
    * damage (one edit cannot touch both ends of a ≥2-char key), which
    * CleaningSpec measures at 100% under a full-position damage model;
    * only multi-edit damage hitting BOTH ends can slip the blocks (and
    * such keys route to review as unmatched, never to a wrong guess).
    * Both blocks ride ONE scan per side: each side explodes to its two
    * ('F'+first, 'L'+last) block keys and the join stays a broadcast
    * HASH join on the key — an OR join condition would plan as a
    * nested-loop. Best match per dirty row by (distance ASC, candidate
    * ASC) — a deterministic min-struct, no window (duplicate candidates
    * arriving via both blocks collapse in the same min). Unmatched rows
    * keep a NULL match (route to review, don't guess).
    *
    * Scale shape: the dictionary is DISTINCT-deduped and BROADCAST —
    * this operator is for the dictionary-bounded regime (canonical
    * product/entity lists), where the corpus streams map-side past it
    * and the only shuffle is the per-row min-struct re-group (partial-
    * aggregable). Dictionary-vs-dictionary fuzzy dedup at corpus scale
    * is the LSH/banding tier's job (Dedup.*), not a broadcast join's.
    * Output: (idCol, dirty, matched, dist) — dist NULL when unmatched. */
  def fuzzyMatch(dirty: DataFrame, idCol: String, dirtyCol: Column,
                 dict: DataFrame, dictCol: String, maxDist: Int): DataFrame = {
    require(maxDist >= 1, s"maxDist must be >= 1 (got $maxDist)")
    def blocks(c: Column): Column = array(
      concat(lit("F"), substring(c, 1, 1)),
      concat(lit("L"), substring(c, -1, 1)))
    val cand = dict.select(col(dictCol).as("__cand")).distinct()
      .select(col("__cand"), explode(blocks(col("__cand"))).as("__cblk"))
    dirty.select(col(idCol), dirtyCol.as("dirty"))
      .select(col(idCol), col("dirty"),
        explode(blocks(col("dirty"))).as("__blk"))
      .join(broadcast(cand),
        col("__blk") === col("__cblk") &&
          abs(length(col("dirty")) - length(col("__cand"))) <= maxDist,
        "left")
      // ONE banded levenshtein per surviving pair (threshold form is
      // O(n·maxDist) and returns -1 above the band) — verifying inside
      // the join predicate would compute the full-matrix distance twice.
      .select(col(idCol), col("dirty"), col("__cand"),
        when(col("__cand").isNotNull,
          levenshtein(col("dirty"), col("__cand"), maxDist))
          .cast("long").as("__dist"))
      .groupBy(col(idCol), col("dirty"))
      .agg(min(when(col("__dist") >= 0,
        struct(col("__dist"), col("__cand")))).as("__m"))
      .select(col(idCol), col("dirty"),
        col("__m.__cand").as("matched"), col("__m.__dist").as("dist"))
  }
}
