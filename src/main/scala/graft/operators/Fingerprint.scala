package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Canonical row fingerprinting (SURVEY §2.3 H1/H2).
  *
  * The reference computes MD5 over the canonical JSON of a config-selected
  * field subset, with missing fields defaulting to ''
  * (reference src/scrapers/scraper.py:53-56, configs/colombia.yml:54-60).
  * We keep the semantics (fixed field subset, missing→'', deterministic
  * serialization) but define the canonical form as fixed field order joined
  * by an explicit separator rather than JSON, so Spark and any ANSI SQL
  * engine agree byte-for-byte (`md5(concat_ws(...))` exists in both).
  *
  * Scale note: md5+concat_ws are codegen'd built-ins evaluated row-local —
  * no shuffle, no UDF, safe at any scale.
  */
object Fingerprint {
  val Sep = "|"

  /** `md5(concat_ws('|', coalesce(cast(c as string), '')...))`. */
  def rowHash(cols: Seq[Column]): Column =
    md5(concat_ws(Sep, cols.map(c => coalesce(c.cast("string"), lit(""))): _*))

  /** Matching oracle-SQL fragment for the same fingerprint. */
  def sqlExpr(cols: Seq[String]): String =
    s"md5(concat_ws('$Sep', ${cols.map(c => s"coalesce(CAST($c AS VARCHAR), '')").mkString(", ")}))"
}
