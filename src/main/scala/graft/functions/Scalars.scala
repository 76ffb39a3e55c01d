package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar-function surface (SURVEY.md §2.7 X1–X7), as codegen-friendly
  * Column combinators — no UDFs anywhere.
  */
object Scalars {

  /** X1 — filename sanitization (steps/step1_scraper.py:50-54): strip
    * non-word chars (keeping spaces/dashes), collapse whitespace to
    * `_`, truncate to `maxLen`.
    */
  def sanitizeFilename(c: Column, maxLen: Int = 100): Column =
    substring(
      // (?U): Unicode word chars — Python's \w keeps accented letters,
      // Java's default \w is ASCII-only
      regexp_replace(regexp_replace(c, "(?U)[^\\w\\s-]", ""), "\\s+", "_"),
      1, maxLen)

  /** X5 — NaN→NULL normalization before sinks that treat NaN as a
    * value (steps/step6_upload_to_db.py:60). Spark distinguishes NaN
    * from null; JDBC/CSV sinks should see null.
    */
  def nanToNull(c: Column): Column = when(isnan(c), lit(null)).otherwise(c)

  /** X7 — percentage with fixed rounding (report metrics, e.g.
    * steps/step1_scraper.py:454-526). try_divide: Spark 4 runs ANSI
    * mode by default, so a plain `/` THROWS on a zero total instead of
    * returning NaN — a zero-denominator metric degrades to NULL here.
    */
  def pct(part: Column, total: Column, scale: Int = 2): Column =
    round(try_divide(part.cast("double"), total.cast("double")) * 100, scale)

  /** Deterministic keyed pseudonymization: salted SHA-256, first 16
    * hex chars — the privacy-pipeline primitive for sharing joinable
    * data without raw identifiers. Same (salt, id) → same pseudonym on
    * any engine (so cross-table joins still line up), unsalted
    * dictionary attacks don't (the salt is the secret; rotate it to
    * sever linkability between releases). Row-local, codegen'd, no
    * shuffle — at 100 TB this is a projection on the scan. NOT
    * reversible and NOT an MAC-grade construction (use HMAC through a
    * KMS for adversarial settings — needs key infrastructure, not an
    * engine primitive); null ids stay null.
    */
  def pseudonymize(c: Column, salt: String): Column =
    substring(sha2(concat(lit(salt), lit("|"), c.cast("string")), 256),
      1, 16)
}
