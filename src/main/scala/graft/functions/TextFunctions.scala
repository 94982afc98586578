package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text primitives shared by the text-analysis and dedup operators.
  *
  * Everything here is built from `org.apache.spark.sql.functions._`
  * (codegen'd, whole-stage-compatible) — no Scala UDFs. The hash
  * functions are *engine-portable*: the same arithmetic is expressible
  * in ANSI-ish SQL (DuckDB list lambdas), so correctness oracles can
  * recompute bit-identical signatures.
  *
  * Reference provenance: alsyefs/notion backend/text_style.py:103-149
  * (clean_text / truncate_text) plus the mission's training-data
  * pipeline surface (tokenize, fingerprint, quality, language-ID).
  */
object TextFunctions {

  /** Modulus for the portable polynomial hash (fits 31*p + 2^31 in a Long). */
  val HashP = 1000000007L

  /** Lowercased alphanumeric word tokens — the canonical token stream
    * for hashing/dedup. `regexp_extract_all` is codegen'd.
    */
  def tokens(text: Column): Column =
    regexp_extract_all(lower(text), lit("[a-z0-9]+"), lit(0))

  /** Portable polynomial hash of any string: fold chars as
    * `acc = (acc*31 + codepoint) mod p`. Sequential left-to-right via the
    * `aggregate` HOF, so any engine reproduces it exactly
    * (DuckDB: `list_reduce(list_prepend(0, list_transform(string_split(s,''),
    * c -> ascii(c))), (a,c) -> (a*31+c) % p)`).
    */
  def charFoldHash(s: Column): Column =
    aggregate(
      split(s, ""),
      lit(0L),
      (acc, c) => (acc * lit(31L) + ascii(c)) % lit(HashP))

  /** Distinct word n-gram shingles over the canonical token stream;
    * empty array when fewer than n tokens.
    */
  def wordShingles(text: Column, n: Int): Column = {
    val t = tokens(text)
    when(size(t) >= n,
      array_distinct(transform(sequence(lit(0), size(t) - n),
        i => concat_ws(" ", slice(t, i + 1, lit(n))))))
      .otherwise(array().cast("array<string>"))
  }

  /** Distinct portable hashes of word n-gram shingles (codegen'd direct
    * byte fold over the token array — no shingle-string materialization;
    * identical values to hashing concat_ws(" ", tokens[i..i+n)) ).
    */
  def shingleHashes(text: Column, n: Int): Column =
    graft.plans.ArrayOps.wordShingleHashes(tokens(text), n, HashP)

  /** Array of portable token hashes for a text column (codegen'd one-pass
    * byte fold — same values as the HOF form, see plans.TokenHashes).
    */
  def tokenHashes(text: Column): Column =
    graft.plans.ArrayOps.tokenHashes(tokens(text), HashP)

  /** Portable document fingerprint: fold token hashes as
    * `acc = (acc*131 + h) mod p` (rolling hash over the token stream).
    */
  def docFingerprint(text: Column): Column =
    aggregate(tokenHashes(text), lit(0L), (acc, h) => (acc * lit(131L) + h) % lit(HashP))

  /** The DuckDB twin of [[docFingerprint]] over a `text` column — ONE
    * source of truth for every oracle that recomputes the fingerprint
    * (q_doc_fingerprint, the snapshot bloom lookup): a fold edit here
    * cannot drift between them.
    */
  val docFingerprintSql: String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |  list_transform(regexp_extract_all(lower(text), '[a-z0-9]+'),
       |    s -> list_reduce(list_prepend(CAST(0 AS BIGINT),
       |           list_transform(string_split(s, ''), c -> CAST(ascii(c) AS BIGINT))),
       |         (a, c) -> (a * 31 + c) % $HashP))),
       |  (a, h) -> (a * 131 + h) % $HashP)""".stripMargin

  /** clean_text analog (text_style.py:103-138): normalize smart quotes,
    * dashes, ellipsis; drop a small emoji set. Chained `replace` stays
    * inside whole-stage codegen.
    */
  def cleanText(text: Column): Column = {
    val repl: Seq[(String, String)] = Seq(
      "’" -> "'", "‘" -> "'", "“" -> "\"", "”" -> "\"",
      "–" -> "-", "—" -> "-", "…" -> "...")
    repl.foldLeft(text) { case (c, (from, to)) => regexp_replace(c, java.util.regex.Pattern.quote(from), to) }
  }

  /** truncate_text analog (text_style.py:141-149): cap at `max` chars,
    * ellipsis when longer.
    */
  def truncateText(text: Column, max: Int = 60): Column =
    when(length(text) > max, concat(substring(text, 1, max - 3), lit("...")))
      .otherwise(text)

  /** sanitize_filename analog (fetch_pages.py:462-468): each of the
    * nine filesystem-invalid chars `<>:"/\|?*` becomes "_", then the
    * name is capped at 255 chars — `translate` + `substring`, both
    * codegen'd. Feeds the attachment fixture filenames
    * (sources/Attachments.scala).
    */
  def sanitizeFilename(name: Column): Column =
    substring(translate(name, "<>:\"/\\|?*", "_________"), 1, 255)

  /** safe_encode analog (generate_reports.py:126-131): latin-1 encode
    * with 'replace' — every codepoint above U+00FF becomes '?'. The
    * `\x{...}` class form spans supplementary planes as WHOLE
    * codepoints, so an astral char yields ONE '?' exactly like
    * Python's per-codepoint replacement (not one per UTF-16 unit).
    */
  def safeEncode(text: Column): Column =
    regexp_replace(text, "[\\x{100}-\\x{10FFFF}]", "?")

  /** Whitespace token count + BPE-ish regex token count. */
  def wsTokenCount(text: Column): Column = size(split(text, "\\s+"))
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z]+|[0-9]|[^a-z0-9\\s]"), lit(0)))

  /** Stopword list used by quality scoring and language ID. */
  val EnStop: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is", "it")
  val DeStop: Seq[String] = Seq("der", "die", "das", "und", "ist", "nicht", "ein")
  val EsStop: Seq[String] = Seq("el", "la", "los", "de", "que", "es", "un")

  /** Quality-score components (length/punct/stopword ratios), all pure
    * column arithmetic. Returns struct-free individual columns via the
    * caller; here the composite score in [0,1]-ish, rounded for oracle
    * stability.
    */
  def qualityScore(text: Column): Column = {
    val nChars = length(text).cast("double")
    val toks = tokens(text)
    val nWords = size(toks).cast("double")
    val avgWordLen = when(nWords > 0, nChars / nWords).otherwise(lit(0.0))
    val punct = size(regexp_extract_all(text, lit("[!-/:-@\\[-`{-~]"), lit(0))).cast("double")
    val punctRatio = when(nChars > 0, punct / nChars).otherwise(lit(0.0))
    val stops = size(array_intersect(toks, lit(EnStop.toArray))).cast("double")
    val stopRatio = when(nWords > 0, stops / nWords).otherwise(lit(0.0))
    // Portable rounding: floor(x*1e4 + 0.5)/1e4 is pure double arithmetic
    // (identical bits in any engine) — library round() implementations
    // disagree on the exact-.5 boundaries this formula's small rationals
    // frequently produce.
    floor((
      lit(0.4) * least(nWords / lit(100.0), lit(1.0)) +
      lit(0.3) * (lit(1.0) - punctRatio) +
      lit(0.2) * stopRatio +
      lit(0.1) * least(avgWordLen / lit(10.0), lit(1.0))) * lit(10000.0) + lit(0.5)) / lit(10000.0)
  }

  /** Language-ID heuristic: distinct-marker-token overlap per language,
    * fixed-precedence argmax (en > de > es > unknown on ties).
    */
  def langId(text: Column): Column = {
    val toks = tokens(text)
    val en = size(array_intersect(toks, lit(EnStop.toArray)))
    val de = size(array_intersect(toks, lit(DeStop.toArray)))
    val es = size(array_intersect(toks, lit(EsStop.toArray)))
    when(en === 0 && de === 0 && es === 0, lit("unknown"))
      .when(en >= de && en >= es, lit("en"))
      .when(de >= es, lit("de"))
      .otherwise(lit("es"))
  }
}
