package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.functions._

import graft.functions.expressions.{JaroWinkler, NfcNormalize, RollingHash,
  SimHash60, WordShingleArray}

/** Column-level text primitives for the LLM-training-data pipeline
  * operators (SURVEY.md §2.11). Everything here composes built-in
  * codegen'd expressions — no Scala UDFs — so whole-stage codegen and
  * column pruning stay intact, and each primitive has an exact DuckDB
  * SQL translation for the oracle gate.
  */
object TextFunctions {

  /** Whitespace tokenization (the shared definition across all text
    * ops; DuckDB equivalent: `regexp_split_to_array(trim(t), '\s+')`).
    */
  def words(text: Column): Column = split(trim(text), "\\s+")

  /** Jaro-Winkler similarity in [0,1] — backed by the native
    * codegen'd [[expressions.JaroWinkler]]; semantics match DuckDB's
    * `jaro_winkler_similarity` exactly (see the expression's
    * Scaladoc for the verified conventions). */
  def jaroWinkler(a: Column, b: Column): Column =
    column(JaroWinkler(expression(a), expression(b)))

  /** Unicode NFC canonical composition — backed by the native
    * codegen'd [[expressions.NfcNormalize]]; semantics match DuckDB's
    * `nfc_normalize` (both UAX#15). */
  def nfc(a: Column): Column = column(NfcNormalize(expression(a)))

  /** Regex-based corpus cleanup (the standard LLM pre-training text
    * normalization): strip URLs and e-mail addresses, remove control
    * characters, collapse whitespace, trim. Every step is a builtin
    * codegen'd `regexp_replace` with an exact DuckDB mirror, so the
    * cleanup itself is oracle-checkable.
    */
  def cleanText(text: Column): Column = {
    // control chars FIRST: Java and RE2 disagree on whether \x0B is
    // \s-whitespace, so the later \S+/\s+ regexes must never see a
    // control character or the two engines tokenize differently —
    // after this step the only whitespace left is [ \t\n\f\r], on
    // which both engines agree
    val noCtrl = regexp_replace(text, "[\\x00-\\x1f\\x7f]", " ")
    val noUrl = regexp_replace(noCtrl, "https?://\\S+|www\\.\\S+", " ")
    val noEmail = regexp_replace(noUrl,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", " ")
    trim(regexp_replace(noEmail, "\\s+", " "))
  }

  /** Word-repetition ratio `1 − distinct/total` — the classic
    * boilerplate/repetition quality signal (0 = all words distinct,
    * → 1 = one word repeated; an EMPTY token array scores 0, not
    * null — Spark's non-ANSI 0/0 division would otherwise leak a null
    * through threshold filters).
    */
  def repetitionRatio(w: Column): Column =
    when(size(w) === 0, lit(0.0))
      .otherwise(lit(1.0) - size(array_distinct(w)).cast("double") /
        size(w).cast("double"))

  /** BPE-ish subword token count: alpha runs, digit runs, and single
    * punctuation marks each count as one token.
    */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Distinct word n-gram shingles. Documents with fewer than `n`
    * words degrade to a single whole-text shingle (no row is dropped —
    * deliberate contrast to the reference's tail truncation,
    * SURVEY.md §0.3).
    */
  def wordShingles(w: Column, n: Int): Column =
    when(size(w) >= n,
      array_distinct(transform(sequence(lit(0), size(w) - n),
        i => concat_ws(" ", slice(w, i + 1, lit(n))))))
      .otherwise(array(concat_ws(" ", w)))

  /** Word n-gram shingle MULTISET (duplicates preserved, positional
    * order) via the native single-pass codegen'd
    * [[expressions.WordShingleArray]] — the hot-path form: shingles are
    * produced inside the scan projection with no shuffle and no
    * interpreted lambda. Distinct-set semantics: wrap in
    * `array_distinct` (equals [[wordShingles]]).
    */
  def wordShingleArray(text: Column, n: Int): Column =
    column(WordShingleArray(expression(text), n))

  /** Large prime modulus for the minhash permutation family (2^31−1)
    * of [[graft.operators.Dedup]]'s signatures. */
  val MinhashP: Long = 2147483647L

  /** LSH band keys: the signature is cut into `bands` bands of `rows`
    * hashes; each band is collapsed to one md5 key. Two documents are
    * candidate duplicates iff they share ≥1 band key.
    */
  def lshBandKeys(sig: Column, bands: Int, rows: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)), b =>
      md5(concat(b.cast("string"), lit("|"),
        concat_ws("|", transform(slice(sig, b * lit(rows) + 1, lit(rows)),
          v => v.cast("string"))))))

  /** Exact Jaccard similarity of two distinct-element arrays. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")

  /** 60-bit hash of a token: first 15 hex digits of md5, as a long.
    * (60 bits keeps the value positive in both engines' signed i64;
    * DuckDB: `('0x' || substr(md5(t),1,15))::BIGINT`.)
    */
  def token60(tok: Column): Column =
    conv(substring(md5(tok), 1, 15), 16, 10).cast("long")

  /** Native single-pass 60-bit SimHash over a token array (internally
    * de-duplicates tokens): bit i is set iff strictly more distinct
    * tokens have bit i of their [[token60]] hash set than clear. Backed
    * by the codegen'd [[expressions.SimHash60]]; bit-identical to the
    * explode+aggregate formulation.
    */
  def simhash60(tokens: Column): Column = column(SimHash60(expression(tokens)))

  /** Hamming distance between two simhashes. */
  def hamming(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** Rabin–Karp polynomial rolling-hash fingerprint — backed by the
    * native codegen'd [[expressions.RollingHash]].
    */
  def rollingHash(text: Column): Column = column(RollingHash(expression(text)))

  /** Mean word length: total word characters over word count (the
    * Gopher-rule formulation; whitespace excluded by construction).
    * DuckDB mirror: `length(array_to_string(w,''))::DOUBLE / len(w)`.
    */
  def meanWordLen(w: Column): Column =
    length(concat_ws("", w)).cast("double") / size(w).cast("double")

  // --- PII patterns (shared verbatim with the DuckDB oracle; kept to
  // --- RE2-compatible syntax: no lookaround, no backreferences) ---
  val emailPattern: String =
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phonePattern: String = "\\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}"
  val ipPattern: String = "([0-9]{1,3}\\.){3}[0-9]{1,3}"

  /** Count of PII matches of one pattern. */
  def piiCount(text: Column, pattern: String): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0)))

  /** Redact e-mails, then phones, then IPs with typed placeholders.
    * Replacement order matters and is fixed (mirrored in the oracle):
    * e-mail domains would otherwise partially match the IP pattern.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, emailPattern, "[EMAIL]"),
        phonePattern, "[PHONE]"),
      ipPattern, "[IP]")

  /** Stopword ratio against a fixed marker list (shared with the
    * oracle SQL; the synthetic corpus is English-heavy).
    */
  val stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in")

  /** Occurrence count of marker stopwords in a token array. One
    * interpreted lambda (`filter` is a higher-order function, not
    * codegen'd) — kept as the single shared definition so the ratio,
    * the Gopher rule, and the oracle SQL can never drift apart.
    */
  def stopwordCount(w: Column): Column =
    size(filter(w, t => t.isin(stopwords: _*)))

  def stopwordRatio(w: Column): Column =
    stopwordCount(w).cast("double") / size(w).cast("double")

  /** Punctuation character ratio. */
  def punctRatio(text: Column): Column =
    length(regexp_replace(text, "[^.!?,;:]", "")).cast("double") /
      length(text).cast("double")

  /** Composite quality score in [0,1]: long-enough, low punctuation,
    * moderate stopword density. Weights are arbitrary but fixed and
    * mirrored in the oracle SQL.
    */
  def qualityScore(text: Column, w: Column): Column = {
    val lenScore = least(length(text).cast("double") / lit(400.0), lit(1.0))
    val punctScore = lit(1.0) - least(punctRatio(text) * 10.0, lit(1.0))
    val stopScore = least(stopwordRatio(w) * 5.0, lit(1.0))
    lenScore * 0.4 + punctScore * 0.3 + stopScore * 0.3
  }

  /** Marker-word language scores; predicted language = argmax marker
    * count with 'und' when no marker hits. N-gram-frequency heuristic
    * over a fixed marker table — deterministic, so oracle-checkable.
    */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "es" -> Seq("el", "los", "las", "es", "una"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "zh" -> Seq("的", "是", "了"))

  def langScore(w: Column, lang: String): Column =
    size(filter(w, t => t.isin(langMarkers(lang): _*)))

  def predictedLang(w: Column): Column = {
    // greatest-by-score with deterministic tie-break on language order
    val langs = langMarkers.keys.toSeq.sorted
    val scored = langs.map(l => struct(langScore(w, l).as("s"), lit(l).as("l")))
    val best = greatest(scored: _*)
    when(best.getField("s") > 0, best.getField("l")).otherwise(lit("und"))
  }
}
