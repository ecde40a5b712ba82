package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level text primitives shared by the inverted-index job, the
  * dedup operators and the text-analysis queries. All are composed from
  * `org.apache.spark.sql.functions` built-ins so they stay inside
  * whole-stage codegen — no Scala UDFs on the hot path.
  *
  * Normalization semantics follow the reference engine
  * (`/root/reference/src/main.cc:33-42,75`): byte-wise ASCII lowercase,
  * then strip every character outside `[a-z]` (including word-internal
  * punctuation/digits); tokens that normalize to "" are dropped
  * (`src/main.cc:89,136-137` — bucketed under '\0', never written).
  */
object TextFunctions {

  /** Reference word normalization: strip `[^A-Za-z]`, then `tolower`.
    * Stripping first drops every non-ASCII code point before it could
    * lower into an ASCII letter (the C-locale `tolower` never maps one). */
  def normalizeWord(c: Column): Column = lower(regexp_replace(c, "[^A-Za-z]", ""))

  /** Whitespace tokenization, mirroring C++ `operator>>` on a stream
    * (`src/main.cc:73`): any run of whitespace separates tokens. */
  def whitespaceTokens(text: Column): Column = split(text, "\\s+")

  /** Normalized, empty-filtered word array for a document — native
    * single-pass scan (see [[graft.plans.TextNormExprs]]); byte-identical
    * to [[normalizedWordsReference]], which NormalizerPropertySpec
    * asserts on arbitrary strings. */
  def normalizedWords(text: Column): Column =
    graft.plans.TextNormExprs.normalizedWords(text)

  /** The composed formulation (split → per-token regex strip → filter):
    * the direct mapping of the reference semantics, kept as the
    * executable spec the native tokenizer is asserted against. */
  def normalizedWordsReference(text: Column): Column =
    filter(transform(whitespaceTokens(text), t => normalizeWord(t)), w => w =!= "")

  /** UNICODE tokenizer mode (NFKC fold + `\p{L}` classes) for
    * multilingual curation — per whitespace token: NFKC-normalize,
    * lower, keep only letter code points. The byte-wise `[a-z]`
    * [[normalizedWords]] stays the default (reference parity,
    * `/root/reference/src/main.cc:33-42`); the two modes agree on
    * pure-ASCII text by construction. Native single-pass expression
    * ([[graft.plans.TextNormExprs.NormalizedWordsUnicodeExpr]]). */
  def normalizedWordsUnicode(text: Column): Column =
    graft.plans.TextNormExprs.normalizedWordsUnicode(text)

  /** Composed executable spec of the unicode mode. Spark has no NFKC
    * built-in, so this REFERENCE form (spec assertions only — never a
    * query path) carries the one UDF in the repo for that step; lower
    * and the `\p{L}` strip stay Spark built-ins so the property spec
    * exercises the same lowering path the native kernel uses. */
  def normalizedWordsUnicodeReference(text: Column): Column = {
    val nfkc = udf((s: String) =>
      if (s == null) null
      else java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFKC))
    filter(transform(whitespaceTokens(text),
      t => regexp_replace(lower(nfkc(t)), "[^\\p{L}]", "")), w => w =!= "")
  }

  /** Word n-gram shingles over a (already normalized) word array.
    * Documents with fewer than `n` words produce an empty array.
    * Native single-pass expression (see
    * [[graft.plans.TextNormExprs.WordShinglesExpr]]); byte-identical to
    * [[wordShinglesReference]], which NormalizerPropertySpec asserts. */
  def wordShingles(words: Column, n: Int): Column =
    graft.plans.TextNormExprs.wordShingles(words, n)

  /** The composed formulation — the executable spec the native shingle
    * expression is asserted against. */
  def wordShinglesReference(words: Column, n: Int): Column =
    when(size(words) >= n,
      transform(sequence(lit(0), size(words) - n),
        i => concat_ws(" ", (0 until n).map(k => element_at(words, i + k + 1)): _*)))
      .otherwise(array().cast("array<string>"))

  /** Engine-portable hash: md5 hex string. Chosen (over xxhash64 etc.)
    * because the DuckDB oracle computes the identical digest, making
    * MinHash/SimHash/fingerprint results exactly comparable across
    * engines. For a pure-Spark production path, swap in xxhash64. */
  def portableHash(c: Column): Column = md5(c)

  /** MinHash signature component j: min over shingles of md5(j + "|" + s).
    * The lexicographic min of the hex digest is a uniform min-hash. */
  def minhashAgg(shingle: Column, j: Int): Column =
    min(portableHash(concat(lit(s"$j|"), shingle)))

  /** +1/-1 pseudo-random sign for SimHash / hyperplane LSH, derived from
    * the first hex nibble of a portable hash ('0'-'7' → +1, else -1). */
  def hashSign(c: Column): Column =
    when(substring(portableHash(c), 1, 1) <= "7", lit(1)).otherwise(lit(-1))

  /** BPE-ish token pattern: letter runs, digit runs, single other glyph.
    * Kept to character classes shared verbatim by Java regex and RE2 so
    * the oracle tokenizes identically. */
  val bpeishPattern = "[a-z]+|[0-9]+|[^a-z0-9\\s]"

  /** Tiny per-language stopword lists for the heuristic language-ID
    * operator. Deliberately small and disjoint-ish; tie-break is by the
    * fixed language order in `LangIdOrder`. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "for", "on"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "den"),
    "fr" -> Seq("le", "la", "les", "et", "est", "que", "des", "une", "pour", "dans"),
    "es" -> Seq("el", "los", "las", "y", "es", "un", "una", "por", "con", "para"),
    "zh" -> Seq("de", "le", "shi", "bu", "wo", "you", "zai", "ta", "men", "zhe"))

  /** Fixed language order for deterministic arg-max tie-breaking. */
  val langIdOrder: Seq[String] = Seq("en", "de", "fr", "es", "zh")

  /** Engine-portable 4-dp rounding: `floor(x*1e4 + 0.5)/1e4` uses only
    * exact IEEE ops, so Spark and DuckDB produce bit-identical results —
    * unlike round(), whose half-way tie handling differs across engines
    * exactly when a ratio lands on a .00005 boundary. For negative
    * inputs this is "round half toward +inf" — a fine definition, and
    * still bit-identical across engines (what matters here). */
  def round4(c: Column): Column = floor(c * 10000.0 + 0.5) / 10000.0

  /** SQL twin of [[round4]] for DuckDB oracle strings. */
  def round4Sql(expr: String): String = s"floor(($expr) * 10000 + 0.5) / 10000"

  /** DuckDB CTE mirroring [[normalizedWords]] over `documents` — the
    * ONE shared oracle-side tokenizer (documents → doc_id/text/lang +
    * normalized word array `w`). Every text-query oracle must reference
    * this, never re-inline the regex pipeline: a normalization change
    * edited in one copy but not another would silently diverge oracles. */
  /** MATERIALIZED (round 13): DuckDB inlines CTEs per reference, and
    * several oracles reference `docw` more than once — inlining
    * re-tokenizes the corpus per reference (and inside unrolled-round
    * oracles, per ROUND). A pure planner hint; the hash gate re-proves
    * value equality. */
  val docwCteSql: String =
    """docw AS MATERIALIZED (
      |  SELECT doc_id, text, lang,
      |         list_filter(list_transform(regexp_split_to_array(text, '\s+'),
      |                     x -> lower(regexp_replace(x, '[^A-Za-z]', '', 'g'))),
      |                     x -> x <> '') AS w
      |  FROM documents
      |)""".stripMargin

  /** Count of words present in a stopword list. */
  def stopwordHits(words: Column, lang: String): Column =
    size(filter(words, w => w.isInCollection(stopwords(lang))))
}
