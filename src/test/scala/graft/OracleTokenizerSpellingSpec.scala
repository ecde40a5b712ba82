package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextFunctions

/** Static oracle tokenizer-spelling gate, next to
  * [[OracleTypeDisciplineSpec]].
  *
  * `normalizedWords` strips non-ASCII-letters first and lowers after
  * (`TextFunctions.docwCteSql` is its DuckDB twin). An oracle that
  * re-inlines the tokenizer lower-first — `regexp_replace(lower(tok),
  * '[^a-z]', …)`, or `lower(text)` split into `x -> regexp_replace(x,
  * '[^a-z]', …)` — diverges on non-ASCII text: DuckDB's `lower` maps
  * U+212A KELVIN SIGN to `k`, which the Spark side drops. The generated
  * data is ASCII-only, so no oracle run shows it; this scan does.
  *
  * Only the token spelling is flagged. An alpha-ratio
  * `length(regexp_replace(lower(text), '[^a-z]', …))` counts letters and
  * lowers the same way on both engines, so it passes.
  */
class OracleTokenizerSpellingSpec extends AnyFunSuite {
  import OracleTokenizerSpellingSpec.lowerFirstTokens

  test("no oracle re-inlines the tokenizer lower-first") {
    val offenders = SparkEntry.oracleSql.toSeq.sortBy(_._1).flatMap {
      case (name, sql) => lowerFirstTokens(sql).map(m => s"$name: $m")
    }
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }

  test("the scan flags both lower-first spellings and passes the strip-first one") {
    assert(lowerFirstTokens(
      "SELECT DISTINCT doc_id, regexp_replace(lower(tok), '[^a-z]', '', 'g') AS word FROM toks")
      .nonEmpty)
    assert(lowerFirstTokens(
      """list_transform(regexp_split_to_array(lower(text), '\s+'),
        |  x -> regexp_replace(x, '[^a-z]', '', 'g'))""".stripMargin).nonEmpty)
    assert(lowerFirstTokens(TextFunctions.docwCteSql).isEmpty)
    assert(lowerFirstTokens(
      "SELECT CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE) FROM documents")
      .isEmpty)
  }
}

object OracleTokenizerSpellingSpec {
  /** `regexp_replace(<arg>, '[^a-z]', …)` calls that are not the argument
    * of `length(`: a lowercase-only strip is only correct after a lower,
    * so each one is a lower-first token. */
  private val stripLowercase =
    """(?i)(length\s*\(\s*)?regexp_replace\s*\([^']*'\[\^a-z\]'""".r

  def lowerFirstTokens(sql: String): Seq[String] =
    stripLowercase.findAllMatchIn(sql).filter(_.group(1) == null)
      .map(_.matched.replaceAll("\\s+", " ")).toSeq
}
