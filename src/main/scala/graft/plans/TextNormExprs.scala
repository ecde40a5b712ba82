package graft.plans

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Nondeterministic, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native single-pass reference-semantics tokenizer.
  *
  * Replaces the composed pipeline
  * `filter(transform(split(text, "\\s+"), t => regexp_replace(lower(t),
  * "[^a-z]", "")), _ =!= "")` — which runs a regex compile/match per
  * token per row — with one byte-level scan per document. The composed
  * form is the direct mapping of the reference normalization
  * (`/root/reference/src/main.cc:33-42,75`: `tolower` then strip
  * `[^a-z]`, whitespace-delimited tokens); this expression produces
  * byte-identical output (asserted by NormalizerPropertySpec) and is the
  * hot path of every text query (tokenize → sketch/score/count), so at
  * 100 TB it is the difference between a regex-bound scan and an
  * I/O-bound one.
  *
  * Equivalence notes:
  *  - the raw text is split FIRST (Java regex `\s` is exactly
  *    {0x20, 0x09–0x0D}), then each token is normalized independently —
  *    the same order as the composed form.
  *  - normalization is the reference's C-locale byte walk: every byte
  *    ≥ 0x80 (any UTF-8 lead or continuation byte) is dropped before
  *    lowering, so no non-ASCII code point can lower into an ASCII
  *    letter (U+212A KELVIN SIGN is not `k`, U+0130 `İ` is not `i`).
  *    The composed form spells this as `lower(regexp_replace(t,
  *    "[^A-Za-z]", ""))`: strip first, then lower pure ASCII, which
  *    takes `UTF8String`'s locale-independent path even under e.g. a
  *    Turkish default locale.
  *  - every other non-[a-z] post-lower byte (digits, punctuation) is
  *    dropped *without* ending the word, so "don't" → "dont" and
  *    "x1y" → "xy".
  */
object TextNormExprs {

  private def isWs(b: Byte): Boolean = b == 0x20 || (b >= 0x09 && b <= 0x0d)

  /** Lower + strip one raw token (bytes [from, until)) into buf,
    * returning the normalized length: ASCII `A-Z` lowers, `[a-z]` is
    * kept, and every other byte, any byte ≥ 0x80 included, is dropped. */
  private def normalizeToken(bytes: Array[Byte], from: Int, until: Int,
      buf: Array[Byte]): Int = {
    var w = 0
    var i = from
    while (i < until) {
      var b = bytes(i)
      if (b >= 'A' && b <= 'Z') b = (b + 32).toByte
      if (b >= 'a' && b <= 'z') { buf(w) = b; w += 1 }
      i += 1
    }
    w
  }

  /** The tokenizer kernel, shared by the interpreted `nullSafeEval` and
    * the GENERATED code (called as a static forwarder from janino-built
    * Java — the StaticInvoke pattern, which keeps the expression inside
    * whole-stage codegen instead of the per-row boxed `eval()` detour
    * CodegenFallback costs). */
  def normalizeWordsEval(input: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    val bytes = input.getBytes
    val out = new java.util.ArrayList[UTF8String]()
    // a normalized token is never longer than its raw bytes
    val buf = new Array[Byte](bytes.length)
    var start = 0
    var i = 0
    while (i <= bytes.length) {
      if (i == bytes.length || isWs(bytes(i))) {
        if (i > start) {
          val w = normalizeToken(bytes, start, i, buf)
          if (w > 0) out.add(UTF8String.fromBytes(java.util.Arrays.copyOfRange(buf, 0, w)))
        }
        start = i + 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  case class NormalizedWordsExpr(child: Expression)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)

    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case StringType =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case other =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"normalized_words requires a STRING input, got ${other.simpleString}")
      }

    override protected def nullSafeEval(input: Any): Any =
      normalizeWordsEval(input.asInstanceOf[UTF8String])

    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.plans.TextNormExprs.normalizeWordsEval($c);")

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
    override def prettyName: String = "normalized_words"
  }

  def normalizedWords(text: Column): Column =
    GraftColumnBridge.toColumn(NormalizedWordsExpr(GraftColumnBridge.toExpression(text)))

  // ---- per-run map-side combine --------------------------------------

  /** Default bound on the words one run remembers: a few MB of keys per
    * task, far above the distinct words of a typical corpus file. */
  val FirstInRunCap: Int = 1 << 16

  /** Map-side combine for a scan that emits each key's rows as one
    * contiguous run, as the manifest-corpus reader does with a file's
    * lines: of each row's `words`, keep only those not yet seen in the
    * current run of rows with the same `key`. The per-task word set is
    * cleared when the key changes, and also when it reaches `cap`
    * words, so memory stays bounded on any input.
    *
    * The result is NOT a global dedup. A run split across partitions,
    * a key that comes back later, or a cap clear lets a word through
    * again, so a consumer must still dedup; the combine only shrinks
    * what reaches it. `Nondeterministic` and `stateful`: the set lives
    * per task (created in `initializeInternal`, or in the generated
    * class's partition initializer), and Catalyst neither duplicates
    * nor reorders the expression. A null key passes the words through;
    * null words give null. */
  case class FirstInRunExpr(key: Expression, words: Expression, cap: Int = FirstInRunCap)
      extends BinaryExpression with Nondeterministic {
    require(cap >= 1, s"first_in_run cap=$cap must be >= 1")
    override def left: Expression = key
    override def right: Expression = words
    override def dataType: DataType = words.dataType
    override def nullable: Boolean = words.nullable
    override def stateful: Boolean = true

    override def checkInputDataTypes(): TypeCheckResult = (key.dataType, words.dataType) match {
      case (IntegerType, ArrayType(StringType, false)) => TypeCheckResult.TypeCheckSuccess
      case (k, w) => TypeCheckResult.TypeCheckFailure(
        s"first_in_run requires (INT, ARRAY<STRING NOT NULL>), got " +
          s"(${k.simpleString}, ${w.simpleString})")
    }

    @transient private[this] var state: FirstInRunSet = _

    override protected def initializeInternal(partitionIndex: Int): Unit =
      state = new FirstInRunSet(cap)

    override protected def evalInternal(input: InternalRow): Any = {
      val w = words.eval(input)
      val k = key.eval(input)
      if (w == null || k == null) w
      else state.keepUnseen(k.asInstanceOf[Int], w.asInstanceOf[ArrayData])
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val cls = classOf[FirstInRunSet].getName
      val st = ctx.addMutableState(cls, "firstInRun")
      ctx.addPartitionInitializationStatement(s"$st = new $cls($cap);")
      val k = key.genCode(ctx)
      val w = words.genCode(ctx)
      ev.copy(code = code"""
        ${k.code}
        ${w.code}
        boolean ${ev.isNull} = ${w.isNull};
        ${CodeGenerator.javaType(dataType)} ${ev.value} = ${w.value};
        if (!${ev.isNull} && !${k.isNull}) {
          ${ev.value} = $st.keepUnseen(${k.value}, ${w.value});
        }""")
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(key = newLeft, words = newRight)
    override def prettyName: String = "first_in_run"
  }

  def firstInRun(key: Column, words: Column, cap: Int = FirstInRunCap): Column =
    GraftColumnBridge.toColumn(FirstInRunExpr(
      GraftColumnBridge.toExpression(key), GraftColumnBridge.toExpression(words), cap))

  // ---- keep-first distinct (order-preserving array dedup) -----------

  /** Keep-first distinct kernel: one pass, one HashSet — O(L) over L
    * array elements, vs the composed position-indexed filter's
    * O(L²) `array_position` rescans (each of L lambda invocations
    * walks the array from the start). On a normal page both are
    * instant; on a pathological 10k-line document the composed form
    * does 10⁸ string compares PER ROW — the kind of tail latency that
    * stalls one executor for minutes at crawl scale. Static forwarder
    * for codegen (the [[normalizeWordsEval]] pattern). */
  def keepFirstDistinctEval(input: org.apache.spark.sql.catalyst.util.ArrayData)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = input.numElements()
    val out = new java.util.ArrayList[UTF8String](n)
    val seen = new java.util.HashSet[UTF8String](math.max(16, n * 2))
    var i = 0
    while (i < n) {
      // null elements drop, matching the composed position filter
      // (array_position(arr, null) is NULL -> the lambda filters it out)
      if (!input.isNullAt(i)) {
        val s = input.getUTF8String(i)
        if (seen.add(s)) out.add(s)
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  case class KeepFirstDistinctExpr(child: Expression)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case ArrayType(StringType, _) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case other =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"keep_first_distinct requires ARRAY<STRING>, got ${other.simpleString}")
      }
    override protected def nullSafeEval(input: Any): Any =
      keepFirstDistinctEval(input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.plans.TextNormExprs.keepFirstDistinctEval($c);")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
    override def prettyName: String = "keep_first_distinct"
  }

  /** Order-preserving distinct (first occurrence wins) over a
    * non-null string array — the q199 line-dedup kernel. */
  def keepFirstDistinct(arr: Column): Column =
    GraftColumnBridge.toColumn(
      KeepFirstDistinctExpr(GraftColumnBridge.toExpression(arr)))

  // ---- UNICODE tokenizer mode (NFKC + \p{L}) ------------------------

  /** One token under the UNICODE mode: NFKC-normalize → lower via
    * `CollationSupport.Lower.exec(…, useICU = true)` — the exact path
    * Spark 4's `lower()` resolves to for UTF8_BINARY, NOT
    * `UTF8String.toLowerCase`, whose Java fallback disagrees on
    * Unicode conditional mappings like Greek final sigma (see the
    * inline comment below); the composed-form property spec therefore
    * holds byte-for-byte — → keep only
    * `\p{L}` code points (Character.isLetter == general categories
    * Lu/Ll/Lt/Lm/Lo — exactly Java regex `\p{L}`). Pure-ASCII tokens
    * take the byte kernel fast path: NFKC is the identity on ASCII,
    * ASCII lower+`\p{L}` is exactly the `[a-z]` rule — so THE TWO
    * MODES AGREE ON ASCII TEXT by construction, which is what lets
    * q196's oracle replay the ASCII body through the shared `docw`
    * pipeline and splice the non-ASCII expectations as literals. */
  private def normalizeTokenUnicode(bytes: Array[Byte], from: Int,
      until: Int, buf: Array[Byte]): UTF8String = {
    var ascii = true
    var i = from
    while (ascii && i < until) { if (bytes(i) < 0) ascii = false; i += 1 }
    if (ascii) {
      val w = normalizeToken(bytes, from, until, buf)
      if (w == 0) null
      else UTF8String.fromBytes(java.util.Arrays.copyOfRange(buf, 0, w))
    } else {
      val nfkc = java.text.Normalizer.normalize(
        UTF8String.fromBytes(bytes, from, until - from).toString,
        java.text.Normalizer.Form.NFKC)
      // the SAME lowering Spark's lower() resolves to for UTF8_BINARY
      // under the default ICU case mappings — NOT UTF8String
      // .toLowerCase, whose Java-semantics fallback disagrees with
      // lower() on Unicode conditional mappings (Greek final sigma in
      // "xΣ9b": ICU says ς, Java says σ). Property-spec'd against
      // lower() itself, so a Spark-side change would surface there.
      val lowered = org.apache.spark.sql.catalyst.util.CollationSupport.Lower
        .exec(UTF8String.fromString(nfkc), 0, true).toString
      val sb = new java.lang.StringBuilder(lowered.length)
      var j = 0
      while (j < lowered.length) {
        val cp = lowered.codePointAt(j)
        if (Character.isLetter(cp)) sb.appendCodePoint(cp)
        j += Character.charCount(cp)
      }
      if (sb.length == 0) null else UTF8String.fromString(sb.toString)
    }
  }

  /** Unicode-mode tokenizer kernel (static forwarder for codegen):
    * whitespace split is the SAME `\s` = {0x20, 0x09–0x0D} byte rule
    * as the default mode (UTF-8 continuation bytes are never ws, so
    * the byte walk is UTF-8-safe); only per-token normalization
    * differs. The `[a-z]` default mode is untouched — reference
    * parity (/root/reference/src/main.cc:33-42) stays byte-exact. */
  def normalizeWordsUnicodeEval(input: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    val bytes = input.getBytes
    val out = new java.util.ArrayList[UTF8String]()
    val buf = new Array[Byte](math.max(16, bytes.length * 3))
    var start = 0
    var i = 0
    while (i <= bytes.length) {
      if (i == bytes.length || isWs(bytes(i))) {
        if (i > start) {
          val t = normalizeTokenUnicode(bytes, start, i, buf)
          if (t != null) out.add(t)
        }
        start = i + 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  case class NormalizedWordsUnicodeExpr(child: Expression)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case StringType =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case other =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"normalized_words_unicode requires a STRING input, got ${other.simpleString}")
      }
    override protected def nullSafeEval(input: Any): Any =
      normalizeWordsUnicodeEval(input.asInstanceOf[UTF8String])
    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.plans.TextNormExprs.normalizeWordsUnicodeEval($c);")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
    override def prettyName: String = "normalized_words_unicode"
  }

  /** The NFKC + `\p{L}` tokenizer mode for multilingual curation; the
    * byte-wise `[a-z]` [[normalizedWords]] stays the default. */
  def normalizedWordsUnicode(text: Column): Column =
    GraftColumnBridge.toColumn(
      NormalizedWordsUnicodeExpr(GraftColumnBridge.toExpression(text)))

  /** Count of whitespace-delimited tokens — the COUNT-ONLY twin of
    * `size(filter(split(text, "\\s+"), _ =!= ""))`: one byte scan, no
    * array materialization, no regex. Java regex `\s` is exactly
    * {0x20, 0x09–0x0D}, all ASCII, so maximal non-ws byte runs are
    * countable bytewise (UTF-8 continuation bytes are never ws). */
  /** Count kernel, static-forwarder-reachable from generated Java. */
  def wsTokenCountEval(input: UTF8String): Int = {
    val bytes = input.getBytes
    var cnt = 0
    var inTok = false
    var i = 0
    while (i < bytes.length) {
      val ws = isWs(bytes(i))
      if (!ws && !inTok) cnt += 1
      inTok = !ws
      i += 1
    }
    cnt
  }

  case class WsTokenCountExpr(child: Expression)
      extends UnaryExpression {
    override def dataType: DataType = IntegerType
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case StringType =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case other =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"ws_token_count requires a STRING input, got ${other.simpleString}")
      }
    override def nullSafeEval(input: Any): Any =
      wsTokenCountEval(input.asInstanceOf[UTF8String])
    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.plans.TextNormExprs.wsTokenCountEval($c);")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
    override def prettyName: String = "ws_token_count"
  }

  def wsTokenCount(text: Column): Column =
    GraftColumnBridge.toColumn(WsTokenCountExpr(GraftColumnBridge.toExpression(text)))

  /** Count of BPE-ish tokens — the COUNT-ONLY twin of
    * `size(regexp_extract_all(s, "[a-z]+|[0-9]+|[^a-z0-9\\s]", 0))`:
    * one byte scan, no match-list materialization. The caller passes
    * the ALREADY-LOWERED string (keep `lower()` outside, exactly like
    * the composed form) so locale/lowering semantics stay Spark's own.
    *
    * Byte rules mirror the regex's per-CODEPOINT semantics: [a-z] and
    * [0-9] runs count once; ASCII `\s` separates; any other ASCII byte
    * is a single-glyph match; a non-ASCII codepoint (UTF-8 lead byte,
    * continuation bytes skipped) is a single-glyph match — including
    * non-ASCII whitespace, which Java regex `\s` does NOT match. */
  /** Count kernel, static-forwarder-reachable from generated Java. */
  def bpeishCountEval(input: UTF8String): Int = {
    val bytes = input.getBytes
    var cnt = 0
    var run = 0 // 0 = none, 1 = letter run, 2 = digit run
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i)
      if (b >= 'a' && b <= 'z') { if (run != 1) cnt += 1; run = 1 }
      else if (b >= '0' && b <= '9') { if (run != 2) cnt += 1; run = 2 }
      else if (b >= 0 && isWs(b)) run = 0
      else if (b >= 0) { cnt += 1; run = 0 } // other ASCII glyph
      else { // non-ASCII: count one per lead byte, skip continuations
        if ((b & 0xc0) != 0x80) cnt += 1
        run = 0
      }
      i += 1
    }
    cnt
  }

  case class BpeishCountExpr(child: Expression)
      extends UnaryExpression {
    override def dataType: DataType = IntegerType
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case StringType =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case other =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"bpeish_count requires a STRING input, got ${other.simpleString}")
      }
    override def nullSafeEval(input: Any): Any =
      bpeishCountEval(input.asInstanceOf[UTF8String])
    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.plans.TextNormExprs.bpeishCountEval($c);")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
    override def prettyName: String = "bpeish_count"
  }

  def bpeishCount(loweredText: Column): Column =
    GraftColumnBridge.toColumn(BpeishCountExpr(GraftColumnBridge.toExpression(loweredText)))

  /** Native word n-gram shingling over a word array — the COMPOSED form
    * (`when(size(w) >= n, transform(sequence(0, size(w)-n), i =>
    * concat_ws(" ", element_at…)))`) pays an interpreted lambda +
    * per-gram Column-tree eval per element; this is one pass with
    * `UTF8String.concatWs`. It is the hot inner loop of every shingle
    * consumer (Jaccard pairs, dedup clustering, decontamination,
    * repetition ratio).
    *
    * Mirrors the composed form's null contract exactly: a NULL word
    * array (null text upstream) and an array shorter than `n` both
    * yield an EMPTY array (the `when` falls through to `otherwise` on
    * null), so the expression is non-nullable. */
  case class WordShinglesExpr(child: Expression, n: Int)
      extends UnaryExpression with CodegenFallback {
    require(n >= 1, s"shingle width n=$n must be >= 1")
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullable: Boolean = false
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case ArrayType(StringType, _) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case other =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"word_shingles requires ARRAY<STRING> input, got ${other.simpleString}")
      }
    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
      wordShinglesEval(
        child.eval(input).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], n)
    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
      // custom null contract (NULL child → EMPTY array, expression
      // non-nullable), so the null check folds into the kernel call
      // instead of using nullSafeCodeGen's propagate-null wrapper
      import org.apache.spark.sql.catalyst.expressions.codegen.Block._
      val c = child.genCode(ctx)
      ev.copy(
        code = code"""
          ${c.code}
          org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
            graft.plans.TextNormExprs.wordShinglesEval(
              ${c.isNull} ? null : ${c.value}, $n);""",
        isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
    override def prettyName: String = "word_shingles"
  }

  private val shingleSpace = UTF8String.fromString(" ")
  // shared: expression outputs are immutable, and short/null-input
  // rows are common in the corpora this is the hot loop for
  private val emptyArrayData = new GenericArrayData(Array.empty[Any])

  /** Shingle kernel, static-forwarder-reachable from generated Java;
    * accepts null (→ empty) so the codegen null fold stays one line. */
  def wordShinglesEval(arr: org.apache.spark.sql.catalyst.util.ArrayData, n: Int)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    if (arr == null) return emptyArrayData
    val sz = arr.numElements()
    if (sz < n) return emptyArrayData
    val out = new Array[Any](sz - n + 1)
    val parts = new Array[UTF8String](n)
    var i = 0
    while (i <= sz - n) {
      var k = 0
      while (k < n) { parts(k) = arr.getUTF8String(i + k); k += 1 }
      out(i) = UTF8String.concatWs(shingleSpace, parts: _*)
      i += 1
    }
    new GenericArrayData(out)
  }

  def wordShingles(words: Column, n: Int): Column =
    GraftColumnBridge.toColumn(WordShinglesExpr(GraftColumnBridge.toExpression(words), n))

  /** Per-document gram-repetition statistics for SEVERAL shingle widths
    * in one expression: output element j is
    * `struct(topchars, dupchars)` for width `ns(j)`, where `topchars` =
    * occurrences × character length of the single most frequent word
    * n-gram (ties broken to the lexicographically smallest gram — the
    * Gopher repetition battery's top-gram rule) and `dupchars` = Σ
    * occurrences × length over grams occurring ≥ 2× (the duplicate-gram
    * rule, overlap-counting). One hash-count pass per width per row —
    * no shingle array materialization, no sort, no explode: the whole
    * battery is a narrow per-row kernel whose state is bounded by one
    * document's distinct grams. NULL or too-short word arrays yield
    * zero structs (the caller nulls outputs on NULL text), so the
    * expression is non-nullable — same contract shape as
    * [[WordShinglesExpr]]. Equality with the exploded distributed
    * formulation is property-asserted (TextAnalysisSpec). */
  case class GramRepetitionExpr(child: Expression, ns: Seq[Int])
      extends UnaryExpression with CodegenFallback {
    require(ns.nonEmpty && ns.forall(_ >= 1), s"gram widths $ns must be >= 1")
    override def dataType: DataType = ArrayType(
      StructType(Seq(
        StructField("topchars", LongType, nullable = false),
        StructField("dupchars", LongType, nullable = false))),
      containsNull = false)
    override def nullable: Boolean = false
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case ArrayType(StringType, _) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case other =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"gram_repetition requires ARRAY<STRING> input, got ${other.simpleString}")
      }
    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
      gramRepetitionEval(
        child.eval(input).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], ns)
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
    override def prettyName: String = "gram_repetition"
  }

  /** Kernel for [[GramRepetitionExpr]]: for each width, count grams
    * into a hash map (UTF8String keys, binary equality/ordering — the
    * same ordering Spark's sort and the oracle's ORDER BY use), then
    * one scan extracts the best (cnt DESC, gram ASC) and the ≥2×
    * character sum. */
  def gramRepetitionEval(arr: org.apache.spark.sql.catalyst.util.ArrayData,
      ns: Seq[Int]): org.apache.spark.sql.catalyst.util.ArrayData = {
    val out = new Array[Any](ns.length)
    var j = 0
    while (j < ns.length) {
      val n = ns(j)
      var top = 0L
      var dup = 0L
      if (arr != null && arr.numElements() >= n) {
        val sz = arr.numElements()
        val counts = new java.util.HashMap[UTF8String, Integer](
          math.min(sz, 1 << 16))
        val parts = new Array[UTF8String](n)
        var i = 0
        while (i <= sz - n) {
          var k = 0
          while (k < n) { parts(k) = arr.getUTF8String(i + k); k += 1 }
          val g = UTF8String.concatWs(shingleSpace, parts: _*)
          val c = counts.get(g)
          counts.put(g, if (c == null) 1 else c + 1)
          i += 1
        }
        var bestCnt = 0
        var bestGram: UTF8String = null
        val it = counts.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          val c: Int = e.getValue
          val g = e.getKey
          if (c > bestCnt || (c == bestCnt && g.compareTo(bestGram) < 0)) {
            bestCnt = c; bestGram = g
          }
          if (c >= 2) dup += c.toLong * g.numChars()
        }
        if (bestGram != null) top = bestCnt.toLong * bestGram.numChars()
      }
      out(j) = org.apache.spark.sql.catalyst.InternalRow(top, dup)
      j += 1
    }
    new GenericArrayData(out)
  }

  def gramRepetition(words: Column, ns: Seq[Int]): Column =
    GraftColumnBridge.toColumn(
      GramRepetitionExpr(GraftColumnBridge.toExpression(words), ns))

  /** Distinct-word count and maximum word multiplicity in ONE hash
    * pass — the kernel behind [[graft.operators.LabelModel]]'s
    * lf_distinct / lf_maxfreq evidence. The composed form
    * (`array_distinct` + an `array_max(transform(distinct, filter
    * count))`) is an interpreted O(distinct × n) lambda per row —
    * the same shape [[GramRepetitionExpr]] replaced for the Gopher
    * battery. Kernel, static-forwarder-reachable from generated
    * Java; null array → (0, 0) (callers drop null text first). */
  def wordMultiplicityEval(arr: org.apache.spark.sql.catalyst.util.ArrayData)
      : org.apache.spark.sql.catalyst.InternalRow = {
    if (arr == null || arr.numElements() == 0)
      return org.apache.spark.sql.catalyst.InternalRow(0L, 0L)
    val counts = new java.util.HashMap[UTF8String, Integer](
      math.min(arr.numElements(), 1 << 16))
    var i = 0
    while (i < arr.numElements()) {
      val w = arr.getUTF8String(i)
      val c = counts.get(w)
      counts.put(w, if (c == null) 1 else c + 1)
      i += 1
    }
    var mx = 0L
    val it = counts.values().iterator()
    while (it.hasNext) { val c: Int = it.next(); if (c > mx) mx = c }
    org.apache.spark.sql.catalyst.InternalRow(counts.size.toLong, mx)
  }

  case class WordMultiplicityExpr(child: Expression)
      extends UnaryExpression {
    override def dataType: DataType = StructType(Seq(
      StructField("d", LongType, nullable = false),
      StructField("mx", LongType, nullable = false)))
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case ArrayType(StringType, _) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case other =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"word_multiplicity requires ARRAY<STRING> input, got ${other.simpleString}")
      }
    override protected def nullSafeEval(input: Any): Any =
      wordMultiplicityEval(
        input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.plans.TextNormExprs.wordMultiplicityEval($c);")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
    override def prettyName: String = "word_multiplicity"
  }

  def wordMultiplicity(words: Column): Column =
    GraftColumnBridge.toColumn(
      WordMultiplicityExpr(GraftColumnBridge.toExpression(words)))

  /** Per-language stopword-hit counts over a word array, all languages
    * in ONE pass: one hash lookup per token against a word →
    * per-language increment table, replacing an interpreted
    * `size(filter(words, isInCollection(...)))` per language (each a
    * full scan of the array with a linear literal-list compare per
    * element). Output element i = hit count for `langWords(i)`,
    * counting token multiplicity — exactly the composed form's result
    * (null elements contribute nothing there: `isInCollection(null)`
    * is null, which `filter` drops). */
  case class StopwordScoresExpr(child: Expression, langWords: Seq[Seq[String]])
      extends UnaryExpression with CodegenFallback {
    // a NULL word array yields array(null, …) — size(filter(NULL)) per
    // language in the composed form, whose outer array() is non-null
    override def dataType: DataType = ArrayType(IntegerType, containsNull = true)
    override def nullable: Boolean = false

    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case ArrayType(StringType, _) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case other =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"stopword_scores requires an ARRAY<STRING> input, got ${other.simpleString}")
      }

    @transient private lazy val nLangs = langWords.size
    @transient private lazy val table: java.util.HashMap[UTF8String, Array[Int]] = {
      val m = new java.util.HashMap[UTF8String, Array[Int]]()
      langWords.zipWithIndex.foreach { case (ws, li) =>
        ws.foreach { w =>
          val k = UTF8String.fromString(w)
          var inc = m.get(k)
          if (inc == null) { inc = new Array[Int](nLangs); m.put(k, inc) }
          // set semantics: a duplicate list entry must not double-count
          // a matching token (isInCollection matches each token once)
          inc(li) = 1
        }
      }
      m
    }

    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
      val v = child.eval(input)
      if (v == null) new GenericArrayData(Array.fill[Any](nLangs)(null))
      else nullSafeEval(v)
    }

    override protected def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val counts = new Array[Int](nLangs)
      val n = arr.numElements()
      var i = 0
      while (i < n) {
        val w = arr.getUTF8String(i)
        if (w != null) {
          val inc = table.get(w)
          if (inc != null) {
            var l = 0
            while (l < nLangs) { counts(l) += inc(l); l += 1 }
          }
        }
        i += 1
      }
      new GenericArrayData(counts.map(Integer.valueOf(_): Any))
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
    override def prettyName: String = "stopword_scores"
  }

  def stopwordScores(words: Column, langWords: Seq[Seq[String]]): Column =
    GraftColumnBridge.toColumn(
      StopwordScoresExpr(GraftColumnBridge.toExpression(words), langWords))

  /** LOADABLE-VOCAB subword token count — real sequence budgeting for
    * the packing/chunking consumers (q67/q70), replacing the
    * heuristic [[BpeishCountExpr]] estimate with the count an actual
    * learned vocabulary produces.
    *
    * Segmentation is greedy longest-match (the WordPiece/BPE-inference
    * family): at each position of each (already-normalized) word, the
    * longest vocabulary piece matching there is consumed and counted;
    * if none matches, one character is skipped and counted as a single
    * UNK token — so the count is total, deterministic, and defined for
    * every input. The vocab rides the expression as a constant (a few
    * KB), organized as per-length hash sets so a position costs at most
    * `maxPieceLen` probes — one pass, no regex, no per-row vocab scan.
    *
    * Input is the normalized WORD ARRAY (compose with
    * [[NormalizedWordsExpr]]), keeping one tokenizer contract across
    * the engine. Null array or null element → null (the aggregate-
    * poison convention of the other text exprs); empty array → 0. */
  case class VocabTokenCountExpr(child: Expression, vocab: Seq[String])
      extends UnaryExpression with CodegenFallback {
    require(vocab.nonEmpty && vocab.forall(_.nonEmpty), "vocab must be non-empty pieces")
    override def dataType: DataType = IntegerType
    override def nullable: Boolean = true

    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case ArrayType(StringType, _) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case other =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"vocab_token_count requires an ARRAY<STRING> input, got ${other.simpleString}")
      }

    // per-length piece sets over raw UTF-8 bytes (pieces and normalized
    // words are ASCII here, but byte-wise match is correct for any
    // UTF-8: a piece matches iff its exact byte sequence matches)
    @transient private lazy val byLen: Array[java.util.HashSet[java.nio.ByteBuffer]] = {
      val maxLen = vocab.map(_.getBytes("UTF-8").length).max
      val sets = Array.fill(maxLen + 1)(new java.util.HashSet[java.nio.ByteBuffer]())
      vocab.foreach { p =>
        val b = p.getBytes("UTF-8")
        sets(b.length).add(java.nio.ByteBuffer.wrap(b))
      }
      sets
    }

    private def countWord(bytes: Array[Byte]): Int = {
      val maxLen = byLen.length - 1
      var pos = 0
      var cnt = 0
      while (pos < bytes.length) {
        var step = 1 // UNK: skip one byte
        var l = math.min(maxLen, bytes.length - pos)
        var found = false
        while (!found && l >= 1) {
          if (!byLen(l).isEmpty &&
              byLen(l).contains(java.nio.ByteBuffer.wrap(bytes, pos, l)))
            { step = l; found = true }
          l -= 1
        }
        cnt += 1
        pos += step
      }
      cnt
    }

    override protected def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val n = arr.numElements()
      var total = 0
      var i = 0
      while (i < n) {
        if (arr.isNullAt(i)) return null
        total += countWord(arr.getUTF8String(i).getBytes)
        i += 1
      }
      total
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
    override def prettyName: String = "vocab_token_count"
  }

  def vocabTokenCount(words: Column, vocab: Seq[String]): Column =
    GraftColumnBridge.toColumn(
      VocabTokenCountExpr(GraftColumnBridge.toExpression(words), vocab))

  /** Greedy longest-match tokenization to TOKEN IDS — the actual
    * shard-writing step ([[VocabTokenCountExpr]] budgets, this emits).
    * Ids are the 1-based rank of the piece in the SORTED vocabulary
    * (a pure function of the vocab fixture, identically derivable by
    * the oracle's row_number over the same VALUES list); an UNK byte
    * emits id 0 and advances one byte, mirroring the count expr's
    * guaranteed progress. One pass over the word bytes per row, all
    * words flattened in array order. */
  case class VocabTokenIdsExpr(child: Expression, vocab: Seq[String])
      extends UnaryExpression with CodegenFallback {
    require(vocab.nonEmpty && vocab.forall(_.nonEmpty), "vocab must be non-empty pieces")
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullable: Boolean = true

    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case ArrayType(StringType, _) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case other =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"vocab_token_ids requires an ARRAY<STRING> input, got ${other.simpleString}")
      }

    // per-length piece→id maps over raw UTF-8 bytes; ids follow the
    // sorted vocab so both engines derive the same numbering
    @transient private lazy val byLen: Array[java.util.HashMap[java.nio.ByteBuffer, Integer]] = {
      val sorted = vocab.distinct.sorted
      val maxLen = sorted.map(_.getBytes("UTF-8").length).max
      val maps = Array.fill(maxLen + 1)(new java.util.HashMap[java.nio.ByteBuffer, Integer]())
      sorted.zipWithIndex.foreach { case (p, i) =>
        val b = p.getBytes("UTF-8")
        maps(b.length).put(java.nio.ByteBuffer.wrap(b), i + 1)
      }
      maps
    }

    private def idsOfWord(bytes: Array[Byte], out: scala.collection.mutable.ArrayBuffer[Int]): Unit = {
      val maxLen = byLen.length - 1
      var pos = 0
      while (pos < bytes.length) {
        var step = 1
        var id = 0 // UNK
        var l = math.min(maxLen, bytes.length - pos)
        var found = false
        while (!found && l >= 1) {
          val hit = if (byLen(l).isEmpty) null
            else byLen(l).get(java.nio.ByteBuffer.wrap(bytes, pos, l))
          if (hit != null) { step = l; id = hit; found = true }
          l -= 1
        }
        out += id
        pos += step
      }
    }

    override protected def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val n = arr.numElements()
      val out = scala.collection.mutable.ArrayBuffer.empty[Int]
      var i = 0
      while (i < n) {
        if (arr.isNullAt(i)) return null
        idsOfWord(arr.getUTF8String(i).getBytes, out)
        i += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
    override def prettyName: String = "vocab_token_ids"
  }

  def vocabTokenIds(words: Column, vocab: Seq[String]): Column =
    GraftColumnBridge.toColumn(
      VocabTokenIdsExpr(GraftColumnBridge.toExpression(words), vocab))
}

/** One task's state for [[TextNormExprs.FirstInRunExpr]]: the key of
  * the current run and the words already emitted for it. Top-level so
  * generated Java can name it. */
final class FirstInRunSet(cap: Int) {
  private var key = 0
  private val seen = new java.util.HashSet[UTF8String]()

  /** The words of `words` not yet in the set, in order; they join it. */
  def keepUnseen(k: Int, words: ArrayData): ArrayData = {
    if (k != key) { seen.clear(); key = k }
    val n = words.numElements()
    val out = new java.util.ArrayList[UTF8String](n)
    var i = 0
    while (i < n) {
      val w = words.getUTF8String(i)
      if (!seen.contains(w)) {
        if (seen.size >= cap) seen.clear()
        // a copy: w may point into a buffer the next row reuses
        seen.add(w.clone())
        out.add(w)
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }
}
