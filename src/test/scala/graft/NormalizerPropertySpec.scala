package graft

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** ScalaCheck properties for the reference-faithful normalizer
  * (SURVEY §5: output ⊆ [a-z]*, idempotence, whitespace-split
  * faithfulness) — evaluated through the real Catalyst expressions on a
  * local session, not a Scala reimplementation. */
object NormalizerPropertySpec extends Properties("normalizer") {

  private lazy val spark = org.apache.spark.sql.SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    // same engine as the gate sessions (shared-JVM getOrCreate may
    // land on a SparkSuite session — keep the configs compatible)
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def normalize(inputs: Seq[String]): Seq[String] = {
    import spark.implicits._
    inputs.toDF("s").select(TextFunctions.normalizeWord(col("s"))).as[String].collect().toSeq
  }

  private val weird: Gen[String] = Gen.listOf(Gen.oneOf(
    Gen.alphaNumChar, Gen.oneOf(' ', '\t', '\n', '\r', '\f', '', '\''),
    Gen.oneOf('-', '.', 'É', 'ß', '漢', '0', '9', 'K', ' ', 'Σ', 'İ'),
    Gen.asciiPrintableChar)).map(_.mkString)

  property("output contains only [a-z]") = forAll(Gen.listOfN(5, weird)) { ss =>
    normalize(ss).forall(_.matches("[a-z]*"))
  }

  property("idempotent") = forAll(Gen.listOfN(5, weird)) { ss =>
    val once = normalize(ss)
    normalize(once) == once
  }

  property("pure [a-z] strings pass through unchanged") =
    forAll(Gen.listOfN(5, Gen.listOf(Gen.choose('a', 'z')).map(_.mkString))) { ss =>
      normalize(ss) == ss
    }

  property("native tokenizer == composed reference formulation") =
    forAll(Gen.listOfN(5, weird)) { ss =>
      import spark.implicits._
      val df = ss.toDF("s")
      val native = df.select(TextFunctions.normalizedWords(col("s"))).as[Seq[String]].collect().toSeq
      val ref = df.select(TextFunctions.normalizedWordsReference(col("s"))).as[Seq[String]].collect().toSeq
      native == ref
    }

  property("native == reference under a Turkish default locale (dotless-ı hazard)") =
    forAll(Gen.listOfN(5, weird)) { ss =>
      val prev = java.util.Locale.getDefault
      try {
        // tr_TR lowercases 'I' to dotless ı on the locale-sensitive
        // path; ASCII tokens must stay on the locale-independent path
        java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr-TR"))
        import spark.implicits._
        val df = (ss :+ "IS café İSTANBUL MIX").toDF("s")
        val native = df.select(TextFunctions.normalizedWords(col("s"))).as[Seq[String]].collect().toSeq
        val ref = df.select(TextFunctions.normalizedWordsReference(col("s"))).as[Seq[String]].collect().toSeq
        native == ref && native.last.take(2) == Seq("is", "caf")
      } finally java.util.Locale.setDefault(prev)
    }

  property("non-ASCII code points are dropped, never lowered into [a-z]") =
    org.scalacheck.Prop.secure {
      import spark.implicits._
      // U+212A KELVIN SIGN lowers to `k` and U+0130 to `i` + U+0307 under
      // Unicode rules; the C-locale byte walk drops both instead
      val raw = Seq("\u212Aey", "\u0130stanbul")
      val native = raw.toDF("s").select(TextFunctions.normalizedWords(col("s")))
        .as[Seq[String]].collect().toSeq
      normalize(raw) == Seq("ey", "stanbul") && native == Seq(Seq("ey"), Seq("stanbul"))
    }

  // ---- UNICODE mode (NFKC + \p{L}) ----------------------------------

  property("unicode mode: native == composed reference formulation") =
    forAll(Gen.listOfN(5, weird)) { ss =>
      import spark.implicits._
      val df = (ss :+ "ﬁre №5 Ωmega İSTANBUL ¼cup Straße déjà 漢字 x1y")
        .toDF("s")
      val native = df.select(TextFunctions.normalizedWordsUnicode(col("s")))
        .as[Seq[String]].collect().toSeq
      val ref = df.select(TextFunctions.normalizedWordsUnicodeReference(col("s")))
        .as[Seq[String]].collect().toSeq
      native == ref
    }

  property("unicode mode == [a-z] mode on pure-ASCII input (the q196 oracle's load-bearing fact)") =
    forAll(Gen.listOfN(5, Gen.listOf(Gen.oneOf(Gen.alphaNumChar,
        Gen.oneOf(' ', '\t', '-', '.', '\''), Gen.asciiPrintableChar)).map(_.mkString))) { ss =>
      import spark.implicits._
      val ascii = ss.map(_.filter(_ < 0x80))
      val df = ascii.toDF("s")
      val uni = df.select(TextFunctions.normalizedWordsUnicode(col("s")))
        .as[Seq[String]].collect().toSeq
      val asc = df.select(TextFunctions.normalizedWords(col("s")))
        .as[Seq[String]].collect().toSeq
      uni == asc
    }

  property("unicode mode emits only letter code points, never empty tokens") =
    forAll(Gen.listOfN(3, weird)) { ss =>
      import spark.implicits._
      ss.toDF("s")
        .select(explode(TextFunctions.normalizedWordsUnicode(col("s"))).as("w")).as[String]
        .collect().forall(w => w.nonEmpty && w.codePoints().toArray.forall(Character.isLetter))
    }

  property("unicode mode folds NFKC compatibility forms (ligature, numero, fractions)") = {
    import spark.implicits._
    val got = Seq("ﬁre №5 Ωmega ¼cup Straße MAÑANA 中文42")
      .toDF("s").select(TextFunctions.normalizedWordsUnicode(col("s")))
      .as[Seq[String]].head()
    got == Seq("fire", "no", "ωmega", "cup", "straße", "mañana", "中文")
  }

  property("tokenizer emits no whitespace-containing tokens") =
    forAll(Gen.listOfN(3, weird)) { ss =>
      import spark.implicits._
      ss.toDF("s")
        .select(explode(TextFunctions.normalizedWords(col("s"))).as("w")).as[String]
        .collect().forall(w => w.nonEmpty && !w.exists(_.isWhitespace))
    }

  property("native word_shingles == composed formulation for n in 1..4") =
    forAll(Gen.listOfN(5, weird), Gen.choose(1, 4)) { (ss, n) =>
      import spark.implicits._
      val df = ss.toDF("s")
        .select(TextFunctions.normalizedWords(col("s")).as("w"))
      val native = df.select(TextFunctions.wordShingles(col("w"), n))
        .as[Seq[String]].collect().toSeq
      val composed = df.select(TextFunctions.wordShinglesReference(col("w"), n))
        .as[Seq[String]].collect().toSeq
      native == composed
    }

  // arrays WITH null elements (containsNull=true, which the expression
  // admits): concatWs must skip them exactly like concat_ws
  property("native word_shingles == composed on arrays containing null elements") =
    forAll(Gen.listOfN(6, Gen.option(Gen.listOf(Gen.choose('a', 'z')).map(_.mkString))),
        Gen.choose(1, 3)) { (words, n) =>
      import spark.implicits._
      val df = Seq(Tuple1(words)).toDF("w")
      val native = df.select(TextFunctions.wordShingles(col("w"), n))
        .as[Seq[String]].head
      val composed = df.select(TextFunctions.wordShinglesReference(col("w"), n))
        .as[Seq[String]].head
      native == composed
    }

  property("native word_shingles on NULL word array yields empty, like the composed when()") =
    org.scalacheck.Prop.secure {
      import spark.implicits._
      val df = Seq(Option.empty[Seq[String]]).toDF("w")
      val native = df.select(TextFunctions.wordShingles(col("w"), 2)).as[Seq[String]].head
      val composed = df.select(TextFunctions.wordShinglesReference(col("w"), 2)).as[Seq[String]].head
      native == Seq.empty && composed == Seq.empty
    }

  property("native ws_token_count == size(filter(split))") =
    forAll(Gen.listOfN(5, weird)) { ss =>
      import spark.implicits._
      val df = ss.toDF("s")
      val native = df.select(graft.plans.TextNormExprs.wsTokenCount(col("s")))
        .as[Int].collect().toSeq
      val composed = df.select(
        size(filter(TextFunctions.whitespaceTokens(col("s")), x => x =!= "")))
        .as[Int].collect().toSeq
      native == composed
    }

  property("normalized_words GENERATED code compiles and equals interpreted eval") =
    forAll(Gen.listOfN(8, weird)) { ss =>
      import org.apache.spark.sql.catalyst.InternalRow
      import org.apache.spark.sql.catalyst.expressions.BoundReference
      import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
      import org.apache.spark.sql.types.StringType
      import org.apache.spark.unsafe.types.UTF8String
      val expr = graft.plans.TextNormExprs.NormalizedWordsExpr(
        BoundReference(0, StringType, nullable = true))
      // generate() compiles eagerly — a janino failure (the silent
      // CodegenFallback trap) fails the property instead of degrading
      val proj = GenerateUnsafeProjection.generate(Seq(expr))
      (ss :+ "The quick-1 brown FOX  \t don't İİ").forall { s =>
        val row = InternalRow(UTF8String.fromString(s))
        val gen = proj(row).getArray(0)
        val interp = expr.eval(row)
          .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        (0 until gen.numElements()).map(gen.getUTF8String) ==
          (0 until interp.numElements()).map(interp.getUTF8String) &&
          gen.numElements() == interp.numElements()
      }
    }

  property("keep_first_distinct GENERATED code compiles and equals interpreted eval") =
    forAll(Gen.listOf(Gen.oneOf("a", "bb", "ccc", "dd", "", "bb"))) { words =>
      import org.apache.spark.sql.catalyst.InternalRow
      import org.apache.spark.sql.catalyst.expressions.BoundReference
      import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
      import org.apache.spark.sql.catalyst.util.GenericArrayData
      import org.apache.spark.sql.types.{ArrayType, StringType}
      import org.apache.spark.unsafe.types.UTF8String
      val expr = graft.plans.TextNormExprs.KeepFirstDistinctExpr(
        BoundReference(0, ArrayType(StringType, containsNull = false), nullable = true))
      val proj = GenerateUnsafeProjection.generate(Seq(expr))
      val row = InternalRow(new GenericArrayData(
        words.map(UTF8String.fromString).toArray[Any]))
      val gen = proj(row).getArray(0)
      val interp = expr.eval(row)
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val genSeq = (0 until gen.numElements()).map(gen.getUTF8String(_).toString)
      val interpSeq = (0 until interp.numElements()).map(interp.getUTF8String(_).toString)
      genSeq == interpSeq && genSeq == words.distinct
    }

  property("word_shingles GENERATED code compiles, equals interpreted, null-folds to empty") =
    forAll(Gen.listOf(Gen.alphaLowerStr), Gen.choose(1, 4)) { (words, n) =>
      import org.apache.spark.sql.catalyst.InternalRow
      import org.apache.spark.sql.catalyst.expressions.BoundReference
      import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
      import org.apache.spark.sql.catalyst.util.GenericArrayData
      import org.apache.spark.sql.types.{ArrayType, StringType}
      import org.apache.spark.unsafe.types.UTF8String
      val expr = graft.plans.TextNormExprs.WordShinglesExpr(
        BoundReference(0, ArrayType(StringType), nullable = true), n)
      val proj = GenerateUnsafeProjection.generate(Seq(expr))
      def arrOf(ws: Seq[String]) =
        new GenericArrayData(ws.map(UTF8String.fromString).toArray[Any])
      val rows = Seq(InternalRow(arrOf(words)), InternalRow(null))
      rows.forall { row =>
        val gen = proj(row).getArray(0)
        val interp = expr.eval(row)
          .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        gen.numElements() == interp.numElements() &&
          (0 until gen.numElements()).forall(i =>
            gen.getUTF8String(i) == interp.getUTF8String(i))
      }
    }

  property("dot_d GENERATED code compiles; null contracts (child/length/element) hold") =
    forAll(Gen.listOfN(6, Gen.chooseNum(-5f, 5f))) { xs =>
      import org.apache.spark.sql.catalyst.InternalRow
      import org.apache.spark.sql.catalyst.expressions.BoundReference
      import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
      import org.apache.spark.sql.catalyst.util.GenericArrayData
      import org.apache.spark.sql.types.{ArrayType, FloatType}
      val expr = graft.plans.VectorExprs.DotProductDExpr(
        BoundReference(0, ArrayType(FloatType), nullable = true),
        BoundReference(1, ArrayType(FloatType), nullable = true))
      val proj = GenerateUnsafeProjection.generate(Seq(expr))
      def arr(v: Seq[Any]) = new GenericArrayData(v.toArray)
      val a = arr(xs)
      val rows = Seq(
        InternalRow(a, a),                    // dot(v, v) = |v|²
        InternalRow(a, null),                 // null child
        InternalRow(a, arr(xs.drop(1))),      // length mismatch
        InternalRow(a, arr(xs.updated(0, null))) // null element
      )
      rows.forall { row =>
        val out = proj(row)
        val interp = expr.eval(row)
        if (interp == null) out.isNullAt(0)
        else !out.isNullAt(0) && out.getDouble(0) == interp.asInstanceOf[Double]
      }
    }

  property("native bpeish_count == size(regexp_extract_all) on lowered text") =
    forAll(Gen.listOfN(5, weird)) { ss =>
      import spark.implicits._
      // the fixed row pins non-BMP codepoints (4-byte UTF-8, surrogate
      // pairs in UTF-16): the regex counts each as ONE glyph match
      val df = (ss :+ "a😀b 😀😀 x1  y").toDF("s")
      val native = df.select(graft.plans.TextNormExprs.bpeishCount(lower(col("s"))))
        .as[Int].collect().toSeq
      val composed = df.select(size(regexp_extract_all(
          lower(col("s")), lit(TextFunctions.bpeishPattern), lit(0))))
        .as[Int].collect().toSeq
      native == composed
    }
}
