package graftbench

import java.nio.charset.StandardCharsets.US_ASCII

import org.scalatest.funsuite.AnyFunSuite

class ModelsSpec extends AnyFunSuite {

  test("index model: case folding, non-alpha stripping, empty letters, doc-frequency ties") {
    // ids out of order, and 2 < 10 numerically but not as text
    val corpus = Seq(
      10 -> "zebra ... Apple cow bat bee cat",
      1 -> "The cat, the CAT! 42 dog's bat",
      2 -> "Dog\tbee  apple-pie x9y\n")
    val out = Models.invertedIndex(corpus.map { case (id, t) => (id, t.getBytes(US_ASCII)) })
      .map { case (c, b) => c -> new String(b, US_ASCII) }
    val expected = Map(
      'a' -> "apple:[10]\napplepie:[2]\n", // tie on count 1: word ascending
      'b' -> "bat:[1 10]\nbee:[2 10]\n", // tie on count 2; ids in numeric order
      'c' -> "cat:[1 10]\ncow:[10]\n", // count descending first
      'd' -> "dog:[2]\ndogs:[1]\n", // "dog's" strips to "dogs"
      't' -> "the:[1]\n", // "The" and "the" fold to one word
      'x' -> "xy:[2]\n", // digits inside a word are stripped
      'z' -> "zebra:[10]\n")
    assert(out.keySet == ('a' to 'z').toSet)
    ('a' to 'z').foreach(c => assert(out(c) == expected.getOrElse(c, ""), s"letter $c"))
  }

  test("tokenizer drops tokens that normalise to nothing") {
    assert(Models.words("42 ... A1b -- c\u000bD".getBytes(US_ASCII)).toSeq == Seq("ab", "c", "d"))
  }
}
