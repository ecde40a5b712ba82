package graftbench

import java.nio.charset.StandardCharsets.US_ASCII

/** Plain-Scala, single-threaded models the benchmark checks the program
  * against. They share nothing with the program's code. */
object Models {

  private def isWs(b: Byte): Boolean = b == 0x20 || (b >= 0x09 && b <= 0x0d)

  /** The reference tokenizer: split on ASCII whitespace, lower-case
    * byte-wise, keep only `a-z`, drop words that end up empty. */
  def words(bytes: Array[Byte]): Array[String] = {
    val out = Array.newBuilder[String]
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i <= bytes.length) {
      if (i == bytes.length || isWs(bytes(i))) {
        if (sb.length > 0) { out += sb.toString; sb.setLength(0) }
      } else {
        var b = bytes(i)
        if (b >= 'A' && b <= 'Z') b = (b + 32).toByte
        if (b >= 'a' && b <= 'z') sb.append(b.toChar)
      }
      i += 1
    }
    out.result()
  }

  /** The inverted index job (SURVEY §2.1 O1–O16) over files with 1-based
    * ids: for each letter a–z, the bytes of `<letter>.txt`. Lines are
    * `word:[id …]` with ids ascending, ordered by (file count DESC,
    * word ASC); a letter with no words is an empty file. */
  def invertedIndex(files: Seq[(Int, Array[Byte])]): Map[Char, Array[Byte]] = {
    val ids = new java.util.HashMap[String, java.util.TreeSet[Integer]]()
    files.foreach { case (id, bytes) =>
      words(bytes).foreach { w =>
        var s = ids.get(w)
        if (s == null) { s = new java.util.TreeSet[Integer](); ids.put(w, s) }
        s.add(id)
      }
    }
    val entries = new java.util.ArrayList[(String, java.util.TreeSet[Integer])]()
    ids.forEach((w, s) => entries.add((w, s)))
    val byLetter = entries.toArray(new Array[(String, java.util.TreeSet[Integer])](0))
      .groupBy(_._1.charAt(0))
    ('a' to 'z').map { c =>
      val sb = new java.lang.StringBuilder
      byLetter.getOrElse(c, Array.empty).sortBy(e => (-e._2.size, e._1)).foreach { case (w, s) =>
        sb.append(w).append(":[")
        val it = s.iterator()
        var first = true
        while (it.hasNext) { if (!first) sb.append(' '); sb.append(it.next()); first = false }
        sb.append("]\n")
      }
      c -> sb.toString.getBytes(US_ASCII)
    }.toMap
  }
}
