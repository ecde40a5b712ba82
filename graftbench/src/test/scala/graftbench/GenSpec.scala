package graftbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  /** Relative path → bytes of every regular file under dir. */
  private def tree(dir: Path): Map[String, Array[Byte]] =
    Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => dir.relativize(p).toString -> Files.readAllBytes(p)).toMap

  private def same(a: Map[String, Array[Byte]], b: Map[String, Array[Byte]]): Boolean =
    a.keySet == b.keySet && a.forall { case (k, v) => java.util.Arrays.equals(v, b(k)) }

  private def bytes(t: Map[String, Array[Byte]]): Long = t.values.map(_.length.toLong).sum

  private def rows(dir: Path): Long =
    Files.list(dir).iterator().asScala.filter(_.toString.endsWith(".parquet")).map { p =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(p.toUri), new org.apache.hadoop.conf.Configuration()))
      try r.getRecordCount finally r.close()
    }.sum

  private def withDirs(body: (Path, Path, Path) => Unit): Unit = {
    val base = Files.createTempDirectory("graftbench-gen")
    try body(base.resolve("a"), base.resolve("b"), base.resolve("c"))
    finally Files.walk(base).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
  }

  /** Byte totals of two seeds may differ by at most this share. */
  val Tolerance = 0.01

  test("index_zipf: same seed, same bytes; other seed, same files and near-equal bytes") {
    withDirs { (a, b, c) =>
      IndexInputs.generate(a, 7); IndexInputs.generate(b, 7); IndexInputs.generate(c, 8)
      val (ta, tb, tc) = (tree(a), tree(b), tree(c))
      assert(same(ta, tb))
      assert(!same(ta, tc))
      assert(ta.keySet == tc.keySet && ta.size == IndexInputs.FileCount + 1)
      IndexInputs.fileSizes.zipWithIndex.foreach { case (size, i) =>
        val name = IndexInputs.fileName(i + 1)
        assert(ta(name).length >= size && tc(name).length >= size)
      }
      assert(math.abs(bytes(ta) - bytes(tc)).toDouble / bytes(ta) <= Tolerance)
      assert(math.abs(bytes(ta) - IndexInputs.TotalBytes).toDouble / IndexInputs.TotalBytes <= 0.05)
    }
  }

  test("relational_mix: same seed, same bytes; other seed, same row counts and near-equal bytes") {
    withDirs { (a, b, c) =>
      TableInputs.generate(a, 7); TableInputs.generate(b, 7); TableInputs.generate(c, 8)
      val (ta, tc) = (tree(a), tree(c))
      assert(same(ta, tree(b)))
      assert(!same(ta, tc))
      TableInputs.rowCounts.foreach { case (t, n) =>
        assert(rows(a.resolve(s"$t.parquet")) == n, t)
        assert(rows(c.resolve(s"$t.parquet")) == n, t)
      }
      assert(math.abs(bytes(ta) - bytes(tc)).toDouble / bytes(ta) <= Tolerance)
    }
  }
}
