package graft.functions

import graft.SparkTestSession
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** The winnowing kernel: rolling-hash correctness against a naive
  * direct-sum reference (the form the DuckDB oracle computes), leftmost
  * tie-break on repeated-gram ties, code-point (not UTF-16) semantics,
  * and the SQL registration. */
class WinnowSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** Naive reference: direct polynomial per position, linear window scan
    * with explicit leftmost tie-break. */
  private def reference(text: String): Seq[(Long, Long)] = {
    import WinnowKernel.{Base, Gram, Mod, Win}
    val cps = text.codePoints().toArray
    if (cps.length < Gram) return Seq.empty
    val hs = (0 to cps.length - Gram).map { i =>
      (0 until Gram).foldLeft(0L)((h, j) => (h * Base + cps(i + j)) % Mod)
    }
    if (hs.length < Win) return Seq.empty
    (0 to hs.length - Win).map { p =>
      val win = hs.slice(p, p + Win)
      val m = win.min
      ((p + win.indexOf(m) + 1).toLong, m)
    }
  }

  private def unpack(packed: Seq[Long]): Seq[(Long, Long)] =
    packed.map(pk => (pk & 2147483647L, pk >> 31))

  private def kernel(text: String): Seq[(Long, Long)] =
    unpack(WinnowKernel.compute(UTF8String.fromString(text)).toLongArray().toSeq)

  test("rolling hash + packed argmin equals the naive direct form") {
    val rnd = new scala.util.Random(42)
    for (len <- Seq(0, 7, 8, 11, 12, 13, 40, 300)) {
      val s = (0 until len).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
      assert(kernel(s) == reference(s), s"len=$len text=$s")
    }
  }

  test("repeated grams force hash ties: leftmost wins") {
    // all-equal hashes: every window must select its FIRST position
    val s = "a" * 20
    val got = kernel(s)
    assert(got == reference(s))
    assert(got.map(_._1) == (1L to got.length))
  }

  test("code points, not UTF-16 units: non-BMP text hashes per character") {
    val s = "😀abcd😁efghijk" // 13 code points → 6 hashes → 2 windows
    val got = kernel(s)
    assert(got == reference(s))
    assert(got.nonEmpty)
  }

  test("winnow_fingerprints is reachable from SQL via GraftExtensions") {
    import spark.implicits._
    Seq("abcdefabcdefabcdef").toDF("t").createOrReplaceTempView("wspec")
    val rows = spark.sql(
      "SELECT explode(winnow_fingerprints(t)) AS pk FROM wspec")
      .collect().map(_.getLong(0)).toSeq
    assert(unpack(rows) == reference("abcdefabcdefabcdef"))
  }
}
