package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Verify's failure record: a query that throws leaves a
  * `verify_errors.json` entry and is counted in the closing summary line,
  * while the queries around it still write their parquet dumps. */
class VerifySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("a throwing query lands in verify_errors.json and the summary line") {
    val out = Scratch.tempDir("graft_verify").toString
    val ok: (SparkSession, String) => DataFrame = (s, _) => s.range(3).toDF("id")
    val boom: (SparkSession, String) => DataFrame = (_, _) =>
      throw new IllegalStateException("stub failure: \"quoted\"\tand tabbed")
    val err = new java.io.ByteArrayOutputStream()
    val saved = System.err
    System.setErr(new java.io.PrintStream(err, true))
    val failures =
      try Verify.dump(spark, "unused", out, Seq("q_ok" -> ok, "q_boom" -> boom, "q_ok2" -> ok))
      finally System.setErr(saved)

    assert(failures == Seq(Verify.Failure("q_boom",
      "java.lang.IllegalStateException", "stub failure: \"quoted\"\tand tabbed")))
    assert(Files.isDirectory(Paths.get(out, "q_ok")))
    assert(Files.isDirectory(Paths.get(out, "q_ok2")))
    assert(!Files.exists(Paths.get(out, "q_boom")))
    assert(err.toString.linesIterator.toSeq.last == "[verify] 2 ok, 1 failed")

    val sidecar = Files.readString(Paths.get(out, "verify_errors.json"))
    assert(sidecar == """[{"query":"q_boom","exception_class":"java.lang.IllegalStateException",""" +
      """"message":"stub failure: \"quoted\"\tand tabbed"}]""")
  }

  test("a clean run writes an empty error list") {
    val out = Scratch.tempDir("graft_verify").toString
    val failures = Verify.dump(spark, "unused", out,
      Seq("q_ok" -> ((s: SparkSession, _: String) => s.range(1).toDF("id"))))
    assert(failures.isEmpty)
    assert(Files.readString(Paths.get(out, "verify_errors.json")) == "[]")
  }
}
