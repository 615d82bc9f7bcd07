package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** [[Session]] is the one place a session's conf is decided: the test
  * session is built by it and carries its keys, and no other source file
  * builds a session of its own. */
class SessionSpec extends AnyFunSuite {
  // built by Session.build, like every entry point's session
  private lazy val spark = SparkTestSession.spark

  private val sharedKeys = Seq(
    "spark.sql.session.timeZone",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
    "spark.sql.adaptive.coalescePartitions.parallelismFirst",
    "spark.local.dir")

  test("a Session.build session resolves the injected dot_product in SQL") {
    val d = spark.sql("SELECT dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
    assert(d.head().getDouble(0) == 11.0)
  }

  test("the factory sets UTC, both AQE keys and scratch as the local dir") {
    val c = Session.confs(4)
    assert(c("spark.sql.session.timeZone") == "UTC")
    assert(c("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "true")
    assert(c("spark.sql.adaptive.coalescePartitions.parallelismFirst") == "false")
    assert(c("spark.local.dir") == Scratch.root)
    assert(c("spark.master") == "local[4]" && c("spark.sql.shuffle.partitions") == "4")
  }

  test("the test session's conf agrees with the factory") {
    for (k <- sharedKeys)
      assert(spark.conf.get(k) == Session.confs(4)(k), k)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
  }

  test("lint: no source file under src/ but graft/Session.scala builds a session") {
    var root = Paths.get(sys.props.getOrElse("user.dir", ".")).toAbsolutePath
    while (root != null && !Files.exists(root.resolve("build.sbt")))
      root = root.getParent
    assert(root != null, s"no build.sbt found walking up from ${sys.props("user.dir")}")
    val builder = """SparkSession\s*\.\s*builder""".r
    val files = {
      val s = Files.walk(root.resolve("src"))
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    val builders = files.filter(p =>
      builder.findFirstIn(Files.readString(p)).isDefined)
      .map(p => root.resolve("src/main/scala").relativize(p).toString)
    assert(files.size > 100, s"walked only ${files.size} files under ${root.resolve("src")}")
    assert(builders == Seq("graft/Session.scala"),
      s"sessions must come from graft.Session.build; found builders in $builders")
  }
}
