package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver contract over the registry itself: names key the
  * correctness artifacts (CORRECTNESS_r*.json, the Verify dump dirs,
  * SPARK_GRAFT_ONLY prefixes), so they must be unique, well-formed and
  * documented; every oracle must be non-empty SQL.
  */
class RegistrySpec extends AnyFunSuite {

  test("query names are unique") {
    val names = Registry.all.map(_.name)
    val dups = names.groupBy(identity).filter(_._2.size > 1).keys
    assert(dups.isEmpty, s"duplicate query names: ${dups.mkString(", ")}")
  }

  test("query names follow the qNN_snake_case convention") {
    val bad = Registry.all.map(_.name)
      .filterNot(_.matches("q[0-9]+[a-z]?_[a-z0-9_]+"))
    assert(bad.isEmpty, s"non-conforming names: ${bad.mkString(", ")}")
  }

  test("every registered query carries a non-empty oracle") {
    val missing = Registry.all.filter(_.oracle.trim.isEmpty).map(_.name)
    assert(missing.isEmpty, s"oracle-less queries: ${missing.mkString(", ")}")
  }

  test("the registry is large enough that a family went missing if it shrinks") {
    assert(Registry.all.size >= 235, s"registry shrank to ${Registry.all.size}")
  }

  test("selector: SPARK_GRAFT_ONLY prefix-matches its comma-separated entries") {
    val names = Seq("q6_a", "q60_b", "q7_c")
    assert(names.filter(Registry.selector(None)) == names)
    assert(names.filter(Registry.selector(Some("q60, q6"))) == Seq("q6_a", "q60_b"))
    assert(names.filter(Registry.selector(Some(" ,q7,, "))) == Seq("q7_c"))
  }

  test("no orphan queries: every qNNN_ name literal in queries/*.scala is registered") {
    // Round-6 lesson: q182 was written with a full oracle but never added
    // to Relational.all, so it was invisible to EVERY gate (correctness,
    // bench, specs). This lint makes that class structurally impossible:
    // any "qNNN_snake" string literal in a query source must be a
    // registered name (or carry a `// lint:unregistered` waiver on its
    // line for deliberate fixtures).
    val qdir = new java.io.File("src/main/scala/graft/queries")
    assert(qdir.isDirectory, s"queries dir missing at ${qdir.getAbsolutePath}")
    val orphans = RegistrySpec.orphanLiterals(qdir, Registry.all.map(_.name).toSet)
    assert(orphans.isEmpty,
      s"query name literals not in Registry.all: ${orphans.distinct.mkString(", ")}")
  }

  test("the orphan lint goes red on a deliberately unwired fixture") {
    val dir = java.nio.file.Files.createTempDirectory("orphanlint").toFile
    try {
      val f = new java.io.File(dir, "Fixture.scala")
      val w = new java.io.PrintWriter(f, "UTF-8")
      w.println("""val a = Q.sql("q900_registered", "SELECT 1", "d")(null)""")
      w.println("""val b = Q.sql("q901_orphan", "SELECT 2", "d")(null)""")
      w.println("""val c = Q.sql("q902_waived", "SELECT 3", "d")(null) // lint:unregistered""")
      w.close()
      val hits = RegistrySpec.orphanLiterals(dir, Set("q900_registered"))
      assert(hits == Seq("Fixture.scala: q901_orphan"),
        s"lint should flag exactly the unwaived orphan, got: $hits")
    } finally {
      dir.listFiles().foreach(_.delete()); dir.delete()
    }
  }
}

object RegistrySpec {
  private val lit = """"(q[0-9]+[a-z]?_[a-z0-9_]+)"""".r

  /** All qNNN_ string literals under `dir`'s *.scala files that are not in
    * `registered`, skipping lines waived with `// lint:unregistered`. */
  def orphanLiterals(dir: java.io.File, registered: Set[String]): Seq[String] =
    for {
      f <- dir.listFiles().toSeq.sortBy(_.getName) if f.getName.endsWith(".scala")
      line <- scala.io.Source.fromFile(f, "UTF-8").getLines().toSeq
      if !line.contains("lint:unregistered")
      m <- lit.findAllMatchIn(line).map(_.group(1))
      if !registered.contains(m)
    } yield s"${f.getName}: $m"
}
