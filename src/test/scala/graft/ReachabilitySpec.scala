package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Lint: every top-level object, class and trait under `src/main/scala`
  * sits on a path from an entry point (a type with a `def main`: Verify,
  * Bench, Profile, the tools). Registered queries are reached through
  * `Verify` → `SparkEntry` → `Registry`. Operators that only specs call
  * belong in `src/test`; code that nothing calls is deleted.
  */
class ReachabilitySpec extends AnyFunSuite {

  test("lint: every top-level type under src/main is reached from a def main") {
    var root = Paths.get(sys.props.getOrElse("user.dir", ".")).toAbsolutePath
    while (root != null && !Files.exists(root.resolve("build.sbt")))
      root = root.getParent
    assert(root != null, s"no build.sbt found walking up from ${sys.props("user.dir")}")
    val main = root.resolve("src/main/scala")
    val sources = {
      val s = Files.walk(main)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .map(p => main.relativize(p).toString -> Files.readString(p)).toMap
      finally s.close()
    }
    assert(sources.size > 50, s"walked only ${sources.size} files under $main")
    val dead = ReachabilitySpec.unreached(sources)
    assert(dead.isEmpty,
      s"no entry point reaches these types; move them to src/test or delete them: $dead")
  }

  test("the reachability lint goes red on a fixture") {
    val sources = Map(
      "Main.scala" ->
        """object Main { def main(args: Array[String]): Unit = Live.run() } // Ghost""",
      "Live.scala" ->
        """/** Calls [[Ghost]] in a comment only. */
          |object Live { def run(): Unit = { Helper.go(); load("x.ByName", "//") } }
          |private[x] trait Helper /* Ghost /* nested */ Ghost */
          |""".stripMargin,
      "ByName.scala" -> "object ByName",
      "Ghost.scala" -> "object Ghost { def f = new Chained }",
      "Chained.scala" -> "class Chained")
    assert(ReachabilitySpec.unreached(sources) ==
      Seq("Chained.scala: Chained", "Ghost.scala: Ghost"))
  }
}

object ReachabilitySpec {

  private val topLevel =
    """(?m)^(?:(?:final|sealed|abstract|case|implicit|private(?:\[\w+\])?)\s+)*(?:object|class|trait)\s+(\w+)""".r

  /** `file: Type` for every top-level type of `sources` (path → text)
    * that no `def main` reaches. A type reaches a name when the name
    * occurs as a whole word in its text outside comments; a type's text
    * is its file's header (package, imports) plus its own declaration up
    * to the next top-level one. A name is a node: reaching it reaches
    * every type so named. */
  def unreached(sources: Map[String, String]): Seq[String] = {
    val types = sources.toSeq.sortBy(_._1).flatMap { case (file, src) =>
      val code = stripComments(src)
      val decls = topLevel.findAllMatchIn(code).toSeq
      val header = decls.headOption.fold(code)(d => code.substring(0, d.start))
      decls.zip(decls.drop(1).map(_.start) :+ code.length).map { case (d, end) =>
        (file, d.group(1), header + code.substring(d.start, end))
      }
    }
    val names = types.map(_._2).toSet
    val refs = types.groupMapReduce(_._2) { case (_, name, text) =>
      """\w+""".r.findAllIn(text).filter(w => w != name && names(w)).toSet
    }(_ ++ _)
    val seen = scala.collection.mutable.Set(
      types.collect { case (_, name, text) if text.contains("def main") => name }: _*)
    var frontier = seen.toSeq
    while (frontier.nonEmpty) {
      frontier = frontier.flatMap(refs).filter(seen.add).distinct
    }
    types.collect { case (file, name, _) if !seen(name) => s"$file: $name" }
  }

  /** `src` without its `//` and (nested) `/* */` comments; string and
    * character literals are kept whole, so a `//` inside one stays. */
  def stripComments(src: String): String = {
    val out = new StringBuilder
    val n = src.length
    var i = 0
    while (i < n) {
      if (src.startsWith("/*", i)) {
        var depth = 1
        i += 2
        while (i < n && depth > 0) {
          if (src.startsWith("/*", i)) { depth += 1; i += 2 }
          else if (src.startsWith("*/", i)) { depth -= 1; i += 2 }
          else { if (src(i) == '\n') out += '\n'; i += 1 }
        }
      } else if (src.startsWith("//", i)) {
        while (i < n && src(i) != '\n') i += 1
      } else {
        val end =
          if (src.startsWith("\"\"\"", i)) {
            var j = src.indexOf("\"\"\"", i + 3)
            if (j < 0) n
            else {
              while (j + 3 < n && src(j + 3) == '"') j += 1 // """a"""" ends at the last
              j + 3
            }
          } else if (src(i) == '"') {
            var j = i + 1
            while (j < n && src(j) != '"') j += (if (src(j) == '\\') 2 else 1)
            math.min(j + 1, n)
          } else if (src(i) == '\'' && i + 2 < n && src(i + 2) == '\'' && src(i + 1) != '\\') {
            i + 3 // 'c'
          } else if (src(i) == '\'' && i + 1 < n && src(i + 1) == '\\') {
            val j = src.indexOf('\'', i + 3) // '\n', '\'', 'A'
            if (j < 0) n else j + 1
          } else i + 1
        out ++= src.substring(i, end)
        i = end
      }
    }
    out.toString
  }
}
