package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench builds its session from a literal copy of the settings; every
  * other main and the suites build from [[SessionRecipe]]. Reads
  * Bench's `.config(…)` pairs from its source so the two cannot drift. */
class SessionRecipeSpec extends AnyFunSuite {

  test("SessionRecipe sets exactly Bench's session settings") {
    val src = Seq(
        java.nio.file.Paths.get("src/main/scala/graft/Bench.scala"),
        java.nio.file.Paths.get(sys.props("user.dir"),
          "src/main/scala/graft/Bench.scala"))
      .find(java.nio.file.Files.exists(_))
      .map(p => new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
      .getOrElse(fail("Bench.scala not found — run tests from the repo root"))
    val builder = src.substring(src.indexOf("SparkSession.builder()"),
      src.indexOf(".getOrCreate()"))
    // A value is a string literal or the `cpus` variable.
    val pair = """\.config\("([^"]+)",\s*("([^"]*)"|(\w+))\)""".r
    val bench = pair.findAllMatchIn(builder).map { m =>
      m.group(1) -> Option(m.group(3)).getOrElse("$" + m.group(4))
    }.toList
    assert(bench.size == 6, s"Bench's builder pairs: $bench")
    assert(SessionRecipe.settings("$cpus").toMap == bench.toMap)
    assert(builder.contains(".master(s\"local[$cpus]\")"))
  }
}
