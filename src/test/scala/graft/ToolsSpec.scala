package graft

import graft.tools.Plans

/** The tool surface: a plan audit with a failing key must not look
  * green, and no document may name a main that does not exist. */
class ToolsSpec extends SparkSpec {

  test("Plans reports an unknown key and a throwing query as failed") {
    val (rows, failed) = Plans.shapes(spark, "/nonexistent-sf", Seq("no_such_query", "q_filter_project"))
    assert(rows.isEmpty)
    assert(failed.map(_._1) == Seq("no_such_query", "q_filter_project"))
    val (ok, none) = Plans.shapes(spark, sf0001, Seq("q_filter_project"))
    assert(none.isEmpty && ok.map(_._1) == Seq("q_filter_project"))
  }

  test("every graft main named in tools/*.sh, README and the verify skill exists") {
    val docs = new java.io.File("tools").listFiles().filter(_.getName.endsWith(".sh")).toSeq ++
      Seq(new java.io.File("README.md"), new java.io.File(".claude/skills/verify/SKILL.md"))
    val named = docs.flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try """\bgraft\.(?:tools\.)?[A-Z]\w*""".r.findAllIn(src.mkString).toList finally src.close()
    }.toSet
    assert(Set("graft.Verify", "graft.tools.Plans").subsetOf(named), named)
    val missing = named.filterNot(n => scala.util.Try(Class.forName(n)).isSuccess)
    assert(missing.isEmpty, s"documented but absent: ${missing.mkString(", ")}")
  }
}
