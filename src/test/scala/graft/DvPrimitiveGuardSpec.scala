package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Source guard for the table layer's deletion-vector primitives, the
  * sibling of [[FixtureCacheGuardSpec]]: in `ManifestPrune`, a row's
  * position is read from `_metadata.row_index` only inside `positions`,
  * and a sidecar grows (base rows ∪ new rows, then distinct) only
  * inside `accumulate`. A new commit path therefore calls the
  * primitives (`positions`, `writeDv`) instead of adding another copy. */
class DvPrimitiveGuardSpec extends AnyFunSuite {

  private val file = Paths.get("src/main/scala/graft/sources/ManifestPrune.scala")

  private def isComment(line: String): Boolean = {
    val t = line.trim
    t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
  }

  /** A member of the object: a `def`, `val`, `class` or `object` at the
    * object's indentation. */
  private val member =
    ("""^  (?:(?:private|protected)(?:\[\w+\])?\s+)?""" +
      """(?:(?:final|lazy|case)\s+)*(?:def|val|class|object)\s+(\w+)""").r

  /** The object's code (comment lines dropped), one text per member. */
  private lazy val members: Map[String, String] = {
    assert(Files.isRegularFile(file), s"no source at ${file.toAbsolutePath}")
    val lines = new String(Files.readAllBytes(file), "UTF-8")
      .linesIterator.filterNot(isComment).toSeq
    var cur = "<header>"
    lines.map { l =>
      member.findFirstMatchIn(l).foreach(m => cur = m.group(1))
      cur -> l
    }.groupBy(_._1).map { case (k, ls) => k -> ls.map(_._2).mkString("\n") }
  }

  /** The members whose code matches `pattern`, one entry per match. */
  private def holders(pattern: scala.util.matching.Regex): Seq[String] =
    members.toSeq.flatMap { case (name, code) =>
      pattern.findAllMatchIn(code).map(_ => name)
    }.sorted

  test("a row's position is read only inside positions") {
    assert(holders(java.util.regex.Pattern.quote("_metadata.row_index").r)
      === Seq("positions"))
  }

  test("a sidecar grows by union-then-distinct only inside accumulate") {
    val unionDistinct = """unionByName\([^)]*\)[)\s]*\.distinct\(\)""".r
    assert(holders(unionDistinct) === Seq("accumulate"))
    // a bare `.distinct()` belongs to the key and file-list sets only:
    // the merge planner's hit files and a rebase's conflict keys
    assert(holders("""\.distinct\(\)""".r).distinct.sorted ===
      Seq("MergePlan", "accumulate", "rebaseBranch"))
  }
}
