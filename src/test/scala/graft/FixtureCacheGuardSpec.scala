package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source guard for the write-once fixture registry: per-session
  * fixtures go through `Tables.once`, never through a hand-rolled
  * `ConcurrentHashMap[(SparkSession, String), …]` (which pins its
  * session strongly), and every `Tables.once` call names its kind with
  * a literal that no other call uses — all kinds share one namespace
  * per session, so two sites with one kind would serve each other's
  * fixtures. */
class FixtureCacheGuardSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  private lazy val sources: Seq[(String, String)] = {
    assert(Files.isDirectory(root), s"no source tree at ${root.toAbsolutePath}")
    val walk = Files.walk(root)
    try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map((p: Path) => root.relativize(p).toString ->
        new String(Files.readAllBytes(p), "UTF-8"))
      .toList.sortBy(_._1)
    finally walk.close()
  }

  private val sessionKeyedMap =
    ("""private\s+val\s+(\w+)\s*=\s*new\s+java\.util\.concurrent\s*\.?\s*""" +
      """ConcurrentHashMap\s*\[\s*\(\s*(?:org\.apache\.spark\.sql\.)?""" +
      """SparkSession\s*,\s*String\s*\)""").r

  /** Put/get registries: entries are registered explicitly by callers,
    * not built once, so they are not fixture caches. */
  private val registries = Set("graft/plans/MvRewrite.scala:reg")

  test("no ConcurrentHashMap keyed by (SparkSession, String) remains") {
    val found = sources.flatMap { case (file, text) =>
      sessionKeyedMap.findAllMatchIn(text).map(m => s"$file:${m.group(1)}")
    }
    // the scan sees the sanctioned registry, so an empty result below
    // is not a pattern that silently matches nothing
    assert(registries.subsetOf(found.toSet), found)
    assert(found.filterNot(registries).isEmpty,
      "per-session caches must use Tables.once: " +
        found.filterNot(registries).mkString(", "))
  }

  test("every Tables.once call passes a distinct literal kind") {
    val calls = sources.map { case (file, text) =>
      file -> """Tables\.once\(""".r.findAllMatchIn(text).size
    }.filter(_._2 > 0)
    val kinds = sources.flatMap { case (file, text) =>
      """Tables\.once\(\s*"([^"]+)"""".r.findAllMatchIn(text)
        .map(m => m.group(1) -> file)
    }
    assert(kinds.nonEmpty)
    assert(kinds.size == calls.map(_._2).sum,
      s"Tables.once calls without a literal kind in ${calls.map(_._1)}")
    val dups = kinds.groupBy(_._1).filter(_._2.size > 1)
    assert(dups.isEmpty, s"kinds used by more than one site: $dups")
  }
}
