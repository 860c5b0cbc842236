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
  * fixtures. The table layer's static maps are pinned to a sanctioned
  * list, so planner memos cannot come back. The same walk pins the
  * objects with a `main`, the `/root/` paths in code and the
  * definitions that no main code calls. */
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

  private val concurrentMap =
    ("""val\s+(\w+)\s*(?::[^=]*)?=\s*new\s+""" +
      """(?:java\.util\.concurrent\s*\.\s*)?ConcurrentHashMap\b""").r

  /** The table layer's sanctioned static maps: the snapshot-fact
    * cache, the storage registry and handles, the in-memory store's
    * objects, the catalog's table registry and the streaming writers'
    * replay cursors. A planner that runs no Spark job has nothing to
    * memoize, so no other map belongs here. */
  private val sanctionedSourceMaps = Set(
    "graft/sources/ManifestPrune.scala:dirFacts",
    "graft/sources/ChainStorage.scala:registry",
    "graft/sources/HadoopFsChainStorage.scala:fsCache",
    "graft/sources/InMemoryObjectStorage.scala:objects",
    "graft/sources/GraftCatalog.scala:tables",
    // unbounded for now: ROADMAP item 7 bounds it
    "graft/streaming/StreamingPipelines.scala:batchCursor")

  private val tableLayerDirs = Seq("graft/sources/", "graft/streaming/")

  test("the table layer declares only the sanctioned static " +
    "ConcurrentHashMaps") {
    val found = sources.filter(f => tableLayerDirs.exists(f._1.startsWith))
      .flatMap { case (file, text) =>
        concurrentMap.findAllMatchIn(text).map(m => s"$file:${m.group(1)}")
      }
    // the scan sees every sanctioned map, so an empty result below is
    // not a pattern that silently matches nothing
    assert(sanctionedSourceMaps.subsetOf(found.toSet), found)
    assert(found.filterNot(sanctionedSourceMaps).isEmpty,
      "unsanctioned static maps (planner memos?): " +
        found.filterNot(sanctionedSourceMaps).mkString(", "))
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

  /** The mains: the benchmark's Verify and Bench, the wiki CLI and its
    * scale smoke, the spark-submit extensions check, the battery
    * profiler and the compressed-dump ingest. */
  private val mains = Set(
    "graft/Bench.scala", "graft/Verify.scala", "graft/ExtCheck.scala",
    "graft/wiki/WikiMain.scala", "graft/wiki/WikiScale.scala",
    "graft/tools/Profile.scala", "graft/sources/Bz2Ingest.scala")

  test("only the sanctioned objects define a main") {
    val found = sources.collect {
      case (file, text) if """def\s+main\s*\(""".r.findFirstIn(text).isDefined =>
        file
    }.toSet
    assert(found === mains)
  }

  private def isComment(line: String): Boolean = {
    val t = line.trim
    t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
  }

  /** The absolute prefix that the benchmark's fixed paths share. */
  private val hostRoot = "/root/"

  /** Absolute paths in code, as `<file>:<path below hostRoot>`: the
    * battery's default sf dir, Bench's default output file,
    * SparkEntry.entry's smoke dir, and Tables.matDir's fixture root,
    * which perfbench/run.py reads. */
  private val hostPaths = Set(
    "graft/SparkTune.scala:testdata/sf0.1",
    "graft/Bench.scala:repo/BENCH_LOCAL.json",
    "graft/SparkEntry.scala:testdata/sf0.001",
    "graft/Tables.scala:repo/target/tmp/${kind}_")

  test("code holds only the sanctioned absolute host paths") {
    val literal = ("\"" + java.util.regex.Pattern.quote(hostRoot) +
      "([^\"]*)\"").r
    val found = sources.flatMap { case (file, text) =>
      text.linesIterator.filterNot(isComment).flatMap(line =>
        literal.findAllMatchIn(line).map(m => s"$file:${m.group(1)}"))
    }
    assert(found.toSet === hostPaths)
    assert(found.size === hostPaths.size, found)
    // perfbench/run.py's mat_root() finds the fixture root with this
    // regex; any other form of the literal fails every benchmark run
    val tables = sources.toMap.apply("graft/Tables.scala")
    val matRoot = """def matDir[\s\S]*?s"(/[^"$]*?)/\$\{kind\}""".r
      .findFirstMatchIn(tables).map(_.group(1))
    assert(matRoot.map(r => s"graft/Tables.scala:${r.stripPrefix(hostRoot)}/$${kind}_")
      .exists(hostPaths), matRoot)
  }

  /** `text` with its comments blanked; string and character literals
    * are kept, so a name given as a string (a service file entry, a
    * class loaded by name) still counts as a use. */
  private def stripComments(text: String): String = {
    val out = new StringBuilder
    var i = 0
    def at(s: String) = text.startsWith(s, i)
    while (i < text.length) {
      lazy val charLit = """'(\\.|[^'\\])'""".r
        .findPrefixOf(text.substring(i, math.min(i + 4, text.length)))
      if (at("\"\"\"")) {
        var j = text.indexOf("\"\"\"", i + 3)
        j = if (j < 0) text.length else j + 3
        while (j < text.length && text(j) == '"') j += 1
        out ++= text.substring(i, j); i = j
      } else if (at("\"")) {
        var j = i + 1
        while (j < text.length && text(j) != '"' && text(j) != '\n')
          j += (if (text(j) == '\\') 2 else 1)
        j = math.min(j + 1, text.length)
        out ++= text.substring(i, j); i = j
      } else if (at("'") && charLit.isDefined) {
        out ++= charLit.get; i += charLit.get.length
      } else if (at("//")) {
        val j = text.indexOf('\n', i)
        i = if (j < 0) text.length else j
      } else if (at("/*")) {
        // Scala block comments nest
        var depth = 0
        do {
          if (at("/*")) { depth += 1; i += 2 }
          else if (at("*/")) { depth -= 1; i += 2 }
          else i += 1
        } while (depth > 0 && i < text.length)
        out += ' '
      } else { out += text(i); i += 1 }
    }
    out.toString
  }

  /** A declaration that is not an `override`: group 1 is the name. */
  private val declaration =
    ("""(?<![\w.])(?:override\s+(?:(?:final|lazy|implicit|private|""" +
      """protected)(?:\[\w+\])?\s+)*(?:def|val|class|object)\s+\w+|""" +
      """(?:def|val|class|object)\s+([A-Za-z_]\w*))""").r

  private val identifier = """[A-Za-z_]\w*""".r

  /** Every file under `dir` (recursively) that `keep` accepts. */
  private def filesUnder(dir: Path, keep: Path => Boolean): Seq[String] = {
    assert(Files.isDirectory(dir), s"no directory at ${dir.toAbsolutePath}")
    val walk = Files.walk(dir)
    try walk.iterator().asScala
      .filter(p => Files.isRegularFile(p) && keep(p))
      .map(p => new String(Files.readAllBytes(p), "UTF-8")).toList
    finally walk.close()
  }

  /** The extractors that pattern matches call: the compiler calls
    * these, never code by name. */
  private val conventionHooks = Set("unapply")

  /** Definitions that only specs call, kept on purpose: reference
    * implementations that a spec checks the served path against
    * (`search` for `searchIndexed`, `probeKeys` for `probeStructs`,
    * `cosineDecimal` for the `cosine_sim` expression), the in-memory
    * object store that the storage contract spec runs against, the
    * snapshot cache's key set (for specs of its bound), and the table
    * reads, counts and replication that the table specs probe the
    * chain with. */
  private val testHooks = Set(
    "search", "probeKeys", "cosineDecimal", "InMemoryObjectStorage",
    "cachedDirs", "readAsOf", "readTagged", "readBranch",
    "liveRowCountCommitted", "totalFiles", "replicateFeed")

  test("every main definition has a caller outside the specs, or is " +
    "a sanctioned test hook") {
    val main = sources.map { case (_, text) => stripComments(text) }
    val used = main ++
      filesUnder(Paths.get("perfbench/src"), _.toString.endsWith(".scala"))
        .map(stripComments) ++
      filesUnder(Paths.get("src/main/resources"), _ => true)
    val declared = main.flatMap(text =>
      declaration.findAllMatchIn(text).flatMap(m => Option(m.group(1))))
    val declarations = declared.groupMapReduce(identity)(_ => 1)(_ + _)
    val occurrences = used.flatMap(identifier.findAllIn)
      .filter(declarations.contains).groupMapReduce(identity)(_ => 1)(_ + _)
    // a name is used when it occurs anywhere beyond its declarations
    val unused = declarations.collect {
      case (n, d) if occurrences.getOrElse(n, 0) <= d => n
    }.toSet
    val mainObjects = mains.map(f => f.split('/').last.stripSuffix(".scala"))
    assert(unused.filterNot(mainObjects) === testHooks ++ conventionHooks)
  }
}
