package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Repo hygiene gate: every source file under src/ must be plain text
  * to git — zero raw NUL bytes — so every diff renders reviewable.
  *
  * History: TarShards.scala originally embedded 8 raw NULs in tar
  * header literals (git showed "Binary files differ" for its diffs);
  * fixed at cf1692c by switching to backslash-u0000 escapes. NOTE for anyone
  * re-checking by hand: `grep -c $'\x00' file` does NOT test this —
  * bash cannot pass a NUL byte in argv, so the pattern degrades to the
  * empty string and the output is simply the file's LINE count (131
  * for TarShards.scala, misread across several reviews as "131 NUL
  * bytes"). Use `tr -cd '\0' < file | wc -c` or this spec instead.
  *
  * Reachability gate: every file under src/main/scala is reachable by
  * name from an entry point, so library code that nothing runs cannot
  * accumulate unseen.
  *
  * Temp-dir gate: only `Materialize` and the three warehouse-dir
  * defaults name `java.io.tmpdir`, so shared builds keep one on-disk
  * layout, behind one module.
  *
  * Benchmark pin: the traced ETL benchmark copies `Orchestrator.runDaily`
  * and refuses to run when its source no longer hashes to the digest
  * pinned in perfbench/harness/EtlBench.scala; checked here so the drift
  * shows up in the test suite, not first in a benchmark run.
  */
class SourceHygieneSpec extends AnyFunSuite {

  private def scalaFiles(root: Path): Seq[Path] =
    Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .toSeq

  test("no source file under src/ contains a raw NUL byte") {
    val root = Paths.get("src")
    assert(Files.isDirectory(root), s"run from repo root; no $root")
    val offenders = scalaFiles(root).flatMap { p =>
      val bytes = Files.readAllBytes(p)
      val nuls = bytes.count(_ == 0.toByte)
      if (nuls > 0) Some(s"$p: $nuls NUL bytes") else None
    }
    assert(offenders.isEmpty,
      "binary-to-git source files (diffs unreviewable):\n" +
        offenders.mkString("\n"))
  }

  /** Literals are matched before comments and kept, so "//" inside a
    * string is not a comment and a class named only in a string (a
    * config key, a reflection target) still counts as a mention. */
  private val LiteralOrComment = ("\"\"\"[\\s\\S]*?\"\"\"\"*" +
    "|\"[^\"\\\\\n]*(?:\\\\.[^\"\\\\\n]*)*\"" +
    "|'(?:\\\\u[0-9a-fA-F]{4}|\\\\.|[^'\\\\\n])'" +
    "|//[^\n]*|/\\*[\\s\\S]*?\\*/").r
  private def stripComments(s: String): String =
    LiteralOrComment.replaceAllIn(s, m =>
      if (m.matched.startsWith("/")) " "
      else scala.util.matching.Regex.quoteReplacement(m.matched))

  private val Ident = "[A-Za-z_][A-Za-z0-9_]*".r
  private val Definition =
    "\\b(?:class|object|trait)\\s+([A-Za-z_][A-Za-z0-9_]*)".r

  test("every src/main/scala file is reachable from an entry point") {
    val main = Paths.get("src/main/scala")
    val harness = Paths.get("perfbench/harness")
    assert(Files.isDirectory(main) && Files.isDirectory(harness),
      "run from repo root")
    // files no entry point reaches that stay on purpose
    val allowed = Map(
      "graft/sources/ShopifyConfig.scala" -> "deployment credentials",
      "graft/model/Warehouse.scala" -> "typed views WarehouseSpec checks Flatten through",
      "org/apache/spark/sql/graft/CacheIntrospect.scala" -> "cache probe DedupSpec uses")
    def read(p: Path) = stripComments(new String(Files.readAllBytes(p), "UTF-8"))
    val text = scalaFiles(main).map(p => main.relativize(p).toString -> read(p)).toMap
    val definedIn: Map[String, Set[String]] = text.toSeq
      .flatMap { case (f, t) => Definition.findAllMatchIn(t).map(_.group(1) -> f) }
      .groupMap(_._1)(_._2).map { case (k, v) => k -> v.toSet }
    def targets(t: String): Set[String] =
      Ident.findAllIn(t).toSet[String].flatMap(definedIn.getOrElse(_, Set.empty))
    val edges = text.map { case (f, t) => f -> (targets(t) - f) }
    val roots = Seq("SparkEntry", "Orchestrator", "Bench", "Verify")
      .flatMap(definedIn.getOrElse(_, Set.empty)).toSet ++
      scalaFiles(harness).flatMap(p => targets(read(p)))
    var reached = Set.empty[String]
    var frontier = roots
    while (frontier.nonEmpty) {
      reached ++= frontier
      frontier = frontier.flatMap(edges) -- reached
    }
    val unreached = text.keySet -- reached
    assert((unreached -- allowed.keySet).isEmpty,
      "src/main/scala files no entry point reaches (delete them, or " +
        "reach them):\n" + (unreached -- allowed.keySet).toSeq.sorted.mkString("\n"))
    assert(allowed.keySet.subsetOf(unreached),
      "allow-listed files that are now reached or gone (drop them from " +
        "the list): " + (allowed.keySet -- unreached).mkString(", "))
  }

  test("only Materialize and the warehouse defaults name java.io.tmpdir") {
    // the on-disk layout of shared builds stays behind one module
    val main = Paths.get("src/main/scala")
    val warehouseSites =
      Set("graft/GraftSession.scala", "graft/Bench.scala", "graft/Verify.scala")
    val offenders = scalaFiles(main).flatMap { p =>
      val f = main.relativize(p).toString
      val t = stripComments(new String(Files.readAllBytes(p), "UTF-8"))
      val named = "java\\.io\\.tmpdir".r.findAllMatchIn(t).count { m =>
        !(warehouseSites(f) && t.startsWith("\")}/graft-warehouse", m.end))
      }
      if (named == 0 || f == "graft/operators/Materialize.scala") None
      else Some(s"$f: $named")
    }
    assert(offenders.isEmpty,
      "java.io.tmpdir named outside Materialize (build under " +
        "Materialize.buildOnce instead):\n" + offenders.mkString("\n"))
  }

  test("Orchestrator.runDaily still hashes to the benchmark's pinned digest") {
    val harness = new String(
      Files.readAllBytes(Paths.get("perfbench/harness/EtlBench.scala")), "UTF-8")
    val pinned = "val RunDailyDigest = \"([0-9a-f]{64})\"".r
      .findFirstMatchIn(harness).map(_.group(1))
    assert(pinned.isDefined, "no RunDailyDigest literal in EtlBench.scala")
    // the lines from `def runDaily(` to its closing brace, as EtlBench.runDailySource
    val lines = Files.readAllLines(Paths.get("src/main/scala/graft/Orchestrator.scala"))
      .asScala.map(_.stripTrailing)
    val from = lines.indexWhere(_.startsWith("  def runDaily("))
    val to = lines.indexWhere(_ == "  }", from)
    assert(from >= 0 && to > from, "no Orchestrator.runDaily")
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(lines.slice(from, to + 1).mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(digest == pinned.get,
      "Orchestrator.runDaily changed: the traced benchmark copies it, so bring " +
        "EtlEpisode.tracedRun in line and pin the new digest in EtlBench.RunDailyDigest")
  }
}
