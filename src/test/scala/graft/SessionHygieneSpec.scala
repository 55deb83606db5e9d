package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Source scan: one session builder, no one-shot mains, one builder per
  * curation, near-dup and decontamination stage, and no operator code that
  * changes session-global state (a conf, a Dataset cache entry) as it runs.
  * Queries built in one session run concurrently (`Concurrently`, the
  * serving shim), so a conf set by one entry leaks into whatever runs next
  * to it.
  */
class SessionHygieneSpec extends AnyFunSuite {

  private case class Hit(file: Path, line: Int, enclosingDef: String, text: String) {
    override def toString = s"$file:$line (nearest def above: $enclosingDef): ${text.trim}"
  }

  private val DefName = """\bdef\s+(\w+)""".r.unanchored

  private def scalaFiles(root: String): Seq[Path] = {
    val dir = Paths.get(root)
    assert(Files.isDirectory(dir), s"$dir not found; run the suite from the repository root")
    val s = Files.walk(dir)
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList finally s.close()
  }

  /** Lines matching `pattern`, each with the nearest `def` above it. */
  private def scan(root: String, pattern: scala.util.matching.Regex): Seq[Hit] =
    scalaFiles(root).flatMap { f =>
      var enclosing = "<none>"
      Files.readAllLines(f).asScala.zipWithIndex.flatMap { case (text, i) =>
        text match { case DefName(n) => enclosing = n; case _ => () }
        if (pattern.findFirstIn(text).isDefined) Some(Hit(f, i + 1, enclosing, text)) else None
      }
    }

  private def fileName(h: Hit) = h.file.getFileName.toString

  /** Code lines under src/main holding `literal`; comments and the
    * literal's own `val` or `def` do not count.
    */
  private def sites(literal: String): Seq[Hit] =
    scan("src/main", java.util.regex.Pattern.quote(literal).r).filterNot { h =>
      val t = h.text.trim
      t.startsWith("//") || t.startsWith("*") || t.startsWith("/*") ||
        t.contains(s"val $literal ") || t.contains(s"def $literal")
    }

  test("GraftSession is the only session builder in src/") {
    // split so this file does not match itself
    val builder = ("SparkSession" + """\.builder\b""").r
    val hits = scan("src", builder).filterNot(fileName(_) == "GraftSession.scala")
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }

  test("src/main sets or unsets session conf only on StreamRunner's private clone") {
    val hits = scan("src/main", """\bconf\.(set|unset)\b""".r)
      .filterNot(h => fileName(h) == "StreamRunner.scala" && h.enclosingDef == "run" &&
        h.text.trim.startsWith("clone.conf.set("))
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }

  test("graft.streaming starts and awaits streaming queries only in StreamRunner") {
    val hits = scan("src/main/scala/graft/streaming", """\.start\(\)|\bawaitTermination\b""".r)
      .filterNot(fileName(_) == "StreamRunner.scala")
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }

  test("src/main assigns spark.experimental only in Extensions.install") {
    val hits = scan("src/main", """\bexperimental\.\w+\s*=(?!=)""".r)
      .filterNot(h => fileName(h) == "Extensions.scala" && h.enclosingDef == "install")
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }

  test("src/main holds a frame in block storage only through Residency") {
    // a Dataset cache is matched by plan, so a re-run after files change
    // could read a previous run's rows; Residency.snap is never matched
    val hits = scan("src/main", """\.(localCheckpoint|persist)\(|\.cache\(\)""".r)
      .filterNot(fileName(_) == "Residency.scala")
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }

  test("src/main reads file modification times only in Listing.of") {
    // one listing decides whether inputs changed: result caches, maintained
    // streams, MV routing and corpus metadata must agree on it
    val hits = scan("src/main", """\b(lastModified|getLastModifiedTime|getModificationTime)\b""".r)
      .filterNot(h => fileName(h) == "Listing.scala" && h.enclosingDef == "of")
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }

  test("src/main defines a main only in Bench, Verify, Explain and GenScale") {
    val mains = Set("Bench.scala", "Verify.scala", "Explain.scala", "GenScale.scala")
    val hits = scan("src/main", """\bdef\s+main\s*\(|\bextends\s+App\b""".r)
      .filterNot(h => mains(fileName(h)))
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }

  test("src/main builds each curation stage once: one Spark builder, one oracle builder") {
    // the per-stage entries and the pp03 chain compose one builder per stage,
    // so a change to a stage reaches every entry that claims to test it. A
    // hit is oracle SQL when it sits in a stripMargin line or after an
    // interpolated string's opening quote; comments and the constant's own
    // definition do not count.
    val stages = Seq(
      " reach x" -> "px01's PII plant",
      "ep7:" -> "sh01's epoch-shuffle seed",
      "/ 5.0" -> "dd09's 5-word segmenter",
      "* 0.5 +" -> "tx02's quality weight",
      "KnuthA" -> "the Knuth hash bucket")
    val copied = stages.flatMap { case (literal, stage) =>
      val hits = sites(literal)
      val (oracle, spark) = hits.partition { h =>
        val before = h.text.substring(0, h.text.indexOf(literal))
        h.text.trim.startsWith("|") || before.contains("s\"")
      }
      if (spark.size == 1 && oracle.size == 1) None
      else Some(s"$stage ('$literal'): ${spark.size} Spark and ${oracle.size} oracle sites" +
        hits.mkString("\n  ", "\n  ", ""))
    }
    assert(copied.isEmpty, copied.mkString("\n", "\n", ""))
  }

  test("src/main builds each near-dup and decontamination stage once") {
    // the dedup and decontamination entries and their streaming firewalls
    // compose one builder per stage, and st17/st18 answer with dc02's/dd08's
    // oracle. Each literal below belongs to one stage's Spark or oracle
    // builder and may sit on one code line only.
    val stages = Seq(
      "[i:i+2]" -> "3-word shingles, oracle",
      "wordShingles(text)" -> "3-word shingles, Spark",
      "[i:i])" -> "string hash fold, oracle",
      "RowsPerBand + 1" -> "band fold, Spark",
      "ORDER BY est_jaccard DESC, corpus_id" -> "dd08's incremental verdict, oracle",
      "n.ns >= 0.3" -> "dc02's set-level verdict, oracle",
      "col(\"overlap_frac\") >= 0.3" -> "dc02's set-level verdict, Spark",
      "bloomBuild(" -> "benchmark shingle Bloom build, Spark")
    val copied = stages.flatMap { case (literal, stage) =>
      val hits = sites(literal)
      if (hits.size == 1) None
      else Some(s"$stage ('$literal'): ${hits.size} sites" + hits.mkString("\n  ", "\n  ", ""))
    }
    assert(copied.isEmpty, copied.mkString("\n", "\n", ""))
  }

  test("src/main adds no session artifacts") {
    // StreamRunner's clones turn artifact isolation off, so every streaming
    // query runs under the default class loader; that is safe only while no
    // session adds a jar or another artifact of its own
    val hits = scan("src/main", """\baddArtifacts?\b|\baddJar\b|(?i)\badd\s+jars?\b""".r)
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}
