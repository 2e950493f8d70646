package graft

import org.scalatest.funsuite.AnyFunSuite

/** Executable one-session-factory audit: [[GraftSession.builder]] is
  * the only place the source tree builds a SparkSession, so every
  * entrypoint and the specs' shared session run the config the engine
  * ships. A SparkSession builder call anywhere else in src/main or
  * src/test — code or comment — fails here; the exempt file is
  * GraftSession.scala alone. Also pins how the factory derives the
  * session width from the master string.
  *
  * Pure-JVM spec — reads the source tree, starts no SparkSession. */
class SessionAuditSpec extends AnyFunSuite {

  // `\b`: the call with or without parentheses, never the
  // `SparkSession.Builder` type the factory returns
  private val builderRe = """SparkSession\s*\.\s*builder\b""".r.unanchored

  private def sites(root: String): Seq[(java.nio.file.Path, String)] = {
    val dir = java.nio.file.Paths.get(root)
    assert(java.nio.file.Files.isDirectory(dir),
      s"audit must run from the repo root; missing $dir")
    AuditRules.scalaSources(dir).flatMap { f =>
      val lines = java.nio.file.Files.readAllLines(f).toArray(Array.empty[String])
      lines.zipWithIndex.collect {
        case (line, i) if builderRe.findFirstIn(line).isDefined =>
          f -> s"$f:${i + 1}: ${line.trim}"
      }
    }
  }

  private def inFactory(f: java.nio.file.Path): Boolean =
    f.getFileName.toString == "GraftSession.scala"

  test("no SparkSession is built outside GraftSession.scala in src/main or src/test") {
    val stray = (sites("src/main/scala") ++ sites("src/test/scala"))
      .filterNot(s => inFactory(s._1)).map(_._2)
    assert(stray.isEmpty,
      "SparkSession built outside the session factory — start from " +
        "GraftSession.builder(master) and add only app name / UI " +
        "settings:\n" + stray.mkString("\n"))
  }

  test("the audit itself still sees the one sanctioned site (no silent regex rot)") {
    val sanctioned = sites("src/main/scala").filter(s => inFactory(s._1))
    assert(sanctioned.size == 1,
      s"expected exactly one builder call in GraftSession.scala, saw:\n" +
        sanctioned.map(_._2).mkString("\n"))
  }

  test("session width follows the master: local[N] -> N, local[*] -> cores, cluster -> Spark's own") {
    val cores = Runtime.getRuntime.availableProcessors()
    assert(GraftSession.width("local[4]").contains(4))
    assert(GraftSession.width("local[32]").contains(32))
    assert(GraftSession.width("local[*]").contains(cores))
    assert(GraftSession.width("local").contains(cores))
    assert(GraftSession.width("yarn").isEmpty)
    assert(GraftSession.width("spark://h:7077").isEmpty)
  }
}
