package graft

import org.scalatest.funsuite.AnyFunSuite

/** Executable driver-altitude audit (VERDICT r10 item 5): the
  * `.collect()` allowlist that `Guards.scala`'s scaladoc used to
  * promise in prose, enforced by CI. Every collect-family action in
  * src/main/scala must either live inside [[graft.ext.Guards]]
  * (whose `boundedGrid` is the sanctioned guarded collect) or carry
  * a `collect-ok:` justification marker ADJACENT to the site — same
  * line, or upward through only blank/comment/same-hazard lines
  * ([[AuditRules.classified]]). The old 6-line window let one marker
  * bless any later collect that happened to land nearby (ADVICE
  * r11); under the contiguity rule an intervening code line breaks
  * the chain, so every distinct site states its own bound. The regex
  * also matches argument-taking and line-broken forms
  * (`.collect(\n`), not just the literal `.collect()` —
  * partial-function `.collect { case … }` on Scala collections is
  * deliberately excluded (Dataset.collect has no such overload, so
  * brace-collects are never Spark actions).
  *
  * Pure-JVM spec — reads the source tree, starts no SparkSession. */
class GuardAuditSpec extends AnyFunSuite {

  // collectAsList / toLocalIterator are the same altitude hazard by
  // other names; `\s*\(` (any args) instead of the literal `()` so a
  // line-broken or argument-taking call cannot slip past the audit
  private val collectRe =
    """\.(collect|collectAsList|toLocalIterator)\s*\(""".r.unanchored

  private def inGuards(f: java.nio.file.Path): Boolean =
    f.getFileName.toString == "Guards.scala"

  test("every driver-side collect in src/main is classified (collect-ok or the boundedGrid guard)") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root),
      s"audit must run from the repo root; missing $root")
    val unclassified =
      AuditRules.unclassifiedSites(root, collectRe, "collect-ok:", inGuards)
    assert(unclassified.isEmpty,
      "unclassified driver-side collect site(s) — state the bound " +
        "with a `// collect-ok: <why this is bounded>` marker adjacent " +
        "to the site, or route through Guards.boundedGrid:\n" +
        unclassified.mkString("\n"))
  }

  // the append cores' witness probe: a limit(1) collect over a bare
  // boolean marker column, on one line or broken across several
  private val witnessRe =
    """\.filter\(\s*col\("[^"]+"\)\s*\)\s*\.limit\(\s*1\s*\)\s*\.collect\s*\(""".r

  test("the witness probe appears in src/main only inside Guards.witnessed") {
    val sites = AuditRules
      .scalaSources(java.nio.file.Paths.get("src/main/scala"))
      .flatMap { f =>
        witnessRe.findAllMatchIn(java.nio.file.Files.readString(f))
          .map(m => (f, m.matched.replaceAll("\\s+", "")))
      }
    val outside = sites.filterNot { case (f, _) => inGuards(f) }
    assert(outside.isEmpty,
      "witness probe outside Guards.scala — route the marker frame " +
        "through Guards.witnessed:\n" + outside.mkString("\n"))
    // non-vacuous: the one sanctioned probe is still visible
    assert(sites.size == 1, s"expected Guards.witnessed's probe alone: $sites")
  }

  test("the audit itself still sees the known guarded sites (no silent regex rot)") {
    // if the regex or the tree layout drifts, this spec must not
    // degenerate into vacuously-green: the sanctioned guard site and
    // at least one classified production site must be visible to it
    val guards = java.nio.file.Paths.get(
      "src/main/scala/graft/ext/Guards.scala")
    val text = java.nio.file.Files.readString(guards)
    assert(collectRe.findFirstIn(text).isDefined,
      "boundedGrid's collect vanished from Guards.scala — audit blind")
    assert(text.contains("collect-ok:"))
    val all = AuditRules
      .scalaSources(java.nio.file.Paths.get("src/main/scala"))
      .map(f => java.nio.file.Files.readString(f))
    assert(all.count(collectRe.findFirstIn(_).isDefined) >= 4,
      "audit sees fewer collect-bearing files than the known floor")
  }
}
