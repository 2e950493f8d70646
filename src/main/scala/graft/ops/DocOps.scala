package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.llm.ChatMsg
import graft.model.Instruction

/** The reference's pure per-document operators (SURVEY.md §2A ops
  * 4-7, 11-12, 14, 19), as plain Scala functions used inside the
  * pipeline's `mapPartitions` pass, plus Column variants for
  * DataFrame-level use. Citations are into /root/reference/.
  */
object DocOps {

  /** scope-project (op 4): keep fields named in scope; None ⇒ all;
    * missing keys silently dropped (instructions_runners.py:37-40 —
    * the dict-comprehension filter semantics, preserved verbatim). */
  def scopeProject(fields: Map[String, String],
      scope: Option[Seq[String]]): Map[String, String] = scope match {
    case None     => fields
    case Some(ks) =>
      val keep = ks.toSet
      fields.filter { case (k, _) => keep(k) }
  }

  /** prompt-build, system part (op 6): the section layout of
    * build_sys_msg (instructions_runners.py:46-60) — each section
    * emitted only when present, in Instruction→Role→Input→Output
    * order. (The reference's "Extected" typo at line 59 is not
    * reproduced; prompts are not oracle-checked.) */
  def buildSysMsg(instr: Instruction): String = {
    val sections = Seq(
      instr.content.map(c => s"# Instruction\n$c"),
      instr.role.map(r => s"# Role\n$r"),
      instr.inputDesc.map(d => s"# Input Description\n$d"),
      instr.outputDesc.map(d => s"# Expected Output\n$d")).flatten
    sections.mkString("\n\n")
  }

  /** prompt-build, user part (op 6): projected fields rendered as
    * "key:\nvalue" blocks (instructions_runners.py:62-67). */
  def buildUserMsg(projected: Map[String, String]): String =
    projected.map { case (k, v) => s"$k:\n$v" }.mkString("\n\n")

  /** chatml-init (op 7): wrap (system, user); model-dialect rewrites
    * live in the LlmClient, not here. */
  def initChatml(sys: String, user: String): Seq[ChatMsg] = {
    val sysPart = if (sys.nonEmpty) Seq(ChatMsg("system", sys)) else Nil
    sysPart :+ ChatMsg("user", user)
  }

  /** xml-pack (op 14): wrap each scoped field as <NAME>…</NAME>
    * blocks for the reducer prompt (self_verification_mr.py:457-471). */
  def xmlPack(projected: Map[String, String]): String =
    projected.map { case (k, v) => s"<$k>\n$v\n</$k>" }.mkString("\n\n")

  /** json-clean (op 19): strip ```json fences
    * (self_verification_mr.py:52-53). */
  def jsonClean(s: String): String =
    s.replaceAll("```(json)?", "").trim

  /** md-render (op 12): "# name\ncontent\n\n" per instruction
    * (instructions.py:62-70). */
  def mdRender(ordered: Seq[(String, String)]): String =
    ordered.map { case (k, v) => s"# $k\n$v" }.mkString("\n\n")

  // ---- Column variants (for DataFrame-level composition) ----

  /** md-render over a MapType column: deterministic key order. */
  def mdRenderCol(m: Column): Column =
    concat_ws("\n\n", transform(map_entries(m),
      e => concat(lit("# "), e.getField("key"), lit("\n"), e.getField("value"))))
}
