package graft.rules

import graft.functions.ScalarJson.quote

/** A diagnostic of a rule run: a validation error
  * ([[Validator.ValidationError]]), a warning ([[Engine.Warning]]) or a
  * transform error ([[ExprCompiler.RmError]]), in the reference CLI's two
  * spellings (rulemorph_cli main.rs:572-701), each leaving out an empty
  * path. The CLI prints them; MCP carries the JSON objects in its
  * `meta.errors` and `meta.warnings`. */
trait Diagnostic {
  /** `validation`, `warning` or `transform`. */
  protected def diagnosticType: String
  /** A validation code or a transform kind. */
  protected def name: String
  protected def text: String
  def path: String

  /** `{"type":…,"code"|"kind":…,"message":…,"path":…}`. */
  def json: String = {
    val key = if (diagnosticType == "validation") "code" else "kind"
    val p = if (path.nonEmpty) s""","path":${quote(path)}""" else ""
    s"""{"type":${quote(diagnosticType)},"$key":${quote(name)},"message":${quote(text)}$p}"""
  }

  /** `W <kind> path=<p> msg="<m>"` for a warning, `E …` otherwise. */
  def line: String = {
    val p = if (path.nonEmpty) s" path=$path" else ""
    s"""${if (diagnosticType == "warning") "W" else "E"} $name$p msg="$text""""
  }
}
