package graft.rules

import org.apache.spark.sql.DataFrame

import Model._

/** Dry-run validation against real input (reference `preflight_validate`,
  * transform.rs:70-85 and :310-361): compile the rule and execute it over
  * the full input, discarding every output record, so that any
  * data-dependent transform error (MissingRequired, TypeCastFailed,
  * InvalidRef, ExprError, AssertionFailed…) surfaces with its structured
  * (kind, path) identity BEFORE a real run writes anything.
  *
  * Spark-first shape: the dry run is a distributed `foreach` over the same
  * single Catalyst plan the real transform uses — no driver-side collect,
  * so preflight scales exactly as far as the transform itself. Consuming
  * whole rows (not `count()`) matters: a count-only plan would let Catalyst
  * prune the output projection and skip the very cast/required checks
  * preflight exists to run.
  */
object Preflight {

  /** Validate `rule` against `input`. Returns the run's warnings (the
    * reference's preflight IS "run and return warnings",
    * preflight_validate_with_warnings, transform.rs:309-361) when every
    * record transforms cleanly; throws [[ExprCompiler.RmError]] with the
    * reference's (kind, path) on the first failure. */
  def validate(rule: RuleFile, input: DataFrame, context: JValue = JNull,
      nullAsMissing: Boolean = false,
      ruleLoader: Engine.RuleLoader = Engine.noLoader): Seq[Engine.Warning] =
    ExprCompiler.RmError.recover {
      val jw = Engine.toJsonRecordsWithWarnings(rule, input, context,
        nullAsMissing, ruleLoader)
      jw.output.foreach(_ => ())
      Engine.collectWarnings(jw.warnings)
    }
}
