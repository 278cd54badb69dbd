package graft.rules

import java.nio.file.Path

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.ScalarJson
import graft.sources.Sources

import Model._
import ExprCompiler._

/** The rule engine: RuleFile + input DataFrame + context value → output
  * DataFrame. The whole rule compiles to ONE declarative Spark plan —
  * filter → projection chain → (finalize sort/offset/limit) — so Catalyst
  * gets full visibility: record_when predicates push into the scan, unused
  * input columns prune away, and the mapping chain collapses into a single
  * whole-stage-codegen projection.
  *
  * Reference lifecycle being reproduced (transform.rs:412-531):
  * record_when → ordered mappings (later mappings see earlier @out values)
  * → per-mapping when/default/required/cast → finalize filter/sort/
  * offset/limit.
  */
object Engine {

  private type Fields = ListMap[String, CE]

  final case class EngineError(message: String) extends RuntimeException(message)

  /** The reference's TransformWarning (error.rs:127): a non-fatal,
    * per-record diagnostic produced when a `when` / `record_when`
    * condition errors at eval time — the mapping or record is skipped and
    * the run continues (transform.rs:1041-1091). */
  final case class Warning(kind: String, path: String, message: String)
      extends Diagnostic {
    protected def diagnosticType: String = "warning"
    protected def name: String = kind
    protected def text: String = message
  }

  /** Loads branch sub-rule files by the path string written in the rule. */
  type RuleLoader = String => RuleFile
  val noLoader: RuleLoader =
    p => throw EngineError(s"no rule loader configured (branch path: $p)")

  /** Filesystem loader resolving branch paths against a base directory. */
  def fileLoader(baseDir: String): RuleLoader = { p =>
    val path = java.nio.file.Paths.get(baseDir).resolve(p)
    YamlParser.parse(java.nio.file.Files.readString(path))
  }

  /** [[fileLoader]] for the branch paths of the rule file at `rulePath`:
    * they resolve against its directory. */
  def loaderBeside(rulePath: Path): RuleLoader =
    fileLoader(Option(rulePath.getParent).map(_.toString).getOrElse("."))

  /** A rule's run over an input file, the one run behind the CLI's
    * `transform` and `preflight` and MCP's `transform` tool. Each shape
    * reads the file by the rule's input format when it runs: CSV cells
    * ([[Sources.csv]]) or a JSON document ([[Sources.json]]). A SQL null
    * reads as missing in JSON ingest, where it means an absent key, and
    * stays null in a CSV cell. A rule error raised in Spark arrives in
    * Spark's exception chain: callers run a shape under
    * [[ExprCompiler.RmError.recover]]. */
  final case class FileRun(spark: SparkSession, rule: RuleFile, inputPath: String,
      context: JValue, ruleLoader: RuleLoader) {
    private val nullAsMissing = rule.input.format != "csv"
    private def input: DataFrame =
      if (nullAsMissing) Sources.json(spark, inputPath, rule.input.recordsPath)
      else Sources.csv(spark, inputPath, rule.input)

    /** The rule compiled once with warnings; the records and then the
      * warnings collected. */
    def batch(): Batch = {
      val jw = toJsonRecordsWithWarnings(rule, input, context, nullAsMissing, ruleLoader)
      Batch(outputText(rule, jw.output.collect().toSeq.map(_.getString(0))),
        collectWarnings(jw.warnings))
    }

    /** [[ndjsonWithWarnings]]'s items in record order, one partition at a
      * time: each item's output line (none for a dropped record) and its
      * own warnings. The plan is built, and finalize rejected, before the
      * first item is asked for. */
    def ndjson(): Iterator[(Option[String], Seq[Warning])] =
      ndjsonWithWarnings(rule, input, context, nullAsMissing, ruleLoader)
        .toLocalIterator().asScala.map { r =>
          (Option(r.getString(0)), r.getSeq[Row](1).map(w =>
            Warning(w.getString(0), w.getString(1), w.getString(2))))
        }

    /** [[Preflight.validate]] over the file. */
    def preflight(): Seq[Warning] =
      Preflight.validate(rule, input, context, nullAsMissing, ruleLoader)
  }

  /** A collected batch run: its output text and its warnings. */
  final case class Batch(text: String, warnings: Seq[Warning])

  /** The output text of a rule's records: under `finalize.wrap` the one
    * object it makes (`{}` without one), else an array of the records. */
  def outputText(rule: RuleFile, records: Seq[String]): String =
    if (rule.finalizeSpec.exists(_.wrap.nonEmpty)) records.headOption.getOrElse("{}")
    else records.mkString("[", ",", "]")

  /** Compiled rule: the filtered input (with a stable __order column), the
    * ordered map of top-level output fields as (value, missing) pairs, and
    * — in warnings mode — the per-row keep predicate (record-level drops
    * are NOT filtered out of `df` so dropped records' warnings survive)
    * plus the per-row warning struct columns in reference emission order. */
  private case class Compiled(df: DataFrame, out: Fields, keep: Column, warns: Seq[Column],
      rec: Recorder)

  /** Trace-mode side channel of [[compilePlan]]: (key, JSON text) columns
    * evaluated in the same plan as the output, keyed by the rule's error
    * paths (`mappings[0].pipe[1]`, `steps[2].when`, a branch sub-rule's keys
    * under `steps[2].then/`), plus the branch sub-rules as compiled. Every
    * recorded column goes through [[CaughtCond.value]]: a value that raises
    * records null, so recording never fails a record the output keeps.
    * Inert outside trace mode. */
  private final class Recorder(on: Boolean, prefix: String,
      columns: scala.collection.mutable.ArrayBuffer[(String, Column)],
      subRules: scala.collection.mutable.LinkedHashMap[String, RuleFile]) {
    def json(key: String, c: => Column): Unit =
      if (on) columns += (prefix + key) -> CaughtCond.value(c)
    def apply(key: String, ce: CE): Unit =
      json(key, when(!ce.missing, jsonFragment(ce.valueOrNull, ce.tpe)))
    def flag(key: String, c: Column): Unit = apply(key, CE.present(c, BooleanType))
    /** A [[CaughtCond]] outcome: absent when the condition raised. */
    def caught(key: String, cc: Column): Unit =
      apply(key, CE(cc.getField("ok"), cc.getField("kind").isNotNull, BooleanType))
    def subRule(scope: String, rule: RuleFile): Recorder = {
      if (on) subRules += (prefix + scope) -> rule
      new Recorder(on, prefix + scope, columns, subRules)
    }
    def recorded: Seq[(String, Column)] = columns.toSeq
    def compiledSubRules: Map[String, RuleFile] = subRules.toMap
  }
  private object Recorder {
    def apply(on: Boolean): Recorder = new Recorder(on, "",
      scala.collection.mutable.ArrayBuffer.empty, scala.collection.mutable.LinkedHashMap.empty)
  }

  private def compilePlan(rule: RuleFile, input: DataFrame, context: JValue,
      nullAsMissing: Boolean, ruleLoader: RuleLoader,
      collectWarnings: Boolean = false, trace: Boolean = false): Compiled = {
    // stable input order for finalize's stable sort: monotonically
    // increasing id encodes (partition, offset) = scan order, captured
    // before any shuffle. Only attached when a finalize sort, warning
    // emission or a trace will consume it — dead weight otherwise.
    val needsOrder = rule.finalizeSpec.exists(_.sort.isDefined) ||
      collectWarnings || trace
    val ordered = input.withColumn("__order",
      if (needsOrder) monotonically_increasing_id() else lit(0L))
    // JSON ingest (Sources.json) tags every object field that holds an
    // explicit null (ExprCompiler.Absentable), so for such sources a SQL
    // null in a plain field is an ABSENT field, i.e. MISSING (the
    // reference's JSON ingest distinguishes them, transform.rs:902-941)
    val env = Env(input = resolveFromSchema(input.schema.fields.toSeq, nullAsMissing),
      context = context)

    var df = ordered
    // record-level keep state: in warnings mode, record drops accumulate
    // here instead of filtering `df`, so a dropped record's earlier
    // warnings still reach the side channel (the reference extends the
    // warning vec even when apply_rule_to_record returns None)
    var keepCol: Column = lit(true)
    val warns = scala.collection.mutable.ArrayBuffer.empty[Column]
    val rec = Recorder(trace)
    // the warning of a record-level condition that raised, for a record
    // still alive
    val warnAlive: (Column, Column) => Unit = (raised, w) =>
      if (collectWarnings) warns += when(keepCol && raised, w)
    // a warning of mappings (or a branch side) that run where `alive`
    // holds: a record dropped before them never evaluates them
    def warnWhile(alive: Column): Column => Unit =
      if (collectWarnings) w => warns += when(alive, w) else _ => ()

    /** Drop the records where `pass` fails. Pure predicates filter in place
      * and push into the scan — even in warnings mode, as long as no
      * warning site precedes the drop: filtering a record away is only
      * wrong if it might already hold warnings (then the drop becomes
      * keep-state so those warnings still reach the side channel). Trace
      * mode keeps every drop as keep-state: a dropped record is traced
      * too. */
    def drop(pass: Column): Unit =
      if (trace || (collectWarnings && warns.nonEmpty)) keepCol = keepCol && coalesce(pass, lit(false))
      else df = df.filter(pass) // filter drops null = false; no coalesce (it blocks pushdown)

    // ordered mappings + steps IN ORDER: later steps see @out as built so
    // far (mappings after a branch read the branch's merged fields —
    // transform.rs:431-531). No per-record interpretation anywhere.
    // pathPrefix threads the reference's error-path identity
    // (mappings[i] / steps[i].mappings[j]) into raised errors.
    var out: Fields = ListMap.empty
    // record_when: false or error ⇒ record dropped (transform.rs:1065-1091)
    def recordWhen(cond: Cond, path: String): Unit = {
      val c = compileCond(cond, env.copy(out = out, errPath = path))
      drop(guarded(c.value && !c.missing, path, rec, warnAlive))
    }
    rule.recordWhen.foreach(recordWhen(_, "record_when"))
    out = foldMappings(rule.mappings, out, env, "mappings", warnWhile(keepCol), rec)
    // each stage's cumulative @out and whether the record is still alive
    def recordStage(stage: String): Unit = {
      rec.json(stage, objectJson(projected(out)))
      rec.flag(s"$stage.kept", keepCol)
    }
    recordStage("mappings")

    var replaced = false // branch return:true ends step processing
    for ((s, si) <- rule.steps.zipWithIndex if !replaced) {
      s match {
        case StepMappings(ms) =>
          out = foldMappings(ms, out, env, s"steps[$si].mappings", warnWhile(keepCol), rec)
        case StepRecordWhen(cond) => recordWhen(cond, s"steps[$si].record_when")
        case StepAsserts(asserts) =>
          // asserts are hard errors (AssertionFailed aborts the transform),
          // but only for records still alive — in warnings mode dead rows
          // ride along in df, so the raise must be gated on the keep state
          val alive = keepCol
          for ((a, ai) <- asserts.zipWithIndex) {
            val c = compileCond(a.when, env.copy(out = out))
            rec.flag(s"steps[$si].asserts[$ai]", coalesce(c.value, lit(false)))
            df = df.filter(
              when(alive && !coalesce(c.value, lit(false)),
                RmError.raiseCol("AssertionFailed", s"steps[$si].asserts[$ai]",
                  s"${a.code}: ${a.message}").cast(BooleanType))
                .otherwise(lit(true)))
          }
        case StepBranch(cond, thenPath, elsePath, ret) =>
          // a branch condition that errors routes to the else side plus a
          // warning, like any other when (eval_when, transform.rs:1041-1063)
          val c = compileCond(cond, env.copy(out = out, errPath = s"steps[$si].when"))
          val keep = guarded(coalesce(c.value, lit(false)) && !c.missing, s"steps[$si].when",
            rec, warnAlive)
          val alive = keepCol
          val thenC = compileSubRule(ruleLoader(thenPath), out, env,
            warnWhile(alive && keep), rec, s"steps[$si].then/")
          val elseC = elsePath.map(p => compileSubRule(ruleLoader(p), out, env,
            warnWhile(alive && !keep), rec, s"steps[$si].else/"))
          // sub-rule record_when / per-record finalize drops apply only to
          // the records routed to that side
          drop(when(keep, thenC.keep.getOrElse(lit(true)))
            .otherwise(elseC.flatMap(_.keep).getOrElse(lit(true))))
          val branchOut = mergeBranchOutputs(keep, thenC.out,
            elseC.map(_.out).getOrElse(ListMap.empty))
          if (ret) { out = branchOut; replaced = true } // output replaced, stop
          else out = deepMergeOut(out, branchOut)
      }
      recordStage(s"steps[$si]")
    }
    Compiled(df, out, keepCol, warns.toSeq, rec)
  }

  /** A condition that decides a record's path at `path` (a `record_when`,
    * a branch or mapping `when`), recorded for the trace. One that can
    * raise is wrapped in [[CaughtCond]], so an eval error makes it false and
    * hands `warn` whether it raised and its warning, instead of aborting the
    * job (eval_when / eval_record_when, transform.rs:1041-1091). One that
    * cannot is returned as it is, so a filter on it pushes into the scan. */
  private def guarded(raw: Column, path: String, rec: Recorder,
      warn: (Column, Column) => Unit): Column =
    if (CaughtCond.canRaise(raw)) {
      val cc = CaughtCond(raw, path)
      rec.caught(path, cc)
      warn(cc.getField("kind").isNotNull, caughtWarning(cc))
      cc.getField("ok")
    } else { rec.flag(path, coalesce(raw, lit(false))); raw }

  /** `ms` compiled in order into `out`: each mapping sees the fields
    * before it as `@out`, and a nested target merges into its top-level
    * field. `pathPrefix` is the mappings' error path. */
  private def foldMappings(ms: Seq[Mapping], out: Fields, env: Env, pathPrefix: String,
      onWarn: Column => Unit, rec: Recorder): Fields =
    ms.zipWithIndex.foldLeft(out) { case (acc, (m, mi)) =>
      val mapped = compileMapping(m, env.copy(out = acc), s"$pathPrefix[$mi]", onWarn, rec)
      val key = m.target.head
      acc + (key -> (if (m.target.size == 1) mapped else nest(acc.get(key), m.target.tail, mapped)))
    }

  /** A record of the fields `out` as one struct. */
  private def recordOf(out: Fields): CE = CE.present(struct(valueColumns(out): _*), recordType(out))

  /** The type of a record of the fields `out`. */
  private def recordType(out: Fields): StructType =
    StructType(out.map { case (n, ce) => StructField(n, ce.tpe) }.toSeq)

  /** The fields `out` as a sink projects them: each value null where it is
    * missing. */
  private def projected(out: Fields): Seq[(String, CE)] =
    out.toSeq.map { case (n, ce) => n -> ce.copy(value = ce.valueOrNull) }

  /** One column per field of `out`, named by it. */
  private def valueColumns(out: Fields): Seq[Column] =
    projected(out).map { case (n, ce) => ce.value.as(n) }

  /** A compiled branch sub-rule: its output fields plus an optional
    * per-record keep predicate (record_when / per-record finalize drops). */
  private case class SubCompiled(out: Fields, keep: Option[Column])

  /** Compile a branch sub-rule: its @input is the CURRENT @out
    * (transform.rs:491-527). The sub-transform runs PER RECORD — its whole
    * "record set" is the one record being branched — so record_when and
    * finalize compile to per-record predicates and projections: filter/
    * record_when gate the record, offset≥1 or limit=0 drop it, sort is a
    * no-op, and wrap sees @out as the one-record array (tv40/tv41). */
  private def compileSubRule(sub: RuleFile, out: Fields, outer: Env,
      onWarn: Column => Unit, outerRec: Recorder, scope: String): SubCompiled = {
    val ms = sub.mappings ++ sub.steps.collect { case StepMappings(m) => m }.flatten
    // the trace renders the sub-rule as compiled: steps other than
    // mappings are not part of a branch target's plan
    val rec = outerRec.subRule(scope, sub.copy(mappings = ms, steps = Nil))
    val subInput: Seq[String] => CE = {
      case Seq() => recordOf(out)
      case Seq(head, rest @ _*) =>
        out.get(head).map(descend(_, rest)).getOrElse(CE.missing)
    }
    val subEnv = Env(input = subInput, context = outer.context)
    var keep: Option[Column] = sub.recordWhen.map { cond =>
      val c = compileCond(cond, subEnv.copy(errPath = "record_when"))
      guarded(coalesce(c.value, lit(false)) && !c.missing, "record_when", rec,
        (raised, w) => onWarn(when(raised, w)))
    }
    // a record the sub-rule's record_when dropped never evaluates the
    // sub-rule's mappings, so its when-warnings are gated on the keep
    val subAlive = keep.getOrElse(lit(true))
    var subOut = foldMappings(ms, ListMap.empty, subEnv, "mappings",
      w => onWarn(when(subAlive, w)), rec)
    rec.json("mappings", objectJson(projected(subOut)))
    sub.finalizeSpec.foreach { fin =>
      val itemCE = recordOf(subOut)
      val finEnv = Env(
        input = { path => path.headOption.flatMap(subOut.get)
          .map(ce => descend(ce, path.tail)).getOrElse(CE.missing) },
        context = outer.context, item = Some(itemCE), itemIndex = Some(lit(0L)))
      fin.filter.foreach { cond =>
        val c = compileCond(cond, finEnv)
        val p = coalesce(c.value, lit(false)) && !c.missing
        keep = Some(keep.map(_ && p).getOrElse(p))
      }
      fin.offset.foreach { n =>
        if (n >= 1) keep = Some(lit(false))
      }
      fin.limit.foreach { n =>
        if (n <= 0) keep = Some(lit(false))
      }
      if (fin.wrap.nonEmpty) {
        val wenv = Env(input = _ => CE.missing, context = outer.context,
          outWhole = Some(CE.present(array(itemCE.value), ArrayType(itemCE.tpe))))
        subOut = ListMap(fin.wrap.map { case (n, wv) => n -> compileWrap(wv, wenv) }: _*)
      }
    }
    val kept = keep.getOrElse(lit(true))
    rec.flag("mappings.kept", kept)
    rec.json("out", when(kept, objectJson(projected(subOut))))
    SubCompiled(subOut, keep)
  }

  /** Route each record's branch outputs by the condition: a field produced
    * only by one side is missing on the other side's records, and a field
    * both sides produce is their per-record choice. */
  private def mergeBranchOutputs(keep: Column, thenOut: Fields, elseOut: Fields): Fields =
    ListMap((thenOut.keys ++ elseOut.keys.filterNot(thenOut.contains)).toSeq.map { k =>
      k -> ((thenOut.get(k), elseOut.get(k)) match {
        case (Some(t), Some(e)) => choose(Seq(keep -> t), e, when(keep, t.missing).otherwise(e.missing))
        case (Some(t), None) => CE(when(keep, t.value), !keep || t.missing, t.tpe)
        case (None, Some(e)) => CE(when(!keep, e.value), keep || e.missing, e.tpe)
        case (None, None) => CE.missing
      })
    }: _*)

  /** deep-merge branch output into @out (return:false): produced fields
    * overwrite per row; fields the branch didn't produce (missing on that
    * row) keep their existing value, whatever its type (merge semantics
    * transform.rs:533-564). Differently-shaped objects DEEP-merge (tv42:
    * branch adds user.name next to the existing user.id); rows where the
    * branch produced nothing keep the old object in the merged shape: its
    * merge with a missing one. */
  private def deepMergeOut(out: Fields, branch: Fields): Fields =
    out ++ branch.map { case (k, b) =>
      k -> out.get(k).fold(b) { old =>
        val (kept, merged) = (old.tpe, b.tpe) match {
          case (ot: StructType, bt: StructType) if ot != bt =>
            (ObjectOps.mergeStructs(old, CE(lit(null).cast(b.tpe), lit(true), b.tpe), deep = true),
              ObjectOps.mergeStructs(old, b, deep = true))
          case _ => (old, b)
        }
        choose(Seq(!b.missing -> merged), kept, b.missing && old.missing)
      }
    }

  /** Typed-DataFrame sink: one column per top-level target; missing
    * collapses to null at this typed boundary. With finalize.wrap the
    * result is ONE row of the wrap fields (@out = the whole output array —
    * wrap is a driver-edge collect point, like the reference's full
    * materialization, transform.rs:707-749). */
  def transform(rule: RuleFile, input: DataFrame, context: JValue = JNull,
      nullAsMissing: Boolean = false, ruleLoader: RuleLoader = noLoader): DataFrame = {
    val c = compilePlan(rule, input, context, nullAsMissing, ruleLoader)
    val projected = applyFinalize(rule, c.df.select(valueColumns(c.out) :+ col("__order"): _*), c.out,
      context).drop("__order")
    rule.finalizeSpec.filter(_.wrap.nonEmpty) match {
      case Some(fin) =>
        val (single, wenv) = wrapScope(projected, c.out, context)
        single.select(valueColumns(ListMap(fin.wrap.map { case (n, wv) => n -> compileWrap(wv, wenv) }: _*)): _*)
      case None => projected
    }
  }

  /** Collect the (finalized, ordered) output into one row and build the
    * wrap evaluation scope where bare @out is the whole record array.
    * `more` are further aggregates of the same row. */
  private def wrapScope(projected: DataFrame, out: Fields, context: JValue,
      more: Column*): (DataFrame, Env) = {
    // coalesce(1) after the finalize sort keeps global order in the single
    // partition, so collect_list preserves the output array order
    val single = projected.coalesce(1).agg(
      collect_list(struct(out.keys.map(column).toSeq: _*)).as("__all"), more: _*)
    val wenv = Env(input = _ => CE.missing, context = context,
      outWhole = Some(CE.present(col("__all"), ArrayType(recordType(out)))))
    (single, wenv)
  }

  private def compileWrap(w: WrapValue, env: Env): CE = w match {
    case WExpr(e) => ExprCompiler.compile(e, env)
    case WObject(fields) => recordOf(ListMap(fields.map { case (n, v) => n -> compileWrap(v, env) }: _*))
  }

  /** Reference-exact JSON sink: missing fields are ABSENT from the output
    * object, null fields are explicit nulls (the reference's load-bearing
    * distinction, docs/rules_spec_en.md:428-430). Target paths are static,
    * so the object is assembled at plan time from per-field JSON fragments —
    * one concat per record, fully codegen'd, no driver loop. */
  def toJsonRecords(rule: RuleFile, input: DataFrame, context: JValue = JNull,
      nullAsMissing: Boolean = false, ruleLoader: RuleLoader = noLoader): DataFrame =
    jsonSink(rule, compilePlan(rule, input, context, nullAsMissing, ruleLoader), context)

  /** The reference's transform_with_warnings (transform.rs:194-249): the
    * JSON output plus the warnings side channel as a second DataFrame
    * (kind, path, message — reference emission order: record order, and
    * within a record, record_when first then mappings in order). Dropped
    * records keep their warnings: the output plan filters on the keep
    * predicate while the warnings plan reads every record. */
  final case class JsonWithWarnings(output: DataFrame, warnings: DataFrame)

  def toJsonRecordsWithWarnings(rule: RuleFile, input: DataFrame,
      context: JValue = JNull, nullAsMissing: Boolean = false,
      ruleLoader: RuleLoader = noLoader): JsonWithWarnings = {
    val c = compilePlan(rule, input, context, nullAsMissing, ruleLoader,
      collectWarnings = true)
    val output = jsonSink(rule, c.copy(df = c.df.filter(c.keep)), context)
    val warnings =
      if (c.warns.isEmpty)
        c.df.select(lit("").as("kind"), lit("").as("path"), lit("").as("message"))
          .limit(0)
      else c.df
        .select(col("__order"), array(c.warns: _*).as("__w"))
        // posexplode: the within-record position is part of the sort key —
        // relying on sort stability for equal __order rows is not a Spark
        // contract (an external-sort spill may interleave equal keys)
        .select(col("__order"),
          posexplode(filter(col("__w"), w => w.isNotNull)).as(Seq("__pos", "w")))
        .orderBy("__order", "__pos")
        .select(col("w.kind").as("kind"), col("w.path").as("path"),
          col("w.message").as("message"))
    JsonWithWarnings(output, warnings)
  }

  /** Collect a warnings DataFrame into reference-shaped [[Warning]]s. */
  def collectWarnings(warnings: DataFrame): Seq[Warning] =
    warnings.collect().toSeq.map(r => Warning(r.getString(0), r.getString(1), r.getString(2)))

  /** [[toJsonRecords]]'s output plus what its plan recorded on the way
    * (see [[Recorder]]): each mapping's pipe stages, `when` gate and
    * written value, each stage's cumulative `@out` and keep state, the
    * record_when / assert / branch outcomes, and the branch sub-rules the
    * plan compiled. `values` holds the first input record's recorded JSON
    * by key; a value that was missing or raised has no key. */
  final case class Traced(output: Seq[String], values: Map[String, String],
      subRules: Map[String, RuleFile])

  /** The serving edge's traced run: the jobs of the untraced run, and none
    * on a driver-local input. Record drops stay keep-state, so the first
    * input record is traced even when the output drops it. Where its values
    * come from depends on the input ([[graft.sources.Sources.isLocal]]):
    *  - local: a second plan over the same compiled records selects the
    *    first one (`__order` 0); it folds into a `LocalRelation` wherever
    *    the output's plan does, so neither starts a job.
    *  - distributed: the values ride the output's job as an observed metric
    *    taken below the keep filter (an observation blocks the fold, so only
    *    this side uses one). */
  def toJsonRecordsTraced(rule: RuleFile, input: DataFrame,
      context: JValue = JNull, nullAsMissing: Boolean = false,
      ruleLoader: RuleLoader = noLoader): Traced = {
    val c = compilePlan(rule, input, context, nullAsMissing, ruleLoader, trace = true)
    val (keys, cols) = c.rec.recorded.unzip
    val recorded = struct(cols.zipWithIndex.map { case (v, i) => v.as(s"v$i") }: _*)
    def sink(df: DataFrame): DataFrame = jsonSink(rule, c.copy(df = df.filter(c.keep)), context)
    val (out, first) =
      if (Sources.isLocal(input))
        (sink(c.df).collect(), c.df.filter(col("__order") === 0L).select(recorded)
          .collect().headOption.map(_.getStruct(0)))
      else {
        val observed = sink(c.df.observe("trace", min_by(recorded, col("__order")).as("first")))
        (observed.collect(),
          observed.queryExecution.observedMetrics.get("trace").map(_.getStruct(0)))
      }
    val values = first.filter(_ != null).map(f => keys.zipWithIndex.collect {
      case (k, i) if !f.isNullAt(i) => k -> f.getString(i)
    }.toMap).getOrElse(Map.empty[String, String])
    Traced(out.toSeq.map(_.getString(0)), values, c.rec.compiledSubRules)
  }

  /** Per-item shape of the reference's transform_stream
    * (transform.rs:163-190) for the CLI's NDJSON mode: one row per input
    * record that survived OR warned, in record order, carrying `json`
    * (null when the record was dropped — the reference item's
    * `output: None`) and `warnings` (the record's own warnings in
    * emission order). The CLI interleaves: each item's warnings go to
    * stderr before that item's output line (main.rs:350-377). Finalize
    * is banned in stream mode (transform.rs:168-173): a rule that has one
    * raises `InvalidInput` before compiling. */
  def ndjsonWithWarnings(rule: RuleFile, input: DataFrame,
      context: JValue = JNull, nullAsMissing: Boolean = false,
      ruleLoader: RuleLoader = noLoader): DataFrame = {
    if (rule.finalizeSpec.nonEmpty)
      throw RmError("InvalidInput", "", "finalize is not supported in stream mode")
    val c = compilePlan(rule, input, context, nullAsMissing, ruleLoader,
      collectWarnings = true)
    val recordJson = objectJson(projected(c.out))
    val warnsCol =
      if (c.warns.isEmpty) array().cast(ArrayType(CaughtCond.warningSchema))
      else filter(array(c.warns: _*), w => w.isNotNull)
    // when() treats a null keep predicate as false — same drop semantics
    // as the filter() in toJsonRecordsWithWarnings
    c.df.select(col("__order"), when(c.keep, recordJson).as("json"),
        warnsCol.as("warnings"))
      .filter(col("json").isNotNull || size(col("warnings")) > 0)
      .orderBy("__order")
      .select("json", "warnings")
  }

  private def jsonSink(rule: RuleFile, c: Compiled, context: JValue): DataFrame = {
    val cols = valueColumns(c.out) ++ c.out.map { case (name, ce) => ce.missing.as(s"__miss_$name") }
    val projected = applyFinalize(rule, c.df.select(cols :+ col("__order"): _*), c.out, context)
    val recordJson = objectJson(c.out.toSeq.map { case (name, ce) =>
      name -> CE(column(name), column(s"__miss_$name"), ce.tpe)
    })
    rule.finalizeSpec.filter(_.wrap.nonEmpty) match {
      case Some(fin) =>
        // wrap ⇒ output is ONE JSON object. A wrap value that is exactly
        // `@out` renders the pre-built per-record JSON (missing fields stay
        // absent inside records); other exprs evaluate over the value array.
        val (single, wenv) = wrapScope(projected, c.out, context,
          collect_list(recordJson).as("__alljson"))
        def wrapJson(w: WrapValue): Column = w match {
          case WExpr(ERef(ROut, Seq())) =>
            concat(lit("["), array_join(col("__alljson"), ","), lit("]"))
          case WExpr(e) =>
            val ce = ExprCompiler.compile(e, wenv)
            jsonFragment(ce.valueOrNull, ce.tpe)
          case WObject(fields) => braced(fields.map { case (n, v) => member(n, wrapJson(v)) })
        }
        single.select(wrapJson(WObject(fin.wrap)).as("json"))
      case None => projected.select(recordJson.as("json"))
    }
  }

  /** A top-level column by its exact name: backtick-quoted, since `col`
    * reads a dotted name (t08 escaped keys) as a nested field path. */
  private def column(name: String): Column = col(s"`${name.replace("`", "``")}`")

  /** The one JSON object of a record's fields, in order: a field whose
    * missing flag holds is absent. Each value is encoded as it is given, so
    * callers pass the value a sink projects: [[projected]], or the
    * projected columns themselves. */
  private def objectJson(fields: Seq[(String, CE)]): Column =
    braced(fields.map { case (name, ce) =>
      when(ce.missing, lit(null).cast(StringType)).otherwise(member(name, jsonFragment(ce.value, ce.tpe)))
    })

  /** A JSON object of `"key":value` member texts; a null member is left out. */
  private def braced(members: Seq[Column]): Column =
    concat(lit("{"), concat_ws(",", members: _*), lit("}"))

  private def member(name: String, json: Column): Column =
    concat(lit(ScalarJson.quote(name) + ":"), json)

  /** The (kind, path, message) warning of a [[CaughtCond]] outcome. */
  private def caughtWarning(cc: Column): Column =
    struct(cc.getField("kind").as("kind"), cc.getField("path").as("path"),
      cc.getField("message").as("message"))

  // finalize (transform.rs:603-714): filter → stable sort → offset → limit
  private def applyFinalize(rule: RuleFile, dfIn: DataFrame, out: Fields,
      context: JValue): DataFrame = {
    var result = dfIn
    rule.finalizeSpec.foreach { fin =>
      // the output fields with their compiled types (the frame's own schema
      // does not keep the tags of Absentable fields inside values)
      val outSchema = recordType(out).fields.toSeq
      // @item in finalize = the whole output record (docs/rules_spec: the
      // finalize filter runs over each output record)
      val itemCE = resolveFromSchema(outSchema)(Nil)
      fin.filter.foreach { cond =>
        // @item.index = 0-based output-record index (tv39): a window over
        // the stable __order — materialized as a column since window
        // expressions cannot live inside a WHERE clause. A filter that does
        // not read the index plans no window: Catalyst's ColumnPruning drops
        // the unread column and its window (EngineSpec pins both cases)
        val w = org.apache.spark.sql.expressions.Window.orderBy(col("__order"))
        val withIdx = result.withColumn("__idx",
          row_number().over(w).cast(org.apache.spark.sql.types.LongType) - 1L)
        val finEnv = Env(input = resolveFromSchema(outSchema), context = context,
          item = Some(itemCE), itemIndex = Some(col("__idx")))
        val c = compileCond(cond, finEnv)
        result = withIdx.filter(c.value && !c.missing).drop("__idx")
      }
      fin.sort.foreach { s =>
        val key = resolveFromSchema(outSchema)(s.by)
        // a sort key no mapping produces is a rule error, not an empty sort
        // (apply_finalize rejects unknown keys — transform.rs:636-650)
        if (key eq CE.missing)
          throw RmError("InvalidRef", "finalize.sort.by",
            s"unknown sort key: ${s.by.mkString(".")}")
        val k = if (s.descending) key.value.desc else key.value.asc
        result = result.orderBy(k, col("__order").asc) // stable: ties keep input order
      }
      fin.offset.foreach(n => result = result.offset(n))
      fin.limit.foreach(n => result = result.limit(n))
    }
    result
  }

  /** One mapping: when-gate → expr → default/required → cast
    * (eval_mapping, transform.rs:953-1039). `pathBase` is the reference
    * error path of this mapping (e.g. "mappings[0]"). A when-condition
    * that errors at eval time skips the mapping and reports through
    * `onWarn` (eval_when, transform.rs:1041-1063) instead of aborting. */
  private def compileMapping(m: Mapping, env: Env, pathBase: String,
      onWarn: Column => Unit, rec: Recorder): CE = {
    // every pipe stage is a sub-Column of the mapping's value; the trace
    // records each one (a bare expr is its own single stage)
    val exprEnv = env.copy(errPath = s"$pathBase.expr")
    val base = m.expr match {
      case EPipe(start, steps) => ExprCompiler.compilePipe(start, steps, exprEnv,
        (k, ce) => rec(s"$pathBase.pipe[$k]", ce))
      case e =>
        val ce = ExprCompiler.compile(e, exprEnv)
        rec(s"$pathBase.pipe[0]", ce)
        ce
    }

    // when gate FIRST (eval_when, transform.rs:1041-1063): a skipped mapping
    // never evaluates default/required — the required-error below must be
    // guarded by `keep` or skipped records would raise it
    val keep: Column = m.when.fold(lit(true)) { cond =>
      val c = compileCond(cond, env.copy(errPath = s"$pathBase.when"))
      guarded(coalesce(c.value, lit(false)) && !c.missing, s"$pathBase.when", rec,
        (raised, w) => onWarn(when(raised, w)))
    }

    // default: missing → default value; required+missing/null → error
    // (MissingRequired at the mapping path, transform.rs:1007-1030)
    val withDefault = m.default match {
      case Some(d) => choose(Seq(base.missing -> constant(d)), base, missing = lit(false))
      case None if m.required =>
        // a statically-missing required ref has NullType, whose JSON
        // encoding is a constant — widen so the raising column is actually
        // read by the sink and the error fires per kept record (p02)
        val tpe = if (base.tpe == NullType) StringType else base.tpe
        CE(when(keep && (base.missing || ExprCompiler.isJsonNull(base)),
          RmError.raiseCol("MissingRequired", pathBase, "required value is missing")
            .cast(tpe)).otherwise(base.value.cast(tpe)), lit(false), tpe)
      case None => base
    }

    // type cast: string|int|float|bool, strict (cast_value
    // transform.rs:5925-6002): TypeCastFailed at "<mapping>.type"
    val casted = m.castTo match {
      case Some(t) => ScalarOps.strictCast(withDefault, t, s"$pathBase.type")
      case None => withDefault
    }
    // the value the mapping writes when its gate is open
    rec(s"$pathBase.out", casted)

    // when false ⇒ skipped ⇒ missing (field absent)
    if (m.when.isEmpty) casted
    else CE(when(keep, casted.value).otherwise(lit(null).cast(casted.tpe)),
      casted.missing || !keep, casted.tpe)
  }

  /** Merge a value into a nested struct target path (set_path semantics,
    * transform.rs:6075-6138 — objects only, conflicts are validation
    * errors). A mapping whose value is missing sets nothing (SURVEY §2.2:
    * a skipped mapping is absent, not null), so a child that can be
    * missing is an [[ExprCompiler.Absentable]] field, and an object no
    * mapping has set a child of is missing itself. */
  private def nest(existing: Option[CE], path: Seq[String], value: CE): CE = {
    if (path.isEmpty) value
    else {
      val (siblings, childExisting) = existing match {
        case Some(e) => e.tpe match {
          case st: StructType =>
            val sibs = st.fields.toSeq.filterNot(_.name == path.head).map { f =>
              val raw = e.value.getField(f.name)
              // the fields of an object that may be missing are absent with it
              if (isStaticFalse(e.missing)) raw -> f
              else if (Absentable.valueType(f).isDefined) when(!e.missing, raw) -> f
              else Absentable.wrap(CE(raw, e.missing, f.dataType)) ->
                Absentable.field(f.name, f.dataType)
            }
            (sibs, st.fields.find(_.name == path.head).map(ExprCompiler.field(e, _)))
          case _ => (Nil, None)
        }
        case None => (Nil, None)
      }
      val child = nest(childExisting, path.tail, value)
      val childMember =
        if (isStaticFalse(child.missing)) child.value -> StructField(path.head, child.tpe)
        else Absentable.wrap(child) -> Absentable.field(path.head, child.tpe)
      val all = siblings :+ childMember
      val missing = existing match {
        case Some(e) if !isStaticFalse(e.missing) && !isStaticFalse(child.missing) =>
          e.missing && child.missing
        case Some(_) => lit(false)
        case None => child.missing
      }
      CE(struct(all.map { case (v, f) => v.as(f.name, f.metadata) }: _*), missing,
        StructType(all.map(_._2)))
    }
  }

  /** Single-record evaluation for the serving edge (endpoint reply
    * status/body, network url/body, step `when`): the SAME compiled Column
    * the batch plans use, driven over a one-row DataFrame. `prefix`
    * re-roots `@input` below a wrapper column — the serving edge wraps
    * non-object pipeline values (arrays) as {"__v": value} so the same
    * schema-driven resolver applies. Returns the JSON encoding of the
    * value, or None when the expression is missing. */
  def evalExprJson(e: Expr, input: DataFrame, context: JValue,
      prefix: Seq[String]): Option[String] = {
    val fields = resolveFromSchema(input.schema.fields.toSeq)
    val ce = ExprCompiler.compile(e, Env(input = path => fields(prefix ++ path), context = context))
    val row = input.limit(1)
      .select(jsonFragment(ce.valueOrNull, ce.tpe).as("v"), coalesce(ce.missing, lit(false)).as("m"))
      .collect()(0)
    if (row.getBoolean(1) || row.isNullAt(0)) None else Some(row.getString(0))
  }

  /** Resolver over a record's ordered top-level fields; deeper path
    * segments descend through structs/arrays; unknown head ⇒ missing; the
    * EMPTY path is the whole record as a struct (`@input` bare ref).
    * `nullIsAbsent` as in [[ExprCompiler.field]]. */
  def resolveFromSchema(fields: Seq[StructField], nullIsAbsent: Boolean = false)
      : Seq[String] => CE = { path =>
    path match {
      case Seq() =>
        CE.present(struct(fields.map(f => column(f.name).as(f.name, f.metadata)): _*),
          StructType(fields))
      case Seq(head, rest @ _*) =>
        fields.find(_.name == head) match {
          case Some(f) =>
            descend(ExprCompiler.fieldOf(column(head), lit(false), f, nullIsAbsent), rest,
              nullIsAbsent)
          case None => CE.missing
        }
    }
  }
}
