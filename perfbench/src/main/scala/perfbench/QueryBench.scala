package perfbench

import java.nio.file.Path

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry

/** A fixed list of `SparkEntry.queries`, run one at a time in round-robin
  * passes over tables generated from the seed (`tables.py`, written before
  * this JVM starts). Warm passes during set-up build every persisted
  * artifact into a fresh artifact root, so the timed passes measure the
  * steady state where artifacts are hit.
  *
  * Each distinct result a query gives is written as parquet once the timed
  * passes end, with the rows it collected; `oracle.py` compares it with
  * DuckDB running the query's `SparkEntry.oracleSql`, and every timed
  * operation that gave a mismatching result counts as failed. */
object QueryBench extends Workload {
  /** Seven of the 160 queries, so that a pass is short enough for several
    * timed passes per run: the three rule-engine queries (one of them a
    * join), an aggregate (a shuffle), string functions, and two queries
    * that build and then hit persisted artifacts. */
  val queries: Seq[String] = Seq(
    "q_rule_filter_project", "q_rule_lookup", "q_rule_finalize",
    "q_distinct", "q_string_ops", "q_simhash", "q_winnow_fingerprint")

  private def root(work: Path) = work.resolve("artifacts")

  override def conf(work: Path): Map[String, String] =
    Map("spark.graft.index.root" -> root(work).toString)

  def run(r: Run): Outcome = {
    val dir = r.work.resolve("tables").toString
    val artifacts = root(r.work)
    Workloads.deleteTree(artifacts)
    def build(q: String): DataFrame = SparkEntry.queries(q)(r.spark, dir)

    // two warm passes: the first builds the artifacts, the second runs the
    // code paths that hit them, so the timed passes measure the steady state
    for (pass <- 1 to 2) {
      queries.foreach(q => build(q).collect())
      r.log(s"warm pass $pass done")
    }
    val rootBytes = Workloads.dirBytes(artifacts)

    val checks = TransformGen.mapper.createArrayNode()
    // each query's distinct results (as row multisets) and their index
    val results = mutable.LinkedHashMap.empty[(String, Map[Row, Int]), (Int, StructType, Array[Row])]
    r.setupDone()
    var ops: Seq[Op] = Nil
    val counters = r.counting {
      ops = Workloads.closedLoop(r.deadlineNs(System.nanoTime()), queries.size) { i =>
        val q = queries(i % queries.size)
        val (res, took) = r.timed(i, q) {
          try {
            val df = if (r.traced) r.tracer.span("queries.build")(build(q)) else build(q)
            val rows: Array[Row] =
              if (r.traced) r.tracer.span("queries.execute")(df.collect()) else df.collect()
            Right((df.schema, rows))
          } catch { case NonFatal(e) => Left(e) }
        }
        res match {
          case Right((schema, rows)) =>
            val key = (q, rows.groupMapReduce(identity)(_ => 1)(_ + _))
            val (id, _, _) = results.getOrElseUpdate(key, (results.size, schema, rows))
            val c = checks.addObject()
            c.put("query", q); c.put("result", id)
            Op(q, took, ok = true, rows.length)
          case Left(e) =>
            System.err.println(s"query_suite: $q failed: $e")
            Op(q, took, ok = false, 0)
        }
      }
    }
    val written = Workloads.dirBytes(artifacts) - rootBytes
    Workloads.deleteTree(artifacts)
    results.values.foreach { case (id, schema, rows) =>
      r.spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
        .write.parquet(r.work.resolve("results").resolve(id.toString).toString)
    }

    val extra = TransformGen.mapper.createObjectNode()
    extra.set("checks", checks)
    val oracle = extra.putObject("oracle_sql")
    queries.foreach(q => SparkEntry.oracleSql.get(q).foreach(sql => oracle.put(q, sql)))
    val layers =
      if (!r.traced) Map.empty[String, Double]
      else {
        val n = ops.size.toDouble
        Main.layerMeans(r, ops.size, counters, Map(
          "queries.build" -> "queries.build_ms", "queries.execute" -> "queries.execute_ms")) ++ Map(
          "spark.execute_ms" -> Tracer.selfMsByName(r.tracer.all).getOrElse("queries.execute", 0.0) / n,
          "queries.build_jobs" -> counters.getOrElse("jobs_in.queries.build", 0.0) / n,
          "artifacts.root_bytes" -> rootBytes.toDouble,
          "artifacts.bytes_written" -> written.toDouble)
      }
    Outcome(ops, layers, extra)
  }
}
