package graft.queries

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One query of the suite: its name, the builder that plans it over the
  * tables under a dataset directory, and how its result is checked. */
final case class Query(name: String, build: (SparkSession, String) => DataFrame,
    check: Check)

/** How a query's result is checked. */
sealed trait Check

/** DuckDB SQL over the same parquet tables that must return the same rows,
  * cell for cell. */
final case class Oracle(sql: String) extends Check

/** An approximate query no SQL engine restates bit for bit: `spec` is the
  * fully qualified name of the ScalaTest spec that states its contract. */
final case class Property(spec: String) extends Check

/** A family of queries. Each `query(...)` call sits next to its builder and
  * declares the query exactly once. */
abstract class QueryFamily {
  private val declared = mutable.ArrayBuffer.empty[() => Query]

  /** `check` is by-name: oracle SQL interpolates constants and CTEs that
    * may be declared further down the object (or in another family), so it
    * is evaluated only once every object is built, on first use of
    * [[entries]]. */
  protected def query(name: String, check: => Check)(
      build: (SparkSession, String) => DataFrame): Unit =
    declared += (() => Query(name, build, check))

  final lazy val entries: Seq[Query] = declared.map(_()).toSeq
}

/** The one list of queries, from which `SparkEntry.queries`,
  * `SparkEntry.oracleSql` and the property-checked set all derive. */
object Registry {
  val families: Seq[QueryFamily] = Seq(Relational, Scalar, HigherOrder,
    EngineQueries, Extensions, DedupQueries, AnnQueries, QualityQueries,
    TokenQueries, SamplingQueries, AuditQueries)

  lazy val all: Seq[Query] = of(families.flatMap(_.entries))

  /** `queries` unchanged, after checking that no name repeats: two entries
    * under one name would otherwise leave only one of them in the
    * name-keyed maps. */
  def of(queries: Seq[Query]): Seq[Query] = {
    val repeated = queries.groupBy(_.name).collect {
      case (name, qs) if qs.size > 1 => name }
    require(repeated.isEmpty,
      s"query registry declares ${repeated.toSeq.sorted.mkString(", ")} more than once")
    queries
  }
}
