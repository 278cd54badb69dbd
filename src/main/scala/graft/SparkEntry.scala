package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries._
/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.agg(spark, "/root/testdata/sf0.001")
  /** Every driver query's builder by name, derived from the one
    * declaration of each query in [[graft.queries.Registry]]. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.all.map(q => q.name -> q.build).toMap
  /** For each oracle-checked query, equivalent ANSI SQL runnable by DuckDB
    * on the same parquet tables. The property-checked queries have none. */
  val oracleSql: Map[String, String] =
    Registry.all.collect { case Query(name, _, Oracle(sql)) => name -> sql }.toMap

  /** The query names a focused run measures: every query when `list` is
    * absent, else the comma list's trimmed names, in [[queries]] order. An
    * unknown name or a list naming nothing fails loudly — a typo would
    * otherwise shrink the run silently and still leave a clean-looking
    * artifact (a focused bench record, an empty oracle file). `source`
    * names where the list came from in the error. */
  def selectQueries(list: Option[String], source: String): Seq[String] = {
    val all = queries.keys.toSeq
    list.fold(all) { l =>
      val names = l.split(",").map(_.trim).filter(_.nonEmpty).toSet
      val unknown = names.diff(all.toSet)
      require(unknown.isEmpty,
        s"$source names unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
      require(names.nonEmpty, s"$source names no queries")
      all.filter(names)
    }
  }
}
