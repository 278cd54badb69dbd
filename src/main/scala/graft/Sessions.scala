package graft
import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built: every main and every spec asks
  * here. A session runs `cores` local threads (or `master` when given) with
  * `cores` shuffle partitions, the UTC session time zone, no web UI, and
  * `logLevel` on its SparkContext.
  *
  * `getOrCreate` semantics: in a JVM that already holds a session (the
  * spec suites share one; a harness may build its own before calling
  * `Cli.run`) the existing session is returned with the SQL confs above
  * applied to it — master and UI only take effect on the first build. */
object Sessions {
  def local(cores: Int, logLevel: String = "WARN",
      master: Option[String] = None): SparkSession = {
    val s = SparkSession.builder()
      .master(master.getOrElse(s"local[$cores]"))
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel(logLevel)
    s
  }
}
