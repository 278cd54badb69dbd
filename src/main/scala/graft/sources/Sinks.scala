package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}

/** Scale-oriented parquet sinks beyond the reference's CSV/JSON/NDJSON
  * surface: bucketed tables (two tables bucketed on the same key with the
  * same bucket count join with ZERO shuffle — the physical layout
  * replaces the exchange).
  *
  * At 100 TB the write-side choices dominate every later read: a corpus
  * bucketed by doc_id makes the daily
  * incremental-dedup join ([[graft.operators.Dedup.dedupAgainstIndex]])
  * and any per-doc enrichment join co-located by construction.
  */
object Sinks {

  /** Bucketed (and optionally sorted) parquet table in the session
    * catalog. Joins/aggregations on the bucket key between tables with
    * the same bucketing skip the shuffle entirely; sortBy additionally
    * lets sort-merge join skip its sort. Bucketed tables must go through
    * the catalog (`saveAsTable`) — a plain path write loses the bucket
    * metadata. */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
      buckets: Int, sortCols: Seq[String] = Nil,
      mode: SaveMode = SaveMode.Overwrite,
      path: Option[String] = None): Unit = {
    val base = df.write.mode(mode).format("parquet")
    val w = path.fold(base)(p => base.option("path", p))
      .bucketBy(buckets, bucketCol)
    val ws = sortCols match {
      case head +: tail => w.sortBy(head, tail: _*)
      case _ => w
    }
    ws.saveAsTable(table)
  }
}
