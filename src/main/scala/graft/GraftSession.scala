package graft

import org.apache.spark.sql.SparkSession

/** The one session bootstrap every graft main and the test fixture
  * build on: `local[cpus]` with as many shuffle partitions, UTC, the
  * parquet field-id read/write conf the Iceberg and column-mapped Delta
  * paths resolve by, the SQL extensions, and the `graft` catalog rooted
  * at `warehouse`. Callers add their own conf (app name, log level) on
  * the returned builder. */
private[graft] object GraftSession {
  def builder(cpus: Int, warehouse: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      // parallelismFirst=false lets AQE coalesce micro-shuffles to the
      // advisory size: measured at sf0.1, local[32] drops 76.4s -> 62.7s
      // (32-way micro-partition task overhead dominated), while local[4]
      // REGRESSES 54s -> 63s (the few big window/sort shuffles lose their
      // parallelism). So flip it only when cores outnumber the useful
      // partition count for this volume. At real scale partitions exceed
      // the advisory target and the flag changes nothing either way.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", (cpus < 16).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.fieldId.read.enabled", "true")
      .config("spark.sql.parquet.fieldId.write.enabled", "true")
      .config("spark.sql.extensions", "org.apache.spark.sql.graft.GraftSparkExtensions")
      .config("spark.sql.catalog.graft", "org.apache.spark.sql.graft.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse", warehouse)
}
