package graft

import org.apache.spark.sql.DataFrame

/** The scan respread policy the library's own lineitem scoring entry
  * applies (`SparkEntry.respread`, package-private), so the benchmark's
  * scoring op runs the library's policy rather than a copy of it. */
object PerfbenchAccess {
  def respread(df: DataFrame): DataFrame = SparkEntry.respread(df)
}
