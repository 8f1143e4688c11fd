package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** CSV sinks (DataFrameSaver.scala:8-25). Results are tiny (year tables,
  * hop-plots), so a single output file is intended; sort happens BEFORE
  * the coalesce so the range-partitioned sort runs parallel and
  * coalesce(1) concatenates partitions in order (the reference coalesces
  * first, forcing a single-task sort — DataFrameSaver.scala:18-19).
  */
object Sinks {

  def saveSortedAsCsv(df: DataFrame, dir: String, name: String,
      sortBy: String): Unit =
    df.orderBy(col(sortBy)).coalesce(1).write
      .option("header", "true")
      .mode("overwrite")
      .csv(s"$dir/$name")
}
