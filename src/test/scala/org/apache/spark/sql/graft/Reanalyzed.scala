package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, classic}

/** A DataFrame over `df`'s unanalyzed logical plan, analyzed afresh — what
  * a view re-resolution or a re-parsed plan does to a query. */
object Reanalyzed {
  def apply(df: DataFrame): DataFrame =
    classic.Dataset.ofRows(df.sparkSession.asInstanceOf[classic.SparkSession],
      df.queryExecution.logical)
}
