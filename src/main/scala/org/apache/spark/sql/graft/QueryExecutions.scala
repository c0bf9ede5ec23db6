package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.QueryExecution

/** The one package-private Spark call graft needs: a DataFrame over an
  * existing `QueryExecution`. */
object QueryExecutions {
  /** A DataFrame over `qe` itself, so its plan is not analyzed again and
    * `qe`'s phase tracker is the one listeners see. */
  def dataFrame(qe: QueryExecution): DataFrame =
    new Dataset(qe, Encoders.row(qe.analyzed.schema))
}
