package org.apache.spark.sql.perfbench

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The end-of-execution event carries its QueryExecution in a Spark-private
  * field; this bridge reads it so the tracer can tie a QueryExecution seen by
  * a QueryExecutionListener back to the SQL execution id its jobs ran under. */
object SqlBridge {
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
