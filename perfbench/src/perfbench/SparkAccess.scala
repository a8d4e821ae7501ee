// Access to three Spark-private members the benchmark reads from outside
// the program. Each object sits in the package that makes its member
// visible; nothing here changes Spark's behaviour.

package org.apache.spark.scheduler {
  import org.apache.spark.SparkContext

  object PerfbenchScheduler {
    /** Jobs submitted so far in this context, counted synchronously by
      * the DAG scheduler (no listener, so untraced runs stay untraced). */
    def jobsSubmitted(sc: SparkContext): Int = sc.dagScheduler.nextJobId.get

    /** Block until every listener queue, the streaming one included,
      * has delivered its events. */
    def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }
}

package org.apache.spark.sql.execution.ui {
  import org.apache.spark.sql.execution.QueryExecution

  object PerfbenchSql {
    /** The finished execution's QueryExecution (null when Spark did not
      * attach one). */
    def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
  }
}
