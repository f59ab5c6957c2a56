package org.apache.spark.graftspec

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** The jobs `body` runs: their count and the operator scopes of their
  * stages' RDDs (a physical operator's node name, e.g.
  * `ObjectHashAggregate` or `WholeStageCodegen (1)`), and the number of
  * SQL executions it starts. The listener bus
  * and the RDD scope are private to Spark, hence this package.
  */
final class JobLog private () extends SparkListener {
  private val started = new ConcurrentLinkedQueue[Seq[String]]
  @volatile private var sqlStarts = 0

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    started.add(j.stageInfos.flatMap(_.rddInfos.flatMap(_.scope.map(_.name))))
    ()
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case _: SparkListenerSQLExecutionStart => sqlStarts += 1
    case _ =>
  }

  def jobs: Int = started.size
  def sqlExecutions: Int = sqlStarts
  def scopes: Seq[String] = started.asScala.toSeq.flatten.distinct
}

object JobLog {
  def apply[T](sc: SparkContext)(body: => T): (JobLog, T) = {
    val log = new JobLog
    sc.listenerBus.waitUntilEmpty(60000L)
    sc.addSparkListener(log)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty(60000L)
      (log, out)
    } finally sc.removeSparkListener(log)
  }
}
