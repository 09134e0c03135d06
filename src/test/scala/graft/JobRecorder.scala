package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.streaming.StreamingQuery

/** Records every Spark job started while installed: the streaming
  * query and micro-batch that ran it (Spark's `sql.streaming.queryId`
  * and `streaming.sql.batchId` local properties, which the micro-batch
  * thread sets and broadcast/AQE threads inherit), and the Dataset
  * action whose SQL execution it belongs to (`isEmpty`, `count`,
  * `save`, ... — one action can run several jobs: AQE stages, broadcast
  * builds). Call sites cannot attribute streaming jobs: the query pins
  * every micro-batch job's call site to its own `start`. The job-count
  * and cadence specs share this; so can any spec that pins what a code
  * path costs in jobs. */
final class JobRecorder private (sc: SparkContext) extends SparkListener {
  import JobRecorder.Job

  private val jobs = new ConcurrentLinkedQueue[(Option[String], Option[Long], Option[Long])]()
  private val actions = new ConcurrentHashMap[Long, String]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    jobs.add((prop("sql.streaming.queryId"),
      prop("streaming.sql.batchId").map(_.toLong),
      prop("spark.sql.execution.id").map(_.toLong)))
    ()
  }

  // the action name rides the execution-end event as a Spark-internal
  // field (`executionName`, what QueryExecutionListeners receive);
  // read reflectively, it stays a test-only dependency
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd =>
      classOf[SparkListenerSQLExecutionEnd].getMethod("executionName")
        .invoke(end).asInstanceOf[Option[String]]
        .foreach(actions.put(end.executionId, _))
    case _ => ()
  }

  /** Every job recorded so far. Listener delivery is asynchronous, so
    * this first waits for the bus to deliver everything already posted
    * (`waitUntilEmpty` is Spark-internal too, reached the same way). */
  def recorded(): Seq[Job] = {
    val bus = classOf[SparkContext].getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    jobs.asScala.toSeq.map { case (q, b, x) =>
      Job(q, b, x, x.flatMap(id => Option(actions.get(id))).getOrElse(""))
    }
  }

  /** `q`'s jobs per micro-batch, in batch order. */
  def perBatch(q: StreamingQuery): Seq[Seq[Job]] =
    recorded().filter(j => j.queryId.contains(q.id.toString) &&
        j.batchId.isDefined)
      .groupBy(_.batchId.get).toSeq.sortBy(_._1).map(_._2)
}

object JobRecorder {
  final case class Job(queryId: Option[String], batchId: Option[Long],
                       executionId: Option[Long], action: String)

  /** Run `body` with a fresh recorder installed on `spark`. */
  def during[T](spark: SparkSession)(body: JobRecorder => T): T = {
    val sc = spark.sparkContext
    val r = new JobRecorder(sc)
    sc.addSparkListener(r)
    try body(r) finally sc.removeSparkListener(r)
  }
}
