package graft.perfbench

import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Records raw events from Spark's public listener interfaces as JSON
  * lines, for run.py to turn into spans and metrics.
  *
  * Jobs and SQL executions are attributed by the job tag the harness sets
  * on its thread (`pb:<qid>:b` during the build call, `pb:<qid>:a` during
  * the sink action); untagged jobs and executions are dropped, so passes
  * run without a tag cost the listener one map lookup per event. Stage,
  * SQL-end and plan-update events carry no tag and are kept when they
  * belong to a kept job or execution. Planner phases and streaming
  * progress carry only wall-clock times and are attributed by run.py to
  * the query window they fall in.
  */
final class Recorder extends SparkListener {
  import Recorder._

  val lines = new ConcurrentLinkedQueue[String]()
  // written and read on the listener-bus thread only
  private val keptStages = scala.collection.mutable.HashSet[Int]()
  private val keptJobs = scala.collection.mutable.HashSet[Int]()
  private val keptSql = scala.collection.mutable.HashSet[Long]()

  private def tagOf(tags: Iterable[String]): Option[String] =
    tags.find(_.startsWith("pb:"))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val tags = props.flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(",").toSeq).getOrElse(Nil)
    tagOf(tags).foreach { tag =>
      keptJobs += e.jobId
      keptStages ++= e.stageIds
      val desc = props.flatMap(p => Option(p.getProperty("spark.job.description")))
      val sqlId = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      lines.add(obj("ev" -> str("job"), "id" -> e.jobId.toString,
        "t0" -> e.time.toString, "tag" -> str(tag),
        "stages" -> e.stageIds.mkString("[", ",", "]"),
        "desc" -> desc.map(str).getOrElse("null"),
        "sql" -> sqlId.getOrElse("null")))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (keptJobs.remove(e.jobId)) lines.add(obj("ev" -> str("jobEnd"), "id" -> e.jobId.toString,
      "t1" -> e.time.toString))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    if (keptStages.remove(s.stageId)) {
      val m = s.taskMetrics
      lines.add(obj("ev" -> str("stage"), "id" -> s.stageId.toString,
        "t0" -> s.submissionTime.getOrElse(0L).toString,
        "t1" -> s.completionTime.getOrElse(0L).toString,
        "tasks" -> s.numTasks.toString,
        "run_ms" -> m.executorRunTime.toString,
        "cpu_ns" -> m.executorCpuTime.toString,
        "in_b" -> m.inputMetrics.bytesRead.toString,
        "in_r" -> m.inputMetrics.recordsRead.toString,
        "out_b" -> m.outputMetrics.bytesWritten.toString,
        "out_r" -> m.outputMetrics.recordsWritten.toString,
        "sw_b" -> m.shuffleWriteMetrics.bytesWritten.toString,
        "sr_b" -> m.shuffleReadMetrics.totalBytesRead.toString,
        "spill_b" -> m.diskBytesSpilled.toString))
    }
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart =>
      tagOf(e.jobTags).foreach { tag =>
        keptSql += e.executionId
        lines.add(obj("ev" -> str("sql"), "id" -> e.executionId.toString,
          "root" -> e.rootExecutionId.map(_.toString).getOrElse("null"),
          "t0" -> e.time.toString, "tag" -> str(tag),
          "plan" -> planCounts(e.sparkPlanInfo)))
      }
    case e: SparkListenerSQLAdaptiveExecutionUpdate if keptSql(e.executionId) =>
      lines.add(obj("ev" -> str("sqlPlan"), "id" -> e.executionId.toString,
        "plan" -> planCounts(e.sparkPlanInfo)))
    case e: SparkListenerSQLExecutionEnd if keptSql.remove(e.executionId) =>
      lines.add(obj("ev" -> str("sqlEnd"), "id" -> e.executionId.toString,
        "t1" -> e.time.toString))
    case _ =>
  }

  /** Planner phase times of every Dataset action (untagged: the callback
    * runs on the listener bus, not on the thread that set the tag). */
  val planListener: QueryExecutionListener = new QueryExecutionListener {
    private def rec(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L).toString
      val t0 = ph.values.map(_.startTimeMs).minOption.getOrElse(0L)
      lines.add(obj("ev" -> str("plan"), "t0" -> t0.toString,
        "an" -> ms("analysis"), "op" -> ms("optimization"), "ph" -> ms("planning")))
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = rec(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = rec(qe)
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala
      def ms(k: String) = d.get(k).map(_.toLong).getOrElse(0L).toString
      lines.add(obj("ev" -> str("batch"),
        "t" -> Instant.parse(p.timestamp).toEpochMilli.toString,
        "rows" -> p.numInputRows.toString,
        "trigger" -> ms("triggerExecution"), "add" -> ms("addBatch"),
        "wal" -> ms("walCommit"),
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum.toString,
        "state_b" -> p.stateOperators.map(_.memoryUsedBytes).sum.toString))
    }
  }
}

object Recorder {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  private val aggregates = Set("HashAggregate", "SortAggregate", "ObjectHashAggregate")
  private val joins = Set("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
    "BroadcastNestedLoopJoin", "CartesianProduct")

  /** Node counts of a physical plan as the listener API shows it: AQE
    * stages and cached relations are expanded by `SparkPlanInfo` itself; a
    * reused exchange counts once, where it first runs. */
  def planCounts(root: SparkPlanInfo): String = {
    val names = Iterator.iterate(List(root))(_.flatMap { p =>
      if (p.nodeName == "ReusedExchange") Nil else p.children
    }).takeWhile(_.nonEmpty).flatten.map(_.nodeName).toSeq
    def n(p: String => Boolean) = names.count(p).toString
    obj("nodes" -> names.size.toString,
      "exchanges" -> n(Set("Exchange", "BroadcastExchange")),
      "windows" -> n(_ == "Window"),
      "aggregates" -> n(aggregates),
      "joins" -> n(joins),
      "generates" -> n(_ == "Generate"))
  }
}
