package perfbench

import scala.collection.concurrent.TrieMap

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's observers, attached from outside the program through
  * Spark's public listener APIs. Every Spark job becomes one `job` record
  * carrying what the reducer needs to bucket it: the table directory it
  * writes and the file locations it scans (from its SQL execution's
  * physical plan), the `graft.*` frames of its call site, the streaming
  * batch it ran in and the benchmark op that issued it. Every query
  * execution becomes one `qe` record with its planning-phase time.
  */
final class Trace(rec: Record) extends SparkListener with QueryExecutionListener {

  private final class Acc(val start: Long, val props: java.util.Properties,
      val stages: Int, val site: String) {
    var tasks, runMs, gcMs, shuffleWrite, spill, output, recordsRead = 0L
    def add(m: org.apache.spark.executor.TaskMetrics): Unit = synchronized {
      tasks += 1
      if (m != null) {
        runMs += m.executorRunTime
        gcMs += m.jvmGCTime
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        spill += m.memoryBytesSpilled + m.diskBytesSpilled
        output += m.outputMetrics.bytesWritten
        recordsRead += m.inputMetrics.recordsRead
      }
    }
  }

  /** SQL execution id → (table dir written, file locations scanned). */
  private val execs = TrieMap.empty[Long, (Option[String], Seq[String])]
  private val stageJob = TrieMap.empty[Int, Int]
  private val open = TrieMap.empty[Int, Acc]
  private val WriteCmd = """InsertIntoHadoopFsRelationCommand\s+([^,\s]+)""".r

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      def nodes(n: SparkPlanInfo): Seq[SparkPlanInfo] = n +: n.children.flatMap(nodes)
      val all = nodes(s.sparkPlanInfo)
      execs.put(s.executionId, (
        all.iterator.flatMap(n => WriteCmd.findFirstMatchIn(n.simpleString)).map(_.group(1))
          .nextOption(),
        all.flatMap(_.metadata.get("Location")).distinct))
    case _ =>
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    j.stageIds.foreach(stageJob.put(_, j.jobId))
    val site = j.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse("")
      .linesIterator.map(_.trim).filter(_.startsWith("graft.")).take(4).mkString("|")
    open.put(j.jobId, new Acc(j.time, j.properties, j.stageIds.size, site))
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
    stageJob.get(t.stageId).flatMap(open.get).foreach(_.add(t.taskMetrics))

  override def onJobEnd(j: SparkListenerJobEnd): Unit =
    open.remove(j.jobId).foreach { a =>
      def prop(k: String): Option[String] =
        Option(a.props).flatMap(p => Option(p.getProperty(k)))
      val exec = prop("spark.sql.execution.id").flatMap(i => execs.get(i.toLong))
      rec.emit("job", "id" -> j.jobId, "start_ms" -> a.start, "end_ms" -> j.time,
        "ok" -> (j.jobResult == JobSucceeded),
        "out" -> exec.flatMap(_._1), "reads" -> exec.map(_._2).getOrElse(Nil),
        "site" -> a.site,
        "batch" -> prop("streaming.sql.batchId").map(_.toLong),
        "op" -> prop(Trace.OpKey), "stages" -> a.stages, "tasks" -> a.tasks,
        "run_ms" -> a.runMs, "gc_ms" -> a.gcMs, "shuffle_write" -> a.shuffleWrite,
        "spill" -> a.spill, "output_bytes" -> a.output,
        "records_read" -> a.recordsRead)
    }

  private def qe(func: String, qe: QueryExecution, ok: Boolean): Unit = {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty)
      rec.emit("qe", "func" -> func, "ok" -> ok,
        "start_ms" -> phases.map(_.startTimeMs).min,
        "plan_ms" -> phases.map(_.durationMs).sum)
  }

  override def onSuccess(func: String, q: QueryExecution, durationNs: Long): Unit =
    qe(func, q, ok = true)
  override def onFailure(func: String, q: QueryExecution, e: Exception): Unit =
    qe(func, q, ok = false)

  /** Observe `spark`'s jobs and its session's query executions. */
  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
}

object Trace {
  /** Local property naming the benchmark op a job belongs to. */
  val OpKey = "perfbench.op"

  def withOp[T](spark: SparkSession, op: String)(body: => T): T = {
    spark.sparkContext.setLocalProperty(OpKey, op)
    try body finally spark.sparkContext.setLocalProperty(OpKey, null)
  }
}
