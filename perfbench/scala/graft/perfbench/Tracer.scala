package graft.perfbench

import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent
import org.apache.spark.sql.util.QueryExecutionListener

/** A finished span. Times are epoch milliseconds; `counts` are the numbers
  * recorded at the same boundary. */
final case class Span(id: String, kind: String, name: String, start: Long,
    end: Long, var parent: String = "", layer: String = "",
    counts: Map[String, Double] = Map.empty)

/** Spark's public listeners, registered by the benchmark only while a traced
  * pass runs. Records Spark job, stage, planning and micro-batch spans in
  * memory; [[Harness]] attaches them to its call spans at the end.
  * Planning spans come from the QueryExecutionListener of the benchmark's
  * session, so a face's child session contributes none; its streams'
  * planning still shows in the micro-batch spans. */
final class Tracer extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, (String, Long, Seq[Int])]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageCounts =
    mutable.Map.empty[(Int, Int), mutable.Map[String, Double]]
  val spans = mutable.ArrayBuffer.empty[Span]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs(e.jobId) = (group, e.time, e.stageIds)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.remove(e.jobId).foreach { case (group, start, stages) =>
      spans += Span(s"sj${e.jobId}", "spark_job", group, start, e.time,
        counts = Map("stages" -> stages.size.toDouble))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = stageCounts.getOrElseUpdate((e.stageId, e.stageAttemptId),
      mutable.Map.empty[String, Double].withDefaultValue(0.0))
    c("tasks") += 1
    Option(e.taskMetrics).foreach { m =>
      c("task_cpu_s") += m.executorCpuTime / 1e9
      c("task_run_s") += m.executorRunTime / 1e3
      c("gc_s") += m.jvmGCTime / 1e3
      c("shuffle_write_mb") += m.shuffleWriteMetrics.bytesWritten / 1e6
      c("shuffle_read_mb") += m.shuffleReadMetrics.totalBytesRead / 1e6
      c("spill_mb") += m.diskBytesSpilled / 1e6
      c("input_mb") += m.inputMetrics.bytesRead / 1e6
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      val c = stageCounts.remove((i.stageId, i.attemptNumber()))
        .map(_.toMap).getOrElse(Map.empty)
      val end = i.completionTime.getOrElse(System.currentTimeMillis())
      spans += Span(s"st${i.stageId}.${i.attemptNumber()}", "stage", i.name,
        i.submissionTime.getOrElse(end), end,
        parent = stageJob.get(i.stageId).map(j => s"sj$j").getOrElse(""),
        counts = c)
    }

  /** Planning phases (analysis, optimization, physical planning) of every
    * Dataset action, from the QueryPlanningTracker. */
  val planListener: QueryExecutionListener = new QueryExecutionListener {
    private var n = 0
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      val ph = qe.tracker.phases.values
      if (ph.nonEmpty) {
        n += 1
        spans += Span(s"qe$n", "plan", "planning", ph.map(_.startTimeMs).min,
          ph.map(_.endTimeMs).max,
          counts = Map("plan_s" -> ph.map(_.durationMs).sum / 1e3))
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  /** One span per micro-batch with its duration breakdown and state size.
    * Progress events reach every SparkListener through `onOtherEvent`,
    * whichever session runs the query; a StreamingQueryListener would see
    * only its own session's queries, and faces run streams in child
    * sessions. */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case q: QueryProgressEvent => synchronized {
      val p = q.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble / 1e3 }
      val start = Instant.parse(p.timestamp).toEpochMilli
      val state = p.stateOperators
      spans += Span(s"mb${p.runId}/${p.batchId}", "micro_batch", p.name,
        start, start + (d.getOrElse("triggerExecution", 0.0) * 1e3).toLong,
        counts = Map(
          "add_batch_s" -> d.getOrElse("addBatch", 0.0),
          "query_planning_s" -> d.getOrElse("queryPlanning", 0.0),
          "wal_commit_s" -> d.getOrElse("walCommit", 0.0),
          "commit_offsets_s" -> d.getOrElse("commitOffsets", 0.0),
          "state_rows" -> state.map(_.numRowsTotal.toDouble).sum,
          "state_mb" -> state.map(_.memoryUsedBytes / 1e6).sum))
    }
    case _ =>
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(planListener)
  }

  def detach(spark: SparkSession): Unit = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(planListener)
  }
}
