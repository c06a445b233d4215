package graftbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.graftbench.ListenerBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Collects the traced run's spans and counters from outside the engine.
  *
  * Spans: the harness opens `query` and, inside it, `ops.build` (the builder
  * call), `plans.plan` (`queryExecution.executedPlan`) and `exec.write` (the
  * noop save). Spark jobs carry the query's job group and the open span as
  * local properties; a SparkListener records jobs and stages with their task
  * metrics and counts micro-batches from the streams' progress events, and a
  * QueryExecutionListener reads the executed plan of each noop write.
  * Everything stays in memory until `toJson` at the end of the run.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private val jobs = mutable.ArrayBuffer.empty[mutable.Map[String, Any]]
  private val stages = mutable.LinkedHashMap.empty[Int, Stage]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val queries = mutable.ArrayBuffer.empty[Map[String, Any]]
  // filled on the listener thread between two drains, read after a drain
  private var batches = 0L
  private var triggerMs = 0L
  private var inputRows = 0L
  private var writePlan: Option[(Int, Long)] = None

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val props = Option(e.properties)
      def prop(k: String): Any = props.flatMap(p => Option(p.getProperty(k))).orNull
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
      jobs += mutable.Map("id" -> e.jobId, "group" -> prop("spark.jobGroup.id"),
        "span" -> prop(SpanProperty), "start" -> e.time.toDouble, "end" -> None)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.reverseIterator.find(_("id") == e.jobId).foreach(_("end") = e.time.toDouble)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Tracer.this.synchronized {
      val s = stages.getOrElseUpdate(e.stageInfo.stageId, new Stage(e.stageInfo.stageId))
      s.job = stageJob.getOrElse(s.id, -1)
      s.submit = e.stageInfo.submissionTime.map(_.toDouble).getOrElse(s.submit)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      stages.get(e.stageInfo.stageId).foreach { s =>
        s.complete = e.stageInfo.completionTime.map(_.toDouble).getOrElse(s.complete)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stages.get(e.stageId).foreach(_.add(e))
    }
    // micro-batch progress of every session's streams, including the
    // derived sessions some builders run their streams in
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: StreamingQueryListener.QueryProgressEvent => Tracer.this.synchronized {
        batches += 1
        inputRows += p.progress.numInputRows
        triggerMs += Option(p.progress.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      }
      case _ => ()
    }
  }

  private val writeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (isNoopWrite(qe)) Tracer.this.synchronized {
        val plan = qe.executedPlan
        val exchanges = PlanWalk.collectWithSubqueries(plan) { case e: ShuffleExchangeLike => e }.size
        val rows = PlanWalk.collectWithSubqueries(plan) { case p =>
          p.metrics.get("numOutputRows").map(_.value).getOrElse(0L) }.sum
        writePlan = Some((exchanges, rows))
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  sc.addSparkListener(sparkListener)
  spark.listenerManager.register(writeListener)

  /** Run `body` as one traced query: job group, spans, counter deltas. */
  def query(qid: String, name: String, pass: Int)(body: Span => Unit): Unit = {
    discardPending()
    val before = Counters.now()
    val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
    val span = new Span {
      def apply[T](layer: String)(f: => T): T = {
        sc.setLocalProperty(SpanProperty, layer)
        val t0 = Clock.ms()
        try f finally {
          spans += Map("name" -> layer, "start" -> t0, "end" -> Clock.ms())
          sc.setLocalProperty(SpanProperty, null)
        }
      }
    }
    sc.setJobGroup(qid, name, interruptOnCancel = false)
    val t0 = Clock.ms()
    try body(span) finally {
      val t1 = Clock.ms()
      sc.clearJobGroup()
      val after = Counters.now()
      val (cacheBytes, cacheBlocks) = storage()
      ListenerBus.drain(sc)
      synchronized {
        queries += Map("qid" -> qid, "name" -> name, "pass" -> pass,
          "spans" -> (Map("name" -> "query", "start" -> t0, "end" -> t1) +: spans.toSeq),
          "phases" -> span.phases, "exchanges" -> writePlan.map(_._1), "op_rows" -> writePlan.map(_._2),
          "compiles" -> (after.compiles - before.compiles),
          "compile_s" -> (after.compileNs - before.compileNs) / 1e9,
          "gc_s" -> (after.gcMs - before.gcMs) / 1e3,
          "classes" -> (after.classes - before.classes),
          "cache_bytes" -> cacheBytes, "cache_blocks" -> cacheBlocks,
          "stream_batches" -> batches, "stream_trigger_s" -> triggerMs / 1e3,
          "stream_input_rows" -> inputRows)
        batches = 0; triggerMs = 0; inputRows = 0; writePlan = None
      }
    }
  }

  private def storage(): (Long, Long) = {
    val infos = sc.getRDDStorageInfo
    (infos.map(_.memSize).sum, infos.map(_.numCachedPartitions.toLong).sum)
  }

  /** Wait for the events of earlier work and drop their counts. */
  private def discardPending(): Unit = {
    ListenerBus.drain(sc)
    synchronized { batches = 0; triggerMs = 0; inputRows = 0; writePlan = None }
  }

  def toJson: String = {
    ListenerBus.drain(sc)
    synchronized {
      Json(Map("queries" -> queries, "jobs" -> jobs, "stages" -> stages.values.map(_.toMap)))
    }
  }
}

object Tracer {
  val SpanProperty = "graftbench.span"

  /** Opens a layer span inside a traced query; remembers the planner's
    * phase times of the frame it planned. */
  abstract class Span {
    def apply[T](layer: String)(f: => T): T
    var phases: Map[String, Double] = Map.empty
    def plan(df: DataFrame): Unit = {
      apply("plans.plan")(df.queryExecution.executedPlan)
      phases = df.queryExecution.tracker.phases.map { case (k, p) =>
        k -> (p.endTimeMs - p.startTimeMs) / 1e3 }
    }
  }

  private object PlanWalk extends AdaptiveSparkPlanHelper

  private def isNoopWrite(qe: QueryExecution): Boolean = qe.logical match {
    case w: V2WriteCommand => w.table.name.contains("noop")
    case _ => false
  }

  private final case class Counters(compiles: Long, compileNs: Long, gcMs: Long, classes: Long)
  private object Counters {
    def now(): Counters = Counters(
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      CodeGenerator.compileTime,
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum,
      ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount)
  }

  private final class Stage(val id: Int) {
    var job = -1
    var submit = 0.0
    var complete = 0.0
    private val m = mutable.LinkedHashMap[String, Double](
      "tasks" -> 0, "run_s" -> 0, "cpu_s" -> 0, "wait_s" -> 0, "gc_s" -> 0,
      "shuffle_write_bytes" -> 0, "shuffle_records" -> 0, "shuffle_read_bytes" -> 0,
      "fetch_wait_s" -> 0, "spill_bytes" -> 0, "input_bytes" -> 0, "input_records" -> 0)

    def add(e: SparkListenerTaskEnd): Unit = {
      def inc(k: String, v: Double): Unit = m(k) += v
      inc("tasks", 1)
      if (submit > 0) inc("wait_s", (e.taskInfo.launchTime - submit).max(0) / 1e3)
      Option(e.taskMetrics).foreach { t =>
        inc("run_s", t.executorRunTime / 1e3)
        inc("cpu_s", t.executorCpuTime / 1e9)
        inc("gc_s", t.jvmGCTime / 1e3)
        inc("shuffle_write_bytes", t.shuffleWriteMetrics.bytesWritten.toDouble)
        inc("shuffle_records", t.shuffleWriteMetrics.recordsWritten.toDouble)
        inc("shuffle_read_bytes", t.shuffleReadMetrics.totalBytesRead.toDouble)
        inc("fetch_wait_s", t.shuffleReadMetrics.fetchWaitTime / 1e3)
        inc("spill_bytes", (t.memoryBytesSpilled + t.diskBytesSpilled).toDouble)
        inc("input_bytes", t.inputMetrics.bytesRead.toDouble)
        inc("input_records", t.inputMetrics.recordsRead.toDouble)
      }
    }

    def toMap: Map[String, Any] =
      Map("id" -> id, "job" -> job, "submit" -> submit, "complete" -> complete) ++ m
  }
}

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
  * the same base as the listener events' timestamps. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def ms(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}
