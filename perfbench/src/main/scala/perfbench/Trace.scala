package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** One traced interval. Times are epoch milliseconds (fractional for the
  * benchmark's own spans, whole for Spark's job and stage events). */
final class Span(val id: Int, val name: String, val kind: String,
                 val parent: Int, val op: String, val start: Double) {
  var end: Double = Double.NaN
  val counters: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def dur: Double = end - start
}

/** Task metrics summed over one stage. */
final class StageAgg {
  var tasks = 0
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var bytesWritten = 0L
  val taskMs: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty
}

/** SQL metrics of one executed plan, reduced to what the layer metrics use. */
final case class PlanStats(scanFiles: Long, scanRows: Long, broadcastBytes: Long,
                           shuffleBytes: Long, joins: Seq[(Long, Long)],
                           joinFilterRows: Long, finalAggRows: Seq[Long], nodes: Seq[String])

object PlanStats extends AdaptiveSparkPlanHelper {
  private def m(p: SparkPlan, k: String): Long = p.metrics.get(k).map(_.value).getOrElse(0L)

  /** First node at or under `p` that reports its output row count. */
  private def rowsOf(p: SparkPlan): Long =
    find(p)(_.metrics.contains("numOutputRows")).map(m(_, "numOutputRows")).getOrElse(0L)

  /** Cached plans already counted: a cache is scanned from files once,
    * when it is first materialized, and read from memory after that. */
  private val seenCaches = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[SparkPlan, java.lang.Boolean]())

  /** Whether a cached plan holds table rows as read (a file scan under
    * projections and filters only), rather than a computed result. */
  private def tableCache(p: SparkPlan): Boolean =
    collectLeaves(p).forall(_.nodeName.startsWith("Scan")) &&
      collect(p) { case n if n.children.length > 1 || n.nodeName.contains("Aggregate") => n }.isEmpty

  def of(plan: SparkPlan): PlanStats = {
    // The plan's own nodes, plus those of caches this execution built.
    def withCaches(p: SparkPlan): Seq[SparkPlan] = collect(p) { case n => n }.flatMap {
      case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
          if seenCaches.add(m.relation.cachedPlan) => m +: withCaches(m.relation.cachedPlan)
      case n => Seq(n)
    }
    val nodes = withCaches(plan)
    def named(s: String) = nodes.filter(_.nodeName.contains(s))
    val scans = nodes.filter {
      case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => tableCache(m.relation.cachedPlan)
      case n => n.nodeName.startsWith("Scan")
    }
    val joins = nodes.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec =>
        val streamed = if (j.buildSide == org.apache.spark.sql.catalyst.optimizer.BuildRight) j.left else j.right
        (rowsOf(streamed), m(j, "numOutputRows"))
    }
    // A Filter sitting on a join (through projections) is the PIP filter.
    val joinFilter = nodes.collect {
      case f: org.apache.spark.sql.execution.FilterExec
          if find(f.child)(_.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]).isDefined =>
        m(f, "numOutputRows")
    }
    val finalAggs = nodes.collect {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec
          if a.aggregateExpressions.forall(_.mode == org.apache.spark.sql.catalyst.expressions.aggregate.Final) =>
        m(a, "numOutputRows")
    }
    PlanStats(
      scans.map(m(_, "numFiles")).sum,
      scans.map(m(_, "numOutputRows")).sum,
      named("BroadcastExchange").map(m(_, "dataSize")).sum,
      named("Exchange").filterNot(_.nodeName.contains("Broadcast")).map(m(_, "dataSize")).sum,
      joins, joinFilter.headOption.getOrElse(0L), finalAggs,
      nodes.map(n => n.nodeName + n.metrics.collect {
        case (k, v) if v.value != 0 => s" $k=${v.value}"
      }.toSeq.sorted.mkString))
  }
}

/** Spans at the benchmark's layer boundaries plus Spark's own job, stage,
  * task and SQL-execution events, tied to the enclosing span by a local
  * property. Everything stays in memory until [[write]]. */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer.Prop

  private val t0Nano = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  def now: Double = t0Ms + (System.nanoTime() - t0Nano) / 1e6

  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private val stack = mutable.Stack[Span]()
  private val stageAgg = mutable.Map.empty[Int, StageAgg]
  /** Span id -> plans of the SQL executions whose jobs ran under it. */
  val plans: mutable.Map[Int, mutable.ArrayBuffer[PlanStats]] = mutable.Map.empty
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val jobSpan = mutable.Map.empty[Int, Span]
  private val execSpan = mutable.Map.empty[Long, Int]
  @volatile private var barrierJob = -1
  @volatile private var barrierSeen = false

  private def newSpan(name: String, kind: String, parent: Int, op: String, start: Double): Span =
    synchronized {
      val s = new Span(spans.length, name, kind, parent, op, start)
      spans += s
      s
    }

  /** Runs `f` inside a span; Spark jobs it starts become child spans. */
  def span[A](name: String, kind: String, op: String)(f: => A): A = {
    val parent = stack.headOption.map(_.id).getOrElse(-1)
    val s = newSpan(name, kind, parent, op, now)
    stack.push(s)
    sc.setLocalProperty(Prop, s.id.toString)
    try f
    finally {
      s.end = now
      stack.pop()
      sc.setLocalProperty(Prop, stack.headOption.map(_.id.toString).orNull)
    }
  }

  def current: Option[Span] = stack.headOption

  def counter(name: String, v: Double): Unit = stack.headOption.foreach(_.counters(name) = v)

  private def spanOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty(Prop))).flatMap(_.toIntOption)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (Option(e.properties).exists(_.getProperty(Prop) == "barrier")) { barrierJob = e.jobId; return }
    spanOf(e.properties).foreach { parent =>
      val js = newSpan(s"job ${e.jobId}", "job", parent, spans(parent).op, e.time.toDouble)
      jobSpan(e.jobId) = js
      e.stageIds.foreach(st => stageSpan.getOrElseUpdate(st, js.id))
      Option(e.properties.getProperty("spark.sql.execution.id"))
        .flatMap(_.toLongOption).foreach(x => execSpan.getOrElseUpdate(x, parent))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach(_.end = e.time.toDouble)
    if (e.jobId == barrierJob) barrierSeen = true
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageSpan.get(info.stageId).foreach { parent =>
      val s = newSpan(s"stage ${info.stageId}", "stage", parent, spans(parent).op,
        info.submissionTime.getOrElse(0L).toDouble)
      s.end = info.completionTime.getOrElse(0L).toDouble
      val a = stageAgg.getOrElse(info.stageId, new StageAgg)
      s.counters ++= Seq("tasks" -> a.tasks.toDouble, "task_cpu_s" -> a.cpuNs / 1e9,
        "task_run_s" -> a.runMs / 1e3, "gc_s" -> a.gcMs / 1e3,
        "shuffle_write_bytes" -> a.shuffleWrite.toDouble,
        "shuffle_read_bytes" -> a.shuffleRead.toDouble, "spill_bytes" -> a.spill.toDouble,
        "bytes_written" -> a.bytesWritten.toDouble)
      if (a.taskMs.nonEmpty) {
        val sorted = a.taskMs.sorted
        s.counters("task_skew") = sorted.last / math.max(1.0, sorted(sorted.length / 2).toDouble)
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (stageSpan.contains(e.stageId) && e.taskMetrics != null) {
      val a = stageAgg.getOrElseUpdate(e.stageId, new StageAgg)
      val t = e.taskMetrics
      a.tasks += 1
      a.cpuNs += t.executorCpuTime
      a.runMs += t.executorRunTime
      a.gcMs += t.jvmGCTime
      a.shuffleWrite += t.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += t.shuffleReadMetrics.totalBytesRead
      a.spill += t.memoryBytesSpilled + t.diskBytesSpilled
      a.bytesWritten += t.outputMetrics.bytesWritten
      a.taskMs += t.executorRunTime
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd => synchronized {
      execSpan.remove(end.executionId).foreach { sp =>
        // `qe` is package-private in Scala but public in bytecode.
        val qe = end.getClass.getMethod("qe").invoke(end)
          .asInstanceOf[org.apache.spark.sql.execution.QueryExecution]
        if (qe != null)
          plans.getOrElseUpdate(sp, mutable.ArrayBuffer.empty) += PlanStats.of(qe.executedPlan)
      }
    }
    case _ =>
  }

  /** Waits until every event posted before this call has been delivered:
    * runs one marked job and blocks until its end event arrives. */
  def barrier(spark: org.apache.spark.sql.SparkSession): Unit = {
    barrierSeen = false
    val prev = sc.getLocalProperty(Prop)
    sc.setLocalProperty(Prop, "barrier")
    try spark.range(1).count()
    finally sc.setLocalProperty(Prop, prev)
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!barrierSeen && System.nanoTime() < deadline) Thread.sleep(5)
  }

  /** Self time: duration minus the union of the children's intervals. */
  def selfTimes: Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      s.id -> (s.dur - Layers.covered(kids.getOrElse(s.id, Nil).toSeq.filter(!_.end.isNaN)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))))
    }.toMap
  }

  def write(path: java.nio.file.Path, extra: String): Unit = {
    val self = selfTimes
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else f"$d%.3f"
    val sb = new StringBuilder("{\"spans\":[\n")
    spans.zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb ++= ",\n"
      sb ++= s"""{"id":${s.id},"name":${Json.str(s.name)},"kind":"${s.kind}","parent":${s.parent},"op":${Json.str(s.op)},"start_ms":${num(s.start)},"end_ms":${num(s.end)},"self_ms":${num(self(s.id))},"counters":{"""
      sb ++= s.counters.map { case (k, v) => s"${Json.str(k)}:${num(v)}" }.mkString(",")
      sb ++= "}}"
    }
    sb ++= "\n],\n\"plans\":{"
    sb ++= plans.toSeq.sortBy(_._1).map { case (id, ps) =>
      s"\"$id\":[" + ps.map(p => p.nodes.map(Json.str).mkString("[", ",", "]")).mkString(",") + "]"
    }.mkString(",\n")
    sb ++= "},\n" ++= extra ++= "}\n"
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

object Tracer {
  val Prop = "perfbench.span"
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
