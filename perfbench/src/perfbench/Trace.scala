package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The modules the traced run splits work into, and how a Spark job is
  * attributed to one of them. */
object Layers {
  val All: Seq[String] = Seq("sessions", "quality", "pairs", "prod2vec",
    "similarity", "ann", "ivf", "text", "dedup", "barrier", "sources",
    "corpus", "stream")

  /** Fields every layer reports, with their units. */
  val Fields: Seq[(String, String)] = Seq("jobs" -> "count",
    "wall_s" -> "s", "exec_cpu_s" -> "s", "gc_s" -> "s",
    "shuffle_mb" -> "MB", "spill_mb" -> "MB", "tasks" -> "count",
    "failed_tasks" -> "count")

  private val byClass = Map(
    "graft.conf.Sessions" -> "sessions",
    "graft.ops.Quality" -> "quality",
    "graft.ops.Pairs" -> "pairs",
    "graft.ops.Vocab" -> "pairs",
    "graft.ml.Prod2Vec" -> "prod2vec",
    "graft.app.Pipeline" -> "prod2vec",
    "graft.ops.Similarity" -> "similarity",
    "graft.ops.Ann" -> "ann",
    "graft.ml.IvfIndex" -> "ivf",
    "graft.ops.Text" -> "text",
    "graft.ops.Dedup" -> "dedup",
    "graft.ops.Barrier" -> "barrier",
    "graft.ops.Sources" -> "sources",
    "graft.app.CorpusPipeline" -> "corpus",
    "graft.app.CurateMain" -> "corpus",
    "graft.streaming.StreamOps" -> "stream")

  /** (class, method) of one call-site line such as
    * `app//graft.ops.Dedup$.round$1(Dedup.scala:866)`. */
  def frame(line: String): Option[(String, String)] = {
    val head = line.takeWhile(_ != '(')
    val qualified = head.substring(head.lastIndexOf('/') + 1).trim
    val dot = qualified.lastIndexOf('.')
    if (dot <= 0) None
    else Some((qualified.substring(0, dot), qualified.substring(dot + 1)))
  }

  /** Layer of the innermost `graft.*` frame that belongs to one. */
  def ofCallSite(details: String): Option[String] =
    details.split('\n').iterator.flatMap(frame)
      .filter(_._1.startsWith("graft."))
      .flatMap { case (cls, _) => byClass.get(cls.takeWhile(_ != '$')) }
      .nextOption()

  /** True when the innermost graft frame is a round of
    * `Dedup.nearDupClusters` (its convergence probe). */
  def isDedupRound(details: String): Boolean =
    details.split('\n').iterator.flatMap(frame)
      .find(_._1.startsWith("graft."))
      .exists { case (cls, m) =>
        cls.startsWith("graft.ops.Dedup") && m.startsWith("round") }
}

/** Spans around the benchmark's public calls, kept in memory. With
  * tracing off, [[apply]] only runs its body. */
final class Spans(sc: SparkContext) {
  private case class Span(id: Int, parent: Int, name: String,
                          startNs: Long, endNs: Long)

  @volatile var enabled = false
  private val done = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[(Int, Long)]
  private var nextId = 0

  /** Run `body` as a span; jobs it submits without a graft call site
    * of their own are attributed to `layer` (empty: no layer). */
  def apply[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      nextId += 1
      val id = nextId
      val parent = open.headOption.map(_._1).getOrElse(0)
      val prevLayer = sc.getLocalProperty(Spans.LayerProp)
      if (layer.nonEmpty) sc.setLocalProperty(Spans.LayerProp, layer)
      open.push((id, System.nanoTime()))
      try body
      finally {
        val (_, t0) = open.pop()
        done += Span(id, parent, name, t0, System.nanoTime())
        sc.setLocalProperty(Spans.LayerProp, prevLayer)
      }
    }

  /** Per span name: (calls, total s, self s). Self time is a span's
    * duration minus the time its direct children cover. */
  def summary: Seq[(String, Int, Double, Double)] = {
    val childNs = done.groupBy(_.parent)
      .map { case (p, cs) => p -> cs.map(c => c.endNs - c.startNs).sum }
    done.groupBy(_.name).toSeq.map { case (n, ss) =>
      val tot = ss.map(s => s.endNs - s.startNs).sum
      val self = ss.map(s => s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)).sum
      (n, ss.size, tot / 1e9, self / 1e9)
    }.sortBy(-_._4)
  }

  def toJson: String = summary.map { case (n, c, t, s) =>
    s"""{"span": "$n", "calls": $c, "total_s": $t, "self_s": $s}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Spans {
  val LayerProp = "perfbench.layer"
}

/** Per-job and per-stage task totals, attributed to layers. */
final class LayerListener extends SparkListener {
  final class Job(val id: Int, val startMs: Long, val layer: String,
                  val execId: String, val dedupRound: Boolean,
                  val stageIds: Seq[Int], val callSite: String) {
    @volatile var endMs: Long = -1L
  }
  final class Stage {
    var tasks = 0L; var failed = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleBytes = 0L; var spillBytes = 0L
    var firstLaunchMs = Long.MaxValue
  }

  val jobs = new ConcurrentHashMap[Int, Job]()
  val stages = new ConcurrentHashMap[Int, Stage]()
  /** SQL execution id -> (root execution id, call site). */
  private val executions = new ConcurrentHashMap[Long, (Long, String)]()
  private val pending = new AtomicLong()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      executions.put(s.executionId,
        (s.rootExecutionId.getOrElse(s.executionId), s.details))
    case _ =>
  }

  /** A job's call site: that of its SQL execution (an action's call
    * site is captured in the calling thread, while adaptive query
    * stages run as jobs submitted from Spark's own threads), else the
    * root execution's, else the job's own. */
  private def callSite(execId: Option[Long], own: String): String = {
    val exec = execId.flatMap(id => Option(executions.get(id)))
    val root = exec.flatMap(x => Option(executions.get(x._1)))
    (exec.map(_._2).toSeq ++ root.map(_._2) :+ own)
      .find(Layers.ofCallSite(_).isDefined).getOrElse(own)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val execId = prop("spark.sql.execution.id").flatMap(_.toLongOption)
    // the result stage is the one created for this job; reused map
    // stages keep the call site of the job that created them
    val own = e.stageInfos.sortBy(-_.stageId).headOption
      .map(_.details).getOrElse("")
    val details = callSite(execId, own)
    val layer = Layers.ofCallSite(details)
      .orElse(prop("sql.streaming.queryId").map(_ => "stream"))
      .orElse(prop(Spans.LayerProp))
      .getOrElse("")
    jobs.put(e.jobId, new Job(e.jobId, e.time, layer,
      execId.map(_.toString).getOrElse(s"job${e.jobId}"),
      Layers.isDedupRound(details), e.stageIds,
      details.split('\n').find(_.contains("graft.")).getOrElse(details.takeWhile(_ != '\n'))))
    pending.incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    pending.decrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stages.computeIfAbsent(e.stageId, _ => new Stage)
    s.synchronized {
      s.tasks += 1
      if (!e.taskInfo.successful) s.failed += 1
      s.firstLaunchMs = math.min(s.firstLaunchMs, e.taskInfo.launchTime)
      Option(e.taskMetrics).foreach { m =>
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Wait until every started job has ended and been delivered here. */
  def drain(timeoutMs: Long = 10000L): Unit = {
    val until = System.currentTimeMillis() + timeoutMs
    while (pending.get() > 0 && System.currentTimeMillis() < until)
      Thread.sleep(20)
    Thread.sleep(100)
  }

  def jobsIn(fromMs: Long, toMs: Long): Seq[Job] =
    jobs.values().asScala.toSeq
      .filter(j => j.startMs >= fromMs && j.startMs <= toMs && j.endMs >= 0)
}

object Intervals {
  /** Total length of the union of [start, end] intervals. */
  def union(xs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    xs.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Per-trigger progress of streaming queries, from Spark's
  * `durationMs` map. */
final class TriggerListener extends StreamingQueryListener {
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Long]]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (e.progress.numInputRows > 0)
      progress.add(e.progress.durationMs.asScala.map { case (k, v) =>
        k -> v.longValue }.toMap)
}

/** Peak heap in use just after a collection, from GC notifications. */
object Heap {
  @volatile private var peak = 0L
  @volatile private var armed = false
  private lazy val heapPools: Set[String] =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getName).toSet

  def install(): Unit = {
    val listener = new NotificationListener {
      def handleNotification(n: Notification, hb: Any): Unit =
        if (armed && n.getType ==
            GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          if (used > peak) peak = used
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }

  def arm(): Unit = { peak = 0L; armed = true }
  def disarm(): Unit = armed = false
  def peakMb: Double = peak / 1048576.0
}
