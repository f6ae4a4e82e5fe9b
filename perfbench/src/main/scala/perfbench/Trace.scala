package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.SparkInternals

/** One timed interval. `op` groups the spans of one benchmark operation;
  * `parent` is -1 for the operation's root span.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around the benchmark's calls into the engine, kept in memory and
  * written out at exit. While a span is open, every Spark job the client
  * thread starts carries its id as the job group, so [[Counters]] can
  * attribute task-level work to it.
  */
final class Recorder(sc: SparkContext) {
  val spans = mutable.ArrayBuffer[Span]()
  private var open: List[(Int, String, Long)] = Nil
  private var opId = -1
  private var ops = 0
  private var nextId = 0

  /** Time `body` as operation `name`. Untraced operations record no spans
    * and tag no jobs; their wall time is still returned.
    */
  def op[T](name: String, traced: Boolean)(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    if (!traced) {
      val r = body
      return (r, (System.nanoTime() - t0) / 1e9)
    }
    opId = ops
    ops += 1
    val r = try span(name)(body) finally opId = -1
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def tracing: Boolean = opId >= 0

  /** Time `body` as a child of the innermost open span. */
  def span[T](name: String)(body: => T): T = {
    if (!tracing) return body
    val id = nextId
    nextId += 1
    open = (id, name, System.nanoTime()) :: open
    sc.setJobGroup(Recorder.group(id), name)
    try body
    finally {
      val (_, _, t0) = open.head
      open = open.tail
      spans += Span(id, open.headOption.map(_._1).getOrElse(-1), opId, name,
        t0, System.nanoTime())
      open.headOption match {
        case Some((pid, pname, _)) => sc.setJobGroup(Recorder.group(pid), pname)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Add a span measured elsewhere (a stream progress phase, a write
    * command) under `parent`, clipped to the parent's interval.
    */
  def add(name: String, parent: Span, startNs: Long, endNs: Long): Span = {
    val a = math.max(startNs, parent.startNs)
    val s = Span(nextId, parent.id, parent.op, name, a,
      math.max(a, math.min(endNs, parent.endNs)))
    nextId += 1
    spans += s
    s
  }

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  /** A span's duration minus the union of its children's intervals. */
  def selfSeconds(s: Span): Double = {
    val kids = children(s).sortBy(_.startNs)
    var covered = 0L
    var end = Long.MinValue
    kids.foreach { k =>
      val a = math.max(k.startNs, end)
      if (k.endNs > a) covered += k.endNs - a
      end = math.max(end, k.endNs)
    }
    ((s.endNs - s.startNs) - covered) / 1e9
  }

  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Recorder {
  val GroupPrefix = "perfbench-span-"
  def group(id: Int): String = s"$GroupPrefix$id"
}

/** Task-level totals of the jobs attributed to one key. */
final class Work {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var tasksFailed = 0L
  var cpuNs = 0L
  var waitMs = 0L
  var gcMs = 0L
  var spillBytes = 0L
  var resultBytes = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var maxSkew = 0.0
  def +=(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    tasksFailed += o.tasksFailed; cpuNs += o.cpuNs; waitMs += o.waitMs
    gcMs += o.gcMs; spillBytes += o.spillBytes; resultBytes += o.resultBytes
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    maxSkew = math.max(maxSkew, o.maxSkew)
  }
}

/** One durable write command: output path, write metrics, and its SQL
  * execution's start and end (epoch ms).
  */
final case class WriteCmd(path: String, files: Long, bytes: Long, rows: Long,
    startMs: Long, endMs: Long)

/** Spark-side counters, registered by the benchmark for traced runs only.
  *
  * Jobs are attributed to a key: a span id when the client thread tagged
  * the job with a span's job group, or `-(batchId + 1)` for the jobs of a
  * streaming micro-batch (Spark stamps those with the batch id). Write
  * commands are read off the query execution each SQL execution-end event
  * carries — what a `QueryExecutionListener` would be handed.
  */
final class Counters extends SparkListener {
  val work = TrieMap[Long, Work]()
  private val stageKey = TrieMap[Int, Long]()
  private val stageSubmitMs = TrieMap[Int, Long]()
  private val stageTaskMs = TrieMap[Int, mutable.ArrayBuffer[Long]]()
  private val execStartMs = TrieMap[Long, Long]()
  val writes = new ConcurrentLinkedQueue[WriteCmd]()
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()

  private def w(key: Long): Work = work.getOrElseUpdate(key, new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val group = p.flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
    val batch = p.flatMap(x => Option(x.getProperty("streaming.sql.batchId")))
    val key = batch.map(b => -(b.toLong + 1)).orElse(group.collect {
      case g if g.startsWith(Recorder.GroupPrefix) =>
        g.stripPrefix(Recorder.GroupPrefix).toLong
    })
    key.foreach { k =>
      e.stageIds.foreach(stageKey.put(_, k))
      val acc = w(k)
      acc.synchronized(acc.jobs += 1)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(stageSubmitMs.put(e.stageInfo.stageId, _))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stageKey.get(e.stageId).foreach { k =>
      val acc = w(k)
      val info = e.taskInfo
      acc.synchronized {
        acc.tasks += 1
        if (!info.successful) acc.tasksFailed += 1
        stageSubmitMs.get(e.stageId).foreach(s =>
          acc.waitMs += math.max(0L, info.launchTime - s))
        Option(e.taskMetrics).foreach { t =>
          acc.cpuNs += t.executorCpuTime
          acc.gcMs += t.jvmGCTime
          acc.spillBytes += t.memoryBytesSpilled + t.diskBytesSpilled
          acc.resultBytes += t.resultSize
          acc.shuffleWrite += t.shuffleWriteMetrics.bytesWritten
          acc.shuffleRead += t.shuffleReadMetrics.totalBytesRead
        }
      }
      stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer[Long]()) +=
        info.duration
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val id = e.stageInfo.stageId
    stageKey.get(id).foreach { k =>
      val acc = w(k)
      val ds = stageTaskMs.remove(id).map(_.sorted).getOrElse(Nil)
      acc.synchronized {
        acc.stages += 1
        // skew: slowest task over the median task, for stages with 2+ tasks
        if (ds.size >= 2) {
          val med = math.max(1L, ds(ds.size / 2))
          acc.maxSkew = math.max(acc.maxSkew, ds.last.toDouble / med)
        }
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => execStartMs.put(s.executionId, s.time)
    case s: SparkListenerSQLExecutionEnd =>
      val start = execStartMs.remove(s.executionId).getOrElse(s.time)
      SparkInternals.queryExecution(s).foreach(qe => Plans.nodes(qe.executedPlan).foreach {
        case d: DataWritingCommandExec => d.cmd match {
          case c: InsertIntoHadoopFsRelationCommand =>
            def v(n: String) = d.metrics.get(n).map(_.value).getOrElse(0L)
            writes.add(WriteCmd(c.outputPath.toString, v("numFiles"),
              v("numOutputBytes"), v("numOutputRows"), start, s.time))
          case _ =>
        }
        case _ =>
      })
    case _ =>
  }

  /** Sum of the work attributed to `keys`. */
  def sum(keys: Iterable[Long]): Work = {
    val t = new Work
    keys.foreach(k => work.get(k).foreach(x => x.synchronized(t += x)))
    t
  }
}

/** Forwards streaming query progress into [[Counters]]. */
final class ProgressForward(c: Counters) extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    c.progress.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** Executed-plan queries over AQE-wrapped plans. */
object Plans extends AdaptiveSparkPlanHelper {
  def nodes(p: SparkPlan): Seq[SparkPlan] = collectWithSubqueries(p) { case x => x }

  def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  /** File scans of a store tier: root directory name starting with `dir`. */
  def scans(p: SparkPlan, dir: String): Seq[FileSourceScanExec] = nodes(p).collect {
    case s: FileSourceScanExec
        if s.relation.location.rootPaths.exists(_.getName.startsWith(dir)) => s
  }

  def isJoin(p: SparkPlan): Boolean = p match {
    case _: BroadcastHashJoinExec | _: BroadcastNestedLoopJoinExec |
        _: SortMergeJoinExec | _: ShuffledHashJoinExec => true
    case _ => false
  }
  def isBroadcastJoin(p: SparkPlan): Boolean = p match {
    case _: BroadcastHashJoinExec | _: BroadcastNestedLoopJoinExec => true
    case _ => false
  }

  /** Joins with a series-dimension scan under them: (broadcast, shuffle). */
  def indexJoins(p: SparkPlan): (Int, Int) = {
    val js = nodes(p).filter(j => isJoin(j) && scans(j, "series_meta").nonEmpty)
    (js.count(isBroadcastJoin), js.count(j => !isBroadcastJoin(j)))
  }

  def exchanges(p: SparkPlan): Int =
    nodes(p).count(_.isInstanceOf[ShuffleExchangeExec])

  def broadcastBytes(p: SparkPlan): Long = nodes(p).collect {
    case b: BroadcastExchangeExec => metric(b, "dataSize")
  }.sum

  /** Largest row count out of any join: the candidate pairs of a
    * similarity self-join.
    */
  def maxJoinRows(p: SparkPlan): Long =
    nodes(p).filter(isJoin).map(metric(_, "numOutputRows")).maxOption.getOrElse(0L)
}
