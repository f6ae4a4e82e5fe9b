package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan

final case class Args(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    tmp: Path,
    wrongAnswer: Boolean)

/** One completed operation of the closed loop. */
final case class OpSample(kind: String, seconds: Double, traced: Boolean,
    root: Option[Span])

/** A metric value with its unit. */
final case class M(value: Double, unit: String)

/** What a workload hands back: the metrics it measured and the
  * properties of the inputs it generated.
  */
final case class Report(
    setupS: Double,
    opS: Double,
    opTail: Stats.Tail,
    workPerS: Double,
    named: Seq[(String, Double)],
    layers: Map[String, Double],
    properties: Seq[(String, Any)])

object Stats {
  /** Median; NaN when every op failed (the result then says so). */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) Double.NaN
    else if (n % 2 == 1) s(n / 2)
    else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it. Below 21
    * samples that percentile would sit under the median, so the maximum
    * is reported instead (percentile 100).
    */
  final case class Tail(value: Double, percentile: Double, samples: Int)
  def tail(xs: Seq[Double]): Tail = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) Tail(Double.NaN, 100.0, 0)
    else if (n < 21) Tail(s.last, 100.0, n)
    else Tail(s(n - 11), math.floor(100.0 * (n - 10) / n), n)
  }
}

/** Per-run state shared by the workloads: the session, the closed-loop
  * clock, the checks, and (traced runs only) the span recorder and the
  * Spark-side counters.
  */
final class Ctx(val spark: SparkSession, val args: Args) {
  val rec = new Recorder(spark.sparkContext)
  val counters: Option[Counters] = if (!args.trace) None else {
    val c = new Counters
    spark.sparkContext.addSparkListener(c)
    spark.streams.addListener(new ProgressForward(c))
    Some(c)
  }
  val ops = mutable.ArrayBuffer[OpSample]()
  var setupSeconds = Seq.empty[Double]
  var attempted = 0L
  var failed = 0L
  private var opOk = true
  private var failuresShown = 0

  private val born = System.nanoTime()
  /** Progress note on stderr: what finished, and when. */
  def mark(what: String): Unit =
    System.err.println(f"perfbench: $what done at ${(System.nanoTime() - born) / 1e9}%.1f s")

  def dir(name: String): String = {
    val d = args.tmp.resolve(name)
    Files.createDirectories(d)
    d.toString
  }

  private def complain(msg: String): Unit = if (failuresShown < 5) {
    failuresShown += 1
    System.err.println(s"perfbench: $msg")
  }

  /** Compare an output with the answer the generator knows. With
    * `--wrong-answer` the expected value is deliberately perturbed, so a
    * working check must fail every operation.
    */
  def check(what: String, expected: Any, got: Any): Unit = {
    val want =
      if (!args.wrongAnswer) expected
      else expected match {
        case x: Long => x + 1
        case x: Int => x + 1
        case x: Boolean => !x
        case x: Set[_] => x.asInstanceOf[Set[Any]] + "wrong-answer"
        case x: Seq[_] => x :+ "wrong-answer"
        case x => x
      }
    if (want != got) {
      opOk = false
      complain(s"check failed: $what: expected $want, got $got")
    }
  }

  /** Run one operation, count it, and time it when `timed`. Returns the
    * operation's wall seconds, or None when it failed.
    */
  def op(kind: String, timed: Boolean, traced: Boolean)(body: => Unit): Option[Double] =
    checkedOp(kind, timed, traced)(body)(_ => ())

  /** [[op]] whose result `verify` checks after the clock has stopped: a
    * check that has to re-read intermediates then costs the op nothing.
    */
  def checkedOp[T](kind: String, timed: Boolean, traced: Boolean)(body: => T)(
      verify: T => Unit): Option[Double] = {
    attempted += 1
    opOk = true
    val before = rec.spans.size
    val wall =
      try {
        val (x, s) = rec.op(kind, traced)(body)
        verify(x)
        Some(s)
      } catch {
        case e: Exception =>
          complain(s"$kind failed: $e")
          None
      }
    if (!opOk || wall.isEmpty) { failed += 1; None }
    else {
      val root = if (rec.spans.size > before) Some(rec.spans.last) else None
      if (timed) ops += OpSample(kind, wall.get, traced, root.filter(_.parent < 0))
      wall
    }
  }

  /** Closed loop: one client, next operation only after the previous
    * one completed, for `args.seconds`. Past that, iteration `i` still
    * runs unless `canStop(i)`, so a run ends on a whole cycle of the
    * workload; no iteration starts after four times `args.seconds`.
    */
  def loop(canStop: Int => Boolean = _ => true)(body: Int => Unit): Unit = {
    mark("warm-up")
    resetHeapPeak()
    val t0 = System.nanoTime()
    def past(k: Int) = System.nanoTime() - t0 >= k * args.seconds * 1000000000L
    var i = 0
    while (!past(1) || (!canStop(i) && !past(4))) { body(i); i += 1 }
    mark(s"$i loop iterations")
  }

  /** In a traced run, whole cycles of a workload (a query mix, a pass, a
    * fold cycle) alternate between traced and untraced, so every op kind
    * has both for the overhead ratio.
    */
  def traced(cycle: Int): Boolean = args.trace && cycle % 2 == 0

  def timedOps(kind: String => Boolean): Seq[OpSample] = ops.filter(o => kind(o.kind)).toSeq

  /** Run `body` `reps` times and report the median seconds, keeping the
    * last result. Before each repetition after the first, `teardown`
    * releases the previous result outside the timed region, so every
    * repetition times the same work.
    */
  def setup[T](reps: Int)(body: Int => T)(teardown: T => Unit): (T, Double) = {
    var last: Option[T] = None
    val secs = (0 until reps).map { r =>
      last.foreach(teardown)
      val t0 = System.nanoTime()
      last = Some(body(r))
      (System.nanoTime() - t0) / 1e9
    }
    setupSeconds = secs
    mark(s"set-up ($reps times)")
    (last.get, Stats.median(secs))
  }

  /** Collect `df` and return the rows with its executed plan. */
  def collect(df: DataFrame): (Array[org.apache.spark.sql.Row], SparkPlan) = {
    val rows = df.collect()
    (rows, df.queryExecution.executedPlan)
  }

  /** Garbage-collection seconds of this JVM so far. */
  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
  private def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Bytes and file count under a directory tree. */
  def du(dir: String, prefix: String = ""): (Long, Long) = {
    val root = java.nio.file.Paths.get(dir)
    if (!Files.exists(root)) return (0L, 0L)
    val s = Files.walk(root)
    try {
      val files = s.iterator().asScala.filter(Files.isRegularFile(_)).filter { p =>
        prefix.isEmpty || root.relativize(p).getName(0).toString.startsWith(prefix)
      }.toSeq
      (files.map(Files.size).sum, files.count(_.getFileName.toString.endsWith(".parquet")).toLong)
    } finally s.close()
  }

  /** Per-op means of the Spark task counters over the traced ops. */
  def sparkLayers(traced: Seq[OpSample], extraKeys: OpSample => Seq[Long]): Map[String, Double] = {
    val c = counters.get
    val n = math.max(1, traced.size).toDouble
    val per = traced.map { o =>
      val r = o.root.get
      val keys = rec.spans.filter(_.op == r.op).map(_.id.toLong) ++ extraKeys(o)
      c.sum(keys)
    }
    def mean(f: Work => Double) = per.map(f).sum / n
    Map(
      "spark.jobs" -> mean(_.jobs.toDouble),
      "spark.stages" -> mean(_.stages.toDouble),
      "spark.tasks" -> mean(_.tasks.toDouble),
      "spark.task_cpu_s" -> mean(_.cpuNs / 1e9),
      "spark.task_wait_s" -> mean(_.waitMs / 1e3),
      "spark.gc_s" -> mean(_.gcMs / 1e3),
      "spark.spill_bytes" -> mean(_.spillBytes.toDouble),
      "spark.result_bytes" -> mean(_.resultBytes.toDouble),
      "spark.task_skew" -> mean(_.maxSkew),
      "spark.tasks_failed" -> mean(_.tasksFailed.toDouble),
      "shuffle.write_bytes" -> mean(_.shuffleWrite.toDouble),
      "shuffle.read_bytes" -> mean(_.shuffleRead.toDouble))
  }

  /** Traced over untraced op wall: per op kind the median of each, summed
    * over the kinds that have both; 0 when none has.
    */
  def overheadRatio: Double = {
    val byKind = ops.groupBy(_.kind).values.flatMap { os =>
      val (t, u) = os.partition(_.traced)
      if (t.isEmpty || u.isEmpty) None
      else Some((Stats.median(t.map(_.seconds).toSeq), Stats.median(u.map(_.seconds).toSeq)))
    }
    if (byKind.isEmpty) 0.0 else byKind.map(_._1).sum / byKind.map(_._2).sum
  }

  /** Share of traced op wall time not covered by any child span. */
  def unaccountedRatio: Double = {
    val roots = ops.filter(_.traced).flatMap(_.root)
    val wall = roots.map(_.seconds).sum
    if (wall == 0) 0.0 else roots.map(rec.selfSeconds).sum / wall
  }
}
