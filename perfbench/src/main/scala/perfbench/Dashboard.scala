package perfbench

import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{count, lit}

import graft.Tsdb
import graft.model.{LabelMatcher, TsdbConf}
import graft.promql.PromQL

/** `dashboard`: set-up bulk-loads one durable store with one `insertRows`;
  * then a fixed, seeded mix of dashboard queries runs against it in a
  * closed loop.
  */
object Dashboard {
  val Feed = FeedConf(jobs = 6, instancesPerJob = 5, scrapeSec = 180,
    segmentSec = 7200, windowsPerSegment = 1, churnShare = 0.02,
    lateShare = 0.01)
  val Hours = 6
  /** Bulk loads per run; `setup_s` is their median. */
  val SetupReps = 3

  /** The query mix, in loop order. */
  val Mix = Seq("range_point", "range_scan", "series", "label_values",
    "promql_count", "promql_rate", "promql_topk")

  def run(ctx: Ctx): Report = {
    val spark = ctx.spark
    import spark.implicits._

    // generate once; set-up time covers only the engine's work
    val feed = new PromFeed(ctx.args.seed, Feed)
    val windows = Hours * 3600 / feed.windowSec.toInt
    val rows = (0 until windows).flatMap(_ => feed.nextBatch()) ++ feed.flushLate()
    val frame = rows.map(_.tuple).toDF("metric", "labels", "ts", "value")
    ctx.mark("generation")
    val (tsdb, setupS) = ctx.setup(SetupReps) { rep =>
      val t = new Tsdb(spark, TsdbConf(dataPath = s"${ctx.dir(s"dashboard-$rep")}/store",
        segmentDuration = Feed.segmentSec, compression = "zstd"))
      t.insertRows(frame)
      t
    }(_.close())
    val store = tsdb.conf.dataPath
    val (metaBytes, metaFiles) = ctx.du(store, "series_meta")
    val broadcastThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val t0 = feed.t0
    val t1 = feed.t0 + Hours * 3600L - 1

    val rng = new SplittableRandom(ctx.args.seed ^ 0xdab0L)
    val acc = new Acc
    val promqlPlan = new Acc
    def pick[T](xs: Seq[T]): T = xs(rng.nextInt(xs.size))
    def seriesOf(metric: String) = feed.series.filter(_.metric == metric).toSeq
    /** A window of `len` seconds inside `[t0, t1]`, aligned to `align`. */
    def window(len: Long, align: Long): (Long, Long) = {
      val slots = (t1 - t0 + 1 - len) / align
      val a = t0 + rng.nextLong(slots + 1) * align
      (a, a + len - 1)
    }

    def read(name: String, df: => DataFrame): (Array[org.apache.spark.sql.Row], Long) = {
      val (rows, plan) = ctx.rec.span(name)(ctx.collect(df))
      if (ctx.rec.tracing) Layers.read(acc, plan, rows.length)
      (rows, rows.length.toLong)
    }

    def promql(query: String, a: Long, b: Long): Array[org.apache.spark.sql.Row] = {
      ctx.rec.span("promql.parse")(PromQL.parse(query))
      val df = ctx.rec.span("promql.compile")(PromQL.query(tsdb, query, a, b))
      ctx.rec.span("plan.optimize")(df.queryExecution.executedPlan)
      val rows = ctx.rec.span("exec")(df.collect())
      if (ctx.rec.tracing) {
        val p = df.queryExecution.executedPlan
        promqlPlan.add("plan.exchanges", Plans.exchanges(p).toDouble)
        Layers.read(acc, p, rows.length)
      }
      rows
    }

    def query(kind: String): Unit = kind match {
      case "range_point" =>
        val s = pick(feed.series.filter(x => x.born <= t1 - 600 && x.died > t0 + 600).toSeq)
        val lo = math.max(t0, s.born)
        val hi = math.min(t1, s.died - 1) - 600
        val a = lo + rng.nextLong(math.max(1L, hi - lo))
        val matchers = s.labels.toSeq.sorted.map { case (k, v) => LabelMatcher.eq(k, v) }
        val (_, n) = read("scan.range", tsdb.queryRange(s.metric, matchers, a, a + 599))
        ctx.check(s"point range ${s.metric}${s.labels} [$a,+600)", feed.pointsIn(s, a, a + 599), n)
      case "range_scan" =>
        val (a, b) = window(Hours * 3600L, 3600L)
        val jobs = Seq.fill(3)(pick(PromFeed.Jobs)).distinct.sorted
        val metrics = Seq("http_requests_total", "queue_depth")
        val (rows, _) = read("scan.selector",
          tsdb.queryRangeSelector(Seq(
            LabelMatcher.re("__name__", metrics.mkString("|")),
            LabelMatcher.re("job", jobs.mkString("|"))), a, b).select(count(lit(1))))
        val want = feed.series.iterator
          .filter(s => metrics.contains(s.metric) && jobs.contains(s.labels("job")))
          .map(feed.pointsIn(_, a, b)).sum
        ctx.check(s"selector ${metrics.mkString("|")} job=~${jobs.mkString("|")} [$a,$b] rows",
          want, rows.head.getLong(0))
      case "series" =>
        val (a, b) = window(4 * 3600L, 600L)
        val job = pick(PromFeed.Jobs.take(Feed.jobs))
        val (_, n) = read("index.series",
          tsdb.querySeries(Seq(LabelMatcher.eq("job", job)), a, b))
        ctx.check(s"querySeries job=$job [$a,$b]",
          feed.seriesOverlapping(_.labels("job") == job, a, b).toLong, n)
      case "label_values" =>
        val (a, b) = window(4 * 3600L, 1800L)
        val (rows, _) = read("scan.label_values", tsdb.queryLabelValues("instance", a, b))
        ctx.check(s"label values instance [$a,$b]",
          feed.labelDomain("instance", a, b), rows.map(_.getString(0)).toSet)
      case "promql_count" =>
        val (a, b) = window(4 * 3600L, 3600L)
        val rows = promql("count by (job) (queue_depth[1h])", a, b)
        val n = rows.map(r => r.getAs[Number]("n").longValue).sum
        ctx.check(s"count by (job) (queue_depth[1h]) [$a,$b] total",
          seriesOf("queue_depth").map(feed.pointsIn(_, a, b)).sum, n)
      case "promql_rate" =>
        val (a, b) = window(2 * 3600L, 600L)
        val rows = promql("sum by (job) (rate(http_requests_total[15m]))", a, b)
        val jobs = rows.map(_.getAs[String]("job")).toSet
        ctx.check(s"sum by (job) (rate(...)) [$a,$b] jobs",
          seriesOf("http_requests_total").filter(feed.pointsIn(_, a, b) > 1)
            .map(_.labels("job")).toSet, jobs)
        ctx.check("rate is never negative", true,
          rows.forall(r => r.getAs[Number]("rate_per_sec").doubleValue >= 0))
      case "promql_topk" =>
        val (a, b) = window(4 * 3600L, 3600L)
        val rows = promql("topk(3, sum by (instance) (node_memory_bytes[1h]))", a, b)
        val want = (a to b by 3600L).map { h =>
          math.min(3, seriesOf("node_memory_bytes")
            .count(feed.pointsIn(_, h, h + 3599) > 0)).toLong
        }.sum
        ctx.check(s"topk(3, ...) [$a,$b] rows", want, rows.length.toLong)
    }

    Mix.foreach(k => ctx.op(k, timed = false, traced = false)(query(k))) // warm-up
    // whole mix cycles, at least three: each kind's median then rests on
    // three or more queries
    ctx.loop(i => i % Mix.size == 0 && i >= 3 * Mix.size) { i =>
      val k = Mix(i % Mix.size)
      ctx.op(k, timed = true, ctx.traced(i / Mix.size))(query(k))
    }
    val heapMb = ctx.heapPeakMb
    tsdb.close()

    def p50(kinds: String => Boolean) = Stats.median(ctx.timedOps(kinds).map(_.seconds))
    val allS = ctx.ops.map(_.seconds).toSeq
    val qps = allS.size / allS.sum
    val tail = Stats.tail(allS)

    val layers: Map[String, Double] = ctx.counters match {
      case None => Map.empty
      case Some(c) =>
        org.apache.spark.sql.SparkInternals.drain(spark.sparkContext)
        val traced = ctx.ops.filter(_.traced).toSeq
        val tracedPromql = traced.filter(_.kind.startsWith("promql"))
        def perPromql(name: String) = ctx.rec.spans.filter(_.name == name)
          .map(_.seconds).sum / math.max(1, tracedPromql.size)
        Map(
          "index.meta_files_on_disk" -> metaFiles.toDouble,
          "index.s" -> ctx.rec.spans.filter(_.name == "index.series")
            .map(ctx.rec.selfSeconds).sum /
            math.max(1, traced.count(_.kind == "series")),
          "promql.parse_s" -> perPromql("promql.parse"),
          "promql.compile_s" -> perPromql("promql.compile"),
          "plan.optimize_s" -> perPromql("plan.optimize"),
          "exec_s" -> perPromql("exec"),
          "plan.exchanges" -> promqlPlan.mean("plan.exchanges")) ++
          Layers.writeMetrics(c.writes.asScala.toSeq, SetupReps) ++
          Layers.readMetrics(acc) ++
          ctx.sparkLayers(traced, _ => Nil)
    }

    // each kind's median, averaged over the mix: the median of the pooled
    // queries would jump between kinds from run to run
    val perKindP50 = Mix.map(k => p50(_ == k)).sum / Mix.size
    Report(
      setupS = setupS,
      opS = perKindP50,
      opTail = tail,
      workPerS = qps,
      named = Seq(
        "range_point_s_p50" -> p50(_ == "range_point"),
        "range_scan_s_p50" -> p50(_ == "range_scan"),
        "metadata_s_p50" -> p50(k => k == "series" || k == "label_values"),
        "promql_s_p50" -> p50(_.startsWith("promql")),
        "dashboard_s_tail" -> tail.value,
        "dashboard_queries_per_s" -> qps,
        "store_bytes_per_sample" -> ctx.du(store)._1.toDouble / feed.rowsDelivered),
      layers = layers + ("jvm.heap_peak_mb" -> heapMb),
      properties = Seq(
        "series" -> feed.series.size,
        "rows" -> feed.rowsDelivered,
        "hours" -> Hours,
        "scrape_interval_s" -> Feed.scrapeSec,
        "segment_s" -> Feed.segmentSec,
        "churn_share" -> Feed.churnShare,
        "late_share" -> Feed.lateShare,
        "late_rows" -> feed.lateDelivered,
        "series_dim_bytes" -> metaBytes,
        "broadcast_threshold" -> broadcastThreshold,
        "mix" -> Mix.mkString(",")))
  }
}
