package perfbench

import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.Tsdb
import graft.model.{LabelMatcher, TsdbConf}
import graft.streaming.Ingest

/** `ingest_rw`: a Prometheus-shaped feed streams through
  * `Ingest.ingestStream` into a fresh durable zstd store with 2h segments,
  * one micro-batch commit per hour of samples; each commit is followed
  * by a read-after-write probe on a series it just wrote.
  */
object IngestRw {
  val Feed = FeedConf(jobs = 6, instancesPerJob = 5, scrapeSec = 60,
    segmentSec = 7200, windowsPerSegment = 2, churnShare = 0.02,
    lateShare = 0.01)
  /** Store and stream starts per run; `setup_s` is their median. */
  val SetupReps = 9

  private final class Live(val feed: PromFeed, val tsdb: Tsdb,
      val mem: MemoryStream[(String, Map[String, String], Long, Double)],
      val q: StreamingQuery, val store: String) {
    var batches = 0L
    def commit(rows: Seq[PromFeed.Row]): Unit = {
      mem.addData(rows.map(_.tuple))
      q.processAllAvailable()
      batches += 1
    }
  }

  def run(ctx: Ctx): Report = {
    val spark = ctx.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // set-up: a fresh store and a started stream, SetupReps times; the
    // last one is used. The first repetition also loads the streaming
    // code, so the median stands for the warm ones.
    val (live, setupS) = ctx.setup(SetupReps) { rep =>
      val dir = ctx.dir(s"ingest-$rep")
      val tsdb = new Tsdb(spark, TsdbConf(dataPath = s"$dir/store",
        segmentDuration = Feed.segmentSec, compression = "zstd"))
      val mem = MemoryStream[(String, Map[String, String], Long, Double)]
      val q = Ingest.ingestStream(tsdb,
        mem.toDF().toDF("metric", "labels", "ts", "value"),
        s"$dir/checkpoint", triggerMs = 0L)
      q.processAllAvailable()
      new Live(new PromFeed(ctx.args.seed, Feed), tsdb, mem, q, s"$dir/store")
    }(_.tsdb.close())

    val rng = new SplittableRandom(ctx.args.seed ^ 0x5eedL)
    val acc = new Acc
    // stream batch id of each traced commit, by its root span id; per
    // timed iteration: commit seconds, probe seconds, rows committed
    val commitBatch = scala.collection.mutable.Map[Int, Long]()
    val iters = scala.collection.mutable.ArrayBuffer[(Double, Double, Long)]()

    // a commit that folded the series-meta delta leaves no fresh level;
    // the loop ends right after one, so every run holds whole fold cycles
    def folded = !java.nio.file.Files.exists(java.nio.file.Paths.get(live.store, "series_meta"))
    var foldCycles = 0
    def iteration(timed: Boolean, probe: Boolean = true): Unit = {
      val traced = timed && ctx.traced(foldCycles)
      val feed = live.feed
      val batch = feed.nextBatch()
      val w = feed.windowsDone - 1
      val batchId = live.batches
      val commitS = ctx.op("commit", timed, traced)(live.commit(batch))
      commitS.foreach { _ =>
        if (timed && traced) {
          commitBatch(ctx.ops.last.root.get.id) = batchId
          acc.add("index.meta_files_on_disk",
            ctx.du(live.store, "series_meta")._2.toDouble)
        }
      }
      if (timed && folded) foldCycles += 1
      if (probe) {
        // read-after-write probe on a series this commit just wrote
        val (a, b) = (feed.windowStart(w), feed.windowStart(w + 1) - 1)
        val written = feed.liveSeries.filter(s => feed.pointsIn(s, a, b) > 0)
        val s = written(rng.nextInt(written.size))
        val job = s.labels("job")
        val inst = s.labels("instance")
        val readS = ctx.op("fresh_read", timed, traced) {
          val byInstance = Seq(LabelMatcher.eq("job", job), LabelMatcher.eq("instance", inst))
          val (series, sp) = ctx.rec.span("index.series")(
            ctx.collect(live.tsdb.querySeries(byInstance, a, b)))
          ctx.check(s"querySeries job=$job instance=$inst",
            feed.seriesOverlapping(x => x.labels("job") == job &&
              x.labels("instance") == inst, a, b).toLong, series.length.toLong)
          val matchers = s.labels.toSeq.sorted.map { case (k, v) => LabelMatcher.eq(k, v) }
          val (points, rp) = ctx.rec.span("scan.range")(
            ctx.collect(live.tsdb.queryRange(s.metric, matchers, a, b)))
          ctx.check(s"queryRange ${s.metric}${s.labels} [$a,$b] points",
            feed.pointsIn(s, a, b), points.length.toLong)
          if (ctx.rec.tracing) {
            Layers.read(acc, sp, series.length)
            Layers.read(acc, rp, points.length)
          }
        }
        for (c <- commitS; r <- readS if timed) iters += ((c, r, batch.size.toLong))
      }
    }

    // warm-up: the bootstrap commit (it writes the base level; no probe),
    // then one whole fold cycle, so every timed commit and read runs warm
    // code
    iteration(timed = false, probe = false)
    var warm = 0
    do { iteration(timed = false); warm += 1 } while (!folded && warm < 4)
    ctx.loop(_ => folded)(_ => iteration(timed = true))
    val heapMb = ctx.heapPeakMb
    live.tsdb.close()
    ctx.mark("stream stop")

    val commits = ctx.timedOps(_ == "commit")
    val reads = ctx.timedOps(_ == "fresh_read")
    val commitS = commits.map(_.seconds)
    val (storeBytes, _) = ctx.du(live.store)
    val rows = iters.map(_._3).sum.toDouble
    val rowsPerS = rows / iters.map(_._1).sum
    // the gated figures count each commit with its read-after-write probe,
    // so a commit made cheaper by slowing fresh reads does not pass
    val iterS = iters.map(i => i._1 + i._2).toSeq
    val tail = Stats.tail(commitS)

    val layers: Map[String, Double] = ctx.counters match {
      case None => Map.empty
      case Some(c) =>
        org.apache.spark.sql.SparkInternals.drain(spark.sparkContext)
        val traced = commits.filter(_.traced)
        val progress = c.progress.asScala.toSeq.filter(_.runId == live.q.runId)
        val byBatch = progress.map(p => p.batchId -> p).toMap
        val writes = c.writes.asScala.toSeq
        val nsPerMs = 1000000L
        val epochToNano = System.nanoTime() - System.currentTimeMillis() * nsPerMs
        var inCommits = Seq.empty[WriteCmd]
        traced.foreach { o =>
          val root = o.root.get
          byBatch.get(commitBatch(root.id)).foreach { p =>
            val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
              .withDefaultValue(0L)
            var t = java.time.Instant.parse(p.timestamp).toEpochMilli * nsPerMs + epochToNano
            def phase(name: String, ms: Long): Span = {
              val s = ctx.rec.add(name, root, t, t + ms * nsPerMs)
              t += ms * nsPerMs
              s
            }
            phase("ingest.offsets", d("latestOffset"))
            phase("ingest.wal_commit", d("walCommit"))
            phase("ingest.plan", d("getBatch") + d("queryPlanning"))
            val add = phase("ingest.add_batch", d("addBatch"))
            phase("ingest.offsets", d("commitOffsets"))
            acc.add("ingest.rows_per_commit", p.numInputRows.toDouble)
            val mine = writes.filter(w => w.startMs * nsPerMs + epochToNano >= root.startNs &&
              w.endMs * nsPerMs + epochToNano <= root.endNs + nsPerMs)
            mine.foreach(w => ctx.rec.add(Layers.writeTier(w.path), add,
              w.startMs * nsPerMs + epochToNano, w.endMs * nsPerMs + epochToNano))
            inCommits ++= mine
          }
        }
        val n = math.max(1, traced.size).toDouble
        def phaseS(name: String) =
          ctx.rec.spans.filter(s => s.name == name && s.parent >= 0).map(_.seconds).sum / n
        val tracedReads = reads.filter(_.traced)
        Map(
          "ingest.add_batch_s" -> phaseS("ingest.add_batch"),
          "ingest.wal_commit_s" -> phaseS("ingest.wal_commit"),
          "ingest.offsets_s" -> phaseS("ingest.offsets"),
          "ingest.plan_s" -> phaseS("ingest.plan"),
          "ingest.rows_per_commit" -> acc.mean("ingest.rows_per_commit"),
          "index.meta_files_on_disk" -> acc.mean("index.meta_files_on_disk"),
          "index.s" -> ctx.rec.spans.filter(_.name == "index.series")
            .map(ctx.rec.selfSeconds).sum / math.max(1, tracedReads.size)) ++
          Layers.writeMetrics(inCommits, traced.size) ++
          Layers.readMetrics(acc) ++
          ctx.sparkLayers(traced ++ tracedReads,
            o => commitBatch.get(o.root.get.id).map(b => -(b + 1)).toSeq)
    }

    val feed = live.feed
    Report(
      setupS = setupS,
      opS = iterS.sum / iterS.size,
      opTail = tail,
      workPerS = rows / iterS.sum,
      named = Seq(
        "ingest_rows_per_s" -> rowsPerS,
        "ingest_commit_s_p50" -> Stats.median(commitS),
        "ingest_commit_s_tail" -> tail.value,
        "fresh_read_s_p50" -> Stats.median(reads.map(_.seconds)),
        "store_bytes_per_sample" -> storeBytes.toDouble / feed.rowsDelivered),
      layers = layers + ("jvm.heap_peak_mb" -> heapMb),
      properties = Seq(
        "series" -> feed.series.size,
        "live_series" -> feed.liveSeries.size,
        "rows" -> feed.rowsDelivered,
        "commits" -> live.batches,
        "rows_per_commit_p50" -> Stats.median(iters.map(_._3.toDouble).toSeq),
        "scrape_interval_s" -> Feed.scrapeSec,
        "segment_s" -> Feed.segmentSec,
        "window_s" -> feed.windowSec,
        "churn_share" -> Feed.churnShare,
        "churned_instances" -> feed.churned,
        "late_share" -> Feed.lateShare,
        "late_rows" -> feed.lateDelivered,
        "store_bytes" -> storeBytes))
  }
}
