package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

/** One Prometheus-shaped series: a metric plus a label set, alive from
  * `born` (inclusive) to `died` (exclusive), scraped every interval at a
  * fixed per-target phase.
  */
final class Series(
    val idx: Int,
    val metric: String,
    val labels: Map[String, String],
    val counter: Boolean,
    val phase: Long,
    val born: Long) {
  var died: Long = Long.MaxValue
  var value: Double = 0.0
  // bounds and segments of the samples actually delivered so far — what
  // the store's series dimension and label-value tier must report
  var minTs: Long = Long.MaxValue
  var maxTs: Long = Long.MinValue
  val segs: mutable.BitSet = mutable.BitSet()
}

final case class FeedConf(
    jobs: Int,
    instancesPerJob: Int,
    scrapeSec: Long,
    segmentSec: Long,
    windowsPerSegment: Int,
    churnShare: Double,
    lateShare: Double)

/** Seeded Prometheus-shaped sample feed.
  *
  * Time advances in windows of `segmentSec / windowsPerSegment`; each
  * window is one batch (one streaming commit, or one `insertRows` call).
  * Per window every live series is scraped on its grid, a `churnShare` of
  * instances is replaced by fresh ones (new series), and a `lateShare` of
  * samples is held back and delivered exactly one segment later — so late
  * samples always land in the segment before the one being written.
  * The feed keeps what it delivered, so every check below is an exact
  * answer, not a second run of the engine.
  */
final class PromFeed(seed: Long, val conf: FeedConf) {
  import PromFeed._

  private val rng = new SplittableRandom(seed)
  val t0: Long = 1700000000L / conf.segmentSec * conf.segmentSec
  val windowSec: Long = conf.segmentSec / conf.windowsPerSegment
  require(windowSec % conf.scrapeSec == 0, "window must hold whole scrapes")

  val series = mutable.ArrayBuffer[Series]()
  private val live = mutable.ArrayBuffer[Seq[Series]]() // one entry per instance
  private var nextInstance = 0
  private val pending = mutable.Map[Int, mutable.ArrayBuffer[Row]]()
  private var window = 0
  var rowsDelivered = 0L
  var lateDelivered = 0L
  var churned = 0

  private def newInstance(job: String, born: Long): Seq[Series] = {
    val inst = f"i-$nextInstance%05d"
    nextInstance += 1
    val phase = rng.nextLong(conf.scrapeSec)
    val base = Map("job" -> job, "instance" -> inst)
    val made = Metrics.flatMap { case (m, counter, codes) =>
      val sets =
        if (codes.isEmpty) Seq(base) else codes.map(c => base + ("code" -> c))
      sets.map { ls =>
        val s = new Series(series.size, m, ls, counter, phase, born)
        s.value = if (counter) 0.0 else rng.nextInt(1000).toDouble
        series += s
        s
      }
    }
    made
  }

  for (j <- 0 until conf.jobs; _ <- 0 until conf.instancesPerJob)
    live += newInstance(Jobs(j % Jobs.size), t0)

  def windowStart(w: Int): Long = t0 + w * windowSec
  def segOf(ts: Long): Long = Math.floorDiv(ts, conf.segmentSec)
  def windowsDone: Int = window
  def liveSeries: Seq[Series] = live.flatten.toSeq

  private def step(s: Series): Double = {
    if (s.counter) {
      // counters grow, and reset now and then (a process restart)
      if (rng.nextDouble() < 0.002) s.value = rng.nextInt(10).toDouble
      else s.value += rng.nextInt(10).toDouble
    } else s.value = math.max(0.0, s.value + rng.nextInt(21) - 10)
    s.value
  }

  private def deliver(r: Row, out: mutable.ArrayBuffer[Row]): Unit = {
    val s = series(r.series)
    s.minTs = math.min(s.minTs, r.ts)
    s.maxTs = math.max(s.maxTs, r.ts)
    s.segs += segOf(r.ts).toInt
    out += r
  }

  /** The next window's batch: this window's on-time samples plus the late
    * samples held back one segment ago.
    */
  def nextBatch(): Seq[Row] = {
    val w = window
    val a = windowStart(w)
    val b = a + windowSec
    val out = mutable.ArrayBuffer[Row]()
    for (inst <- live; s <- inst) {
      var ts = a + Math.floorMod(s.phase - a, conf.scrapeSec)
      while (ts < b) {
        val r = Row(s.idx, s.metric, s.labels, ts, step(s))
        if (rng.nextDouble() < conf.lateShare)
          pending.getOrElseUpdate(w + conf.windowsPerSegment,
            mutable.ArrayBuffer[Row]()) += r
        else deliver(r, out)
        ts += conf.scrapeSec
      }
    }
    pending.remove(w).foreach { late =>
      late.foreach(deliver(_, out))
      lateDelivered += late.size
    }
    // churn at the window boundary: replaced instances stop scraping at b
    // and their replacements start there
    for (i <- live.indices) if (rng.nextDouble() < conf.churnShare) {
      live(i).foreach(_.died = b)
      live(i) = newInstance(live(i).head.labels("job"), b)
      churned += 1
    }
    window += 1
    rowsDelivered += out.size
    out.toSeq
  }

  /** Deliver everything still held back (end of a bulk load). */
  def flushLate(): Seq[Row] = {
    val out = mutable.ArrayBuffer[Row]()
    pending.values.foreach(_.foreach(deliver(_, out)))
    lateDelivered += out.size
    rowsDelivered += out.size
    pending.clear()
    out.toSeq
  }

  private def pendingIn(s: Series, a: Long, b: Long): Int =
    pending.valuesIterator.map(
      _.count(r => r.series == s.idx && r.ts >= a && r.ts <= b)).sum

  /** Exact number of delivered samples of `s` with ts in `[a, b]`. */
  def pointsIn(s: Series, a: Long, b: Long): Long = {
    val lo = math.max(a, s.born)
    val hi = math.min(b, s.died - 1)
    if (lo > hi) 0L
    else {
      val first = lo + Math.floorMod(s.phase - lo, conf.scrapeSec)
      val scraped = if (first > hi) 0L else (hi - first) / conf.scrapeSec + 1
      scraped - pendingIn(s, a, b)
    }
  }

  /** Series the store's series dimension overlaps with `[a, b]`. */
  def seriesOverlapping(pred: Series => Boolean, a: Long, b: Long): Int =
    series.count(s => pred(s) && s.minTs <= b && s.maxTs >= a)

  /** Values of `label` in segments overlapping `[a, b]` (segment grain,
    * like the store's label-value tier).
    */
  def labelDomain(label: String, a: Long, b: Long): Set[String] = {
    val (sa, sb) = (segOf(a).toInt, segOf(b).toInt)
    series.iterator
      .filter(s => s.segs.exists(g => g >= sa && g <= sb))
      .flatMap(_.labels.get(label)).toSet
  }
}

object PromFeed {
  final case class Row(
      series: Int, metric: String, labels: Map[String, String], ts: Long,
      value: Double) {
    def tuple: (String, Map[String, String], Long, Double) =
      (metric, labels, ts, value)
  }

  val Jobs = Seq("api", "web", "db", "cache", "auth", "queue")
  /** (metric, is counter, status codes — one series per code). */
  val Metrics: Seq[(String, Boolean, Seq[String])] = Seq(
    ("http_requests_total", true, Seq("200", "404", "500")),
    ("process_cpu_seconds_total", true, Nil),
    ("node_memory_bytes", false, Nil),
    ("queue_depth", false, Nil))
}

/** A document of the generated corpus. `group` names the planted cluster
  * (an original and its copy share it; -1 for none) and `kind` says
  * whether that cluster holds an exact or a near duplicate.
  */
final case class Doc(id: Long, text: String, lang: String, group: Int,
    kind: Doc.Kind)

object Doc {
  sealed trait Kind
  case object Plain extends Kind
  case object ExactDup extends Kind
  case object NearDup extends Kind
}

/** Seeded document corpus over a Zipf vocabulary, with a planted share of
  * exact duplicates and of near-duplicates. A near copy substitutes one
  * word in every `nearEditEvery`, which keeps its word-3-gram Jaccard
  * similarity to the original near 0.9; unrelated Zipf documents score
  * far below any useful threshold.
  */
final class Corpus(seed: Long, val docs: Int, val vocab: Int,
    val exactShare: Double, val nearShare: Double) {
  import Doc._

  private val rng = new SplittableRandom(seed)
  private val nearEditEvery = 60

  // Zipf(1.1) over the vocabulary by inverse CDF
  private val cdf: Array[Double] = {
    val w = Array.tabulate(vocab)(r => 1.0 / math.pow(r + 1, 1.1))
    val total = w.sum
    w.scanLeft(0.0)(_ + _ / total).tail
  }
  private def word(): String = {
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    s"w${if (i >= 0) i else math.min(-i - 1, vocab - 1)}"
  }
  private def original(): String =
    Seq.fill(40 + rng.nextInt(80))(word()).mkString(" ")
  private def nearCopy(t: String): String = {
    val ws = t.split(' ')
    for (i <- ws.indices if i % nearEditEvery == nearEditEvery / 2) {
      var w = word()
      while (w == ws(i)) w = word()
      ws(i) = w
    }
    ws.mkString(" ")
  }

  val nExact: Int = (docs * exactShare).round.toInt
  val nNear: Int = (docs * nearShare).round.toInt

  val all: IndexedSeq[Doc] = {
    val nOrig = docs - nExact - nNear
    // planted copies point at distinct originals, so each planted cluster
    // is one original plus one copy
    val picks = rng.ints(0, nOrig).distinct().limit((nExact + nNear).toLong)
      .toArray
    require(picks.length == nExact + nNear, "corpus too small for its dups")
    val kindOf = picks.zipWithIndex.map { case (o, k) =>
      o -> (if (k < nExact) ExactDup else NearDup)
    }.toMap
    val origs = IndexedSeq.tabulate(nOrig) { i =>
      Doc(0, original(), if (i % 5 == 0) "de" else "en",
        if (kindOf.contains(i)) i else -1, kindOf.getOrElse(i, Plain))
    }
    val copies = picks.toSeq.map { o =>
      val src = origs(o)
      src.copy(text = if (src.kind == ExactDup) src.text
        else nearCopy(src.text))
    }
    // shuffle, then number: ids carry no hint of the planted structure
    val shuffled = new scala.util.Random(rng.nextLong()).shuffle(origs ++ copies)
    shuffled.zipWithIndex.map { case (d, i) => d.copy(id = i.toLong + 1) }
  }

  private def clusters(k: Kind): Map[Int, Seq[Long]] =
    all.filter(_.kind == k).groupBy(_.group)
      .map { case (g, ds) => g -> ds.map(_.id).sorted }

  /** Planted exact-duplicate clusters (original + copy), by group. */
  lazy val exactGroups: Map[Int, Seq[Long]] = clusters(ExactDup)

  /** Planted near-duplicate clusters (original + near copy), by group. */
  lazy val nearGroups: Map[Int, Seq[Long]] = clusters(NearDup)

  /** Word-3-gram Jaccard similarity over the documents `ids`, with every
    * shingle found in more than `cap` of them dropped first: the
    * df-capped similarity the near-duplicate join computes.
    */
  def cappedJaccard(ids: Set[Long], cap: Int): (Long, Long) => Double = {
    val sets = all.iterator.filter(d => ids(d.id)).map { d =>
      d.id -> d.text.split(' ').sliding(3).filter(_.length == 3)
        .map(_.mkString(" ")).toSet
    }.toMap
    val df = sets.valuesIterator.flatten.toSeq.groupMapReduce(identity)(_ => 1)(_ + _)
    val capped = sets.map { case (id, s) => id -> s.filter(df(_) <= cap) }
    (a, b) => {
      val (x, y) = (capped(a), capped(b))
      val common = x.count(y)
      val union = x.size + y.size - common
      if (union == 0) 0.0 else common.toDouble / union
    }
  }
}
