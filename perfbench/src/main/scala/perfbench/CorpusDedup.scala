package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{broadcast, col, max_by, struct}

import graft.operators.{Dedup, TextAnalysis}

/** `corpus_dedup`: one pass over a generated corpus runs exact dedup →
  * word-3-gram Jaccard pairs (document-frequency capped) → connected
  * components → keep the best-quality member of each component → quality
  * filter. After exact dedup, whose kept ids are checkpointed, the pass is
  * one DataFrame chain composed as the registry's `pipeline_keep_best`:
  * the pairs feed `connectedComponents`, whose output feeds the
  * broadcast-pinned keep-best join, whose losers feed `qualityFilter`.
  * Only the final output is collected inside the timed pass; the checks
  * re-read the intermediates after the clock stops.
  */
object CorpusDedup {
  val Docs = 600
  val Vocab = 20000
  val ExactShare = 0.05
  val NearShare = 0.05
  val DropFrac = 0.1
  val Threshold = 0.8
  val MaxDocFreq = 5
  /** Corpus writes per run; `setup_s` is their median. */
  val SetupReps = 5

  /** The frames of one pass, for the checks, and the ids it kept. */
  private final case class Pass(exact: DataFrame, pairs: DataFrame,
      comp: DataFrame, losers: DataFrame, kept: Set[Long], traced: Boolean)

  def run(ctx: Ctx): Report = {
    val spark = ctx.spark
    import spark.implicits._

    val corpus = new Corpus(ctx.args.seed, Docs, Vocab, ExactShare, NearShare)
    val frame = corpus.all.map(d => (d.id, d.text, d.lang)).toDF("doc_id", "text", "lang")
    // set-up: write the corpus as the pipeline's parquet input
    val (input, setupS) = ctx.setup(SetupReps) { rep =>
      val dir = s"${ctx.dir(s"corpus-$rep")}/documents"
      frame.write.parquet(dir)
      dir
    }(_ => ())
    val exactFirst = corpus.exactGroups.values.map(_.head).toSet
    val exactLater = corpus.exactGroups.values.flatMap(_.tail).toSet
    val uniqIds = corpus.all.map(_.id).toSet -- exactLater
    val jaccard = corpus.cappedJaccard(uniqIds, MaxDocFreq)
    // the planted near pairs the join must find: those still similar
    // enough once hot shingles are capped away
    val nearPairs = corpus.nearGroups.values.map(ids => (ids(0), ids(1)))
      .filter { case (a, b) => jaccard(a, b) >= Threshold }.toSet
    val langOf = corpus.all.map(d => d.id -> d.lang).toMap
    val acc = new Acc

    // largest block-manager footprint seen at a stage boundary of the pass
    var passStorage = 0L
    def storageBytes(): Unit = if (ctx.rec.tracing) {
      val b = spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
      passStorage = math.max(passStorage, b)
    }

    def pass(): Pass = {
      val docs = spark.read.parquet(input)
      val exact = ctx.rec.span("dedup.exact")(
        Dedup.exact(docs, "doc_id", "text").localCheckpoint())
      storageBytes()
      val uniq = docs.join(broadcast(exact.select("doc_id")), Seq("doc_id"), "left_semi")
      // materializes the shingle sets and the inverted index; the self-join
      // it returns runs when the components loop materializes its edges
      val pairs = ctx.rec.span("dedup.pairs")(
        Dedup.ngramJaccardPairs(uniq, "doc_id", "text", 3, Threshold,
          hashTokens = true, maxDocFreq = Some(MaxDocFreq.toLong)))
      storageBytes()
      val comp = ctx.rec.span("components")(Dedup.connectedComponents(pairs))
      storageBytes()
      // as in pipeline_keep_best, the pair-graph side is pinned: Catalyst
      // cannot size the components loop's output
      val losers = ctx.rec.span("keep_best") {
        val reps = TextAnalysis.qualityScore(
            uniq.join(broadcast(comp), "doc_id"), "doc_id", "text",
            keep = Seq("component"))
          .groupBy("component")
          .agg(max_by(col("doc_id"), struct(col("quality"), -col("doc_id"))).as("doc_id"))
          .select("doc_id")
        comp.select("doc_id").join(reps, Seq("doc_id"), "left_anti")
      }
      // the pass's one action: keep-best and the quality filter run here
      val kept = ctx.rec.span("text.quality") {
        TextAnalysis.qualityFilter(
          uniq.join(broadcast(losers), Seq("doc_id"), "left_anti"),
          "doc_id", "text", "lang", DropFrac).select("doc_id").collect()
          .map(_.getLong(0)).toSet
      }
      storageBytes()
      Pass(exact, pairs, comp, losers, kept, ctx.rec.tracing)
    }

    // the warm-up pass and traced passes check every stage against the
    // generator; any other pass must keep exactly the ids the first, fully
    // checked pass kept (same input, deterministic pipeline)
    var reference = Option.empty[Set[Long]]
    def verify(p: Pass): Unit = reference match {
      case Some(ref) if !p.traced =>
        ctx.check("pass keeps the ids the fully checked first pass kept", ref, p.kept)
      case _ =>
        verifyStages(p)
        if (reference.isEmpty) reference = Some(p.kept)
    }

    def verifyStages(p: Pass): Unit = {
      val exact = p.exact.collect().map(r => (r.getLong(0), r.getLong(1)))
      ctx.check("exact dedup keeps one doc per content", (Docs - corpus.nExact).toLong,
        exact.length.toLong)
      ctx.check("exact dedup keeps the first id of each planted group",
        exactFirst, exact.collect { case (id, n) if n > 1 => id }.toSet)

      val pairs = p.pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
      if (p.traced) {
        acc.add("dedup.pairs_kept", pairs.length.toDouble)
        acc.add("dedup.candidates",
          Plans.maxJoinRows(p.pairs.queryExecution.executedPlan).toDouble)
      }
      ctx.check("every planted near-duplicate pair is found",
        Set.empty[(Long, Long)], nearPairs -- pairs.toSet)
      ctx.check("every pair found is similar enough", Set.empty[(Long, Long)],
        pairs.filter { case (a, b) => jaccard(a, b) < Threshold }.toSet)
      ctx.check("no pair holds a removed exact copy", Set.empty[Long],
        pairs.flatMap(p => Seq(p._1, p._2)).toSet.intersect(exactLater))

      val comp = p.comp.collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("component")).toMap
      ctx.check("the two ends of every pair share a component", Set.empty[(Long, Long)],
        pairs.filter { case (a, b) => comp.get(a).isEmpty || comp.get(a) != comp.get(b) }.toSet)

      val losers = p.losers.collect().map(_.getLong(0)).toSet
      if (p.traced)
        acc.add("keep_best.broadcast_bytes",
          Plans.broadcastBytes(p.losers.queryExecution.executedPlan).toDouble)
      ctx.check("keep-best drops all but one member per component",
        (comp.size - comp.values.toSet.size).toLong, losers.size.toLong)

      // rank-based: at least ceil(dropFrac * (n - 1)) of each language's n
      // survivors go (more when the quality scores tie at the cut)
      val kept = p.kept
      val survivors = exact.map(_._1).toSet -- losers
      val tooMany = survivors.groupBy(langOf).collect {
        case (lang, ids) if kept.count(ids) >
            ids.size - math.ceil(DropFrac * (ids.size - 1)).toInt => lang
      }.toSet
      ctx.check("quality filter keeps only survivors", Set.empty[Long], kept -- survivors)
      ctx.check("quality filter drops its share per language", Set.empty[String], tooMany)
      ctx.check("no component keeps two members", Set.empty[Long],
        comp.groupBy(_._2).collect {
          case (c, members) if members.keys.count(kept) > 1 => c
        }.toSet)
    }

    def cleanup(): Unit =
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

    ctx.checkedOp("pass", timed = false, traced = false)(pass())(verify) // warm-up
    cleanup()
    // at least three passes: the median then drops a pass still warming up
    ctx.loop(_ >= 3) { i =>
      passStorage = 0L
      ctx.checkedOp("pass", timed = true, ctx.traced(i))(pass())(verify)
      if (ctx.traced(i)) acc.add("materialize.bytes", passStorage.toDouble)
      cleanup()
    }
    val heapMb = ctx.heapPeakMb

    val passS = ctx.ops.map(_.seconds).toSeq
    val p50 = Stats.median(passS)
    val tail = Stats.tail(passS)

    val layers: Map[String, Double] = ctx.counters match {
      case None => Map.empty
      case Some(_) =>
        org.apache.spark.sql.SparkInternals.drain(spark.sparkContext)
        val traced = ctx.ops.filter(_.traced).toSeq
        val n = math.max(1, traced.size).toDouble
        def spanS(name: String) = ctx.rec.spans.filter(_.name == name).map(_.seconds).sum / n
        val compJobs = ctx.counters.get.sum(ctx.rec.spans.filter(_.name == "components")
          .map(_.id.toLong)).jobs
        val candidates = acc.total("dedup.candidates")
        Map(
          "dedup.exact_s" -> spanS("dedup.exact"),
          "dedup.pairs_s" -> spanS("dedup.pairs"),
          "dedup.pair_yield" ->
            (if (candidates == 0) 0.0 else acc.total("dedup.pairs_kept") / candidates),
          "components.s" -> spanS("components"),
          "components.jobs" -> compJobs / n,
          "materialize.bytes" -> acc.mean("materialize.bytes"),
          "keep_best.s" -> spanS("keep_best"),
          "keep_best.broadcast_bytes" -> acc.mean("keep_best.broadcast_bytes"),
          "text.quality_s" -> spanS("text.quality")) ++
          ctx.sparkLayers(traced, _ => Nil)
    }

    Report(
      setupS = setupS,
      opS = p50,
      opTail = tail,
      workPerS = Docs / p50,
      named = Seq("corpus_docs_per_s" -> Docs / p50),
      layers = layers + ("jvm.heap_peak_mb" -> heapMb),
      properties = Seq(
        "docs" -> Docs,
        "vocab" -> Vocab,
        "zipf_s" -> 1.1,
        "exact_dup_share" -> ExactShare,
        "near_dup_share" -> NearShare,
        "planted_exact_groups" -> corpus.exactGroups.size,
        "planted_near_groups" -> corpus.nearGroups.size,
        "planted_near_pairs_above_threshold" -> nearPairs.size,
        "jaccard_threshold" -> Threshold,
        "max_doc_freq" -> MaxDocFreq,
        "quality_drop_frac" -> DropFrac))
  }
}
