package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** CI gate for the r14 expression-recompute class: every text operator
  * must grow (sub)linearly in DOCUMENT LENGTH. The synthetic fixtures'
  * docs are short, so a per-doc O(n²) term (HOF lambdas re-evaluating
  * the outer array per element, per-codepoint substr scans, …) is
  * invisible to every other spec — but catastrophic on real 10-100 KB
  * documents (pre-fix receipts: polyFingerprint grew 227× for 20×
  * length; dsirGrams made pipeline_dsir 134.5 s at x100). This spec is
  * the long-document probe shrunk to a test budget: two equal-row corpora
  * 16× apart in tokens per doc, asserting wall-time growth stays far
  * below the quadratic signature (16× linear → gate at 80×; the
  * quadratic class reads ≥ 200×).
  */
class LinearitySpec extends SparkSuite {
  import graft.operators.TextAnalysis

  private def corpus(nDocs: Int, tokens: Int): DataFrame =
    spark.range(nDocs).select(
        col("id").as("doc_id"),
        concat_ws(" ",
          transform(sequence(lit(0), lit(tokens - 1)), i =>
            when(pmod(i, lit(17)) === 0, lit("the"))
              .when(pmod(i, lit(23)) === 0, lit("and"))
              .otherwise(concat(lit("w"),
                pmod(xxhash64(col("id"), i), lit(1000))))))
          .as("text"))
      .localCheckpoint() // materialize: text generation outside timing

  // force EVERY output column — a bare count() lets the optimizer prune
  // the computed columns away entirely (the first long-document probe
  // measured nothing but row counting for the map-side operators)
  private def force(df: DataFrame): Unit = {
    df.select(max(xxhash64(df.columns.map(col): _*))).head(); ()
  }

  private def secs(f: => Unit): Double = {
    def once(): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    math.min(once(), once()) // min-of-2: first run pays codegen + JIT
  }

  test("text operators grow linearly in document length " +
      "(recompute-class regression gate)") {
    val factor = 16
    val short = corpus(600, 125)
    val long = corpus(600, 125 * factor)
    val ops: Seq[(String, DataFrame => Unit)] = Seq(
      "langid" -> (c => force(TextAnalysis.languageId(c, "doc_id", "text"))),
      "quality" -> (c => force(TextAnalysis.qualityScore(c, "doc_id", "text"))),
      "repetition" ->
        (c => force(TextAnalysis.repetitionStats(c, "doc_id", "text"))),
      "fingerprint" ->
        (c => force(TextAnalysis.fingerprints(c, "doc_id", "text"))),
      "winnow" -> (c => force(TextAnalysis.winnowSummary(c, "doc_id", "text"))),
      "dsir_md5" -> (c => TextAnalysis.dsirWeights(c,
        c.where(pmod(col("doc_id"), lit(3)) === 0), "doc_id", "text",
        buckets = 256).count()),
      "dsir_xx" -> (c => TextAnalysis.dsirWeights(c,
        c.where(pmod(col("doc_id"), lit(3)) === 0), "doc_id", "text",
        buckets = 256, hash = "xx").count()),
      "lm_ppl" -> (c => {
        val d = c.withColumn("lang", lit("xx"))
        TextAnalysis.lmPerplexity(d, d, "doc_id", "text", "lang",
          buckets = 4096).count(); ()
      }),
      "bpe" -> (c => {
        val merges = TextAnalysis.bpeTrain(c.limit(50), "text", 32)
        force(TextAnalysis.bpeTokens(c, "doc_id", "text", merges))
      }))
    // JIT/codegen warmup on the short corpus before anything is timed
    ops.foreach { case (_, f) => f(short) }
    val growth = ops.map { case (name, f) =>
      val ts = secs(f(short))
      val tl = secs(f(long))
      val g = tl / math.max(ts, 1e-3)
      info(f"$name%-12s short ${ts}%.3f s  long ${tl}%.3f s  growth ${g}%.1fx")
      name -> g
    }
    // 16× tokens ⇒ linear growth ≤ 16× plus noise; the quadratic class
    // reads ≥ 200× (pre-fix fingerprint: 227×). Gate well between the
    // two so CI noise can't flake it while a real O(n²) can't hide.
    for ((name, g) <- growth)
      assert(g <= 80.0,
        f"$name grew ${g}%.1fx for ${factor}x document length — " +
        "a recompute/quadratic term is back (see SURVEY §8.10)")
  }
}
