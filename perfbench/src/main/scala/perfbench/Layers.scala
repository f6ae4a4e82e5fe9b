package perfbench

import scala.collection.mutable

import org.apache.spark.sql.execution.SparkPlan

/** Running sums and sample counts of per-layer values; `mean` divides by
  * the number of values added under the name.
  */
final class Acc {
  private val sums = mutable.Map[String, Double]().withDefaultValue(0.0)
  private val counts = mutable.Map[String, Int]().withDefaultValue(0)
  def add(k: String, v: Double): Unit = { sums(k) += v; counts(k) += 1 }
  def mean(k: String): Double = if (counts(k) == 0) 0.0 else sums(k) / counts(k)
  def total(k: String): Double = sums(k)
  def means(ks: String*): Map[String, Double] = ks.map(k => k -> mean(k)).toMap
}

object Layers {
  import Plans._

  /** Index and scan counters of one read's executed plan. */
  def read(acc: Acc, p: SparkPlan, resultRows: Long): Unit = {
    val meta = scans(p, "series_meta")
    acc.add("index.meta_scan_files", meta.map(metric(_, "numFiles")).sum.toDouble)
    acc.add("index.meta_scan_bytes", meta.map(metric(_, "filesSize")).sum.toDouble)
    val (bj, sj) = indexJoins(p)
    acc.add("index.broadcast_joins", bj.toDouble)
    acc.add("index.shuffle_joins", sj.toDouble)
    val smp = scans(p, "samples")
    if (smp.nonEmpty) {
      val rows = smp.map(metric(_, "numOutputRows")).sum.toDouble
      acc.add("scan.samples.files", smp.map(metric(_, "numFiles")).sum.toDouble)
      acc.add("scan.samples.bytes", smp.map(metric(_, "filesSize")).sum.toDouble)
      acc.add("scan.samples.rows", rows)
      acc.add("scan.samples.partitions", smp.map(metric(_, "numPartitions")).sum.toDouble)
      acc.add("scan.rows_scanned", rows)
      acc.add("scan.rows_returned", resultRows.toDouble)
    }
    val lv = scans(p, "label_values")
    if (lv.nonEmpty) {
      acc.add("scan.label_values.files", lv.map(metric(_, "numFiles")).sum.toDouble)
      acc.add("scan.label_values.bytes", lv.map(metric(_, "filesSize")).sum.toDouble)
      acc.add("scan.label_values.rows", lv.map(metric(_, "numOutputRows")).sum.toDouble)
    }
  }

  /** The read-side layer metrics gathered by [[read]]. */
  def readMetrics(acc: Acc): Map[String, Double] =
    acc.means(
      "index.meta_scan_files", "index.meta_scan_bytes",
      "index.broadcast_joins", "index.shuffle_joins",
      "scan.samples.files", "scan.samples.bytes", "scan.samples.rows",
      "scan.samples.partitions", "scan.label_values.files",
      "scan.label_values.bytes", "scan.label_values.rows") +
      ("scan.rows_per_result" -> {
        val r = acc.total("scan.rows_returned")
        if (r == 0) 0.0 else acc.total("scan.rows_scanned") / r
      })

  /** Store tier a write command's output path belongs to. */
  def writeTier(path: String): String =
    path.stripSuffix("/").split('/').last match {
      case "samples" => "write.samples"
      case "series_meta_folded" => "write.meta_fold"
      case "series_meta" | "series_meta_base" => "write.series_meta"
      case "label_values" => "write.label_values"
      case _ => "write.other"
    }

  /** Per-write-op means of the write commands, by tier. */
  def writeMetrics(cmds: Seq[WriteCmd], writeOps: Int): Map[String, Double] = {
    val n = math.max(1, writeOps).toDouble
    val by = cmds.groupBy(c => writeTier(c.path)).withDefaultValue(Nil)
    def s(t: String) = by(t).map(c => (c.endMs - c.startMs) / 1e3).sum / n
    def f(t: String) = by(t).map(_.files).sum / n
    def b(t: String) = by(t).map(_.bytes).sum / n
    Map(
      "write.samples.s" -> s("write.samples"),
      "write.samples.files" -> f("write.samples"),
      "write.samples.bytes" -> b("write.samples"),
      "write.samples.rows" -> by("write.samples").map(_.rows).sum / n,
      "write.series_meta.s" -> s("write.series_meta"),
      "write.series_meta.files" -> f("write.series_meta"),
      "write.series_meta.bytes" -> b("write.series_meta"),
      "write.meta_fold.count" -> by("write.meta_fold").size / n,
      "write.meta_fold.s" -> s("write.meta_fold"),
      "write.label_values.s" -> s("write.label_values"),
      "write.label_values.files" -> f("write.label_values"),
      "write.label_values.bytes" -> b("write.label_values"))
  }

  // Every metric name and unit the benchmark reports is listed below;
  // run.py checks each result line against BENCHMARK.json.

  /** The gated end-to-end metrics (`--trace 0`). */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_s" -> "s", "work_per_s" -> "items/s")

  /** Named end-to-end metrics of each workload, printed on every run and
    * reported after [[All]] in traced runs (0 where the workload does not
    * produce them).
    */
  val Named: Seq[(String, String)] = Seq(
    "failed_ratio" -> "ratio",
    "ingest_rows_per_s" -> "rows/s", "ingest_commit_s_p50" -> "s",
    "ingest_commit_s_tail" -> "s", "fresh_read_s_p50" -> "s",
    "store_bytes_per_sample" -> "bytes",
    "range_point_s_p50" -> "s", "range_scan_s_p50" -> "s",
    "metadata_s_p50" -> "s", "promql_s_p50" -> "s",
    "dashboard_s_tail" -> "s", "dashboard_queries_per_s" -> "queries/s",
    "corpus_docs_per_s" -> "docs/s")

  /** Every per-layer metric with its unit; a workload whose layer did not
    * run reports 0 for it.
    */
  val All: Seq[(String, String)] = Seq(
    "ingest.add_batch_s" -> "s", "ingest.wal_commit_s" -> "s",
    "ingest.offsets_s" -> "s", "ingest.plan_s" -> "s",
    "ingest.rows_per_commit" -> "rows",
    "write.samples.s" -> "s", "write.samples.files" -> "count",
    "write.samples.bytes" -> "bytes", "write.samples.rows" -> "rows",
    "write.series_meta.s" -> "s", "write.series_meta.files" -> "count",
    "write.series_meta.bytes" -> "bytes",
    "write.meta_fold.count" -> "count", "write.meta_fold.s" -> "s",
    "write.label_values.s" -> "s", "write.label_values.files" -> "count",
    "write.label_values.bytes" -> "bytes",
    "index.meta_files_on_disk" -> "count", "index.meta_scan_files" -> "count",
    "index.meta_scan_bytes" -> "bytes", "index.broadcast_joins" -> "count",
    "index.shuffle_joins" -> "count", "index.s" -> "s",
    "scan.samples.files" -> "count", "scan.samples.bytes" -> "bytes",
    "scan.samples.rows" -> "rows", "scan.samples.partitions" -> "count",
    "scan.label_values.files" -> "count", "scan.label_values.bytes" -> "bytes",
    "scan.label_values.rows" -> "rows", "scan.rows_per_result" -> "ratio",
    "promql.parse_s" -> "s", "promql.compile_s" -> "s",
    "plan.optimize_s" -> "s", "exec_s" -> "s", "plan.exchanges" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_cpu_s" -> "s", "spark.task_wait_s" -> "s", "spark.gc_s" -> "s",
    "spark.spill_bytes" -> "bytes", "spark.result_bytes" -> "bytes",
    "spark.task_skew" -> "ratio", "spark.tasks_failed" -> "count",
    "shuffle.write_bytes" -> "bytes", "shuffle.read_bytes" -> "bytes",
    "dedup.exact_s" -> "s", "dedup.pairs_s" -> "s", "dedup.pair_yield" -> "ratio",
    "components.s" -> "s", "components.jobs" -> "count",
    "materialize.bytes" -> "bytes", "keep_best.s" -> "s",
    "keep_best.broadcast_bytes" -> "bytes", "text.quality_s" -> "s",
    "jvm.heap_peak_mb" -> "MB", "trace.overhead_ratio" -> "ratio",
    "trace.unaccounted_ratio" -> "ratio")
}
