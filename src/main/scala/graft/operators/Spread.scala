package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{LimitExec, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange

/** Spread a badly-partitioned input across the cluster before expensive
  * per-row work (guide §2.5 "input skew": one un-split file serializes
  * every narrow stage built on it — exactly how the single-row-group
  * sf* parquet tables read, at ANY scale factor up to x100). The
  * round-robin exchange costs one pass over the (small) input and shows
  * up as `Exchange roundrobinpartitioning`; the guard makes it free for
  * well-partitioned inputs — at production scale (many files / row
  * groups) this is a no-op.
  *
  * Also spreads `Tsdb`'s durable ingest batches. First written as the
  * private `TextAnalysis.spreadDocs` (DSIR, r13: 10.98 → 2.15 s) and
  * promoted here because the single-partition-scan cost class turned out
  * to cover the whole dedup/similarity/text operator surface and the
  * ingest path, not just DSIR.
  */
private[graft] object Spread extends AdaptiveSparkPlanHelper {
  def apply(df: DataFrame): DataFrame = {
    // streaming frames (the CorpusFilter twins reuse the batch operators):
    // no QueryExecution.toRdd before writeStream.start(), and micro-batch
    // partitioning is the source's concern — pass through untouched
    if (df.isStreaming) return df
    // exchange-bearing frames pass through untouched: their output
    // partitioning is the shuffle's (AQE-sized) concern, AND — the real
    // hazard — under AQE `toRdd` on such a plan MATERIALIZES the upstream
    // shuffle stages as real jobs whose results the subsequent repartition
    // would then discard (double execution). The single-split-input
    // problem this guard exists for is a property of scan-rooted frames
    // only, so skipping shuffle-rooted ones loses nothing. Read off the
    // planned physical plan (planning runs no job), so every node that
    // plans an exchange counts, not just a list of logical operators;
    // limits gather to one partition inside the operator itself
    // (CollectLimit/TakeOrderedAndProject show no Exchange node), so
    // they count too
    val shuffled = find(df.queryExecution.executedPlan) {
      case _: Exchange | _: LimitExec | _: TakeOrderedAndProjectExec => true
      case _ => false
    }
    if (shuffled.isDefined) return df
    val want = df.sparkSession.sparkContext.defaultParallelism
    // partition count from the internal-row RDD of the already-planned
    // QueryExecution — `df.rdd` would append a row-deserializing
    // conversion and build a second, throwaway RDD lineage per call;
    // `toRdd` is the cached physical plan's own RDD (no job runs for an
    // exchange-free plan, getNumPartitions is driver-side metadata)
    val have = df.queryExecution.toRdd.getNumPartitions
    if (have * 2 < want) df.repartition(want) else df
  }
}
