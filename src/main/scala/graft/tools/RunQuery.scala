package graft.tools

import graft.{GraftSession, SparkEntry}

/** Dev-only: run one registered query by name against a sf dir, timing it
  * and letting its real exception surface. Not part of the API.
  *
  * Usage: runMain graft.tools.RunQuery <name> [sfDir=sf0.001]
  */
object RunQuery {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = args.lift(1).getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.local(Runtime.getRuntime.availableProcessors)
    spark.sparkContext.setLogLevel("WARN")
    SparkEntry.prewarm(spark, dir, Set(name))
    val t0 = System.nanoTime()
    val n = SparkEntry.queries(name)(spark, dir).count()
    println(f"$name: $n rows in ${(System.nanoTime() - t0) / 1e9}%.2f s")
    spark.stop()
  }
}
