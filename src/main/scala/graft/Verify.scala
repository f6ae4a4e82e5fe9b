package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // Optional: names beyond the first two args restrict the dump to those
    // queries (dev loop for diffing a single query against the oracle).
    val only: Set[String] = args.drop(2).toSet
    val spark =
      GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Placeholder substitution for oracles over Verify-materialized
    // fixtures: the clustered ANN corpus lives at a size-keyed path the
    // static SQL can't know, so resolve it here (absolute — the driver's
    // DuckDB compare may run from any cwd). The fixture itself was
    // written above when the ann_clustered_* queries ran.
    val clusteredPath = new java.io.File(
      graft.sources.ClusteredEmbeddings.fixturePath(sfDir,
        graft.sources.Tables.embeddings(spark, sfDir).count() *
          graft.sources.ClusteredEmbeddings.Factor)).getAbsolutePath
    // BPE merge-table substitution: the text_bpe_tokens oracle re-applies
    // the SAME deterministic merge table the Spark query trains (pure
    // function of the corpus), but through an independent recursive-CTE
    // fold — the oracle can't train, so the artifact is injected here as
    // a DuckDB struct-list literal (single quotes doubled).
    val bpeMerges = graft.operators.TextAnalysis.bpeTrain(
      graft.sources.Tables.documents(spark, sfDir), "text", numMerges = 64)
    def sq(s: String): String = "'" + s.replace("'", "''") + "'"
    val bpeMergesSql = bpeMerges
      .map { case (a, b) => s"{'a': ${sq(a)}, 'b': ${sq(b)}}" }
      .mkString("[", ", ", "]")
    val json = SparkEntry.oracleSql
      .map { case (k, v0) =>
        val v = v0.replace("__CLUSTERED_EMB__", clusteredPath)
          .replace("__BPE_MERGES__", bpeMergesSql)
          .replace("__BPE_K__", bpeMerges.length.toString)
        s"${q(k)}: ${q(v)}"
      }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
