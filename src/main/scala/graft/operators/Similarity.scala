package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact cosine top-k — broadcast the (small) query
  *    set against the corpus, rank per query. The correctness baseline, and
  *    also the right plan when |queries| is small: one broadcast, no
  *    corpus shuffle except the final per-query ranking.
  *  - [[lshTopK]]: random-hyperplane LSH bucketing — the scale path. Corpus
  *    vectors are signed against `nPlanes` deterministic pseudo-random
  *    hyperplanes into band buckets; candidates share any band; exact
  *    cosine reranks candidates. Recall is tunable via bands/bits.
  *
  * Ranking is on `round(cosine, 6)` with id tie-break, making order
  * deterministic and oracle-reproducible.
  */
object Similarity {

  /** Exact top-k neighbors for each query vector.
    * @param queries subset of `emb` (or any frame with the same id/vec cols)
    */
  def bruteForceTopK(
      emb: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val cand = emb.select(col(idCol).as("nid"), toDoubleArray(col(vecCol)).as("cvec"))
      .withColumn("cnrm", normSeq(col("cvec")))
    val q = queries.select(col(idCol).as("qid"), toDoubleArray(col(vecCol)).as("qvec"))
      .withColumn("qnrm", normSeq(col("qvec")))
    val sim = round(
      dotSeq(col("qvec"), col("cvec")) / (col("qnrm") * col("cnrm")), 6)
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))
    cand
      .crossJoin(broadcast(q))
      .where(col("qid") =!= col("nid"))
      .withColumn("sim", sim)
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("qid", "rank", "nid", "sim")
  }

  /** Semantic decontamination — the embedding-space sibling of the
    * n-gram `TextAnalysis.decontaminate`: flag corpus vectors whose
    * cosine similarity against ANY benchmark/eval vector reaches
    * `threshold`. A paraphrased eval item shares no word 4-gram with its
    * source but still sits next to it in embedding space, so n-gram
    * decontamination alone misses it. Returns one row per FLAGGED corpus
    * id: the hit count, the best similarity, and its eval id (similarity
    * ties break to the larger eval id — max over an orderable struct,
    * the engine's struct_pack oracle contract; the 6-decimal cosine
    * rounding is the shared embedding contract, and the threshold
    * compares the ROUNDED value so membership is cross-engine exact).
    *
    * Scale shape: benchmark/eval sets are small by nature, so the eval
    * side BROADCASTS and the 100 TB corpus side is one map-side scoring
    * pass (the corpus never shuffles); the per-doc aggregation collapses
    * map-side to flagged-doc grain. If the eval set ever outgrows
    * broadcast, block both sides through the IVF cell index instead
    * (the [[graft.operators.Dedup.embeddingPairsIvf]] scheme).
    */
  def semanticDecontam(
      corpus: DataFrame,
      evalSet: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double): DataFrame = {
    val cand = corpus.select(col(idCol).as("doc_id"),
        toDoubleArray(col(vecCol)).as("cvec"))
      .withColumn("cnrm", normSeq(col("cvec")))
    val ev = evalSet.select(col(idCol).as("eval_id"),
        toDoubleArray(col(vecCol)).as("evec"))
      .withColumn("enrm", normSeq(col("evec")))
    val sim = round(
      dotSeq(col("cvec"), col("evec")) / (col("cnrm") * col("enrm")), 6)
    cand.crossJoin(broadcast(ev))
      .withColumn("sim", sim)
      .where(col("sim") >= threshold)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_eval_hits"),
        max(struct(col("sim"), col("eval_id"))).as("m"))
      .select(col("doc_id"), col("n_eval_hits"),
        col("m").getField("sim").as("best_sim"),
        col("m").getField("eval_id").as("best_eval_id"))
  }

  /** [[bruteForceTopK]] through the bounded [[TopKAggregator]] instead of a
    * window: identical rows, but the shuffle carries O(queries × k) state
    * instead of every scored pair — the exact-search form that survives
    * large corpora (it is still a full scan per query; the sublinear paths
    * are [[multiprobeTopK]] / [[ivfProbeTopK]]).
    */
  def bruteForceTopKAgg(
      emb: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val cand = emb.select(col(idCol).as("nid"), toDoubleArray(col(vecCol)).as("cvec"))
      .withColumn("cnrm", normSeq(col("cvec")))
    val q = queries.select(col(idCol).as("qid"), toDoubleArray(col(vecCol)).as("qvec"))
      .withColumn("qnrm", normSeq(col("qvec")))
    val sim = round(
      dotSeq(col("qvec"), col("cvec")) / (col("qnrm") * col("cnrm")), 6)
    val pairs = cand.crossJoin(broadcast(q))
      .where(col("qid") =!= col("nid"))
      .select(col("qid"), sim.as("sim"), col("nid"))
    TopK.topKPerGroup(pairs, "qid", "sim", "nid", k)
      .select("qid", "rank", "nid", "sim")
  }

  /** Symmetric per-vector int8 scalar quantization (SQ8) — the storage/
    * memory scale path for embedding corpora: 4× smaller than float32
    * (at 100 TB that is the difference between an IVF index fitting in
    * the fleet's memory or not). Per vector: `scale = max|x| / 127`,
    * `q_i = floor(x_i / scale + 0.5)` (round-half-up — deterministic and
    * engine-mirrorable, unlike banker's rounding), dequantized value
    * `q_i * scale`. Zero vectors (scale 0) are dropped — they have no
    * direction to preserve. Entirely codegen'd higher-order array
    * functions; one narrow pass, no shuffle.
    *
    * Input columns are preserved; `scale`, `qvec` (array<int>) and
    * `dvec` (array<double>, the dequantized form downstream cosine math
    * consumes — [[bruteForceTopK]] accepts it as vecCol directly) are
    * appended.
    */
  def quantizeInt8(
      emb: DataFrame,
      idCol: String,
      vecCol: String): DataFrame = {
    val e = toDoubleArray(col(vecCol))
    emb
      .withColumn("scale", aggregate(transform(e, x => abs(x)),
        lit(0.0), (a, x) => greatest(a, x)) / lit(127.0))
      .where(col("scale") > 0)
      .withColumn("qvec",
        transform(e, x => floor(x / col("scale") + lit(0.5)).cast("int")))
      .withColumn("dvec",
        transform(col("qvec"), q => q.cast("double") * col("scale")))
  }

  /** Deterministic pseudo-random hyperplane component for (plane j, dim i):
    * xxhash64 of (j, i) mapped to ±1.0. No Math.random — reproducible across
    * runs and engines that matter here (only Spark executes this).
    */
  private def planeComponent(j: Int, i: Column): Column =
    when(xxhash64(lit(j), i).bitwiseAND(1) === 0, lit(1.0)).otherwise(lit(-1.0))

  /** Hyperplane LSH signatures for a whole frame: posexplode the vector,
    * aggregate `nPlanes` signed projections per id (map-side partial agg +
    * codegen), pack sign bits into a long. Returns (id, sig).
    */
  def lshSignatures(df: DataFrame, idCol: String, vecCol: String,
      nPlanes: Int): DataFrame = {
    val projs = (0 until nPlanes).map(j =>
      sum(col("col") * planeComponent(j, col("pos"))).as(s"p$j"))
    df.select(col(idCol).as("id"),
        posexplode(toDoubleArray(col(vecCol))))
      .groupBy("id")
      .agg(projs.head, projs.tail: _*)
      .select(col("id"),
        (0 until nPlanes).map(j =>
          when(col(s"p$j") >= 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ + _).as("sig"))
  }

  /** Build a persistent IVF (inverted-file) index for a corpus: k-means
    * centroids partition the vectors into cells, and BOTH halves of the
    * index land on disk —
    *   - `path/centroids`: (cell, centroid) — tiny, broadcast at probe time
    *   - `path/cells`: (nid, cvec, cnrm, cell) — the corpus re-laid-out
    *     partitioned BY CELL, so probing n cells reads n partitions
    * This is the build-once / probe-many split of every production IVF
    * system (the role of the reference's load-once disk index,
    * disk_segment.go:105-110): the iterative, driver-coordinated k-means
    * training is paid at index-build time, never per query.
    *
    * @param trainFraction train k-means on a sample (assignment still
    *   covers the full corpus) — at 100 TB you never fit the trainer on
    *   the whole corpus; centroids from a uniform sample are statistically
    *   equivalent for partitioning purposes.
    */
  def buildIvfIndex(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      nClusters: Int,
      path: String,
      trainFraction: Double = 1.0): Unit = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val spark = emb.sparkSession
    import spark.implicits._
    val corpus = emb.select(col(idCol).as("nid"),
        toDoubleArray(col(vecCol)).as("cvec"))
      .withColumn("cnrm", normSeq(col("cvec")))
      .withColumn("fv", array_to_vector(col("cvec")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val train =
        if (trainFraction < 1.0) corpus.sample(trainFraction, 42L) else corpus
      val model = new KMeans()
        .setK(nClusters).setSeed(42L).setMaxIter(10).setFeaturesCol("fv")
        .fit(train)
      model.transform(corpus)
        .select(col("nid"), col("cvec"), col("cnrm"),
          col("prediction").as("cell"))
        .repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell")
        .parquet(s"$path/cells")
      model.clusterCenters.zipWithIndex
        .map { case (v, i) => (i, v.toArray) }
        .toSeq.toDF("cell", "centroid")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$path/centroids")
    } finally corpus.unpersist()
  }

  /** True when [[buildIvfIndex]] completed at `path`. */
  def ivfIndexReady(spark: org.apache.spark.sql.SparkSession,
      path: String): Boolean = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.exists(new org.apache.hadoop.fs.Path(s"$path/centroids/_SUCCESS")) &&
      fs.exists(new org.apache.hadoop.fs.Path(s"$path/cells/_SUCCESS"))
  }

  /** Cheap corpus identity for index freshness, two tiers:
    *
    *  - **File-backed corpora** (the normal case — the frame's lineage
    *    bottoms out in parquet/ORC/CSV files): an MD5 over the sorted
    *    (path, length, mtime) triples of `df.inputFiles` — pure driver-
    *    side file metadata, NO executor scan. Appends add files, rewrites
    *    change length/mtime, so any durable mutation flips the
    *    fingerprint. Deterministic transforms over the same files (the
    *    clustered bench fixture) fingerprint identically — correct, since
    *    the derivation is a pure function of the inputs; two DIFFERENT
    *    derivations must use different index paths (they already do).
    *    This tier exists because the v1 content scan was ~50 s per
    *    ensure on the x100 clustered corpus — per PROBE, dwarfing the
    *    probe itself.
    *  - **In-memory frames** (no input files): the v1 content scan —
    *    row count, max id, and an order-insensitive id hash (sum of
    *    xxhash64, decimal-accumulated) in one single-column aggregation.
    *    The one undetected mutation is rewriting a VECTOR under a stable
    *    id; callers that mutate in place should delete the index path.
    */
  private def corpusFingerprint(
      emb: DataFrame,
      idCol: String,
      nClusters: Int): String = {
    // the files tier is only sound when the files ARE the corpus: a plan
    // with any non-file leaf (an in-memory union leg, a Range, a local
    // relation) has rows inputFiles can't see — fingerprinting the files
    // alone would stamp/serve an index as fresh while ignoring those
    // rows (the appendToIvfIndex receipt caught exactly this on a
    // parquet ∪ in-memory union). Such mixed corpora take the content
    // scan.
    val allFileLeaves = {
      val leaves = emb.queryExecution.analyzed.collectLeaves()
      leaves.nonEmpty && leaves.forall {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation.isInstanceOf[
            org.apache.spark.sql.execution.datasources.HadoopFsRelation]
        case _ => false
      }
    }
    val files = if (allFileLeaves) emb.inputFiles else Array.empty[String]
    if (files.nonEmpty) {
      val conf = emb.sparkSession.sparkContext.hadoopConfiguration
      val parts = files.sorted.map { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        val st = p.getFileSystem(conf).getFileStatus(p)
        s"$f:${st.getLen}:${st.getModificationTime}"
      }
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(parts.mkString("\n").getBytes("UTF-8"))
      s"v2,files=${files.length}," +
        s"h=${md.map("%02x".format(_)).mkString},k=$nClusters"
    } else {
      val r = emb.agg(
        count(lit(1)).as("n"),
        max(col(idCol).cast("string")).as("mx"),
        sum(xxhash64(col(idCol)).cast("decimal(38,0)")).as("h")).head()
      s"v1,n=${r.get(0)},max=${r.get(1)},h=${r.get(2)},k=$nClusters"
    }
  }

  private def storedFingerprint(
      fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Option[String] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val bytes = new Array[Byte](math.min(in.available(), 4096))
        val n = in.read(bytes)
        Some(new String(bytes, 0, math.max(n, 0), "UTF-8").trim)
      } finally in.close()
    }

  /** Build the index at `path` unless a FRESH one already exists: the
    * stored corpus fingerprint must match the current corpus, so a
    * mutable corpus (the engine's own stores ingest continuously) can
    * never be served a stale index — an append triggers a rebuild on the
    * next ensure instead of silently probing yesterday's cells. The
    * freshness check costs one single-column aggregation; the fingerprint
    * is written only after a successful build, so a mid-build crash
    * re-builds rather than serving half an index.
    */
  def ensureIvfIndex(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      nClusters: Int,
      path: String,
      trainFraction: Double = 1.0): String = synchronized {
    val spark = emb.sparkSession
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val fpPath = new org.apache.hadoop.fs.Path(s"$path/_fingerprint")
    val fp = corpusFingerprint(emb, idCol, nClusters)
    if (!ivfIndexReady(spark, path) || !storedFingerprint(fs, fpPath).contains(fp)) {
      buildIvfIndex(emb, idCol, vecCol, nClusters, path, trainFraction)
      val out = fs.create(fpPath, true)
      try out.write(fp.getBytes("UTF-8")) finally out.close()
    }
    path
  }

  /** Incrementally extend a prebuilt IVF index with NEW vectors — the
    * streaming/append-only maintenance path. Rebuilding via
    * [[ensureIvfIndex]] re-trains k-means over the WHOLE corpus on every
    * batch; the standard IVF discipline (train once, add forever) keeps
    * the trained centroids FIXED and assigns each new vector to its
    * nearest existing cell — the same euclidean argmin k-means itself
    * assigns by, computed as `argmax(v·c − ‖c‖²/2)` through the bounded
    * top-1 aggregator over broadcast centroids. Cost is
    * O(batch × nClusters) map-side plus one partitioned append write —
    * independent of the existing corpus size.
    *
    * `fullCorpus` must be exactly (indexed corpus ∪ `newRows`); its
    * fingerprint is stamped after the append so a following
    * [[ensureIvfIndex]] on the same corpus is a no-op instead of a full
    * retrain. New ids must be disjoint from indexed ids (duplicates
    * would surface twice in probes). The SQ8 derived store chains to the
    * parent fingerprint, so it re-derives (one partition-preserving
    * pass, no training) on its next ensure. Centroids drift only if the
    * data distribution drifts — rebuild on a retrain cadence, exactly
    * like production ANN services.
    */
  def appendToIvfIndex(
      fullCorpus: DataFrame,
      newRows: DataFrame,
      idCol: String,
      vecCol: String,
      path: String): Unit = synchronized {
    val spark = newRows.sparkSession
    require(ivfIndexReady(spark, path),
      s"no complete IVF index at $path — build with ensureIvfIndex first")
    val cents = spark.read.parquet(s"$path/centroids")
      .withColumn("chalf", dotSeq(col("centroid"), col("centroid")) / 2.0)
    val nClusters = cents.count().toInt
    val fresh = newRows.select(col(idCol).as("nid"),
        toDoubleArray(col(vecCol)).as("cvec"))
      .withColumn("cnrm", normSeq(col("cvec")))
    // nearest-euclidean cell: argmin ‖v−c‖² = argmax (v·c − ‖c‖²/2);
    // top-1 aggregator, never a window over batch × nClusters rows
    val assigned = TopK.topKPerGroup(
      fresh.crossJoin(broadcast(cents))
        .withColumn("score",
          dotSeq(col("cvec"), col("centroid")) - col("chalf"))
        .where(col("score").isNotNull)
        .select(col("nid"), col("score"), col("cell").cast("long").as("cl")),
      "nid", "score", "cl", 1)
      .select(col("nid"), col("cl").cast("int").as("cell"))
    val joined = fresh.join(assigned, "nid")
      .select("nid", "cvec", "cnrm", "cell")
      .persist()
    try {
      // a null/malformed embedding scores NULL against every centroid and
      // would silently vanish here while the fingerprint still stamped the
      // FULL corpus — the vector would be permanently unindexed with no
      // error. Refuse the whole batch instead: the fingerprint stays
      // unstamped, so the index remains honestly stale.
      val nNew = fresh.count()
      val nAssigned = joined.count()
      require(nAssigned == nNew,
        s"appendToIvfIndex: only $nAssigned of $nNew new vectors got a " +
        "cell assignment — null/empty/NaN embeddings cannot be indexed; " +
        "drop or fix them before appending (fingerprint NOT stamped)")
      joined.repartition(col("cell"))
        .write.mode("append").partitionBy("cell").parquet(s"$path/cells")
    } finally joined.unpersist()
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val out = fs.create(
      new org.apache.hadoop.fs.Path(s"$path/_fingerprint"), true)
    try out.write(corpusFingerprint(fullCorpus, idCol, nClusters)
      .getBytes("UTF-8"))
    finally out.close()
  }

  /** Probe-only IVF ANN over a prebuilt [[buildIvfIndex]] index: each query
    * ranks the broadcast centroids, probes its `nProbe` nearest cells, and
    * exact-cosine reranks those candidates through the bounded top-k
    * aggregator. The plan at scale:
    *   - centroids: one broadcast of `nClusters` rows
    *   - cells store: read pruned to the union of probed cells (`cell` is
    *     the partition column — unprobed cells are never read), then
    *     map-side joined against the broadcast probe set
    *   - ONE shuffle total: the O(queries × k) top-k aggregation
    * No training, no corpus-sized shuffle, no corpus broadcast.
    */
  def ivfProbeTopK(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nProbe: Int = 4): DataFrame = {
    // centroid norms computed once while building the broadcast relation,
    // not per (query × centroid) row
    val cents = spark.read.parquet(s"$path/centroids")
      .withColumn("cenrm", normSeq(col("centroid")))
    val q = queries.select(col(idCol).as("qid"),
        toDoubleArray(col(vecCol)).as("qvec"))
      .withColumn("qnrm", normSeq(col("qvec")))
    // rank cells per query through the bounded top-k aggregator, NOT a
    // window: a row_number window shuffles all queries × nClusters rows —
    // and with autoClusters-sized indexes nClusters grows with the corpus,
    // so at the 100× point that was 244M rows each dragging a 64-dim qvec
    // (~73 GB exchange). The aggregator projects qvec away first, carries
    // at most nProbe cells per query through map-side partial agg
    // (identical cdist DESC, cell ASC ordering), then a query-sized join
    // reattaches qvec.
    val rankedCells = TopK.topKPerGroup(
      q.crossJoin(broadcast(cents))
        .withColumn("cdist",
          dotSeq(col("qvec"), col("centroid")) / (col("qnrm") * col("cenrm")))
        // a null embedding yields a null cdist: the typed aggregator's
        // (Double, Long) encoder is non-nullable, so drop such rows —
        // a query with no rankable cells probes nothing and returns no
        // neighbors (the window formulation ranked nulls arbitrarily).
        // NaN cdist (zero-norm vectors) ranks LAST here where the window
        // ranked it first — both are meaningless orderings of a
        // degenerate input; the recall gates run on finite data.
        .where(col("cdist").isNotNull)
        .select(col("qid"), col("cdist"), col("cell").cast("long").as("cl")),
      "qid", "cdist", "cl", nProbe)
      .select(col("qid"), col("cl").cast("int").as("cell"))
    val probes = q.join(rankedCells, "qid")
      .select("qid", "qvec", "qnrm", "cell")
      // materialize the tiny probe set once: it feeds three consumers
      // (probed-cell collect, the broadcast build, and the dynamic-pruning
      // subquery) that would otherwise each recompute the centroid ranking
      .transform(Materialize.once)
    // plan-time probed-cell set: ≤ nClusters ints, drives partition pruning
    // on the cell-partitioned store (the IVF "read only probed lists" step)
    val cellIds = probes.select("cell").distinct()
      .collect().map(_.getInt(0)).toSeq
    val cells = spark.read.parquet(s"$path/cells")
      .where(col("cell").isin(cellIds: _*))
    val sim = round(
      dotSeq(col("qvec"), col("cvec")) / (col("qnrm") * col("cnrm")), 6)
    // a corpus vector lives in exactly one cell, so (qid, nid) pairs are
    // already distinct — plain bounded top-k suffices
    TopK.topKPerGroup(
      cells.join(broadcast(probes), "cell")
        .where(col("qid") =!= col("nid"))
        .withColumn("sim", sim)
        .select("qid", "sim", "nid"),
      "qid", "sim", "nid", k)
      .select("qid", "rank", "nid", "sim")
  }

  /** Derive the SQ8 form of a prebuilt float IVF index: the cells store
    * re-encoded as (nid, scale, qvec int8-ranged codes, dnrm precomputed
    * dequant norm), same `cell` partitioning — int codes bit-pack in
    * parquet, measured 4.0× smaller than the float64 cells at x100
    * (68M → 17M), so a probe reads 4× fewer bytes per candidate at
    * identical pruning. The fleet-scale win is index FOOTPRINT (fitting
    * the cells tier in executor memory at 100 TB); on a warm single
    * node the dequant compute makes the probe ~1.2× slower wall-clock —
    * pick float when memory is not the constraint. Derivation is
    * one partition-preserving pass over the cells store; freshness is
    * chained to the float index (the parent's stored fingerprint is
    * copied here and compared on every ensure, so a parent rebuild
    * regenerates the SQ8 form too).
    */
  def ensureIvfIndexSq8(
      spark: org.apache.spark.sql.SparkSession,
      floatIndexPath: String): String = synchronized {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val parentFp = storedFingerprint(fs,
      new org.apache.hadoop.fs.Path(s"$floatIndexPath/_fingerprint"))
      .getOrElse("unfingerprinted")
    val sq8Path = s"$floatIndexPath/cells_sq8"
    val fpPath = new org.apache.hadoop.fs.Path(s"$sq8Path/_parent_fp")
    val ready =
      fs.exists(new org.apache.hadoop.fs.Path(s"$sq8Path/_SUCCESS")) &&
        storedFingerprint(fs, fpPath).contains(parentFp)
    if (!ready) {
      quantizeInt8(
        spark.read.parquet(s"$floatIndexPath/cells"), "nid", "cvec")
        .withColumn("dnrm", normSeq(col("dvec")))
        .select("nid", "scale", "qvec", "dnrm", "cell")
        .write.mode("overwrite").partitionBy("cell").parquet(sq8Path)
      val out = fs.create(fpPath, true)
      try out.write(parentFp.getBytes("UTF-8")) finally out.close()
    }
    sq8Path
  }

  /** [[ivfProbeTopK]] over the SQ8 cells store — identical centroid
    * ranking and partition pruning (centroids stay float: there are only
    * nClusters of them), candidates dequantized on the fly
    * (`q_i * scale`) for the exact-cosine rerank. Returns the same
    * (qid, rank, nid, sim) shape; sim is the cosine against the
    * DEQUANTIZED candidate, within ~1e-4 of the float form (the SQ8
    * roundtrip spec bounds per-vector cosine at ≥ 0.999), so recall vs
    * brute force is indistinguishable from the float probe's
    * (OperatorSpec gates ≥ 0.95 agreement).
    */
  def ivfProbeTopKSq8(
      spark: org.apache.spark.sql.SparkSession,
      floatIndexPath: String,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nProbe: Int = 4): DataFrame = {
    val sq8Path = ensureIvfIndexSq8(spark, floatIndexPath)
    val cents = spark.read.parquet(s"$floatIndexPath/centroids")
      .withColumn("cenrm", normSeq(col("centroid")))
    val q = queries.select(col(idCol).as("qid"),
        toDoubleArray(col(vecCol)).as("qvec"))
      .withColumn("qnrm", normSeq(col("qvec")))
    val rankedCells = TopK.topKPerGroup(
      q.crossJoin(broadcast(cents))
        .withColumn("cdist",
          dotSeq(col("qvec"), col("centroid")) / (col("qnrm") * col("cenrm")))
        .where(col("cdist").isNotNull)
        .select(col("qid"), col("cdist"), col("cell").cast("long").as("cl")),
      "qid", "cdist", "cl", nProbe)
      .select(col("qid"), col("cl").cast("int").as("cell"))
    val probes = q.join(rankedCells, "qid")
      .select("qid", "qvec", "qnrm", "cell")
      .transform(Materialize.once)
    val cellIds = probes.select("cell").distinct()
      .collect().map(_.getInt(0)).toSeq
    val cells = spark.read.parquet(sq8Path)
      .where(col("cell").isin(cellIds: _*))
      // the store's code column is named qvec (quantizeInt8's output);
      // rename away from the query side's qvec before the join
      .withColumnRenamed("qvec", "codes")
    // fused double×int8 dot (graft.plans.DotProductByte): the per-vector
    // scale multiplies the SUMMED dot once, replacing the former
    // per-candidate transform() that allocated a dequantized double
    // array per row — that allocation was the measured 1.2× warm-node
    // cost of the SQ8 probe over the float probe (r13 receipts)
    val sim = round(
      (col("scale") *
        graft.plans.DotProduct.dotByte(col("qvec"), col("codes"))) /
        (col("qnrm") * col("dnrm")), 6)
    TopK.topKPerGroup(
      cells.join(broadcast(probes), "cell")
        .where(col("qid") =!= col("nid"))
        .withColumn("sim", sim)
        .select("qid", "sim", "nid"),
      "qid", "sim", "nid", k)
      .select("qid", "rank", "nid", "sim")
  }

  /** ANN top-k via an in-memory IVF built for just this call — the
    * index-less form kept for tests and one-shot use; anything repeated
    * should [[buildIvfIndex]] once and [[ivfProbeTopK]] per query instead
    * (k-means training inside a query is exactly the per-query cost the
    * persistent index exists to amortize). Approximate by design: recall is
    * checked against brute force in tests.
    */
  def ivfTopK(
      emb: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nClusters: Int = 16,
      nProbe: Int = 4): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val spark = emb.sparkSession
    import spark.implicits._
    val corpus = emb.select(col(idCol).as("nid"),
        toDoubleArray(col(vecCol)).as("cvec"))
      .withColumn("cnrm", normSeq(col("cvec")))
      .withColumn("fv", array_to_vector(col("cvec")))
    val model = new KMeans()
      .setK(nClusters).setSeed(42L).setFeaturesCol("fv")
      .fit(corpus)
    val assigned = model.transform(corpus)
      .select(col("nid"), col("cvec"), col("cnrm"),
        col("prediction").as("cell"))
    val cents = model.clusterCenters.zipWithIndex
      .map { case (v, i) => (i, v.toArray) }
      .toSeq.toDF("cell", "centroid")
    val q = queries.select(col(idCol).as("qid"),
        toDoubleArray(col(vecCol)).as("qvec"))
      .withColumn("qnrm", normSeq(col("qvec")))
    // probe the nProbe nearest cells per query (cosine to centroid)
    val wProbe = Window.partitionBy(col("qid"))
      .orderBy(col("cdist").desc, col("cell"))
    val probes = q.crossJoin(broadcast(cents))
      .withColumn("cdist",
        dotSeq(col("qvec"), col("centroid")) /
          (col("qnrm") * normSeq(col("centroid"))))
      .withColumn("pr", row_number().over(wProbe))
      .where(col("pr") <= nProbe)
      .select("qid", "qvec", "qnrm", "cell")
    val sim = round(
      dotSeq(col("qvec"), col("cvec")) / (col("qnrm") * col("cnrm")), 6)
    val wRank = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))
    assigned.join(probes, "cell")
      .where(col("qid") =!= col("nid"))
      .withColumn("sim", sim)
      .withColumn("rank", row_number().over(wRank))
      .where(col("rank") <= k)
      .select("qid", "rank", "nid", "sim")
  }

  /** ANN top-k via banded hyperplane LSH + exact rerank.
    * Candidates = corpus vectors sharing at least one signature band with
    * the query. Approximate: recall < 1 by design; verified against
    * [[bruteForceTopK]] in tests.
    *
    * Defaults tuned in round 1 by a recall sweep (recall@5 vs brute force on
    * the sf0.01 embeddings): planes=16/bands=8 → 0.96; the previous
    * 4-band default measured 0.36. IVF at cells=16/probe=4 → 0.70,
    * probe=8 → 0.92 (at the cost of scanning half the cells).
    *
    * Caveat measured on this corpus: the synthetic embeddings are
    * near-isotropic (max pairwise cosine ≈ 0.51), so the high-recall
    * setting admits ~89% of pairs as candidates — no sublinear index can
    * be simultaneously selective and high-recall on data with no cluster
    * structure. On real embedding corpora (which cluster), the same
    * banding is selective at high recall; tune per corpus against
    * [[bruteForceTopK]] recall.
    */
  /** The plane family of [[lshSignatures]] (xxhash64(j, i) parity),
    * pre-evaluated on the driver so plane vectors can be emitted as
    * literal arrays for the map-side signature path.
    */
  private def planeSign(j: Int, i: Int): Double = {
    import org.apache.spark.sql.catalyst.expressions.{Literal => CLit, XxHash64}
    val h = new XxHash64(Seq(CLit(j), CLit(i)))
      .eval(null).asInstanceOf[Long]
    if ((h & 1L) == 0L) 1.0 else -1.0
  }

  /** ANN top-k via weakness-guided multiprobe hyperplane LSH — the scale
    * form of [[lshTopK]], with two structural upgrades:
    *
    *  1. MAP-SIDE SIGNATURES. Plane vectors are literal ±1 arrays (same
    *     xxhash64 family as [[lshSignatures]], pre-evaluated on the
    *     driver), so each row's `nPlanes` projections are a chain of
    *     native codegen'd dot products — no posexplode, no per-row
    *     groupBy shuffle. The corpus is touched once, map-only, before
    *     the bucket join.
    *  2. GUIDED MULTIPROBE (Lv et al., VLDB'07). Fewer, wider bands
    *     (default 4 × 8 bits) make a random collision 256× less likely
    *     per band than the 2-bit bands of [[lshTopK]]; recall is then
    *     recovered on the query side only, by additionally probing every
    *     combination of flips of the `probeBits` lowest-|projection| bits
    *     (the bits most likely to disagree with a true neighbor) — 2^q
    *     probes per band per query, so probe fan-out scales with the tiny
    *     query set, never the corpus.
    *
    * Measured on the near-isotropic test corpus (round-2 recall sweep,
    * sf0.01):
    * candidate admission 0.67 at recall@5 = 0.94 with the registered
    * 24-plane/4-band/probe-4 setting — vs 0.89 admission at 0.96 recall
    * for [[lshTopK]]. Isotropic data bounds how selective ANY sublinear
    * index can be at high recall (there is no cluster structure to
    * exploit); on real clustered embedding corpora the same machinery is
    * selective at far lower admission. The structural wins hold
    * regardless of corpus shape: no corpus-keyed shuffle before the
    * bucket join, and the dedup+rank collapses into one bounded
    * [[TopKDistinctAggregator]] pass (O(queries × k) shuffle state).
    */
  /** Plane count that keeps expected bucket occupancy ≈ `targetOcc` as the
    * corpus grows: bits-per-band r = clamp(ceil(log2(n/targetOcc)), 2, 16),
    * nPlanes = bands·r. Auto-sizing the band width with corpus cardinality
    * is what keeps bucket joins linear at scale — a FIXED width means
    * occupancy grows with n and in-bucket pair work grows ~n² (measured on
    * the 10× corpus: the fixed-24-plane embedding near-dup join ran 81×
    * its 1× time; auto-sized it tracks the data growth). Callers pass
    * `nPlanes = -1` to opt in; the corpus count is one cheap
    * metadata-backed job at plan-build time, amortized exactly like the
    * IVF index build.
    */
  def autoPlanes(n: Long, bands: Int, targetOcc: Long = 32L): Int = {
    val r = math.ceil(
      math.log(math.max(n.toDouble / targetOcc, 4.0)) / math.log(2.0)).toInt
    bands * math.min(math.max(r, 2), 16)
  }

  /** Verification-budgeted bucket cap: each query verifies up to
    * bands × 2^probeBits × cap candidates, so the auto form holds that
    * bound near `budget` dot products: cap = budget / (|Q| × bands ×
    * 2^probeBits), clamped to [64, 4096] so recall-gate scales (bucket
    * occupancy ≈ planted cluster size ≈ 40) never bind and a tiny
    * query set cannot explode the cap. MEASURED LIMIT (x100 clustered,
    * 5M vectors, 100k queries): cap 64 vs 512 is indistinguishable
    * probe-normalized — the corpus-side plane projection + explode
    * dominates wall-clock there, not verification — so this knob
    * bounds worst-case verify blowup (the x10 quadratic) but does NOT
    * close the gap to the IVF probe (~173 s min-of-2 vs 34 s); tightly
    * clustered corpora want ivfProbeTopK, as documented on the census
    * thinning. Recall inside an over-cap bucket remains
    * cap/occupancy. */
  def autoMaxBucket(
      nQueries: Long,
      bands: Int,
      probeBits: Int,
      budget: Long = 1L << 26): Int = {
    val perCand = math.max(
      nQueries.toDouble * bands * (1L << probeBits), 1.0)
    math.min(4096, math.max(64, (budget / perCand).toInt))
  }

  def multiprobeTopK(
      emb: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nPlanes: Int = 32,
      bands: Int = 4,
      probeBits: Int = 3,
      targetOcc: Long = 32L,
      maxBucket: Int = 0): DataFrame = {
    // verification work ≈ |queries| × bands × occupancy, so a LARGE query
    // set wants a tighter occupancy target (e.g. 8) than a near-dup
    // self-join does — measured on the 10× clustered corpus (500k rows,
    // 10k queries): r=12 → 162 s, r=16 → 28 s at identical output
    val np =
      if (nPlanes > 0) nPlanes else autoPlanes(emb.count(), bands, targetOcc)
    val pb = math.min(probeBits, np / bands)
    // maxBucket: 0 = uncapped, -1 = census-budgeted auto (the query
    // count is one cheap job at plan-build time, like autoPlanes')
    val mb =
      if (maxBucket >= 0) maxBucket
      else autoMaxBucket(queries.count(), bands, pb)
    val cands = multiprobePairs(
      emb, queries, idCol, vecCol, np, bands, pb, mb)
    val sim = round(
      dotSeq(col("qvec"), col("cvec")) / (col("qnrm") * col("cnrm")), 6)
    // distinctIds dedups multi-band admits inside the aggregation buffer
    // (same pair ⇒ same sim), so the whole plan is map-side candidate
    // generation + ONE bounded aggregation shuffle
    TopK.topKPerGroup(
      cands.withColumn("sim", sim).select("qid", "sim", "nid"),
      "qid", "sim", "nid", k, distinctIds = true)
  }

  /** Deduped candidate pairs with both vectors attached — the shared body
    * of [[multiprobeTopK]] / [[multiprobeCandidates]] /
    * [[Dedup.embeddingPairsLsh]].
    */
  private[operators] def multiprobePairs(
      emb: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      nPlanes: Int,
      bands: Int,
      probeBits: Int,
      maxBucket: Int = 0): DataFrame = {
    require(nPlanes % bands == 0, "bands must divide nPlanes")
    val r = nPlanes / bands
    require(probeBits <= r && probeBits <= 20, "probeBits out of range")
    // plane literals need the dimension: one single-row plan-time lookup
    // over non-null vectors (empty/all-null corpus ⇒ dim 1; every branch
    // is empty anyway, so the join result is naturally empty with the
    // right schema). Mixed-dimension corpora project over the prefix of
    // this sampled dimension (see PlaneProjections null/short contract).
    val dim = emb.where(col(vecCol).isNotNull)
      .select(size(toDoubleArray(col(vecCol))).as("d"))
      .limit(1).collect().headOption.map(_.getInt(0)).getOrElse(1)
    val planes = (0 until nPlanes)
      .map(j => Array.tabulate(dim)(i => planeSign(j, i)))
    // both sides: ONE native expression for all projections and ONE for
    // the band-major bucket array (plan and codegen size constant in the
    // plane count — see graft.plans.{PlaneProjections, ProbeBuckets});
    // corpus probes with probeBits=0 (base buckets only), queries fan out
    // to the 2^probeBits weakness-guided probe set per band
    def banded(df: DataFrame, id: String, vec: String, nrm: String,
        pb: Int): DataFrame = {
      val probes = 1 << pb
      // spread before the per-vector work: a single-split scan otherwise
      // serializes projection + explode + the bucket join (the corpus
      // side streams through the broadcast join in the SAME stage, so a
      // 1-partition scan ran the whole candidate generation one-core)
      Spread(df)
        .select(col(idCol).as(id), toDoubleArray(col(vecCol)).as(vec))
        .withColumn(nrm, normSeq(col(vec)))
        .withColumn("proj",
          graft.plans.PlaneProjections.project(col(vec), planes))
        .select(col(id), col(vec), col(nrm),
          posexplode(graft.plans.ProbeBuckets.buckets(col("proj"), bands, pb)))
        .select(col(id), col(vec), col(nrm),
          (col("pos") / probes).cast("int").as("band"),
          col("col").as("bucket"))
    }
    val c0 = banded(emb, "nid", "cvec", "cnrm", 0)
    // In-bucket candidate CAP (maxBucket > 0): `autoPlanes` keeps RANDOM
    // collisions at targetOcc, but a tight cluster agrees on every
    // hyperplane bit at any band width, so its whole membership lands in
    // one bucket per band and candidate generation goes quadratic in
    // cluster size (the x10 clustered sweep measured 27.6× growth).
    // The bound is the Jaccard df-cap idiom: a census pass counts
    // per-(band, bucket) occupancy (map-side combined — the shuffle
    // carries distinct buckets, not the corpus), only buckets OVER the
    // cap survive it (≤ corpus/maxBucket rows, broadcastable by
    // construction), and rows in those buckets thin deterministically by
    // hash to ≈ maxBucket survivors. Admission per query is then
    // O(bands × maxBucket) regardless of cluster size. APPROXIMATE on
    // over-cap buckets by design — recall within a capped bucket is
    // maxBucket/occupancy; corpora that cluster past the cap should use
    // the IVF index (ivfProbeTopK), which probes whole cells exactly.
    val c =
      if (maxBucket <= 0) c0
      else {
        val heavy = c0.groupBy("band", "bucket")
          .agg(count(lit(1)).as("occ"))
          .where(col("occ") > maxBucket)
          .select(col("band"), col("bucket"),
            ceil(col("occ").cast("double") / maxBucket).cast("long")
              .as("thin_rate"))
        c0.join(broadcast(heavy), Seq("band", "bucket"), "left")
          .where(col("thin_rate").isNull ||
            pmod(xxhash64(col("nid")), col("thin_rate")) === 0)
          .drop("thin_rate")
      }
    val q = banded(queries, "qid", "qvec", "qnrm", probeBits)
    // NOTE: candidates are NOT deduped here — a pair admitted by several
    // bands appears once per admitting (band, bucket). Consumers either
    // dedup in the aggregation buffer (multiprobeTopK) or dropDuplicates
    // (multiprobeCandidates); keeping this relation dedup-free keeps the
    // candidate generation entirely map-side. The probe side is broadcast
    // explicitly (queries × 2^probeBits × bands rows — scales with the
    // query set, never the corpus), so the corpus side flows scan → sign →
    // explode → join in ONE stage with no corpus-keyed exchange.
    c.join(broadcast(q), Seq("band", "bucket"))
      .where(col("qid") =!= col("nid"))
      .select("qid", "qvec", "qnrm", "nid", "cvec", "cnrm")
  }

  /** Candidate pairs only (pre-rerank) of [[multiprobeTopK]] — exposed for
    * selectivity measurement (the candidate fraction that OperatorSpec's
    * admission gates check).
    */
  def multiprobeCandidates(
      emb: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      nPlanes: Int = 32,
      bands: Int = 4,
      probeBits: Int = 3,
      maxBucket: Int = 0): DataFrame =
    multiprobePairs(emb, queries, idCol, vecCol, nPlanes, bands, probeBits,
        maxBucket)
      .select("qid", "nid")
      .dropDuplicates("qid", "nid")

  def lshTopK(
      emb: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nPlanes: Int = 16,
      bands: Int = 8): DataFrame = {
    require(nPlanes % bands == 0)
    val bandBits = nPlanes / bands
    def banded(df: DataFrame, id: String, vec: String, nrm: String): DataFrame = {
      val base = df.select(
        col(idCol).as(id),
        toDoubleArray(col(vecCol)).as(vec),
        normSeq(toDoubleArray(col(vecCol))).as(nrm))
      base
        .join(lshSignatures(df, idCol, vecCol, nPlanes)
          .withColumnRenamed("id", id), id)
        .select(
          col(id), col(vec), col(nrm),
          posexplode(array((0 until bands).map(b =>
            shiftrightunsigned(col("sig"), b * bandBits)
              .bitwiseAND(lit((1L << bandBits) - 1))): _*)))
        .withColumnRenamed("pos", "band")
        .withColumnRenamed("col", "bucket")
    }
    val c = banded(emb, "nid", "cvec", "cnrm")
    val q = banded(queries, "qid", "qvec", "qnrm")
    val sim = round(
      dotSeq(col("qvec"), col("cvec")) / (col("qnrm") * col("cnrm")), 6)
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))
    c.join(q, Seq("band", "bucket"))
      .where(col("qid") =!= col("nid"))
      .dropDuplicates("qid", "nid")
      .withColumn("sim", sim)
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("qid", "rank", "nid", "sim")
  }
}
