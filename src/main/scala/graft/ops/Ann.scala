package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** Similarity search over embedding columns (`array<float>`).
  *
  * Three tiers, as a 100 TB pipeline needs all of them:
  *  - [[bruteForceTopK]]: exact top-k for a SMALL broadcast query set —
  *    the corpus streams once, no shuffle of the corpus, cost O(|corpus|·|Q|).
  *  - [[lshTopK]]: random-hyperplane LSH, banded (OR-construction across
  *    `nBands` independent plane families). Join-key cardinality is
  *    `nBands · 2^nPlanes` — scale `nPlanes` with the corpus
  *    (≈ log2(n / targetBucketSize)) so parallelism grows with the data
  *    instead of capping at a fixed bucket count.
  *  - [[ivfTopK]]: inverted-file index with a k-means coarse quantizer;
  *    cell assignment is a pure per-row expression (no join, no window,
  *    no Exchange, no row blowup).
  */
object Ann {

  /** Bounded per-query top-k over a scored (query_id, neighbor_id,
    * scoreCol) frame — the ranking stage every ANN tier shares, as the
    * MERGEABLE [[graft.functions.SketchFunctions.topKBy]] aggregate
    * instead of a window. The window formulation (`row_number() OVER
    * (PARTITION BY query_id ORDER BY score)`) shuffles the ENTIRE scored
    * frame — corpus × queries rows — through one Exchange into as many
    * partitions as there are queries, then sorts each: both a
    * scale-killer (at 1B × 100 queries that Exchange carries 100B rows)
    * and a parallelism ceiling of #queries. The aggregate keeps a
    * k-bounded heap per (task, query): map tasks ship ≤k entries per
    * query and the cross product never shuffles. Output (query_id,
    * neighbor_id, <scoreCol>, rank) equals the window's row_number
    * result exactly, ties included — best-first is (score desc, id asc)
    * for cosine, (score asc, id asc) with `ascending` for Hamming. */
  private def topKPerQuery(spark: SparkSession, scored: DataFrame,
      scoreCol: String, k: Int, ascending: Boolean = false): DataFrame = {
    graft.functions.SketchFunctions.register(spark)
    scored.groupBy(col("query_id"))
      .agg(graft.functions.SketchFunctions.topKBy(
        col(scoreCol).cast("double"), col("neighbor_id"), k, ascending)
        .as("_top"))
      .select(col("query_id"), posexplode(col("_top")).as(Seq("_r", "_e")))
      .select(col("query_id"), col("_e.id").as("neighbor_id"),
        col("_e.score").as(scoreCol), (col("_r") + 1).cast("int").as("rank"))
  }

  /** Driver-held rows as a ONE-slice DataFrame. A plain local relation
    * (`createDataFrame(list, schema)`) plans as LocalTableScan, whose RDD
    * spreads the rows over up to `leafNodeDefaultParallelism` (= cores)
    * slices — so every broadcast build over it pays a cores-wide wave of
    * near-empty tasks (measured: the 60-row PQ candidate relation built
    * its broadcast with a 32-task job). These relations are query-scale
    * bounded by contract, so one slice is right at ANY scale. */
  private def localDF(spark: SparkSession,
      rows: Seq[org.apache.spark.sql.Row],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)

  /** Collect a probe's bounded query frame ONCE: the rows feed driver-side
    * sets (probed cells, candidate ids) and the one-slice relation over
    * them ([[localDF]]) feeds every broadcast build, so reuses of a
    * source-backed frame pay no further scan job. */
  private def localize(spark: SparkSession, df: DataFrame)
      : (Array[org.apache.spark.sql.Row], DataFrame) = {
    val rows = df.collect()
    (rows, localDF(spark, rows.toIndexedSeq, df.schema))
  }

  /** Selected columns of already-collected rows as a one-slice local
    * frame — the broadcast sides of the probe joins. Purely positional row
    * surgery — values are reused exactly as the kernels produced them. */
  private def localCols(spark: SparkSession,
      rows: Array[org.apache.spark.sql.Row],
      schema: org.apache.spark.sql.types.StructType,
      cols: (String, String)*): DataFrame = {
    val idx = cols.map { case (src, _) => schema.fieldIndex(src) }
    val out = rows.toIndexedSeq.map(r =>
      org.apache.spark.sql.Row.fromSeq(idx.map(r.get)))
    val newSchema = org.apache.spark.sql.types.StructType(
      cols.map { case (src, dst) => schema(src).copy(name = dst) })
    localDF(spark, out, newSchema)
  }

  /** The collected (query_id, neighbor_id) shortlist as a one-slice local
    * frame (the broadcast side of every rerank join). */
  private def localPairs(spark: SparkSession,
      pairs: Array[(Long, Long)]): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("query_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("neighbor_id",
        org.apache.spark.sql.types.LongType, nullable = false)))
    localDF(spark, pairs.toIndexedSeq.map(p =>
      org.apache.spark.sql.Row(p._1, p._2)), schema)
  }

  /** Exact cosine top-k of `queries` (small, broadcast) against `corpus`.
    * Uses the codegen'd [[graft.functions.CosineSimilarity]] expression.
    * `excludeSelf` assumes queries share the corpus id space (queries ⊆
    * corpus); pass false when the two are independent datasets whose ids
    * may coincide without denoting the same vector. */
  def bruteForceTopK(spark: SparkSession, corpus: DataFrame, queries: DataFrame,
      k: Int, excludeSelf: Boolean = true): DataFrame = {
    val scored = corpus.as("c")
      .join(broadcast(queries.as("q")),
        if (excludeSelf) col("c.vec_id") =!= col("q.vec_id") else lit(true))
      .select(
        col("q.vec_id").as("query_id"),
        col("c.vec_id").as("neighbor_id"),
        round(VectorFunctions.cosine(spark, col("q.embedding"), col("c.embedding")), 4)
          .as("cosine"))
    topKPerQuery(spark, scored, "cosine", k)
  }

  /** Banded buckets via the codegen'd [[graft.functions.HyperplaneBuckets]]
    * expression (one tight loop over a flat plane matrix — higher-order SQL
    * functions would be interpreted per element): posexplode of the
    * per-band bucket array yields (band, bucket) candidate keys
    * (OR-construction: a pair is a candidate if it collides in ANY band —
    * recall no longer hinges on one family of planes). */
  private def withBandedBuckets(spark: SparkSession, df: DataFrame, dim: Int,
      nPlanes: Int, nBands: Int, seed: Long): DataFrame =
    df.select(col("*"),
      posexplode(VectorFunctions.hyperplaneBuckets(spark, col("embedding"),
        dim, nPlanes, nBands, seed)).as(Seq("band", "bucket")))

  /** Approximate top-k: corpus and queries bucketed by banded hyperplane
    * signs; candidates meet only inside a shared (band, bucket) — per-query
    * cost is the probed bucket populations, not the corpus. Tune `nPlanes`
    * up with corpus size (join-key cardinality `nBands · 2^nPlanes`). */
  def lshTopK(spark: SparkSession, corpus: DataFrame, queries: DataFrame,
      dim: Int, k: Int, nPlanes: Int = 8, nBands: Int = 4,
      seed: Long = 7): DataFrame = {
    val cb = withBandedBuckets(spark, corpus, dim, nPlanes, nBands, seed)
    val qb = withBandedBuckets(spark, queries, dim, nPlanes, nBands, seed)
    val scored = cb.as("c")
      .join(qb.as("q"),
        col("c.band") === col("q.band") && col("c.bucket") === col("q.bucket") &&
        col("c.vec_id") =!= col("q.vec_id"))
      .select(
        col("q.vec_id").as("query_id"),
        col("c.vec_id").as("neighbor_id"),
        round(VectorFunctions.cosine(spark, col("q.embedding"), col("c.embedding")), 4)
          .as("cosine"))
      .distinct() // a pair may collide in several bands
    topKPerQuery(spark, scored, "cosine", k)
  }

  /** Embedding-cosine near-duplicate pairs, exact tier: all (a < b) pairs
    * above `threshold` via a broadcast self-join — the verification shape
    * for small corpora / samples. */
  def exactNearDupPairs(spark: SparkSession, corpus: DataFrame,
      threshold: Double): DataFrame =
    corpus.as("a")
      .join(broadcast(corpus.as("b")), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        round(VectorFunctions.cosine(spark, col("a.embedding"), col("b.embedding")), 4)
          .as("cosine"))
      .filter(col("cosine") >= threshold)

  /** Embedding-cosine near-duplicate pairs, scale tier: candidates meet
    * only inside a shared (band, bucket) — O(n·bucket), never n². Banded
    * OR-construction keeps recall high while `nPlanes` (bucket cardinality
    * per band = 2^nPlanes) scales parallelism with corpus size. */
  def lshNearDupPairs(spark: SparkSession, corpus: DataFrame, dim: Int,
      threshold: Double, nPlanes: Int = 8, nBands: Int = 8,
      seed: Long = 7): DataFrame = {
    val b = withBandedBuckets(spark, corpus, dim, nPlanes, nBands, seed)
    b.as("a")
      .join(b.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        round(VectorFunctions.cosine(spark, col("a.embedding"), col("b.embedding")), 4)
          .as("cosine"))
      .filter(col("cosine") >= threshold)
      .distinct() // a pair may collide in several bands
  }

  /** IVF (inverted-file) ANN: a coarse quantizer (seeded k-means over a
    * bounded driver-side sample, like Spark ML model fitting) assigns every
    * corpus vector to its nearest centroid once; queries probe only their
    * `nProbe` nearest cells. The quantizer is tiny (nCentroids × dim), so
    * cell assignment is a PURE per-row expression — distances to literal
    * centroid arrays, `array_sort` on (dist, cent_id) structs, `slice` for
    * the probe list. No centroid join, no window, no Exchange, no row
    * blowup (probes=1 explodes a 1-element array).
    *
    * With `nProbe = nCentroids` every cell is probed and the result equals
    * [[bruteForceTopK]] exactly (the oracle hook for q_ann_ivf_full).
    */
  def ivfTopK(spark: SparkSession, corpus: DataFrame, queries: DataFrame,
      dim: Int, k: Int, nCentroids: Int = 16, nProbe: Int = 4,
      seed: Long = 7, sampleSize: Int = 1024): DataFrame = {
    val centroids = fitQuantizer(corpus, dim, nCentroids, seed, sampleSize)
    cellTopK(spark, assignCells(spark, corpus, centroids, 1),
      assignCells(spark, queries, centroids, nProbe), k)
  }

  /** Score cell-collocated (query, corpus) pairs and keep each query's
    * top-k. No dedup needed: every corpus vector lives in exactly ONE cell
    * (probes=1 at assignment), so a (query, neighbor) pair meets once. */
  private def cellTopK(spark: SparkSession, corpusCells: DataFrame,
      queryCells: DataFrame, k: Int): DataFrame = {
    val scored = corpusCells.as("c")
      .join(queryCells.as("q"),
        col("c.cent_id") === col("q.cent_id") && col("c.vec_id") =!= col("q.vec_id"))
      .select(col("q.vec_id").as("query_id"), col("c.vec_id").as("neighbor_id"),
        round(VectorFunctions.cosine(spark, col("q.embedding"), col("c.embedding")), 4)
          .as("cosine"))
    topKPerQuery(spark, scored, "cosine", k)
  }

  /** Fit the coarse quantizer: seeded k-means over a bounded driver-side
    * RANDOM sample. The sample is a seeded hash-order top-N — rank rows by
    * xxhash64(seed, vec_id) and take the smallest `sampleSize` (TakeOrdered:
    * per-partition top-k then a tiny merge, never a full sort) — uniform
    * over the corpus and independent of physical layout; `limit(n)` would
    * take the FIRST rows of the first partitions, and on a corpus sorted or
    * partitioned by content (the common 100 TB layout) k-means would fit
    * every centroid to one region. Deterministic in `seed`. */
  def fitQuantizer(corpus: DataFrame, dim: Int, nCentroids: Int,
      seed: Long = 7, sampleSize: Int = 1024): Array[Array[Float]] = {
    val sample: Array[Array[Float]] = corpus
      .select(col("embedding"), xxhash64(lit(seed), col("vec_id")).as("__sh"))
      .orderBy(col("__sh")).limit(sampleSize)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray)
    val rnd = new scala.util.Random(seed)
    var centroids: Array[Array[Float]] =
      rnd.shuffle(sample.indices.toList).take(nCentroids).map(sample(_)).toArray
    for (_ <- 0 until 5) { // few Lloyd iterations suffice for a coarse index
      val sums = Array.fill(nCentroids)(new Array[Double](dim))
      val counts = new Array[Int](nCentroids)
      sample.foreach { v =>
        val c = nearest(v, centroids)
        counts(c) += 1
        var i = 0
        while (i < dim) { sums(c)(i) += v(i); i += 1 }
      }
      centroids = centroids.zipWithIndex.map { case (old, c) =>
        if (counts(c) == 0) old
        else Array.tabulate(dim)(i => (sums(c)(i) / counts(c)).toFloat)
      }
    }
    centroids
  }

  /** Distributed Lloyd k-means over the FULL corpus — the clustering op a
    * mixing/bucketing pipeline needs ([[fitQuantizer]] trains on a bounded
    * sample; this refines its centroids against every vector). Each
    * iteration is one corpus pass: assignment is the broadcast codegen'd
    * nearest-centroid kernel (map-only), and the recompute is a
    * posexplode → groupBy(cell, dim) aggregation whose map-side combine
    * reduces each task's contribution to k·dim partial sums BEFORE the
    * shuffle — the Exchange carries tasks × k × dim doubles, never rows —
    * followed by a k·dim-bounded driver collect. Scale shape: per
    * iteration, one scan + one combined shuffle of k·dim·tasks entries.
    *
    * Determinism: new centroids round to 4 decimals each round, so the
    * last-ulp reordering drift of distributed float sums cannot flip an
    * assignment across runs or partitionings (spec-pinned). Empty cells
    * keep their previous centroid (the [[fitQuantizer]] convention).
    *
    * Returns (centroids, ssePerIteration) where sse(i) is the total
    * within-cluster squared distance measured against iteration i's NEW
    * means — Lloyd guarantees the sequence is non-increasing, which the
    * driver gate asserts. */
  def kmeansFit(spark: SparkSession, corpus: DataFrame, dim: Int, k: Int,
      iters: Int = 5, seed: Long = 7, sampleSize: Int = 1024,
      embCol: String = "embedding"): (Array[Array[Float]], Array[Double]) = {
    require(k > 0, s"kmeansFit: k must be positive, got $k")
    require(iters >= 1, s"kmeansFit: iters must be >= 1, got $iters")
    var cents = fitQuantizer(corpus, dim, k, seed, sampleSize)
    val sses = new Array[Double](iters)
    for (it <- 0 until iters) {
      val assigned = corpus.select(
        element_at(VectorFunctions.nearestCells(spark, col(embCol), cents, 1),
          1).as("_cell"),
        col(embCol).as("_emb"))
      // one pass: per-(cell, dim) sum + sum-of-squares + count. norm² per
      // cell needs no extra agg — it is the Σ over dims of the squared
      // sums already collected here.
      val stats = assigned
        .select(col("_cell"), posexplode(col("_emb")).as(Seq("_pos", "_v")))
        .groupBy(col("_cell"), col("_pos"))
        .agg(sum(col("_v").cast("double")).as("_s"),
          sum((col("_v") * col("_v")).cast("double")).as("_s2"),
          count(lit(1)).as("_n"))
        .collect() // k·dim rows — bounded by construction
      val sums = Array.fill(k)(new Array[Double](dim))
      val sq = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Long](k)
      stats.foreach { r =>
        val c = r.getInt(0); val p = r.getInt(1)
        sums(c)(p) = r.getDouble(2)
        sq(c)(p) = r.getDouble(3)
        if (p == 0) counts(c) = r.getLong(4)
      }
      var sse = 0.0
      cents = cents.zipWithIndex.map { case (old, c) =>
        if (counts(c) == 0L) old
        else {
          var d = 0
          while (d < dim) {
            // SSE against the new mean: Σv² − (Σv)²/n per dimension
            sse += sq(c)(d) - sums(c)(d) * sums(c)(d) / counts(c)
            d += 1
          }
          Array.tabulate(dim)(i =>
            (math.rint(sums(c)(i) / counts(c) * 1e4) / 1e4).toFloat)
        }
      }
      sses(it) = sse
    }
    (cents, sses)
  }

  /** Assign every row to its [[kmeansFit]] cluster: map-only, broadcast
    * centroids through the codegen'd kernel — the downstream hook for
    * per-cluster mixing/sampling/packing. */
  def kmeansAssign(spark: SparkSession, df: DataFrame,
      centroids: Array[Array[Float]], embCol: String = "embedding",
      outCol: String = "cluster"): DataFrame =
    df.withColumn(outCol, element_at(
      VectorFunctions.nearestCells(spark, col(embCol), centroids, 1), 1))

  // -------------------------------------------------------------------------
  // Persisted IVF index: build once, probe many
  // -------------------------------------------------------------------------

  /** Build a PERSISTED IVF index at `dir`: fit the quantizer, assign every
    * corpus vector to its nearest cell, and write the assigned corpus as a
    * strawboat table hive-partitioned by `cent_id` — plus the centroid
    * matrix as a sidecar. Probing then composes with the engine's own
    * partition pruning: a query over `nProbe` cells scans only those cells'
    * DIRECTORIES, paying zero footer or page IO for the rest of the corpus.
    * That is the build-once / probe-many shape a 100 TB ANN serving table
    * needs (the per-query cost is the probed cells, not the corpus). */
  def buildIvfIndex(spark: SparkSession, corpus: DataFrame, dir: String,
      dim: Int, nCentroids: Int = 16, seed: Long = 7,
      sampleSize: Int = 1024, refineIters: Int = 0): Array[Array[Float]] = {
    // refineIters > 0 refines the sampled quantizer against the FULL
    // corpus via [[kmeansFit]] (which seeds from the same sample): strictly
    // better-fitting cells for one corpus pass per iteration — the opt-in
    // for recall-sensitive builds where the 1024-row sample under-fits
    val centroids =
      if (refineIters > 0)
        kmeansFit(spark, corpus, dim, nCentroids, refineIters, seed,
          sampleSize)._1
      else fitQuantizer(corpus, dim, nCentroids, seed, sampleSize)
    assignCells(spark, corpus, centroids, 1)
      .write.format("strawboat").option("partitionBy", "cent_id")
      .mode("overwrite").save(dir)
    writeCentroids(dir, centroids)
    centroids
  }

  /** Append new vectors into an EXISTING persisted index: assign them to
    * the frozen quantizer's cells and append into the hive layout — one
    * atomic log commit, probes see old+new immediately. This is how an
    * IVF serving table absorbs a stream of fresh embeddings at 100 TB
    * (assignment is a map-only codegen'd expression; only the touched
    * cells' directories gain files). The quantizer stays fixed — rebuild
    * the index when centroid drift degrades recall, as FAISS does. */
  def appendToIvfIndex(spark: SparkSession, newVectors: DataFrame,
      dir: String): Unit = {
    val centroids = loadIvfCentroids(dir)
    assignCells(spark, newVectors, centroids, 1)
      .write.format("strawboat").option("partitionBy", "cent_id")
      .mode("append").save(dir)
  }

  /** Retrain a persisted index's quantizer and re-partition its contents —
    * the maintenance step after heavy [[appendToIvfIndex]] drift (frozen
    * centroids fit the ORIGINAL distribution; appended mass concentrates
    * in few cells, so probes of a hot cell scan far beyond
    * corpus/nCentroids and recall at fixed nProbe decays). Cell skew is
    * visible beforehand via the `straw_ivf_detail('<dir>')` SQL function
    * (per-cell rows from the log's stats — zero data IO).
    *
    * The data rewrite is one atomic log commit (the overwrite's
    * remove-all + add-all); the centroid sidecar is staged first and
    * renamed into place right after. A crash between the two leaves old
    * centroids over re-partitioned data — probes DEGRADE (wrong cells
    * scanned — an approximate index approximates worse) but nothing
    * reads incorrectly labeled data, and rerunning the reindex repairs.
    * Returns the new centroids. */
  def reindexIvf(spark: SparkSession, dir: String, dim: Int,
      nCentroids: Int = 16, seed: Long = 7,
      sampleSize: Int = 1024, refineIters: Int = 0): Array[Array[Float]] = {
    val current = spark.read.format("strawboat").load(dir).drop("cent_id")
    // the rewrite reads the PRE-overwrite snapshot while the overwrite
    // commits new files: sever the read from the directory listing first
    // (the overwrite's remove+add is atomic in the log, but the scan must
    // not plan over the post-commit state mid-job)
    val frozen = current.localCheckpoint(true)
    // refineIters > 0: full-corpus Lloyd refinement of the sampled
    // quantizer (see [[buildIvfIndex]]) — maintenance reindexes are
    // exactly where drifted appends make the sample least representative
    val centroids =
      if (refineIters > 0)
        kmeansFit(spark, frozen, dim, nCentroids, refineIters, seed,
          sampleSize)._1
      else fitQuantizer(frozen, dim, nCentroids, seed, sampleSize)
    val fs = graft.spark.StrawIO.fs(dir)
    val staged = new org.apache.hadoop.fs.Path(dir,
      CentroidsFile + ".reindex-" + java.util.UUID.randomUUID().toString.take(8))
    writeCentroidsTo(fs, staged, centroids)
    assignCells(spark, frozen, centroids, 1)
      .write.format("strawboat").option("partitionBy", "cent_id")
      .mode("overwrite").save(dir)
    val dst = new org.apache.hadoop.fs.Path(dir, CentroidsFile)
    fs.delete(dst, false)
    if (!fs.rename(staged, dst))
      throw new java.io.IOException(
        s"strawboat: IVF reindex could not publish $staged -> $dst")
    centroids
  }

  private val CentroidsFile = "_ivf_centroids"

  /** Centroid sidecar: plain text (`nCent dim` header, one row of floats
    * per centroid). The name carries no data extension, so scans never
    * list it. */
  private def writeCentroids(dir: String, cents: Array[Array[Float]]): Unit =
    writeCentroidsTo(graft.spark.StrawIO.fs(dir),
      new org.apache.hadoop.fs.Path(dir, CentroidsFile), cents)

  private def writeCentroidsTo(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, cents: Array[Array[Float]]): Unit = {
    val os = fs.create(p, true)
    try {
      val sb = new StringBuilder
      sb.append(cents.length).append(' ')
        .append(if (cents.isEmpty) 0 else cents(0).length).append('\n')
      cents.foreach { c => sb.append(c.mkString(" ")).append('\n') }
      os.write(sb.toString.getBytes("UTF-8"))
    } finally os.close()
  }

  def loadIvfCentroids(dir: String): Array[Array[Float]] = {
    val fs = graft.spark.StrawIO.fs(dir)
    val p = new org.apache.hadoop.fs.Path(dir, CentroidsFile)
    val in = fs.open(p)
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val lines = text.split('\n').filter(_.nonEmpty)
    val Array(n, dim) = lines(0).trim.split(' ').map(_.toInt)
    val cents = lines.slice(1, 1 + n).map(_.trim.split(' ').map(_.toFloat))
    require(cents.length == n && cents.forall(_.length == dim),
      s"corrupt IVF centroid sidecar at $p")
    cents
  }

  /** Probe a persisted IVF index: assign queries to their `nProbe` nearest
    * cells, restrict the index scan to the probed cells with a STATIC
    * `cent_id IN (...)` filter — which [[graft.spark.PartitionLayout]]
    * turns into directory pruning before any footer IO — and score only
    * inside shared cells. The query frame is collected ONCE ([[localize]];
    * bounded by queries × nProbe rows — acceptable since this API already
    * broadcasts the query frame): the probed-cell set derives from the
    * collected rows and the scoring join's query side is the local
    * relation, so neither pays a further scan job. With
    * `nProbe = nCentroids` this equals brute force exactly. */
  def ivfTopKIndexed(spark: SparkSession, indexDir: String, queries: DataFrame,
      k: Int, nProbe: Int = 4): DataFrame = {
    val centroids = loadIvfCentroids(indexDir)
    // the quantizer may hold fewer centroids than requested (tiny corpus
    // sample): clamp so "probe everything" callers can't over-ask
    val (qRows, queryCells) = localize(spark,
      assignCells(spark, queries, centroids,
        math.min(nProbe, centroids.length)))
    val probed: Array[Int] =
      qRows.map(_.getAs[Int]("cent_id")).distinct // bounded by nCentroids
    // the index is written in one overwrite, so it is schema-uniform:
    // resolve the schema from one footer instead of all of them
    val corpusCells = spark.read.format("strawboat")
      .option("mergeSchema", "false").load(indexDir)
      .filter(col("cent_id").isin(probed.map(_.asInstanceOf[Any]): _*))
    cellTopK(spark, corpusCells, broadcast(queryCells), k)
  }

  /** Nearest-`probes` centroid ids per row as a PURE expression — the
    * codegen'd [[graft.functions.NearestCells]] (distances to a flat
    * centroid matrix, deterministic (dist, cent_id) ordering). No centroid
    * join, no window, no Exchange; probes=1 explodes a 1-element array (no
    * blowup). */
  def assignCells(spark: SparkSession, df: DataFrame,
      centroids: Array[Array[Float]], probes: Int): DataFrame =
    df.withColumn("cent_id",
      explode(VectorFunctions.nearestCells(spark, col("embedding"), centroids, probes)))

  private def nearest(v: Array[Float], cents: Array[Array[Float]]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      var d = 0.0
      var i = 0
      while (i < v.length) { val t = v(i) - cents(c)(i); d += t * t; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** L2 norm of an embedding column via the codegen'd
    * [[graft.functions.VectorNorm]] expression (the `aggregate()`
    * higher-order SQL function is interpreted per element). */
  def l2Norm(emb: Column): Column =
    VectorFunctions.norm(SparkSession.active, emb)

  /** Symmetric per-vector int8 quantization of an embedding column:
    * `q_i = round(x_i · 127 / max|x|)` as `array<tinyint>` (plus the
    * `qscale` needed to dequantize). 4× the vectors per byte of scan IO
    * and executor memory versus float32 — the standard first lever for
    * ANN at corpus scale; cosine RANKING over the quantized vectors needs
    * no dequantization at all (scales cancel — [[quantizedTopK]]). */
  def quantizeInt8(df: DataFrame, embCol: String): DataFrame = {
    val mx = greatest(array_max(col(embCol)), -array_min(col(embCol)))
    df.withColumn("qscale", (mx / lit(127.0f)).cast("float"))
      .withColumn("qvec",
        transform(col(embCol), x =>
          round(x / col("qscale")).cast("byte")))
  }

  // -------------------------------------------------------------------------
  // Product quantization (PQ): m sub-codebooks, one byte per block
  // -------------------------------------------------------------------------

  /** Fit PQ sub-codebooks: the embedding splits into `m` contiguous blocks
    * of dim/m; each block gets its own `nCodes`-centroid k-means
    * (Jégou et al. 2011), trained over the SAME seeded hash-order sample
    * [[fitQuantizer]] uses, on L2-NORMALIZED vectors — unit vectors make
    * L2-nearest sub-centroid assignment the right encoding for cosine
    * ranking. Returns codebooks(b)(c) of length dim/m. */
  def fitPq(corpus: DataFrame, dim: Int, m: Int, nCodes: Int = 16,
      seed: Long = 7, sampleSize: Int = 1024,
      rotation: Array[Array[Float]] = null): Array[Array[Array[Float]]] = {
    require(m >= 1 && dim % m == 0,
      s"fitPq: m must divide dim, got dim=$dim m=$m")
    require(nCodes >= 2 && nCodes <= 256, s"fitPq: need 2 <= nCodes <= 256")
    val subDim = dim / m
    val raw: Array[Array[Float]] = corpus
      .select(col("embedding"), xxhash64(lit(seed), col("vec_id")).as("__sh"))
      .orderBy(col("__sh")).limit(sampleSize)
      .select(col("embedding")).collect()
      .map { r =>
        val v = r.getSeq[Float](0).toArray
        val n = math.sqrt(v.map(x => x.toDouble * x).sum)
        if (n == 0.0) v else v.map(x => (x / n).toFloat)
      }
    // OPQ: codebooks train in the ROTATED space the encoder will slice
    val sample = if (rotation == null) raw else raw.map(rotate(rotation, _))
    Array.tabulate(m) { b =>
      val block = sample.map(_.slice(b * subDim, (b + 1) * subDim))
      val rnd = new scala.util.Random(seed + b)
      var cents: Array[Array[Float]] =
        rnd.shuffle(block.indices.toList).take(nCodes).map(block(_)).toArray
      for (_ <- 0 until 5) {
        val sums = Array.fill(cents.length)(new Array[Double](subDim))
        val counts = new Array[Int](cents.length)
        block.foreach { v =>
          val c = nearest(v, cents)
          counts(c) += 1
          var i = 0
          while (i < subDim) { sums(c)(i) += v(i); i += 1 }
        }
        cents = cents.zipWithIndex.map { case (old, c) =>
          if (counts(c) == 0) old
          else Array.tabulate(subDim)(i => (sums(c)(i) / counts(c)).toFloat)
        }
      }
      cents
    }
  }

  /** Driver-side matrix × vector (the OPQ rotation applied to a sample
    * row; the distributed encode path uses the codegen'd
    * [[graft.functions.MatVecFloat]] instead). */
  private def rotate(r: Array[Array[Float]], x: Array[Float]): Array[Float] =
    Array.tabulate(r.length) { i =>
      var d = 0.0
      var j = 0
      val row = r(i)
      val n = math.min(row.length, x.length)
      while (j < n) { d += row(j).toDouble * x(j); j += 1 }
      d.toFloat
    }

  /** Fit the OPQ pre-rotation (parametric OPQ of Ge et al. 2013, public
    * paper): eigendecompose the covariance of the normalized sample, then
    * allocate eigenvectors to the m sub-blocks balancing each block's
    * VARIANCE PRODUCT (greedy on log-eigenvalues) — so no block is left
    * quantizing a high-variance direction with the same code budget
    * another block spends on noise. Returns the orthogonal rotation as
    * rows (x' = R·x); rows are orthonormal eigenvectors, so cosine is
    * preserved exactly and only the block STRUCTURE changes. Driver-side
    * over the same seeded hash-order sample [[fitPq]] uses — O(dim³ +
    * sample·dim²), fine for dim up to a few hundred. */
  def fitOpqRotation(corpus: DataFrame, dim: Int, m: Int, seed: Long = 7,
      sampleSize: Int = 1024): Array[Array[Float]] = {
    require(m >= 1 && dim % m == 0,
      s"fitOpqRotation: m must divide dim, got dim=$dim m=$m")
    val sample: Array[Array[Float]] = corpus
      .select(col("embedding"), xxhash64(lit(seed), col("vec_id")).as("__sh"))
      .orderBy(col("__sh")).limit(sampleSize)
      .select(col("embedding")).collect()
      .map { r =>
        val v = r.getSeq[Float](0).toArray
        val n = math.sqrt(v.map(x => x.toDouble * x).sum)
        if (n == 0.0) v else v.map(x => (x / n).toFloat)
      }
    require(sample.nonEmpty, "fitOpqRotation: empty corpus")
    // covariance (uncentered — unit vectors, cosine metric: second moment
    // is what the sub-quantizers see)
    val cov = Array.ofDim[Double](dim, dim)
    sample.foreach { v =>
      var i = 0
      while (i < dim) {
        val vi = if (i < v.length) v(i).toDouble else 0.0
        var j = i
        while (j < dim) {
          cov(i)(j) += vi * (if (j < v.length) v(j).toDouble else 0.0)
          j += 1
        }
        i += 1
      }
    }
    for (i <- 0 until dim; j <- i until dim) {
      cov(i)(j) /= sample.length
      cov(j)(i) = cov(i)(j)
    }
    val (eig, vecs) = jacobiEigen(cov, dim)
    // greedy balanced allocation: biggest eigenvalue first, always into the
    // open block with the smallest log-variance product
    val subDim = dim / m
    val order = eig.zipWithIndex.sortBy { case (e, i) => (-e, i) }.map(_._2)
    val logSum = new Array[Double](m)
    val used = new Array[Int](m)
    val blocks = Array.fill(m)(scala.collection.mutable.ArrayBuffer.empty[Int])
    order.foreach { e =>
      val b = (0 until m).filter(used(_) < subDim)
        .minBy(bb => (logSum(bb), bb))
      blocks(b) += e
      logSum(b) += math.log(math.max(eig(e), 1e-30))
      used(b) += 1
    }
    // R's rows are the chosen eigenvectors in block order: slicing R·x at
    // block b reads exactly block b's allocated principal directions
    blocks.flatten.map(c => Array.tabulate(dim)(i => vecs(i)(c).toFloat)).toArray
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix (driver-side):
    * returns (eigenvalues, eigenvectors as COLUMNS of the second array). */
  private def jacobiEigen(a0: Array[Array[Double]],
      dim: Int): (Array[Double], Array[Array[Double]]) = {
    val a = a0.map(_.clone())
    val v = Array.tabulate(dim, dim)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var converged = false
    while (sweep < 64 && !converged) {
      var off = 0.0
      for (p <- 0 until dim; q <- p + 1 until dim) off += a(p)(q) * a(p)(q)
      if (off < 1e-20) converged = true
      else {
        for (p <- 0 until dim; q <- p + 1 until dim)
          if (math.abs(a(p)(q)) > 1e-18) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
            val t =
              if (theta == 0.0) 1.0
              else math.signum(theta) /
                (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var i = 0
            while (i < dim) {
              val aip = a(i)(p); val aiq = a(i)(q)
              a(i)(p) = c * aip - s * aiq
              a(i)(q) = s * aip + c * aiq
              i += 1
            }
            i = 0
            while (i < dim) {
              val api = a(p)(i); val aqi = a(q)(i)
              a(p)(i) = c * api - s * aqi
              a(q)(i) = s * api + c * aqi
              i += 1
            }
            i = 0
            while (i < dim) {
              val vip = v(i)(p); val viq = v(i)(q)
              v(i)(p) = c * vip - s * viq
              v(i)(q) = s * vip + c * viq
              i += 1
            }
          }
        sweep += 1
      }
    }
    (Array.tabulate(dim)(i => a(i)(i)), v)
  }

  private val OpqRotationFile = "_opq_rotation"

  /** OPQ rotation sidecar: `dim` header, one row of floats per output row.
    * No data extension → scans never list it (the codebook sidecar's
    * convention). Optional: a PQ index without it probes unrotated. */
  private def writeOpqRotation(dir: String, r: Array[Array[Float]]): Unit = {
    val fs = graft.spark.StrawIO.fs(dir)
    val p = new org.apache.hadoop.fs.Path(dir, OpqRotationFile)
    val os = fs.create(p, true)
    try {
      val sb = new StringBuilder
      sb.append(r.length).append('\n')
      r.foreach(row => sb.append(row.mkString(" ")).append('\n'))
      os.write(sb.toString.getBytes("UTF-8"))
    } finally os.close()
  }

  /** Load the OPQ rotation sidecar if the index has one. */
  def loadOpqRotation(dir: String): Option[Array[Array[Float]]] = {
    val fs = graft.spark.StrawIO.fs(dir)
    val p = new org.apache.hadoop.fs.Path(dir, OpqRotationFile)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val lines = text.split('\n').filter(_.nonEmpty)
    val dim = lines(0).trim.toInt
    val rows = lines.slice(1, 1 + dim).map(_.trim.split(' ').map(_.toFloat))
    require(rows.length == dim && rows.forall(_.length == dim),
      s"corrupt OPQ rotation sidecar at $p")
    Some(rows)
  }

  /** Encode an embedding column as PQ codes: normalize, then per block the
    * L2-nearest sub-centroid's index as one byte — `pqcode:
    * array<tinyint>`, m bytes per vector (dim/m·4 → 1 bytes/block, 32× at
    * the classic dim-256/m-8 shape). Composed ENTIRELY from the existing
    * codegen'd [[graft.functions.NearestCells]] kernel over vector slices:
    * no new scan-side machinery, stays inside whole-stage codegen. */
  def pqEncode(spark: SparkSession, df: DataFrame, embCol: String,
      codebooks: Array[Array[Array[Float]]],
      rotation: Array[Array[Float]] = null): DataFrame = {
    val m = codebooks.length
    val subDim = codebooks(0)(0).length
    // the NORM materializes as its own scalar column: embedded in the
    // transform lambda it re-evaluates per ELEMENT — O(dim²) per row. The
    // unit ARRAY stays an inline expression: materializing it as a column
    // was measured 25× SLOWER (the array-valued projection boundary
    // defeats codegen + subexpression elimination; DriveEnc A/B at 200k
    // rows: 0.8 s for nrm-column + inline unit vs ~50 s for a _unit
    // column) — the m slices below share one evaluation via CSE instead.
    val unit = transform(col(embCol),
      x => when(col("_nrm") === 0.0, x)
        .otherwise((x / col("_nrm")).cast("float")))
    // OPQ: rotate the unit vector (codegen'd matvec) so the block slices
    // read the variance-balanced coordinates the codebooks trained on
    val enc =
      if (rotation == null) unit
      else VectorFunctions.matVec(spark, unit, rotation)
    val codeCols = (0 until m).map { b =>
      val idx = element_at(VectorFunctions.nearestCells(spark,
        slice(enc, b * subDim + 1, subDim), codebooks(b), 1), 1)
      // wrap 0..255 into the signed byte (192 → -64): a plain cast
      // OVERFLOWS under ANSI for codes > 127; readers mask with & 0xff
      (((idx + lit(128)) % lit(256)) - lit(128)).cast("byte")
    }
    df.withColumn("_nrm", VectorFunctions.norm(spark, col(embCol)))
      .withColumn("pqcode", array(codeCols: _*))
      .drop("_nrm")
  }

  /** Approximate cosine top-k over PQ-ENCODED vectors via asymmetric
    * distance computation: the corpus carries only its m-byte codes; each
    * query computes its per-block dot table once (codegen'd
    * [[graft.functions.PqDotTable]]) and every candidate scores with m
    * table lookups ([[graft.functions.PqAdcCosine]]) instead of a
    * dim-length dot. The 100 TB shape: corpus bytes shrink 4·dim/m×
    * (dim 64 / m 8 → 32×), scoring cost dim/m×, ranking quality gated
    * against exact brute force in the driver suite. */
  def pqTopK(spark: SparkSession, corpus: DataFrame, queries: DataFrame,
      dim: Int, k: Int, m: Int = 8, nCodes: Int = 16, seed: Long = 7,
      excludeSelf: Boolean = true, sampleSize: Int = 1024): DataFrame = {
    val codebooks = fitPq(corpus, dim, m, nCodes, seed, sampleSize)
    val coded = pqEncode(spark, corpus, "embedding", codebooks)
      .select(col("vec_id"), col("pqcode"))
    val qprep = queries.select(col("vec_id"),
      VectorFunctions.pqDotTable(spark, col("embedding"), codebooks).as("_tab"),
      VectorFunctions.norm(spark, col("embedding")).as("_qn"))
    val scored = coded.as("c")
      .join(broadcast(qprep.as("q")),
        if (excludeSelf) col("c.vec_id") =!= col("q.vec_id") else lit(true))
      .select(
        col("q.vec_id").as("query_id"),
        col("c.vec_id").as("neighbor_id"),
        round(VectorFunctions.pqAdcCosine(spark, col("c.pqcode"), col("_tab"),
          col("_qn"), codebooks), 4).as("cosine"))
    topKPerQuery(spark, scored, "cosine", k)
  }

  /** PQ shortlist → EXACT re-rank: the production two-stage shape. Stage 1
    * scores the whole corpus from its m-byte codes ([[pqTopK]]) and keeps
    * a `shortlist`-sized candidate set per query (default 4·k); stage 2
    * fetches ONLY the shortlist's float vectors and re-ranks them with the
    * exact cosine. At 100 TB the codes fit where the floats never could
    * (the 32× story), the full corpus is touched only through m-lookup ADC
    * scoring, and the expensive float read is k-bounded per query — final
    * ranking quality is the shortlist's recall, which the coarse
    * quantization no longer has to deliver alone (gated in the driver
    * suite). Output matches [[bruteForceTopK]]'s shape. */
  def pqTopKReranked(spark: SparkSession, corpus: DataFrame, queries: DataFrame,
      dim: Int, k: Int, m: Int = 16, nCodes: Int = 64, shortlist: Int = 0,
      seed: Long = 7, sampleSize: Int = 1024): DataFrame = {
    val short = if (shortlist <= 0) 4 * k else shortlist
    require(short >= k, s"pqTopKReranked: shortlist $short < k $k")
    val candidates = pqTopK(spark, corpus, queries, dim, short, m, nCodes,
        seed, excludeSelf = true, sampleSize = sampleSize)
      .select(col("query_id"), col("neighbor_id"))
    val rescored = candidates
      .join(corpus.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("_nemb")), "neighbor_id")
      .join(broadcast(queries.select(col("vec_id").as("query_id"),
        col("embedding").as("_qemb"))), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        round(VectorFunctions.cosine(spark, col("_qemb"), col("_nemb")), 4)
          .as("cosine"))
    topKPerQuery(spark, rescored, "cosine", k)
  }

  /** Build a PERSISTED PQ index at `dir`: fit the sub-codebooks, encode
    * every corpus vector, and write (vec_id, pqcode, embedding) as a
    * strawboat table SORTED BY vec_id — so the rerank stage's candidate
    * fetch (a pushed `vec_id IN (...)` filter) prunes to the handful of
    * pages holding the shortlist via zone maps, the "point read" tier.
    * The codebooks land as a sidecar next to the data (same pattern as the
    * IVF centroid sidecar). ADC probes read ONLY (vec_id, pqcode) — the
    * float column never decodes for scoring, which at 100 TB is the whole
    * point: m bytes/vector scanned instead of 4·dim. */
  def buildPqIndex(spark: SparkSession, corpus: DataFrame, dir: String,
      dim: Int, m: Int = 16, nCodes: Int = 64, seed: Long = 7,
      sampleSize: Int = 1024, opq: Boolean = false): Array[Array[Array[Float]]] = {
    val rot = if (opq) fitOpqRotation(corpus, dim, m, seed, sampleSize) else null
    val codebooks = fitPq(corpus, dim, m, nCodes, seed, sampleSize, rot)
    pqEncode(spark, corpus, "embedding", codebooks, rot)
      .select(col("vec_id"), col("pqcode"), col("embedding"))
      .orderBy(col("vec_id"))
      .write.format("strawboat").mode("overwrite").save(dir)
    writePqCodebooks(dir, codebooks)
    if (rot != null) writeOpqRotation(dir, rot)
    codebooks
  }

  private val PqCodebooksFile = "_pq_codebooks"

  /** Codebook sidecar: `m codes subDim` header, one row of floats per
    * (block, code) in block-major order. No data extension → scans never
    * list it (the IVF centroid sidecar's convention). */
  private def writePqCodebooks(dir: String,
      cbs: Array[Array[Array[Float]]]): Unit = {
    val fs = graft.spark.StrawIO.fs(dir)
    val p = new org.apache.hadoop.fs.Path(dir, PqCodebooksFile)
    val os = fs.create(p, true)
    try {
      val sb = new StringBuilder
      sb.append(cbs.length).append(' ').append(cbs(0).length).append(' ')
        .append(cbs(0)(0).length).append('\n')
      cbs.foreach(_.foreach(row => sb.append(row.mkString(" ")).append('\n')))
      os.write(sb.toString.getBytes("UTF-8"))
    } finally os.close()
  }

  def loadPqCodebooks(dir: String): Array[Array[Array[Float]]] = {
    val fs = graft.spark.StrawIO.fs(dir)
    val p = new org.apache.hadoop.fs.Path(dir, PqCodebooksFile)
    val in = fs.open(p)
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val lines = text.split('\n').filter(_.nonEmpty)
    val Array(m, codes, subDim) = lines(0).trim.split(' ').map(_.toInt)
    val flat = lines.slice(1, 1 + m * codes).map(_.trim.split(' ').map(_.toFloat))
    require(flat.length == m * codes && flat.forall(_.length == subDim),
      s"corrupt PQ codebook sidecar at $p")
    Array.tabulate(m, codes)((b, c) => flat(b * codes + c))
  }

  /** Append new vectors to a persisted PQ index: encode with the EXISTING
    * sidecar codebooks (frozen — the [[appendToIvfIndex]] contract) and
    * append. Codebooks fit the original distribution; heavy drift degrades
    * shortlist recall the same way frozen IVF centroids degrade probes —
    * rebuild via [[buildPqIndex]] when the recall gate says so. Sorted by
    * vec_id within the appended files, so point-read pruning holds. */
  def appendToPqIndex(spark: SparkSession, newVectors: DataFrame,
      dir: String): Unit = {
    val codebooks = loadPqCodebooks(dir)
    pqEncode(spark, newVectors, "embedding", codebooks,
        loadOpqRotation(dir).orNull)
      .select(col("vec_id"), col("pqcode"), col("embedding"))
      .orderBy(col("vec_id"))
      .write.format("strawboat").mode("append").save(dir)
  }

  /** Probe a persisted PQ index: ADC-score the code column (the float
    * column stays undecoded — column pruning), shortlist `shortlist`
    * candidates per query, then fetch ONLY the shortlist's float vectors —
    * a pushed `vec_id IN (...)` point read against the vec_id-sorted index
    * (zone maps prune to the pages actually holding candidates) — and
    * re-rank exactly. The candidate-id collect is bounded by
    * queries × shortlist (query-scale, never data-scale); the query frame
    * itself is collected ONCE ([[localize]]) so the ADC broadcast and the
    * rerank's query-float broadcast build from a local relation instead of
    * paying a scan job each. Equals [[pqTopKReranked]] exactly for the
    * same build parameters. */
  def pqTopKIndexed(spark: SparkSession, indexDir: String, queries: DataFrame,
      k: Int, shortlist: Int = 0): DataFrame = {
    val codebooks = loadPqCodebooks(indexDir)
    val short = if (shortlist <= 0) 4 * k else shortlist
    require(short >= k, s"pqTopKIndexed: shortlist $short < k $k")
    val index = spark.read.format("strawboat")
      .option("mergeSchema", "false").load(indexDir)
    // an OPQ-built index scores in the rotated space: dot(q, x) =
    // dot(Rq, Rx) (R orthogonal), so only the query-side dot table needs
    // the rotation; qnorm and the exact float rerank are rotation-free
    val qemb = loadOpqRotation(indexDir)
      .map(r => VectorFunctions.matVec(spark, col("embedding"), r))
      .getOrElse(col("embedding"))
    val qFrame = queries.select(col("vec_id"),
      VectorFunctions.pqDotTable(spark, qemb, codebooks).as("_tab"),
      VectorFunctions.norm(spark, col("embedding")).as("_qn"),
      col("embedding").as("_qemb"))
    val (qRows, _) = localize(spark, qFrame)
    val qprep = localCols(spark, qRows, qFrame.schema,
      "vec_id" -> "vec_id", "_tab" -> "_tab", "_qn" -> "_qn")
    val adc = index.select(col("vec_id"), col("pqcode")) // floats pruned
      .as("c")
      .join(broadcast(qprep.as("q")), col("c.vec_id") =!= col("q.vec_id"))
      .select(col("q.vec_id").as("query_id"), col("c.vec_id").as("neighbor_id"),
        VectorFunctions.pqAdcCosine(spark, col("c.pqcode"), col("_tab"),
          col("_qn"), codebooks).as("_adc"))
    // ONE execution of the ADC scan: the shortlist is queries × shortlist
    // rows by construction (query-scale, never data-scale — the same
    // bounded-collect contract as [[ivfTopKIndexed]]'s probed cells), so
    // it materializes once and drives both the pushed point-read filter
    // and the rerank join as a local relation
    val candPairs = topKPerQuery(spark, adc, "_adc", short)
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val candidates = localPairs(spark, candPairs)
    val candidateIds = candPairs.map(_._2).distinct
    val floats = index
      .filter(candidatePointFilter(candidateIds))
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("_nemb"))
    val rescored = broadcast(candidates)
      .join(floats, "neighbor_id")
      .join(broadcast(localCols(spark, qRows, qFrame.schema,
        "vec_id" -> "query_id", "_qemb" -> "_qemb")), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        round(VectorFunctions.cosine(spark, col("_qemb"), col("_nemb")), 4)
          .as("cosine"))
    topKPerQuery(spark, rescored, "cosine", k)
  }

  /** The rerank float fetch's pushed point-read filter. A ≤1000-value `In`
    * prunes to exactly the pages holding candidates via zone maps; a WIDER
    * batch (many queries × large shortlist) would push an `In` past the
    * practical enumeration cap (the same 1000-value ladder
    * [[graft.spark.StrawMerge]] uses for candidate pruning), so it falls
    * back to the candidate id RANGE — still pushed, files wholly outside
    * [min, max] never open — with EXACTNESS restored by the rerank's inner
    * join against the candidate set (extra in-range rows simply don't
    * match). */
  private def candidatePointFilter(ids: Array[Long]): Column =
    if (ids.isEmpty) lit(false)
    else if (ids.length <= 1000) col("vec_id").isin(ids.map(_.asInstanceOf[Any]): _*)
    else col("vec_id") >= ids.min && col("vec_id") <= ids.max

  /** Seeded Lloyd iterations over a driver-side sample (shared by the IVF
    * coarse quantizer and the PQ sub-codebooks). */
  private def lloyd(sample: Array[Array[Float]], dim: Int, k: Int,
      seed: Long, iters: Int = 5): Array[Array[Float]] = {
    val rnd = new scala.util.Random(seed)
    var cents: Array[Array[Float]] =
      rnd.shuffle(sample.indices.toList).take(k).map(sample(_)).toArray
    for (_ <- 0 until iters) {
      val sums = Array.fill(cents.length)(new Array[Double](dim))
      val counts = new Array[Int](cents.length)
      sample.foreach { v =>
        val c = nearest(v, cents)
        counts(c) += 1
        var i = 0
        while (i < dim) { sums(c)(i) += v(i); i += 1 }
      }
      cents = cents.zipWithIndex.map { case (old, c) =>
        if (counts(c) == 0) old
        else Array.tabulate(dim)(i => (sums(c)(i) / counts(c)).toFloat)
      }
    }
    cents
  }

  /** Build a PERSISTED IVF-PQ index — the production 100 TB ANN
    * architecture (FAISS's default shape): the corpus hive-partitions by
    * nearest coarse cell (directory pruning per probe, as
    * [[buildIvfIndex]]) AND each vector carries an m-byte PQ code of its
    * RESIDUAL against the cell centroid (x̂ − c_cell — residuals are small,
    * so the sub-codebooks resolve fine detail the raw-vector PQ of
    * [[buildPqIndex]] spends on coarse position). Everything trains and
    * encodes in the UNIT-vector space (cosine metric). Rows sort by vec_id
    * inside each cell so the rerank's point read zone-maps to candidate
    * pages; both sidecars land next to the data. */
  def buildIvfPqIndex(spark: SparkSession, corpus: DataFrame, dir: String,
      dim: Int, nCentroids: Int = 16, m: Int = 16, nCodes: Int = 64,
      seed: Long = 7, sampleSize: Int = 1024, opq: Boolean = false): Unit = {
    require(m >= 1 && dim % m == 0,
      s"buildIvfPqIndex: m must divide dim, got dim=$dim m=$m")
    // one seeded hash-order sample, normalized, drives BOTH fits
    val rawSample: Array[Array[Float]] = corpus
      .select(col("embedding"), xxhash64(lit(seed), col("vec_id")).as("__sh"))
      .orderBy(col("__sh")).limit(sampleSize)
      .select(col("embedding")).collect()
      .map { r =>
        val v = r.getSeq[Float](0).toArray
        val n = math.sqrt(v.map(x => x.toDouble * x).sum)
        if (n == 0.0) v else v.map(x => (x / n).toFloat)
      }
    // OPQ: the WHOLE chain (coarse centroids, residuals, sub-codebooks)
    // lives in the rotated space — FAISS's OPQ pre-transform composition
    val rot = if (opq) fitOpqRotation(corpus, dim, m, seed, sampleSize) else null
    val unitSample =
      if (rot == null) rawSample else rawSample.map(rotate(rot, _))
    val centroids = lloyd(unitSample, dim, nCentroids, seed)
    val residuals = unitSample.map { v =>
      val c = centroids(nearest(v, centroids))
      Array.tabulate(dim)(i => v(i) - c(i))
    }
    val subDim = dim / m
    val codebooks = Array.tabulate(m) { b =>
      lloyd(residuals.map(_.slice(b * subDim, (b + 1) * subDim)),
        subDim, nCodes, seed + b)
    }
    encodeIvfPq(spark, corpus, centroids, codebooks, rot)
      .write.format("strawboat").option("partitionBy", "cent_id")
      .mode("overwrite").save(dir)
    writeCentroidsTo(graft.spark.StrawIO.fs(dir),
      new org.apache.hadoop.fs.Path(dir, CentroidsFile), centroids)
    writePqCodebooks(dir, codebooks)
    if (rot != null) writeOpqRotation(dir, rot)
  }

  /** The IVF-PQ encode plan: (vec_id, cent_id, pqcode, embedding) sorted
    * (cent_id, vec_id). The norm materializes as a SCALAR column (inside
    * the lambda it would re-evaluate per element — O(dim²)/row); the unit
    * and residual ARRAYS stay inline expressions shared via codegen
    * subexpression elimination — materializing an array column between
    * projections was measured 25× slower (see [[pqEncode]]). cent_id does
    * materialize: it's a scalar, and the hive-partitioned write needs it
    * as a column anyway. */
  private def encodeIvfPq(spark: SparkSession, df: DataFrame,
      centroids: Array[Array[Float]], codebooks: Array[Array[Array[Float]]],
      rot: Array[Array[Float]]): DataFrame = {
    val m = codebooks.length
    val subDim = codebooks(0)(0).length
    val unit = transform(col("embedding"),
      x => when(col("_nrm") === 0.0, x)
        .otherwise((x / col("_nrm")).cast("float")))
    val centMatrix = typedLit(centroids.map(_.toSeq).toSeq)
    val unitMaybeRot =
      if (rot == null) unit else VectorFunctions.matVec(spark, unit, rot)
    val residual = zip_with(unitMaybeRot,
      element_at(centMatrix, col("cent_id") + 1),
      (a, b) => (a - b).cast("float"))
    val assigned = df
      .withColumn("_nrm", VectorFunctions.norm(spark, col("embedding")))
      .withColumn("cent_id",
        element_at(VectorFunctions.nearestCells(spark, unitMaybeRot,
          centroids, 1), 1))
    val codeCols = (0 until m).map { b =>
      val idx = element_at(VectorFunctions.nearestCells(spark,
        slice(residual, b * subDim + 1, subDim), codebooks(b), 1), 1)
      (((idx + lit(128)) % lit(256)) - lit(128)).cast("byte")
    }
    assigned.withColumn("pqcode", array(codeCols: _*))
      .select(col("vec_id"), col("cent_id"), col("pqcode"), col("embedding"))
      .orderBy(col("cent_id"), col("vec_id"))
  }

  /** Append new vectors to a persisted IVF-PQ index: assign to the FROZEN
    * coarse cells, encode residuals with the FROZEN sidecar codebooks
    * (and rotation, if the index is OPQ-built) and append into the hive
    * cell layout, sorted by vec_id within the appended files so point-read
    * pruning holds. Same frozen-fit contract as [[appendToIvfIndex]] /
    * [[appendToPqIndex]]: heavy drift degrades probe recall — rebuild via
    * [[buildIvfPqIndex]] when the recall gate says so, and compact
    * (`clusterBy vec_id`) when appends fragment the cells. */
  def appendToIvfPqIndex(spark: SparkSession, newVectors: DataFrame,
      dir: String): Unit = {
    val centroids = loadIvfCentroids(dir)
    val codebooks = loadPqCodebooks(dir)
    encodeIvfPq(spark, newVectors, centroids, codebooks,
        loadOpqRotation(dir).orNull)
      .write.format("strawboat").option("partitionBy", "cent_id")
      .mode("append").save(dir)
  }

  /** Probe a persisted IVF-PQ index: queries assign to their `nProbe`
    * nearest cells (codegen'd, unit space — matching the build), the scan
    * restricts to those cells' DIRECTORIES (zero footer/page IO
    * elsewhere), RESIDUAL ADC scores the m-byte codes of only the probed
    * cells (float column pruned; reconstruction x̃ = c_cell + r̃ via the
    * codegen'd [[graft.functions.PqResidualCosine]] — still m lookups per
    * pair), the bounded shortlist point-reads its floats back (pushed
    * `vec_id IN` + zone maps), exact cosine re-ranks. Per-query cost =
    * probed cells × m-byte codes + k-bounded float reads — neither term
    * touches the corpus size. `nProbe = nCentroids` eliminates the
    * coarse-quantizer error entirely (the PQ shortlist remains the only
    * approximation). */
  def ivfPqTopK(spark: SparkSession, indexDir: String, queries: DataFrame,
      k: Int, nProbe: Int = 4, shortlist: Int = 0): DataFrame = {
    val centroids = loadIvfCentroids(indexDir)
    val codebooks = loadPqCodebooks(indexDir)
    val short = if (shortlist <= 0) 4 * k else shortlist
    require(short >= k, s"ivfPqTopK: shortlist $short < k $k")
    // cell assignment happens in the same UNIT space the index trained in;
    // an OPQ-built index trained its WHOLE chain (centroids, residuals,
    // codebooks) in the rotated space, so the query rotates first — on the
    // query frame only (bounded rows), the corpus side stays code-only
    val qIn = loadOpqRotation(indexDir)
      .map(r => VectorFunctions.matVec(spark, col("embedding"), r))
      .getOrElse(col("embedding"))
    val queriesR = queries.select(col("vec_id"), col("embedding"),
      qIn.as("_qemb"))
    val qnrm = VectorFunctions.norm(spark, col("_qemb"))
    val qunit = transform(col("_qemb"),
      x => when(qnrm === 0.0, x).otherwise((x / qnrm).cast("float")))
    val queryCells = queriesR.withColumn("cent_id",
      explode(VectorFunctions.nearestCells(spark, qunit, centroids,
        math.min(nProbe, centroids.length))))
    // per (query, probed cell): the residual dot table (cell-independent),
    // ‖q‖, and dot(q, c_cell) — the last via a tiny interpreted HOF over
    // queries × nProbe rows only; the per-pair scoring stays codegen'd
    val centMatrix = typedLit(centroids.map(_.toSeq).toSeq)
    val qdotc = aggregate(
      zip_with(col("_qemb"), element_at(centMatrix, col("cent_id") + 1),
        (a, b) => a.cast("double") * b.cast("double")),
      lit(0.0), (acc, x) => acc + x)
    // ONE collect of the derived query frame (queries × nProbe rows,
    // bounded — this API already broadcasts the query frame): the probed
    // cells, the ADC broadcast, and the rerank's query floats all come out
    // of the collected rows — no per-use scan job ([[localize]])
    val qFrame = queryCells.select(col("vec_id"), col("cent_id"),
      VectorFunctions.pqDotTable(spark, col("_qemb"), codebooks).as("_tab"),
      VectorFunctions.norm(spark, col("_qemb")).as("_qn"),
      qdotc.as("_qdotc"), col("embedding"))
    val (qRows, _) = localize(spark, qFrame)
    val probed: Array[Int] =
      qRows.map(_.getAs[Int]("cent_id")).distinct // bounded by nCentroids
    val index = spark.read.format("strawboat")
      .option("mergeSchema", "false").load(indexDir)
    val cells = index.filter(col("cent_id").isin(probed.map(_.asInstanceOf[Any]): _*))
    val qprep = localCols(spark, qRows, qFrame.schema,
      "vec_id" -> "vec_id", "cent_id" -> "cent_id",
      "_tab" -> "_tab", "_qn" -> "_qn", "_qdotc" -> "_qdotc")
    val adc = cells.select(col("vec_id"), col("cent_id"), col("pqcode")).as("c")
      .join(broadcast(qprep.as("q")),
        col("c.cent_id") === col("q.cent_id") && col("c.vec_id") =!= col("q.vec_id"))
      .select(col("q.vec_id").as("query_id"), col("c.vec_id").as("neighbor_id"),
        VectorFunctions.pqResidualCosine(spark, col("c.pqcode"), col("_tab"),
          col("_qn"), col("_qdotc"), col("c.cent_id"), centroids, codebooks)
          .as("_adc"))
    // one execution of the cell-pruned ADC scan; bounded queries×shortlist
    // (a corpus vector lives in exactly ONE cell — probes=1 at build — so
    // each (query, vector) pair meets at most once)
    val candPairs = topKPerQuery(spark, adc, "_adc", short)
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val candidates = localPairs(spark, candPairs)
    val candidateIds = candPairs.map(_._2).distinct
    // every candidate lives in a PROBED cell by construction, so the float
    // point-read restricts to those cells' directories first — partition
    // pruning fires before any footer IO, and only then do the vec_id zone
    // maps prune pages within the probed cells
    val floats = index
      .filter(col("cent_id").isin(probed.map(_.asInstanceOf[Any]): _*) &&
        candidatePointFilter(candidateIds))
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("_nemb"))
    // rerank query floats from the SAME collected rows — exact-id dedupe
    // of the explode (a query's nProbe rows carry the identical source
    // embedding), no re-scan, no math on the driver
    val qFloats = dedupeByFirstField(spark, qRows, qFrame, "query_id", "_qemb")
    val rescored = broadcast(candidates)
      .join(floats, "neighbor_id")
      .join(broadcast(qFloats), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        round(VectorFunctions.cosine(spark, col("_qemb"), col("_nemb")), 4)
          .as("cosine"))
    topKPerQuery(spark, rescored, "cosine", k)
  }

  /** (vec_id, embedding) rows deduped by vec_id on the driver (keep-first;
    * the duplicates are an explode's copies of one source row, so every
    * copy is identical) → a renamed two-column local relation. Shared by
    * the IVF-PQ/IVF-BQ reranks. */
  private def dedupeByFirstField(spark: SparkSession,
      rows: Array[org.apache.spark.sql.Row], frame: DataFrame,
      idName: String, embName: String): DataFrame = {
    val seen = scala.collection.mutable.HashSet[Any]()
    val out = rows.flatMap { r =>
      val id = r.getAs[Any]("vec_id")
      if (seen.add(id))
        Some(org.apache.spark.sql.Row(id, r.getAs[Any]("embedding")))
      else None
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      frame.schema("vec_id").copy(name = idName),
      frame.schema("embedding").copy(name = embName)))
    localDF(spark, out.toIndexedSeq, schema)
  }

  /** Exact cosine top-k over INT8-QUANTIZED vectors via the codegen'd
    * integer kernel [[graft.functions.CosineInt8]] — same plan shape as
    * [[bruteForceTopK]] at a quarter of the vector bytes. Ranking quality
    * versus full-precision is gated in the driver suite. */
  def quantizedTopK(spark: SparkSession, corpus: DataFrame, queries: DataFrame,
      k: Int, excludeSelf: Boolean = true): DataFrame = {
    val qc = quantizeInt8(corpus, "embedding").select(col("vec_id"), col("qvec"))
    val qq = quantizeInt8(queries, "embedding").select(col("vec_id"), col("qvec"))
    val scored = qc.as("c")
      .join(broadcast(qq.as("q")),
        if (excludeSelf) col("c.vec_id") =!= col("q.vec_id") else lit(true))
      .select(
        col("q.vec_id").as("query_id"),
        col("c.vec_id").as("neighbor_id"),
        round(VectorFunctions.cosineInt8(spark, col("q.qvec"), col("c.qvec")), 4)
          .as("cosine"))
    topKPerQuery(spark, scored, "cosine", k)
  }

  // -------------------------------------------------------------------------
  // Binary quantization (BQ): sign-bit codes, Hamming shortlist, exact rerank
  // -------------------------------------------------------------------------

  /** Sign-bit binary quantization of the embedding column: `bqcode` is a
    * `binary` of ceil(dim/8) bytes (bit j set when x_j > 0) — 32× fewer
    * bytes than float32, the cheapest vector tier (no training, no
    * codebooks, append needs no frozen state). For centered embeddings
    * the Hamming distance between codes estimates the angle (each
    * dimension is an axis-aligned hyperplane: P[bit differs] grows with
    * θ), which is enough to SHORTLIST candidates; exact ranking comes
    * from the float rerank in [[bqTopK]]/[[bqTopKIndexed]]. */
  def bqEncode(spark: SparkSession, df: DataFrame,
      embCol: String = "embedding"): DataFrame =
    df.withColumn("bqcode", VectorFunctions.signPack(spark, col(embCol)))

  /** BQ shortlist → EXACT rerank over in-memory frames: Hamming-score the
    * whole corpus from its dim/8-byte codes (codegen'd popcount), keep a
    * `shortlist`-sized candidate set per query (default 8·k — BQ is
    * coarser than PQ, so the default shortlist is wider), fetch only the
    * shortlist's floats and re-rank exactly. Output matches
    * [[bruteForceTopK]]'s shape; recall is gated in the driver suite. */
  def bqTopK(spark: SparkSession, corpus: DataFrame, queries: DataFrame,
      k: Int, shortlist: Int = 0, excludeSelf: Boolean = true): DataFrame = {
    val short = if (shortlist <= 0) 8 * k else shortlist
    require(short >= k, s"bqTopK: shortlist $short < k $k")
    val coded = bqEncode(spark, corpus).select(col("vec_id"), col("bqcode"))
    val qprep = bqEncode(spark, queries)
      .select(col("vec_id"), col("bqcode").as("_qcode"))
    val scored = coded.as("c")
      .join(broadcast(qprep.as("q")),
        if (excludeSelf) col("c.vec_id") =!= col("q.vec_id") else lit(true))
      .select(col("q.vec_id").as("query_id"), col("c.vec_id").as("neighbor_id"),
        VectorFunctions.hammingDist(spark, col("c.bqcode"), col("_qcode"))
          .as("_ham"))
    val candidates = topKPerQuery(spark, scored, "_ham", short, ascending = true)
      .select(col("query_id"), col("neighbor_id"))
    val rescored = candidates
      .join(corpus.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("_nemb")), "neighbor_id")
      .join(broadcast(queries.select(col("vec_id").as("query_id"),
        col("embedding").as("_qemb"))), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        round(VectorFunctions.cosine(spark, col("_qemb"), col("_nemb")), 4)
          .as("cosine"))
    topKPerQuery(spark, rescored, "cosine", k)
  }

  private val BqMetaFile = "_bq_meta"

  /** Build a PERSISTED BQ index at `dir`: encode every corpus vector and
    * write (vec_id, bqcode, embedding) as a strawboat table SORTED BY
    * vec_id (the point-read convention of [[buildPqIndex]]), plus a tiny
    * `_bq_meta` sidecar carrying the dim (the probe validates its query
    * width against it, and [[graft.spark.GraftExtensions]]' `straw_knn`
    * dispatches on its presence). No training state — append is just
    * encode + append, nothing freezes. Hamming probes read ONLY
    * (vec_id, bqcode): dim/8 bytes per vector instead of 4·dim — at
    * 100 TB of float32 the code scan is ~3 TB. */
  def buildBqIndex(spark: SparkSession, corpus: DataFrame, dir: String,
      dim: Int): Unit = {
    bqEncode(spark, corpus)
      .select(col("vec_id"), col("bqcode"), col("embedding"))
      .orderBy(col("vec_id"))
      .write.format("strawboat").mode("overwrite").save(dir)
    val fs = graft.spark.StrawIO.fs(dir)
    val os = fs.create(new org.apache.hadoop.fs.Path(dir, BqMetaFile), true)
    try os.write(s"$dim\n".getBytes("UTF-8")) finally os.close()
  }

  /** The dim recorded in a BQ index's sidecar; None when `dir` is not a
    * [[buildBqIndex]] directory (the `straw_knn` dispatch probe). */
  def loadBqDim(dir: String): Option[Int] = {
    val fs = graft.spark.StrawIO.fs(dir)
    val p = new org.apache.hadoop.fs.Path(dir, BqMetaFile)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val text =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      Some(text.trim.toInt)
    }
  }

  /** Append new vectors to a persisted BQ index: encode and append —
    * BQ has no trained state to freeze, so unlike the IVF/PQ appends
    * there is no drift contract at all. Sorted by vec_id within the
    * appended files, so point-read pruning holds. */
  def appendToBqIndex(spark: SparkSession, newVectors: DataFrame,
      dir: String): Unit = {
    val dim = loadBqDim(dir).getOrElse(throw new IllegalArgumentException(
      s"appendToBqIndex: no $BqMetaFile sidecar under $dir"))
    // validated executor-side over EVERY row (a first-row-only check lets
    // a mixed-dim batch that shares ceil(dim/8) bytes append silently and
    // the min-length rerank then truncates — wrong scores, not a failure)
    val validated = newVectors.filter(assert_true(
      size(col("embedding")) === lit(dim),
      concat(lit("appendToBqIndex: embedding dim "), size(col("embedding")),
        lit(s" != indexed dim $dim"))).isNull)
    bqEncode(spark, validated)
      .select(col("vec_id"), col("bqcode"), col("embedding"))
      .orderBy(col("vec_id"))
      .write.format("strawboat").mode("append").save(dir)
  }

  /** Build a PERSISTED IVF-BQ index at `dir` — the BQ tier's scale path:
    * the flat BQ probe still scans EVERY vector's code; here the coarse
    * quantizer (the [[buildIvfIndex]] fit) assigns each vector to a cell,
    * the table hive-partitions by `cent_id` sorted (cent_id, vec_id), and
    * a probe touches only `nProbe` cells' DIRECTORIES — dim/8 bytes per
    * vector within the probed fraction, zero IO for the rest. Codes
    * sign-pack the RAW vector, not the IVF residual: sign bits are
    * scale-free and a residual's signs carry no angular meaning (unlike
    * PQ, whose residual codebooks shrink quantization error). Sidecars:
    * `_ivf_centroids` + `_bq_meta` — `straw_knn` dispatches on the pair. */
  def buildIvfBqIndex(spark: SparkSession, corpus: DataFrame, dir: String,
      dim: Int, nCentroids: Int = 16, seed: Long = 7,
      sampleSize: Int = 1024): Unit = {
    val centroids = fitQuantizer(corpus, dim, nCentroids, seed, sampleSize)
    bqEncode(spark, assignCells(spark, corpus, centroids, 1))
      .select(col("vec_id"), col("cent_id"), col("bqcode"), col("embedding"))
      .orderBy(col("cent_id"), col("vec_id"))
      .write.format("strawboat").option("partitionBy", "cent_id")
      .mode("overwrite").save(dir)
    writeCentroidsTo(graft.spark.StrawIO.fs(dir),
      new org.apache.hadoop.fs.Path(dir, CentroidsFile), centroids)
    val os = graft.spark.StrawIO.fs(dir)
      .create(new org.apache.hadoop.fs.Path(dir, BqMetaFile), true)
    try os.write(s"$dim\n".getBytes("UTF-8")) finally os.close()
  }

  /** Append into a persisted IVF-BQ index: assign to the FROZEN coarse
    * cells (the [[appendToIvfIndex]] contract — rebuild when drift
    * degrades the probes) and sign-pack; the codes themselves have no
    * trained state. */
  def appendToIvfBqIndex(spark: SparkSession, newVectors: DataFrame,
      dir: String): Unit = {
    val centroids = loadIvfCentroids(dir)
    require(loadBqDim(dir).isDefined,
      s"appendToIvfBqIndex: no $BqMetaFile sidecar under $dir")
    bqEncode(spark, assignCells(spark, newVectors, centroids, 1))
      .select(col("vec_id"), col("cent_id"), col("bqcode"), col("embedding"))
      .orderBy(col("cent_id"), col("vec_id"))
      .write.format("strawboat").option("partitionBy", "cent_id")
      .mode("append").save(dir)
  }

  /** Probe a persisted IVF-BQ index: directory-pruned `nProbe` cells →
    * Hamming shortlist over the probed codes (codegen'd popcount, floats
    * undecoded) → cell-restricted point-read exact rerank. With
    * nProbe = nCentroids this equals [[bqTopKIndexed]] on the same data
    * and shortlist (the coarse pruning error vanishes) — the driver gate
    * pins that. Bounded collects: the query frame (queries × nProbe rows —
    * [[localize]], acceptable since the probe already broadcasts it) and
    * the queries × shortlist candidate set. */
  def ivfBqTopK(spark: SparkSession, indexDir: String, queries: DataFrame,
      k: Int, nProbe: Int = 4, shortlist: Int = 0): DataFrame = {
    val centroids = loadIvfCentroids(indexDir)
    val dim = loadBqDim(indexDir).getOrElse(throw new IllegalArgumentException(
      s"ivfBqTopK: no $BqMetaFile sidecar under $indexDir — " +
        "not a buildIvfBqIndex directory"))
    val short = if (shortlist <= 0) 8 * k else shortlist
    require(short >= k, s"ivfBqTopK: shortlist $short < k $k")
    val queryCells = queries.withColumn("cent_id",
      explode(VectorFunctions.nearestCells(spark, col("embedding"), centroids,
        math.min(nProbe, centroids.length))))
    // ONE collect of the derived query frame: probed cells, the Hamming
    // broadcast, and the rerank's query floats all come out of the
    // collected rows — no per-use scan job
    val qFrame = queryCells.select(col("vec_id"), col("cent_id"),
      VectorFunctions.signPack(spark, col("embedding")).as("_qcode"),
      col("embedding"))
    val (qRows, _) = localize(spark, qFrame)
    val probed: Array[Int] =
      qRows.map(_.getAs[Int]("cent_id")).distinct // bounded by nCentroids
    val index = spark.read.format("strawboat")
      .option("mergeSchema", "false").load(indexDir)
    val cells = index.filter(col("cent_id").isin(probed.map(_.asInstanceOf[Any]): _*))
    val qprep = localCols(spark, qRows, qFrame.schema,
      "vec_id" -> "vec_id", "cent_id" -> "cent_id", "_qcode" -> "_qcode")
    val scored = cells.select(col("vec_id"), col("cent_id"), col("bqcode"))
      .as("c")
      .join(broadcast(qprep.as("q")),
        col("c.cent_id") === col("q.cent_id") && col("c.vec_id") =!= col("q.vec_id"))
      .select(col("q.vec_id").as("query_id"), col("c.vec_id").as("neighbor_id"),
        VectorFunctions.hammingDist(spark, col("c.bqcode"), col("_qcode"))
          .as("_ham"))
    val candPairs = topKPerQuery(spark, scored, "_ham", short, ascending = true)
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val candidates = localPairs(spark, candPairs)
    val candidateIds = candPairs.map(_._2).distinct
    // candidates live in probed cells by construction: directory pruning
    // first, then vec_id zone maps within the probed cells
    val floats = index
      .filter(col("cent_id").isin(probed.map(_.asInstanceOf[Any]): _*) &&
        candidatePointFilter(candidateIds))
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("_nemb"))
    // rerank query floats from the SAME collected rows (exact-id dedupe of
    // the explode's copies); the dim guard stays an expression over them
    val qFloats = dedupeByFirstField(spark, qRows, qFrame, "query_id", "_qemb")
      .filter(assert_true(size(col("_qemb")) === dim,
        concat(lit("ivfBqTopK: query dim "), size(col("_qemb")),
          lit(s" != indexed dim $dim"))).isNull)
    val rescored = broadcast(candidates)
      .join(floats, "neighbor_id")
      .join(broadcast(qFloats), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        round(VectorFunctions.cosine(spark, col("_qemb"), col("_nemb")), 4)
          .as("cosine"))
    topKPerQuery(spark, rescored, "cosine", k)
  }

  /** Probe a persisted BQ index: Hamming-score the code column (the
    * float column stays undecoded — dim/8 bytes per vector scanned),
    * shortlist `shortlist` candidates per query (default 8·k), then
    * fetch ONLY the shortlist's float vectors — the same pushed
    * point-read as [[pqTopKIndexed]] against the vec_id-sorted table —
    * and re-rank exactly. The candidate collect is bounded by
    * queries × shortlist (query-scale, never data-scale). Equals
    * [[bqTopK]] exactly for the same shortlist. */
  def bqTopKIndexed(spark: SparkSession, indexDir: String, queries: DataFrame,
      k: Int, shortlist: Int = 0): DataFrame = {
    val dim = loadBqDim(indexDir).getOrElse(throw new IllegalArgumentException(
      s"bqTopKIndexed: no $BqMetaFile sidecar under $indexDir — " +
        "not a buildBqIndex directory"))
    val short = if (shortlist <= 0) 8 * k else shortlist
    require(short >= k, s"bqTopKIndexed: shortlist $short < k $k")
    val index = spark.read.format("strawboat")
      .option("mergeSchema", "false").load(indexDir)
    // ONE collect of the encoded query frame ([[localize]]): the Hamming
    // broadcast and the rerank's query floats reuse the collected rows
    val qFrame = bqEncode(spark, queries)
      .select(col("vec_id"), col("bqcode").as("_qcode"), col("embedding"))
    val (qRows, _) = localize(spark, qFrame)
    val qprep = localCols(spark, qRows, qFrame.schema,
      "vec_id" -> "vec_id", "_qcode" -> "_qcode")
    val scored = index.select(col("vec_id"), col("bqcode")) // floats pruned
      .as("c")
      .join(broadcast(qprep.as("q")), col("c.vec_id") =!= col("q.vec_id"))
      .select(col("q.vec_id").as("query_id"), col("c.vec_id").as("neighbor_id"),
        VectorFunctions.hammingDist(spark, col("c.bqcode"), col("_qcode"))
          .as("_ham"))
    val candPairs = topKPerQuery(spark, scored, "_ham", short, ascending = true)
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val candidates = localPairs(spark, candPairs)
    val candidateIds = candPairs.map(_._2).distinct
    val floats = index
      .filter(candidatePointFilter(candidateIds))
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("_nemb"))
    // exact-width guard: byte-padded Hamming codes can't distinguish dims
    // within the same ceil(dim/8) byte count, so the float stage checks
    // the true dim loudly (assert_true returns null when the check holds)
    val qFloats = localCols(spark, qRows, qFrame.schema,
        "vec_id" -> "query_id", "embedding" -> "_qemb")
      .filter(assert_true(size(col("_qemb")) === dim,
        concat(lit("bqTopKIndexed: query dim "), size(col("_qemb")),
          lit(s" != indexed dim $dim"))).isNull)
    val rescored = broadcast(candidates)
      .join(floats, "neighbor_id")
      .join(broadcast(qFloats), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        round(VectorFunctions.cosine(spark, col("_qemb"), col("_nemb")), 4)
          .as("cosine"))
    topKPerQuery(spark, rescored, "cosine", k)
  }
}
