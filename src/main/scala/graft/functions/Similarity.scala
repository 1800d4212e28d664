package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Lineage.CutOps

/** Approximate/exact nearest-neighbor search over embedding columns
  * (`ARRAY<FLOAT>`).
  *
  * Scale path: brute-force cosine is the correctness baseline (one
  * broadcast of the query batch, no all-pairs shuffle when the query
  * side is small). The LSH variant buckets by random-hyperplane
  * signatures so candidate generation is an equi-join; recall is
  * tunable via tables × bits. Dot products use `zip_with` +
  * `aggregate` — codegen'd, no UDF.
  */
object Similarity {

  /** Sequential left-fold in DOUBLE (inputs are float32 — promoting
    * before the multiply keeps the value cross-engine reproducible;
    * a float-accumulated sum would drift at the 1e-7 level).
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0d), (acc, v) => acc + v)

  def norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0d), (acc, v) => acc + v))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Exact top-k neighbors for each query id: broadcast queries ⋈
    * corpus, rank by cosine within query, keep k. Corpus never
    * shuffles — only the (nQueries × corpus) scored pairs do, and
    * row_number pushes partial top-k into each partition.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = corpus.sparkSession
    val c = corpus.select(col("vec_id").as("corpus_id"), col("embedding").as("cvec"),
      VecExpressions.vecNorm(spark, col("embedding")).as("cn"))
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qvec"),
      VecExpressions.vecNorm(spark, col("embedding")).as("qn"))
    // Rank on the ROUNDED cosine with corpus_id tie-break: ranking on
    // raw doubles makes the k-th place depend on last-ulp summation
    // differences across engines/partitionings. Norms precomputed per
    // side, not per pair; dot product is the codegen'd FloatVecDot
    // expression (identical math to the interpreted HOF form).
    val scored = c.crossJoin(broadcast(q))
      .filter(col("corpus_id") =!= col("query_id"))
      .withColumn("cosine",
        round(VecExpressions.vecDot(spark, col("cvec"), col("qvec"))
          / (col("cn") * col("qn")), 4))
    val w = Window.partitionBy("query_id").orderBy(desc("cosine"), asc("corpus_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("corpus_id"), col("cosine"), col("rank"))
  }

  /** Deterministic pseudo-random hyperplane component for (table,
    * bit, dim): hash → uniform in [-1, 1).
    */
  private def planeComponent(table: Int, bit: Int, dim: Column): Column =
    (xxhash64(lit(table), lit(bit), dim).cast("double")
      / lit(Long.MaxValue.toDouble))

  /** Bucket assignments (id, table, bucket) for every vector —
    * relational formulation: posexplode the vector and compute ALL
    * tables × bits hyperplane projections as `sum` aggregates in one
    * codegen'd HashAggregate, then pack sign bits per table. The
    * plane family is xxhash64(table, bit, dim) components; summation
    * order across a partition is whatever the aggregate sees — a
    * bucket-bit flip vs a sequential fold would need |projection|
    * below the summation error (~1e-15 relative), which no real
    * embedding hits. The equivalent HOF column form (nested
    * transform/aggregate lambdas) runs interpreted: measured
    * 13.6 s → ~2 s at sf0.1 for 16 × 6 signatures over 2000 vectors.
    */
  def lshBucketRows(df: DataFrame, idName: String,
      tables: Int, bits: Int): DataFrame = {
    val ex = df.select(col("vec_id").as(idName),
      posexplode(col("embedding")).as(Seq("__i", "__x")))
    val aggs = for (t <- 0 until tables; b <- 0 until bits)
      yield sum(col("__x") * planeComponent(t, b, col("__i"))).as(s"__p_${t}_$b")
    val sums = ex.groupBy(idName).agg(aggs.head, aggs.tail: _*)
    val buckets = (0 until tables).map { t =>
      struct(lit(t).as("table"),
        (0 until bits).map { b =>
          when(col(s"__p_${t}_$b") >= 0, lit(1L << b)).otherwise(lit(0L))
        }.reduce((a, c) => a.bitwiseOR(c)).as("bucket"))
    }
    sums.select(col(idName), explode(array(buckets: _*)).as("tb"))
      .select(col(idName), col("tb.table"), col("tb.bucket"))
  }

  /** ANN via multi-table hyperplane LSH: candidates share a bucket in
    * any table; exact cosine re-rank keeps top-k. At 100 TB the
    * bucket join replaces the cross join — candidate volume is
    * corpus/2^bits per table per query. The bucket join carries IDS
    * ONLY; embeddings rejoin after candidate-pair dedup, so the wide
    * arrays never ride through the bucket shuffle.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      tables: Int = 4, bits: Int = 8): DataFrame = {
    val c = lshBucketRows(corpus, "corpus_id", tables, bits)
    val q = lshBucketRows(queries, "query_id", tables, bits)
      .withColumnRenamed("table", "table2").withColumnRenamed("bucket", "bucket2")
    val cand = c.join(q,
      col("table") === col("table2") && col("bucket") === col("bucket2") &&
        col("corpus_id") =!= col("query_id"))
      .select("query_id", "corpus_id")
      .dropDuplicates("query_id", "corpus_id")
    rerankTopK(cand, corpus, queries, k)
  }

  /** Exact cosine re-rank of an (query_id, corpus_id) candidate set:
    * rejoin both embeddings, codegen'd FloatVecDot, partition-local
    * row_number top-k. Shared tail of every ANN variant.
    */
  private def rerankTopK(cand: DataFrame, corpus: DataFrame,
      queries: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = corpus.sparkSession
    val withVecs = cand
      .join(corpus.select(col("vec_id").as("corpus_id"), col("embedding").as("cvec")),
        "corpus_id")
      .join(broadcast(queries.select(col("vec_id").as("query_id"),
        col("embedding").as("qvec"))), "query_id")
    val w = Window.partitionBy("query_id").orderBy(desc("cosine"), asc("corpus_id"))
    withVecs.withColumn("cosine",
        round(VecExpressions.vecDot(spark, col("cvec"), col("qvec"))
          / (VecExpressions.vecNorm(spark, col("cvec"))
            * VecExpressions.vecNorm(spark, col("qvec"))), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("corpus_id"), col("cosine"), col("rank"))
  }

  /** IVF coarse quantizer: spherical k-means over the unit sphere,
    * run as a driver loop of DataFrame jobs (the centroid set is
    * MODEL state — nlist × dim floats — never data; corpus vectors
    * stay distributed throughout). Deterministic end to end: seeds
    * are the nlist lowest-id vectors, argmax ties break to the
    * lowest cell id, and centroids are rounded to 6 dp after every
    * update so floating-point summation order can't leak into
    * assignments. Returns unit-norm centroids (cid, cvec).
    */
  def ivfCentroids(corpus: DataFrame, nlist: Int = 16,
      iters: Int = 5): Array[(Int, Array[Float])] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    def unit(v: Array[Float]): Array[Float] = {
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i).toDouble * v(i).toDouble; i += 1 }
      val n = math.sqrt(s)
      v.map(x => (x / n).toFloat)
    }
    def roundedUnit(v: Array[Double]): Array[Float] = {
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i) * v(i); i += 1 }
      val n = math.sqrt(s)
      v.map(x => (math.floor(x / n * 1e6 + 0.5) / 1e6).toFloat)
    }
    var cents: Array[(Int, Array[Float])] = corpus.orderBy("vec_id").limit(nlist)
      .select(col("embedding")).as[Array[Float]].collect()
      .zipWithIndex.map { case (v, i) => (i, unit(v)) }
    for (_ <- 0 until iters) {
      val centDF = cents.toSeq.toDF("cid", "cvec")
      val assigned = ivfAssign(corpus, centDF)
      // new centroid = mean of member UNIT vectors (spherical update):
      // posexplode + one HashAggregate; (cid, dim) keyspace is tiny
      val normed = corpus.join(assigned, "vec_id")
        .select(col("cid"), col("embedding"),
          VecExpressions.vecNorm(spark, col("embedding")).as("nrm"))
      val means = normed
        .select(col("cid"), posexplode(col("embedding")).as(Seq("i", "x")), col("nrm"))
        .select(col("cid"), col("i"), (col("x") / col("nrm")).as("u"))
        .groupBy("cid", "i").agg(avg("u").as("m"))
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
      val byCell = means.groupBy(_._1)
      cents = cents.map { case (cid, old) =>
        byCell.get(cid) match {
          case Some(rows) =>
            val arr = new Array[Double](old.length)
            rows.foreach { case (_, i, m) => arr(i) = m }
            (cid, roundedUnit(arr))
          case None => (cid, old) // empty cell keeps its centroid
        }
      }
    }
    cents
  }

  /** Nearest-cell assignment plus the assignment QUALITY: cosine of
    * each vector to its winning centroid (`acos` — centroids are
    * unit-norm, so cos = dot / |v|). The quality column feeds the
    * staleness signal in [[ivfStaleness]]; callers that only need the
    * assignment project it away and Catalyst prunes the norm compute.
    */
  private def ivfAssignWithCos(vecs: DataFrame, centDF: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = vecs.sparkSession
    val w = Window.partitionBy("vec_id").orderBy(desc("dot"), asc("cid"))
    vecs.select(col("vec_id"), col("embedding"),
        VecExpressions.vecNorm(spark, col("embedding")).as("__nrm"))
      .crossJoin(broadcast(centDF))
      .withColumn("dot",
        round(VecExpressions.vecDot(spark, col("embedding"), col("cvec")), 6))
      .withColumn("r", row_number().over(w))
      .filter(col("r") === 1)
      .select(col("vec_id"), col("cid"),
        when(col("__nrm") > 0, col("dot") / col("__nrm")).as("acos"))
  }

  /** Nearest-cell assignment: argmax over cells of <v, centroid>
    * (centroids unit-norm, so no per-vector normalization is needed
    * for the argmax). corpus × nlist rows — nlist is small.
    */
  private def ivfAssign(vecs: DataFrame, centDF: DataFrame): DataFrame =
    ivfAssignWithCos(vecs, centDF).select(col("vec_id"), col("cid"))

  /** Top-`nprobe` cells per query vector. */
  private def ivfProbe(queries: DataFrame, centDF: DataFrame, nprobe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = queries.sparkSession
    val w = Window.partitionBy("query_id").orderBy(desc("dot"), asc("cid"))
    queries.select(col("vec_id").as("query_id"), col("embedding"))
      .crossJoin(broadcast(centDF))
      .withColumn("dot",
        round(VecExpressions.vecDot(spark, col("embedding"), col("cvec")), 6))
      .withColumn("r", row_number().over(w))
      .filter(col("r") <= nprobe)
      .select(col("query_id"), col("cid"))
  }

  /** ANN via an IVF index — the second scale path beside hyperplane
    * LSH: the coarse quantizer splits the corpus into nlist cells,
    * each query probes its nprobe nearest cells and reranks exactly
    * inside them. Candidate volume ≈ corpus × nprobe / nlist; at
    * cluster scale the corpus would be WRITTEN partitioned by cid
    * (partition pruning turns each probe into a cell-local scan)
    * and the centroid model is a broadcast either way.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 4, iters: Int = 5): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val centDF = graft.TransientCache.persist(
      ivfCentroids(corpus, nlist, iters).toSeq.toDF("cid", "cvec"))
    val assigned = ivfAssign(corpus, centDF)
    val probes = ivfProbe(queries, centDF, nprobe)
    val cand = probes.join(assigned, "cid")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("corpus_id"))
    rerankTopK(cand, corpus, queries, k)
  }

  /** Persist an IVF index: the corpus is WRITTEN partitioned by its
    * cell assignment (`cid=<n>/` directories via the partitioned
    * sink) and the centroid model lands beside it as a tiny parquet.
    * This is the at-rest layout the in-memory `ivfTopK` only
    * describes: once the corpus lives partitioned by cid, a probe
    * scans exactly its nprobe cells — directory-level pruning, zero
    * I/O in the other nlist − nprobe cells — which is the difference
    * between reading 100 TB and reading nprobe/nlist of it.
    */
  def writeIvfIndex(corpus: DataFrame, path: String, nlist: Int = 16,
      iters: Int = 5): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val centDF = ivfCentroids(corpus, nlist, iters).toSeq.toDF("cid", "cvec")
    // local persist (not TransientCache — releasing mid-operator
    // would drain OTHER operators' registered frames): read twice
    // below, by the partitioned write and by the fit aggregate
    val assigned = ivfAssignWithCos(corpus, centDF)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      graft.sources.Sinks.writePartitioned(
        corpus.join(assigned.select("vec_id", "cid"), "vec_id"),
        s"$path/corpus", Seq("cid"))
      centDF.coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
      // Train-time fit record for the refresh policy (one aggregate
      // over the cached assignment): how well the model fit its own
      // training data is the baseline any later batch's assignment
      // quality is compared against in ivfStaleness.
      val fit = assigned.agg(count(lit(1)).as("n"), avg("acos").as("c")).head()
      // a degenerate corpus (empty, or all-zero-norm vectors) has no
      // fit: record 1.0 — vacuously perfect, so the first real batch's
      // quality drives the drift signal instead of an NPE here
      val fitCos = if (fit.isNullAt(1)) 1.0 else fit.getDouble(1)
      Seq((fit.getLong(0), fitCos, nlist))
        .toDF("trained_rows", "mean_assign_cos", "nlist")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    } finally assigned.unpersist(blocking = false)
  }

  /** Incrementally maintain a persisted IVF index: assign NEW
    * vectors to the EXISTING centroid model and append them into
    * their `cid=<n>/` partitions. The model is deliberately frozen —
    * the append-only contract a production IVF index runs between
    * retrain cycles, and the same incremental-maintenance intent as
    * `minHashIndexPairs` (new-vs-index) applied to the ANN operator:
    * work scales with the BATCH (assign = batch × nlist dot products,
    * write = batch rows), never with the indexed corpus, and only the
    * partitions that received new vectors gain files — every other
    * cell directory is untouched (dynamic-partition append), so a
    * 100 TB index absorbs a daily batch without a rewrite. Queries
    * via `ivfTopKFromIndex` see old + new rows with unchanged pruning.
    */
  def appendToIvfIndex(newVecs: DataFrame, path: String): Unit = {
    val spark = newVecs.sparkSession
    val centDF = spark.read.parquet(s"$path/centroids")
    val assigned = ivfAssign(newVecs, centDF)
    graft.sources.Sinks.writePartitioned(
      newVecs.join(assigned, "vec_id"), s"$path/corpus", Seq("cid"),
      mode = "append")
  }

  /** Exact per-cell row counts of a persisted IVF index, from parquet
    * footers only — O(#files) driver-side metadata reads, zero data
    * I/O, the same no-job statistic `knownRows` serves for flat
    * tables applied per `cid=<n>/` directory.
    */
  def ivfCellCounts(spark: org.apache.spark.sql.SparkSession,
      path: String): Map[Int, Long] = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(s"$path/corpus")
    val fs = root.getFileSystem(conf)
    fs.listStatus(root).iterator.filter(_.isDirectory)
      .map(_.getPath).filter(_.getName.startsWith("cid="))
      .map { dir =>
        val files = fs.listStatus(dir).iterator
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
          .map(_.getPath).toSeq
        dir.getName.drop(4).toInt -> sumFooterRows(files, conf)
      }.toMap
  }

  /** Sum of parquet footer record counts — the shared metadata-only
    * primitive behind both `footerRowCount` (flat tables) and
    * `ivfCellCounts` (per-cell directories).
    */
  private def sumFooterRows(files: Iterable[org.apache.hadoop.fs.Path],
      conf: org.apache.hadoop.conf.Configuration): Long =
    files.iterator.map { f =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf))
      try reader.getRecordCount finally reader.close()
    }.sum

  /** Staleness report for a persisted IVF index — the refresh-policy
    * decision the reference applies to views (view_types.rs:80-96,
    * threshold-triggered refresh) applied to index maintenance.
    * `appendToIvfIndex` freezes the centroid model by design; under
    * distribution drift recall decays SILENTLY (appended vectors
    * crowd into cells whose boundaries were drawn for old data), so
    * the index needs a cheap, jobless-where-possible signal that the
    * model no longer fits:
    *
    *  - `grown`: total rows (exact, parquet footers — no job) exceed
    *    `growthFactor` × the rows the model was trained on;
    *  - `imbalanced`: the largest cell holds more than
    *    `imbalanceFactor` × its fair 1/nlist share (footers again) —
    *    the signature of appends concentrating where the old model
    *    has no resolution;
    *  - `drifted`: a probe batch's mean assignment cosine (one
    *    batch-sized aggregate, the only signal that runs a job —
    *    batch × nlist dots, never corpus-sized) sits more than
    *    `driftMargin` below the train-time fit recorded in
    *    `<path>/meta`.
    */
  case class IvfStaleness(trainedRows: Long, totalRows: Long,
      trainMeanAssignCos: Double, batchMeanAssignCos: Option[Double],
      maxCellShare: Double, nlist: Int,
      grown: Boolean, imbalanced: Boolean, drifted: Boolean) {
    def shouldRetrain: Boolean = grown || imbalanced || drifted
  }

  def ivfStaleness(spark: org.apache.spark.sql.SparkSession, path: String,
      batch: Option[DataFrame] = None, growthFactor: Double = 2.0,
      imbalanceFactor: Double = 4.0, driftMargin: Double = 0.15): IvfStaleness = {
    val meta = readIvfMeta(spark, path)
    val trainedRows = meta.getAs[Long]("trained_rows")
    val trainCos = meta.getAs[Double]("mean_assign_cos")
    val nlist = meta.getAs[Int]("nlist")
    val counts = ivfCellCounts(spark, path)
    val total = counts.values.sum
    val maxShare = if (total == 0L) 0.0
      else counts.values.max.toDouble / total
    // an empty probe batch (routine between appends) or one of
    // all-zero-norm vectors has no assignment quality: no signal,
    // not an NPE — batchMeanAssignCos stays None and drift is silent
    val batchCos = batch.flatMap { b =>
      val centDF = spark.read.parquet(s"$path/centroids")
      val row = ivfAssignWithCos(b, centDF).agg(avg("acos")).head()
      if (row.isNullAt(0)) None else Some(row.getDouble(0))
    }
    IvfStaleness(trainedRows, total, trainCos, batchCos, maxShare, nlist,
      grown = total > growthFactor * trainedRows,
      imbalanced = maxShare > imbalanceFactor / nlist,
      drifted = batchCos.exists(_ < trainCos - driftMargin))
  }

  /** The `<path>/meta` fit record, with an explanatory failure for
    * indexes written before the record existed (`appendToIvfIndex` /
    * `ivfTopKFromIndex` still serve them; only the refresh policy
    * needs the baseline, and one retrain/rewrite backfills it).
    */
  private def readIvfMeta(spark: org.apache.spark.sql.SparkSession,
      path: String): org.apache.spark.sql.Row =
    try spark.read.parquet(s"$path/meta").head()
    catch { case scala.util.control.NonFatal(e) =>
      throw new IllegalStateException(
        s"IVF index at $path has no readable fit record ($path/meta) — " +
          "it predates the refresh policy or the write was interrupted. " +
          "Queries and appends still work; run retrainIvfIndex (or " +
          "writeIvfIndex over the corpus) once to backfill the record.", e)
    }

  /** Rebuild the index from its own at-rest corpus: fresh k-means,
    * fresh assignment, fresh fit record. `nlist = 0` (the default)
    * reuses the nlist recorded at train time — a default-argument
    * retrain must not silently reshape the model (cell count feeds
    * the imbalance threshold and the nprobe/nlist recall trade).
    * The corpus is materialized (an eager cut) before the
    * overwrite so the rewrite never reads the files it is replacing.
    * That materialization is test/modest-index convenience — a
    * 100 TB deployment retrains by writing a NEW versioned path
    * (`writeIvfIndex(corpus, newPath)`) and swapping readers, never
    * in place.
    */
  def retrainIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      nlist: Int = 0, iters: Int = 5): Unit = {
    val effectiveNlist =
      if (nlist > 0) nlist
      else readIvfMeta(spark, path).getAs[Int]("nlist")
    val data = graft.sources.Sinks.readPartitioned(spark, s"$path/corpus")
      .drop("cid").cut(reliable = false)
    writeIvfIndex(data, path, effectiveNlist, iters)
  }

  /** ANN top-k against a persisted IVF index. The probed cell ids
    * become a literal `cid IN (...)` filter, so the partitioned
    * corpus scan prunes at the directory level — assert
    * `PartitionFilters` in the scan node.
    *
    * The driver-side collect below is bounded by the MODEL, not the
    * batch: it runs on `probes.select("cid").distinct()`, and there
    * are only nlist distinct cell ids in existence, so the collect
    * returns ≤ nlist ints whether the batch holds ten queries or ten
    * million (a million-query batch changes the DISTRIBUTED probe
    * frame's size, never this driver list — pinned by a large-batch
    * PipelineSpec case). The per-query probe pairs themselves stay in
    * the persisted `probes` frame and never reach the driver. Candidates then
    * restrict to each query's own cells via the probe join, and the
    * exact FloatVecDot rerank keeps top-k, identical to `ivfTopK`'s
    * in-memory tail.
    */
  def ivfTopKFromIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, k: Int, nprobe: Int = 4): DataFrame = {
    val centDF = spark.read.parquet(s"$path/centroids")
    val probes = graft.TransientCache.persist(
      ivfProbe(queries, centDF, nprobe))
    val probedCids = probes.select("cid").distinct()
      .collect().map(_.getInt(0)).toSeq
    val corpus = graft.sources.Sinks.readPartitioned(spark, s"$path/corpus")
      .filter(col("cid").isin(probedCids: _*))
    val cand = probes.join(corpus, "cid")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("corpus_id"))
    rerankTopK(cand, corpus, queries, k)
  }

  /** Jobless row estimate from the optimized plan's statistics:
    * the exact `rowCount` when available (CBO/analyzed tables,
    * LocalRelations), otherwise `sizeInBytes` divided by Spark's own
    * per-row width estimate for the schema — the same arithmetic
    * `SizeInBytesOnlyStatsPlanVisitor` runs in reverse. The quotient
    * is coarse in BOTH directions: parquet `sizeInBytes` is the
    * compressed on-disk size (fewer bytes than in memory → fewer
    * estimated rows), while Catalyst's default width prices an array
    * column as ONE element (a 64-float embedding counts 4 bytes →
    * more estimated rows — the dominant error for this operator's
    * schema, roughly the array length as a factor). Callers must
    * treat it as an order-of-magnitude signal, not a count; see
    * `embeddingDedupPairs` for the decisive-band pattern. None only
    * when the plan reports a non-positive size (never for file
    * sources).
    */
  private[graft] def estimatedRows(df: DataFrame): Option[Long] = {
    val plan = df.queryExecution.optimizedPlan
    val stats = plan.stats
    stats.rowCount.map(_.toLong).orElse {
      val width = org.apache.spark.sql.catalyst.plans.logical.statsEstimation
        .EstimationUtils.getSizePerRow(plan.output)
      if (stats.sizeInBytes > 0 && width > 0)
        Some((stats.sizeInBytes / width).toLong max 1L)
      else None
    }
  }

  /** Element count of the `embedding` column, read from ONE row
    * (`limit(1)` — a single partial partition scan, never the whole
    * corpus). Used to size `estimatedRows`' error envelope, which
    * grows with the array length. 0 for an empty frame — callers
    * must treat that as "no information" (the `max(decisive, …)`
    * floor already does).
    */
  private def probedDim(corpus: DataFrame): Long =
    corpus.select(org.apache.spark.sql.functions.size(col("embedding")).as("d"))
      .limit(1).collect().headOption.map(_.getInt(0).toLong).getOrElse(0L)

  /** DECISION-GRADE row count without a Spark job, when one exists:
    * the plan's `rowCount` statistic (exact for LocalRelations,
    * catalog-informed under CBO), else — for a plan that is an
    * unfiltered parquet scan under projections/aliases only — the
    * EXACT count summed from the parquet footers: O(#files)
    * driver-side metadata reads, zero data I/O, which is precisely
    * the statistic a warehouse catalog would serve. None as soon as
    * a row-changing operator (filter, join, …) sits in the plan or
    * the source is not a parquet file relation.
    */
  private[graft] def knownRows(df: DataFrame): Option[Long] = {
    val plan = df.queryExecution.optimizedPlan
    plan.stats.rowCount.map(_.toLong).orElse(footerRowCount(plan))
  }

  private def footerRowCount(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Option[Long] = {
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, SubqueryAlias}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    @scala.annotation.tailrec
    def unwrap(p: LogicalPlan): LogicalPlan = p match {
      case Project(_, child) => unwrap(child) // projections keep row counts
      case SubqueryAlias(_, child) => unwrap(child)
      case other => other
    }
    unwrap(plan) match {
      case lr: LogicalRelation =>
        lr.relation match {
          case fs: HadoopFsRelation if fs.fileFormat.isInstanceOf[
              org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat] =>
            try {
              val conf = fs.sparkSession.sessionState.newHadoopConf()
              Some(sumFooterRows(
                fs.location.inputFiles.toSeq
                  .map(new org.apache.hadoop.fs.Path(_)), conf))
            } catch { case scala.util.control.NonFatal(_) => None }
          case _ => None
        }
      case _ => None
    }
  }

  /** Embedding near-duplicate pairs: cosine ≥ threshold.
    *
    * Path selection: `exact = Some(true)` forces the all-pairs
    * broadcast nested-loop; `Some(false)` forces LSH; `None` (the
    * default) auto-selects — exact while the corpus fits a broadcast
    * (`maxExactRows`), LSH beyond. Nothing ever materializes on the
    * driver: the exact path is `a ⋈ broadcast(b)` with the codegen'd
    * FloatVecDot expression — a Catalyst BroadcastNestedLoopJoin,
    * identical math (per-element float→double promotion, sequential
    * left-to-right sums, HALF_UP rounding to 6) to the
    * oracle/column formulation, and the whole n²/2 pair sweep stays
    * distributed across executors.
    *
    * The LSH branch — the path that activates at real corpus scale —
    * is built from the same proven pieces as the ANN path: candidates
    * come from `lshBucketRows` multi-table hyperplane buckets (one
    * codegen'd HashAggregate; only IDS ride the bucket shuffle), hot
    * buckets are capped at `maxBucketSize` members (same guard as
    * MinHash banding — a degenerate bucket would otherwise fan out
    * quadratically), and every candidate is verified with the exact
    * codegen'd FloatVecDot cosine, so precision is always 1 and
    * recall is the only approximation. Per-pair candidate probability
    * at cosine c is 1 − (1 − p^bits)^tables with
    * p = 1 − acos(c)/π; the defaults (16 × 8) give ≈ 0.67 at
    * c = 0.4, ≈ 0.98 at c = 0.7 and ≈ 1 − 3e-6 at c = 0.9 — sized
    * for the high-similarity pairs a dedup pass is after, and
    * tunable when the threshold is lower (recall rises with `tables`,
    * candidate volume falls with `bits`).
    *
    * `probes = 1` enables multi-probe (Lv et al., VLDB'07): one side
    * of the bucket join additionally probes every Hamming-1 neighbor
    * bucket, lifting the per-table hit probability from p^bits to
    * p^bits + bits·p^(bits−1)·(1−p) — at the defaults and c = 0.4
    * that is 0.025 → 0.14 per table (≈ 0.92 over 16 tables) for a
    * (bits+1)× row expansion on ONE side of the ids-only join,
    * instead of paying 2× the signature computation for more tables.
    */
  def embeddingDedupPairs(corpus: DataFrame, threshold: Double,
      exact: Option[Boolean] = None, maxExactRows: Long = 100000L,
      tables: Int = 16, bits: Int = 8,
      maxBucketSize: Long = 100000L, probes: Int = 0): DataFrame = {
    require(probes == 0 || probes == 1,
      s"probes supports 0 (exact buckets) or 1 (Hamming-1 neighbors), got $probes")
    val spark = corpus.sparkSession
    // Branch selection must not cost a corpus scan: at cluster scale
    // an uncached count() just to pick exact-vs-LSH reads the whole
    // table once before any real work. Order of preference:
    //  1. a decision-grade count with no job — parquet footer sums
    //     for unfiltered scans, LocalRelation/CBO rowCount — compared
    //     directly against the budget;
    //  2. the width-heuristic estimate, trusted only DECISIVELY
    //     outside the budget (beyond its ~order-of-magnitude error
    //     envelope; a 100 TB corpus lands here and skips the count);
    //  3. one exact count() for the remaining boundary band, because
    //     the two branches are NOT output-identical — LSH
    //     approximates recall, and a silent flip from an estimation
    //     error would drop near-dup pairs a fitting corpus is owed.
    val decisive = 64L
    val useExact = exact.getOrElse {
      knownRows(corpus) match {
        case Some(n) => n <= maxExactRows
        case None => estimatedRows(corpus) match {
          case Some(n) if n <= maxExactRows / decisive => true
          case Some(n) =>
            // The estimate's overestimate factor scales with the
            // embedding DIM (Catalyst prices array<float> as one
            // element — doc on estimatedRows), so a fixed 64× band
            // sits INSIDE the error envelope for any dim > 64: a
            // 384-dim corpus of maxExactRows rows behind a filter
            // can estimate > 64 × maxExactRows and silently flip to
            // LSH, dropping pairs. Derive the envelope from the real
            // dim — one limit(1) probe, O(one row-group) vs the full
            // count() it lets large corpora skip — with a 4× safety
            // margin and the old 64× as the floor. A silent flip to
            // LSH is recall loss; an unnecessary count() is only
            // latency, so only the LSH direction may skip the count.
            val factor = math.max(decisive, 4L * probedDim(corpus))
            if (n > maxExactRows * factor) false
            else corpus.count() <= maxExactRows
          case _ => corpus.count() <= maxExactRows
        }
      }
    }
    val normed = corpus.select(col("vec_id"), col("embedding"),
      VecExpressions.vecNorm(spark, col("embedding")).as("nrm"))
    val a = normed.select(col("vec_id").as("ida"), col("embedding").as("va"),
      col("nrm").as("na"))
    val b = normed.select(col("vec_id").as("idb"), col("embedding").as("vb"),
      col("nrm").as("nb"))
    if (useExact) {
      a.join(broadcast(b), col("ida") < col("idb"))
        .withColumn("cosine",
          round(VecExpressions.vecDot(spark, col("va"), col("vb"))
            / (col("na") * col("nb")), 6))
        .filter(col("cosine") >= threshold)
        .select(col("ida"), col("idb"), col("cosine"))
    } else {
      val buckets = lshBucketRows(corpus, "vec_id", tables, bits)
      val okBuckets = buckets.groupBy("table", "bucket")
        .agg(count(lit(1)).as("__n"))
        .filter(col("__n") <= maxBucketSize)
        .select("table", "bucket")
      val kept = buckets.join(okBuckets, Seq("table", "bucket"))
      // multi-probe expansion AFTER the cap (the cap reasons about
      // true bucket occupancy): each row also probes its bits
      // single-bit-flip neighbor buckets
      val probed =
        if (probes == 0) kept
        else kept.select(col("vec_id"), col("table"),
          explode(array(col("bucket") +:
            (0 until bits).map(bb => col("bucket")
              .bitwiseXOR(lit(1L << bb))): _*)).as("bucket"))
      val kept2 = probed.select(col("vec_id").as("id2"),
        col("table").as("t2"), col("bucket").as("bk2"))
      val cand = kept.join(kept2,
          col("table") === col("t2") && col("bucket") === col("bk2") &&
            col("vec_id") < col("id2"))
        .select(col("vec_id").as("ida"), col("id2").as("idb"))
        .dropDuplicates("ida", "idb")
      cand.join(a, "ida").join(b, "idb")
        .withColumn("cosine",
          round(VecExpressions.vecDot(spark, col("va"), col("vb"))
            / (col("na") * col("nb")), 6))
        .filter(col("cosine") >= threshold)
        .select(col("ida"), col("idb"), col("cosine"))
    }
  }

  // ===== Product quantization (the ANN memory-scale path) =====

  /** Train per-subspace PQ codebooks (Jégou et al. 2011, "Product
    * Quantization for Nearest Neighbor Search") over the corpus's
    * UNIT vectors: the embedding splits into `m` contiguous
    * subvectors of dim/m dims; each subspace gets its own `ksub`-
    * centroid k-means. On unit vectors L2² = 2 − 2·cos, so ADC's
    * additive L2 estimate ranks exactly like cosine — the same
    * spherical trick the IVF quantizer uses.
    *
    * Deterministic like [[ivfCentroids]]: seeds are the subvectors of
    * the `ksub` lowest-id vectors, argmin ties break to the lowest
    * code, centroids round to 6 dp each update. The model is
    * (sub, code, cvec) rows — m × ksub × (dim/m) floats, i.e. ONE
    * full-dim vector per code: model state, never data.
    *
    * The k-means itself is relational: subvector rows explode once
    * (corpus × m slim rows), assignment is a broadcast join against
    * the codebook + min(struct) argmin, the update one posexplode
    * HashAggregate over a (sub, code, dim) keyspace.
    */
  def trainPq(corpus: DataFrame, m: Int = 8, ksub: Int = 16,
      iters: Int = 5): Array[(Int, Int, Array[Float])] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val dim = corpus.select(size(col("embedding"))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val dsub = dim / m
    def round6(x: Double): Float = (math.floor(x * 1e6 + 0.5) / 1e6).toFloat
    // seed: subvectors of the ksub lowest-id vectors, unitized. A
    // corpus with fewer than ksub vectors cannot seed ksub distinct
    // codes — fail with the remedy named rather than silently train
    // a smaller codebook whose codes callers would misread; a
    // zero-norm embedding seeds a ZERO subvector centroid (the same
    // `> 0` guard discipline as ivfAssignWithCos) instead of NaN
    // poisoning every later distance.
    val seedVecs = corpus.orderBy("vec_id").limit(ksub)
      .select(col("embedding")).as[Array[Float]].collect()
    require(seedVecs.length >= ksub,
      s"corpus has ${seedVecs.length} vectors < ksub=$ksub codes; " +
        "lower ksub or grow the corpus")
    var books: Array[(Int, Int, Array[Float])] =
      (for {
        sub <- 0 until m
        (v, code) <- seedVecs.zipWithIndex
      } yield {
        var s = 0.0; var i = 0
        while (i < v.length) { s += v(i).toDouble * v(i).toDouble; i += 1 }
        val n = math.sqrt(s)
        (sub, code, v.slice(sub * dsub, (sub + 1) * dsub)
          .map(x => if (n == 0) 0f else round6(x / n)))
      }).toArray
    val rows = graft.TransientCache.persist(subvectorRows(corpus, m, dsub))
    for (_ <- 0 until iters) {
      val bookDF = books.toSeq.toDF("sub", "code", "cvec")
      val assigned = pqAssign(rows, bookDF)
      // update: mean of member UNIT subvectors per (sub, code, dim)
      val means = rows.join(assigned, Seq("vec_id", "sub"))
        .select(col("sub"), col("code"),
          posexplode(col("svec")).as(Seq("i", "x")), col("nrm"))
        // zero-norm members contribute zero unit components (ANSI
        // mode turns the bare x/0 into a task failure, not NaN)
        .groupBy("sub", "code", "i")
        .agg(avg(when(col("nrm") > 0, col("x") / col("nrm"))
          .otherwise(lit(0.0))).as("mu"))
        .collect().map(r => ((r.getInt(0), r.getInt(1)), (r.getInt(2), r.getDouble(3))))
        .groupBy(_._1)
      books = books.map { case (sub, code, old) =>
        means.get((sub, code)) match {
          case Some(rs) =>
            val arr = new Array[Float](dsub)
            rs.foreach { case (_, (i, mu)) => arr(i) = round6(mu) }
            (sub, code, arr)
          case None => (sub, code, old) // empty code keeps its centroid
        }
      }
    }
    books
  }

  /** Subvector rows (vec_id, sub, svec, nrm): the RAW slice plus the
    * full-vector norm — unitization folds into the distance algebra
    * (|u_sub − c|² ⇔ argmin of |c|² − 2⟨v_sub, c⟩/|v|), so no
    * per-element array rewrite ever runs.
    */
  private def subvectorRows(vecs: DataFrame, m: Int, dsub: Int): DataFrame = {
    val spark = vecs.sparkSession
    vecs.select(col("vec_id"),
        VecExpressions.vecNorm(spark, col("embedding")).as("nrm"),
        col("embedding"),
        explode(sequence(lit(0), lit(m - 1))).as("sub"))
      .select(col("vec_id"), col("sub"), col("nrm"),
        slice(col("embedding"), col("sub") * dsub + 1, lit(dsub)).as("svec"))
  }

  /** Codebook distance rows — THE shared PQ distance formula:
    * subvector rows (any id column, plus sub/svec/nrm) × broadcast
    * codebook → + (code, d) with
    * d = round(|c|² − 2⟨svec, c⟩/|v|, 6) (the dropped |u_sub|² terms
    * are per-vector constants that cancel in argmin and ranking).
    * pqAssign's train/encode argmin and adcRerank's query LUT must
    * stay numerically identical — both route through here, so the
    * 6-dp rounding discipline cannot desynchronize them.
    */
  private def pqDistances(rows: DataFrame, bookDF: DataFrame): DataFrame = {
    val spark = rows.sparkSession
    val withC = bookDF.withColumn("cn2",
      round(VecExpressions.vecDot(spark, col("cvec"), col("cvec")), 6))
    rows.join(broadcast(withC), "sub")
      // a zero-norm vector has no direction: its cross term is 0 and
      // d degenerates to |c|² (same ranking for every code) — the
      // `> 0` guard keeps ANSI mode from failing the task on /0
      .withColumn("d", round(col("cn2")
        - when(col("nrm") > 0,
            lit(2.0) * VecExpressions.vecDot(spark, col("svec"), col("cvec"))
              / col("nrm"))
          .otherwise(lit(0.0)), 6))
  }

  /** Argmin code per (vec_id, sub): shared distances, min(struct)
    * for a deterministic lowest-code tie-break.
    */
  private def pqAssign(rows: DataFrame, bookDF: DataFrame): DataFrame =
    pqDistances(rows, bookDF)
      .groupBy("vec_id", "sub")
      .agg(min(struct(col("d"), col("code"))).as("best"))
      .select(col("vec_id"), col("sub"), col("best.code").as("code"))

  /** Encode the corpus against a trained codebook: one code per
    * (vector, subspace), packed into the sub-ordered code array.
    * The at-rest representation is m small ints per vector instead
    * of dim × 4 bytes (dim 64, m 8, ksub 16: 4-bit codes — a 32×
    * compression) — WHY PQ is the memory-scale path: a 10⁹-vector
    * corpus's codes fit where raw floats cannot. Corpus-linear:
    * corpus × m slim assignment rows, broadcast codebook.
    */
  def encodePq(corpus: DataFrame, bookDF: DataFrame): DataFrame = {
    val shape = bookDF.agg(max(col("sub")), max(size(col("cvec")))).head()
    val m = shape.getInt(0) + 1
    val dsub = shape.getInt(1)
    pqAssign(subvectorRows(corpus, m, dsub), bookDF)
      .groupBy("vec_id")
      .agg(transform(array_sort(collect_list(struct(col("sub"), col("code")))),
        t => t.getField("code")).as("codes"))
  }

  /** ANN via PQ + ADC (asymmetric distance computation) with exact
    * re-rank — the third approximate path beside LSH and IVF:
    *
    *  1. per query, a distance LUT to every (sub, code) centroid —
    *     nQueries × m × ksub rows, broadcast (model-sized);
    *  2. the encoded corpus explodes its codes once and equi-joins
    *     the LUT on (sub, code): the scan touches CODES only, never
    *     corpus floats — the sum of LUT hits is the ADC L2² estimate
    *     (per-query constant terms dropped; rank-invariant);
    *  3. top k × rerank candidates per query re-rank exactly through
    *     the shared rerankTopK tail.
    *
    * Output (query_id, corpus_id, cosine, rank) like every ANN
    * variant. At cluster scale stage 2 is the only corpus-sized job
    * and it shuffles (query_id, corpus_id, partial sums) — compose
    * with the IVF cell pruning (probe cells first, ADC within) for
    * the full IVF-PQ design.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      m: Int = 8, ksub: Int = 16, rerank: Int = 4,
      maxLutQueries: Int = 100000): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val bookDF = trainPq(corpus, m, ksub).toSeq.toDF("sub", "code", "cvec")
    pqTopKWithModel(corpus, encodePq(corpus, bookDF), queries, bookDF, k,
      rerank, maxLutQueries)
  }

  /** Run `f` over query-id slices and union — the enforcement of the
    * adcRerank LUT bound: past `maxLutQueries` queries per slice the
    * broadcast LUT would outgrow broadcastability, so the batch
    * splits into pmod(query id, nChunks) buckets and each runs the
    * UNCHANGED single-batch plan. Per-query top-k is independent of
    * batch composition (every adcRerank/rerankTopK stage keys or
    * windows by query_id), so the union is row-identical to the
    * unchunked answer; below the bound nChunks == 1 and this is
    * exactly the old plan, no extra nodes. The traded cost is one
    * code scan per chunk — the documented alternative (lifting the
    * broadcast hint) would shuffle the corpus-sized code rows
    * instead, which loses at any corpus:batch ratio that makes PQ
    * worth running. The batch-side count() is one job over the
    * (small) query frame.
    */
  private[graft] def queryChunks(queries: DataFrame,
      maxLutQueries: Int, idCol: String = "vec_id"): Seq[DataFrame] = {
    require(maxLutQueries > 0, s"maxLutQueries must be positive")
    val n = queries.count()
    val nChunks = math.max(1L, (n + maxLutQueries - 1) / maxLutQueries).toInt
    if (nChunks == 1) Seq(queries)
    else (0 until nChunks).map(i =>
      queries.filter(pmod(col(idCol), lit(nChunks)) === i))
  }

  private def chunkedByQueries(queries: DataFrame, maxLutQueries: Int,
      idCol: String = "vec_id")(f: DataFrame => DataFrame): DataFrame =
    queryChunks(queries, maxLutQueries, idCol).map(f).reduce(_.unionAll(_))

  /** The from-parts form: a pre-trained codebook and pre-encoded
    * corpus (the at-rest index); only the query-side LUT and the
    * code scan run per batch. Batches past `maxLutQueries` run in
    * query chunks (see [[chunkedByQueries]]) — same rows, bounded
    * broadcast.
    */
  def pqTopKWithModel(corpus: DataFrame, encoded: DataFrame,
      queries: DataFrame, bookDF: DataFrame, k: Int,
      rerank: Int = 4, maxLutQueries: Int = 100000): DataFrame = {
    val codeRows = encoded.select(col("vec_id").as("corpus_id"),
      posexplode(col("codes")).as(Seq("sub", "code")))
    chunkedByQueries(queries, maxLutQueries) { qc =>
      adcRerank(codeRows, corpus, qc, bookDF, k, rerank,
        lutKeys = Seq("sub", "code"))
    }
  }

  /** The full IVF-PQ composition — coarse cells prune the scan, ADC
    * ranks within the probed cells, exact rerank finishes: each
    * query's code scan touches ≈ corpus × nprobe / nlist code rows
    * instead of the whole corpus, and the scan still never reads a
    * corpus float. The two models (centroids, codebooks) train
    * independently on the same corpus; at rest the codes would live
    * cid-partitioned next to the IVF cells so the probe prunes
    * directories (writeIvfIndex's layout) — here the restriction is
    * the equi-join on cid.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 4, m: Int = 8, ksub: Int = 16,
      rerank: Int = 4, maxLutQueries: Int = 100000): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cents = ivfCentroids(corpus, nlist).toSeq.toDF("cid", "cvec")
    val assigned = ivfAssign(corpus, cents)
      .withColumnRenamed("vec_id", "corpus_id")
    val bookDF = trainPq(corpus, m, ksub).toSeq.toDF("sub", "code", "cvec")
    val baseCodes = encodePq(corpus, bookDF)
      .select(col("vec_id").as("corpus_id"),
        posexplode(col("codes")).as(Seq("sub", "code")))
      .join(assigned, "corpus_id")
    // chunking re-reads the corpus-side code rows once per chunk;
    // persist them so a chunked batch pays the encode once, not
    // nChunks times (single-chunk batches skip the persist — the
    // plan is then exactly the unchunked one)
    val chunks = queryChunks(queries, maxLutQueries)
    val codes =
      if (chunks.size > 1) graft.TransientCache.persist(baseCodes)
      else baseCodes
    chunks.map { qc =>
      val probed = ivfProbe(qc, cents, nprobe)
      val codeRows = codes.join(broadcast(probed), "cid")
      // the cell join already pairs each code row with its queries, so
      // the LUT joins per (query_id, sub, code) — no further fan-out
      adcRerank(codeRows, corpus, qc, bookDF, k, rerank,
        lutKeys = Seq("query_id", "sub", "code"))
    }.reduce(_.unionAll(_))
  }

  /** Shared ADC tail: build the per-query (sub, code) distance LUT,
    * join it against code rows on `lutKeys` (("sub","code") fans the
    * unrestricted scan out over queries; prepending "query_id" keys
    * an already query-paired restricted scan), sum to the ADC
    * estimate, keep top k × rerank, exact-rerank to k.
    *
    * BOUND (the ivfTopKFromIndex collect discipline): the broadcast
    * LUT is nQueries × m × ksub rows — BATCH-sized, not model-sized.
    * At the m=8/ksub=16 defaults that is 128 rows/query (the
    * ann_pq_recall driver query's 8 × 32 config is 256), broadcastable
    * to ~100k queries. The public entry points ENFORCE the bound:
    * past `maxLutQueries` they slice the batch via [[queryChunks]]
    * and union the per-slice results — never lift the broadcast
    * hint, because a shuffled LUT join would re-shuffle the
    * corpus-sized code rows per chunk instead.
    */
  private def adcRerank(codeRows: DataFrame, corpus: DataFrame,
      queries: DataFrame, bookDF: DataFrame, k: Int, rerank: Int,
      lutKeys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val shape = bookDF.agg(max(col("sub")), max(size(col("cvec")))).head()
    val m = shape.getInt(0) + 1
    val dsub = shape.getInt(1)
    val qrows = subvectorRows(
      queries.select(col("vec_id"), col("embedding")), m, dsub)
      .withColumnRenamed("vec_id", "query_id")
    val lut = pqDistances(qrows, bookDF)
      .select(col("query_id"), col("sub"), col("code"), col("d"))
    val adc = codeRows.join(broadcast(lut), lutKeys)
      .filter(col("corpus_id") =!= col("query_id"))
      .groupBy("query_id", "corpus_id")
      .agg(round(sum("d"), 6).as("adc"))
    val w = Window.partitionBy("query_id").orderBy(asc("adc"), asc("corpus_id"))
    val cand = adc.withColumn("r", row_number().over(w))
      .filter(col("r") <= k * rerank)
      .select("query_id", "corpus_id")
    rerankTopK(cand, corpus, queries, k)
  }

  /** Persist the PQ model + codes as the at-rest index
    * (`path/codebook`, `path/codes`); [[pqTopKFromIndex]] probes it
    * without retraining or re-encoding. The codebook is model-sized;
    * codes are m small ints per vector.
    */
  def writePqIndex(corpus: DataFrame, path: String, m: Int = 8,
      ksub: Int = 16): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val bookDF = trainPq(corpus, m, ksub).toSeq.toDF("sub", "code", "cvec")
    bookDF.write.mode("overwrite").parquet(s"$path/codebook")
    encodePq(corpus, bookDF).write.mode("overwrite").parquet(s"$path/codes")
  }

  /** Query a saved PQ index: only the LUT build and the code scan run
    * per batch; `corpus` is the base table the exact rerank reads.
    */
  def pqTopKFromIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, corpus: DataFrame, queries: DataFrame, k: Int,
      rerank: Int = 4, maxLutQueries: Int = 100000): DataFrame =
    pqTopKWithModel(corpus, spark.read.parquet(s"$path/codes"), queries,
      spark.read.parquet(s"$path/codebook"), k, rerank, maxLutQueries)

  /** SemDeDup (Abbas et al. 2023, public): semantic deduplication at
    * corpus scale — k-means-cluster the embeddings (the deterministic
    * [[ivfCentroids]] training this module already ships), find
    * near-dup pairs only WITHIN each cluster (cosine ≥ `threshold`),
    * and resolve survivors by connected components (min-id canonical,
    * `Dedup.resolveDupClusters`). Returns (vec_id, canonical_id) for
    * EVERY corpus vector — untouched vectors map to themselves.
    *
    * Why cluster first: exact embedding dedup is an n² pair scan;
    * SemDeDup's observation is that semantic near-dups land in the
    * same k-means cell, so the quadratic term shrinks to Σ over
    * cells of |cell|² — at 100 TB pick nlist so cells fit a
    * partition, and the pair scan is an equi-join on cid (one
    * shuffle, codegen'd FloatVecDot verify, never a global
    * cartesian). The price is RECALL at cell borders: a near pair
    * split across cells is missed — that is the published method's
    * documented trade (the multi-table LSH path in
    * `embeddingDedupPairsLsh` is the recall-floor alternative at the
    * same scale). Determinism: centroids are seeded from the first
    * nlist vec_ids and rounded per iteration, so the whole pass is a
    * pure function of (corpus, threshold, nlist, iters).
    */
  def semanticDedup(corpus: DataFrame, threshold: Double,
      nlist: Int = 16, iters: Int = 5): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val centDF = ivfCentroids(corpus, nlist, iters).toSeq.toDF("cid", "cvec")
    val v = graft.TransientCache.persist(
      corpus.join(ivfAssign(corpus, centDF), "vec_id")
        .select(col("cid"), col("vec_id"), col("embedding"),
          VecExpressions.vecNorm(spark, col("embedding")).as("nrm")))
    val a = v.select(col("cid"), col("vec_id").as("ida"),
      col("embedding").as("ea"), col("nrm").as("na"))
    val b = v.select(col("cid"), col("vec_id").as("idb"),
      col("embedding").as("eb"), col("nrm").as("nb"))
    val pairs = a.join(b.hint("SHUFFLE_HASH"), Seq("cid"))
      .filter(col("ida") < col("idb") &&
        VecExpressions.vecDot(spark, col("ea"), col("eb")) >=
          lit(threshold) * col("na") * col("nb"))
      .select(col("ida"), col("idb"))
    graft.functions.Dedup.resolveDupClusters(
        corpus.select(col("vec_id")), "vec_id", pairs)
      .select(col("id").as("vec_id"), col("canonical_id"))
  }
}
