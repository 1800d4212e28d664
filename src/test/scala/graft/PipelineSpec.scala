package graft

import org.apache.spark.sql.functions._
import graft.functions.{Dedup, Sampling, Similarity, TextFunctions}
import graft.multimodal.Multimodal

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (3L, "the quick brown fox leaps over the lazy dog"), // near dup of 1
    (4L, "completely different content about spark engines"),
    (5L, "  The  QUICK brown fox jumps over the lazy dog ")) // dup modulo case/ws
    .toDF("doc_id", "text")

  test("exact dedup groups normalized duplicates") {
    val r = Dedup.exactDedup(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 1,2,5 collapse (case/whitespace-insensitive); 3 and 4 stand alone
    assert(r == Map(1L -> 3L, 3L -> 1L, 4L -> 1L))
  }

  test("minhash est_jaccard is 1.0 for identical docs, high for near-dups") {
    // 16 bands × 2 rows: band-collision miss probability ~4e-7 at
    // J=0.78, so the near-dup pair is reliably surfaced (the 8×4
    // production config trades that recall for fewer candidates).
    val pairs = Dedup.minHashDedupPairs(docs, "text", "doc_id",
      numHashes = 32, bands = 16, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs((1L, 2L)) == 1.0)
    assert(pairs.contains(1L -> 3L)) // 8/10 shared unigrams
    assert(!pairs.exists { case ((a, b), _) => b == 4L || a == 4L })
  }

  test("simhash: identical docs have hamming 0; near-dups small") {
    val pairs = Dedup.simHashDedupPairs(docs, "text", "doc_id", maxDistance = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs((1L, 2L)) == 0)
    assert(pairs((1L, 3L)) <= 16)
  }

  test("ngram jaccard: exact dup = 1.0, near dup in (0,1)") {
    val pairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id",
      shingleSize = 2, threshold = 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs((1L, 2L)) == 1.0)
    assert(pairs((1L, 3L)) > 0.5 && pairs((1L, 3L)) < 1.0)
  }

  test("cosine: orthogonal 0, identical 1") {
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Seq(0.0f, 1.0f, 0.0f, 0.0f)),
      (2L, Seq(2.0f, 0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") === 0), 2)
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(top.head == ((2L, 1.0, 1))) // identical direction first
    assert(top(1)._2 == 0.0)
  }

  test("lsh ann recall vs brute force on real embeddings is reasonable") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(emb, queries, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshTopK(emb, queries, 5, tables = 8, bits = 6).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    // Deterministic (hash-seeded planes): observed 0.36 at 8×6 on
    // this data; the bound guards against regressions, not chance.
    assert(recall >= 0.3, s"LSH recall too low: $recall")
  }

  test("pq: n distinct vectors with ksub=n codes reproduce brute-force exactly") {
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 12L).map { id =>
      id -> Array.fill(8)(rnd.nextFloat() * 2 - 1).toSeq
    }.toDF("vec_id", "embedding")
    // ksub = corpus size: seeds are ALL vectors, each becomes its own
    // singleton centroid, so ADC distance is exact and the PQ ranking
    // must equal brute force
    val queries = vecs.filter(col("vec_id") < 3)
    val exact = Similarity.bruteForceTopK(vecs, queries, 4).collect()
      .map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    val pq = Similarity.pqTopK(vecs, queries, 4, m = 2, ksub = 12, rerank = 3)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    assert(pq == exact)
  }

  test("pq training is deterministic; adc recall vs brute force holds a floor") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 5)
    val b1 = Similarity.trainPq(emb, m = 8, ksub = 16, iters = 3)
    val b2 = Similarity.trainPq(emb, m = 8, ksub = 16, iters = 3)
    assert(b1.map { case (s, c, v) => (s, c, v.toSeq) }.toSeq ==
      b2.map { case (s, c, v) => (s, c, v.toSeq) }.toSeq)
    val exact = Similarity.bruteForceTopK(emb, queries, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.pqTopK(emb, queries, 5, m = 8, ksub = 16,
      rerank = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    // Deterministic (seeded + rounded training): observed 0.4 at
    // m=8 ksub=16 rerank=4 on this data; the driver query runs the
    // stronger 8×32 rerank=8 config (per-query min 4-7 of top-10
    // across sf0.001/0.01/0.1). The bound guards regressions.
    assert(recall >= 0.3, s"PQ recall too low: $recall")
  }

  test("pq index round-trips via parquet; probing all ivf cells equals pure pq") {
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 24L).map { id =>
      id -> Array.fill(8)(rnd.nextFloat() * 2 - 1).toSeq
    }.toDF("vec_id", "embedding")
    val queries = vecs.filter(col("vec_id") < 4)
    val dir = tempDir("graft_pqidx").toString
    Similarity.writePqIndex(vecs, dir, m = 2, ksub = 8)
    val fromIdx = Similarity.pqTopKFromIndex(spark, dir, vecs, queries, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val inMem = Similarity.pqTopK(vecs, queries, 3, m = 2, ksub = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(fromIdx == inMem && fromIdx.nonEmpty)
    // nprobe = nlist probes every cell → the cid restriction is a
    // no-op and IVF-PQ must reproduce the pure-PQ answer exactly
    val allCells = Similarity.ivfPqTopK(vecs, queries, 3,
      nlist = 4, nprobe = 4, m = 2, ksub = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(allCells == inMem)
  }

  test("ivf-pq recall vs brute force holds a floor on real embeddings") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(emb, queries, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.ivfPqTopK(emb, queries, 5,
      nlist = 16, nprobe = 4, m = 8, ksub = 16, rerank = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    // Deterministic; observed 0.52 at nlist 16 / nprobe 4 / 8×16
    // rerank 4 on this data (the cell pruning costs recall vs pure
    // PQ's 0.4-at-weaker-config by skipping 3/4 of the corpus —
    // that's its job). The bound guards regressions.
    assert(recall >= 0.3, s"IVF-PQ recall too low: $recall")
  }

  test("pq query chunking: past the LUT bound the batch slices; rows identical") {
    val rnd = new scala.util.Random(13)
    val vecs = (0L until 30L).map { id =>
      id -> Array.fill(8)(rnd.nextFloat() * 2 - 1).toSeq
    }.toDF("vec_id", "embedding")
    val queries = vecs.filter(col("vec_id") < 10)
    // a bound of 3 forces ceil(10/3) = 4 slices; the default bound is
    // one slice — execution is pinned via queryChunks and the Union
    // in the chunked plan, parity via exact row equality
    assert(Similarity.queryChunks(queries, 3).size == 4)
    assert(Similarity.queryChunks(queries, 100000).size == 1)
    val unchunked = Similarity.pqTopK(vecs, queries, 4, m = 2, ksub = 8)
    val chunked = Similarity.pqTopK(vecs, queries, 4, m = 2, ksub = 8,
      maxLutQueries = 3)
    assert(chunked.queryExecution.optimizedPlan.toString.contains("Union"))
    assert(!unchunked.queryExecution.optimizedPlan.toString.contains("Union"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(rows(chunked) == rows(unchunked) && rows(unchunked).nonEmpty)
    // same contract for the IVF-PQ composition (per-chunk probe +
    // persisted code rows)
    val ivfUn = Similarity.ivfPqTopK(vecs, queries, 3,
      nlist = 4, nprobe = 2, m = 2, ksub = 8)
    val ivfCh = Similarity.ivfPqTopK(vecs, queries, 3,
      nlist = 4, nprobe = 2, m = 2, ksub = 8, maxLutQueries = 4)
    assert(rows(ivfCh) == rows(ivfUn) && rows(ivfUn).nonEmpty)
  }

  test("trainPq guards: under-ksub corpus fails with remedy; zero-norm seeds no NaN") {
    val rnd = new scala.util.Random(17)
    val tiny = (0L until 5L).map { id =>
      id -> Array.fill(8)(rnd.nextFloat()).toSeq
    }.toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.trainPq(tiny, m = 2, ksub = 8)
    }
    assert(e.getMessage.contains("ksub"))
    // a zero-norm embedding among the seeds must yield a zero
    // centroid, never NaN (NaN would poison every ADC distance)
    val withZero = (Seq(0L -> Seq.fill(8)(0f)) ++ (1L until 6L).map { id =>
      id -> Array.fill(8)(rnd.nextFloat()).toSeq
    }).toDF("vec_id", "embedding")
    val books = Similarity.trainPq(withZero, m = 2, ksub = 6, iters = 1)
    assert(books.forall { case (_, _, v) => v.forall(x => !x.isNaN) })
  }

  test("shingleRows (codegen) produces exactly explode(shingles) for k=1,2,3") {
    val short = docs.unionByName(Seq((9L, "oneword"), (10L, "")).toDF("doc_id", "text"))
    for (k <- Seq(1, 2, 3)) {
      val hof = short.select(col("doc_id").as("id"),
        explode(TextFunctions.shingles(col("text"), k)).as("s"))
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      val cg = TextFunctions.shingleRows(short, "doc_id", "text", k)
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      assert(cg == hof, s"k=$k")
    }
  }

  test("relational minhash signatures are byte-identical to the array form") {
    val rel = Dedup.minHashSignatures(docs, "text", "doc_id", 16, shingleSize = 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val arr = docs.select(col("doc_id"),
      Dedup.minHashSignature(col("text"), 16, shingleSize = 2).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(rel == arr)
  }

  test("exact-verified minhash equals the full exact jaccard answer") {
    val exact = Dedup.ngramJaccardPairs(docs, "text", "doc_id",
      shingleSize = 2, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val viaLsh = Dedup.minHashDedupPairsExact(docs, "text", "doc_id",
      shingleSize = 2, threshold = 0.5, numHashes = 32, bands = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaLsh == exact)
    assert(exact.nonEmpty) // non-vacuous: the near-dup pair is found
  }

  test("ngram df cap removes hot shingles from every set") {
    // Bigrams shared by the identical docs 1,2,5 AND near-dup 3 have
    // df = 4 ("the quick", "quick brown", "brown fox", "over the",
    // "the lazy", "lazy dog"); "fox jumps"/"jumps over" have df = 3
    // (docs 1,2,5 only) and doc 3's "fox leaps"/"leaps over" df = 1.
    val uncapped = Dedup.ngramJaccardPairs(docs, "text", "doc_id",
      shingleSize = 2, threshold = 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(uncapped.contains(1L -> 3L)) // 6/10 shared bigrams
    val capped = Dedup.ngramJaccardPairs(docs, "text", "doc_id",
      shingleSize = 2, threshold = 0.1, maxDf = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // df = 4 bigrams dropped everywhere: docs 1,2,5 keep exactly
    // {fox jumps, jumps over} (still identical → jaccard 1.0 on the
    // trimmed sets); doc 3 keeps {fox leaps, leaps over} → the (1,3)
    // pair shares nothing and vanishes
    assert(capped(1L -> 2L) == 1.0)
    assert(!capped.contains(1L -> 3L))
  }

  test("bucket-size cap drops degenerate collision groups") {
    // all 5 docs in one bucket family; maxBucketSize = 1 kills every
    // bucket (none can pair), so no candidates survive
    val pairs = Dedup.minHashDedupPairs(docs, "text", "doc_id",
      numHashes = 32, bands = 16, threshold = 0.0, maxBucketSize = 1)
    assert(pairs.count() == 0)
  }

  test("simhash chunk keys: parameterized widths cover all 64 bits disjointly") {
    val sig = lit(0x123456789ABCDEF0L)
    for (nc <- Seq(4, 8, 11)) {
      val keys = spark.range(1)
        .select(Dedup.simHashChunkKeys(sig, nc).as("ks"))
        .select(explode(col("ks")).as("k"))
        .select(col("k.chunk"), col("k.key"))
        .collect().map(r => r.getInt(0) -> r.getLong(1))
      assert(keys.length == nc)
      // reconstruct the signature from chunk keys ⇒ widths disjoint+complete
      val base = 64 / nc; val extra = 64 % nc
      val widths = (0 until nc).map(c => if (c < extra) base + 1 else base)
      val offsets = widths.scanLeft(0)(_ + _)
      val rebuilt = keys.map { case (c, k) => k << offsets(c) }.reduce(_ | _)
      assert(rebuilt == 0x123456789ABCDEF0L, s"numChunks=$nc")
    }
  }

  test("simhash bucketed pairs equal brute force within the pigeonhole bound") {
    val sfDocs = graft.sources.Tables.documents(spark, sf)
    val bucketed = Dedup.simHashDedupPairs(sfDocs, "text", "doc_id",
      maxDistance = 3, numChunks = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = Dedup.simHashBruteForcePairs(sfDocs, "text", "doc_id", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bucketed == brute)
    assert(brute.nonEmpty)
  }

  test("simhash brute form: refuses above maxBruteDocs with the remedy " +
    "named, passes just below") {
    val sfDocs = graft.sources.Tables.documents(spark, sf)
    val n = sfDocs.count()
    // just below the cap: runs (and still finds the corpus near-dups)
    val ok = Dedup.simHashDedupPairsExact(sfDocs, "text", "doc_id",
      maxBruteDocs = n)
    assert(ok.count() > 0)
    // one over: the measured-quadratic guard refuses LOUDLY and the
    // message names both the bound and the in-family alternatives
    val err = intercept[IllegalArgumentException] {
      Dedup.simHashDedupPairsExact(sfDocs, "text", "doc_id",
        maxBruteDocs = n - 1)
    }
    assert(err.getMessage.contains("O(n²)") &&
      err.getMessage.contains("simHashDedupPairs") &&
      err.getMessage.contains("ngramJaccardPairsAuto"), err.getMessage)
  }

  test("simhash incremental index: new-vs-index pairs equal brute cross scan") {
    val sfDocs = graft.sources.Tables.documents(spark, sf)
    val corpus = sfDocs.filter(col("doc_id") % 10 =!= 0)
    val batch = sfDocs.filter(col("doc_id") % 10 === 0)
    // the index AT REST is just the signature frame
    val sigIndex = TransientCache.persist(
      Dedup.simHashSignatures(corpus, "text", "doc_id"))
    // the docs-frame wrapper and the FromSigs form agree
    val got = Dedup.simHashIndexPairs(batch, sigIndex, "text", "doc_id",
      maxDistance = 3, numChunks = 4)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    val batchSigs = TransientCache.persist(
      Dedup.simHashSignatures(batch, "text", "doc_id"))
    val fromSigs = Dedup.simHashIndexPairsFromSigs(batchSigs, sigIndex,
      maxDistance = 3, numChunks = 4)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(got == fromSigs)
    val brute = Dedup.simHashCrossBruteForce(sigIndex, batchSigs, 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(got == brute)
    assert(brute.nonEmpty, "fixture has no cross-boundary near-dups")
    // every returned ida is an index doc, every idb a batch doc
    got.keys.foreach { case (ida, idb) =>
      assert(ida % 10 != 0 && idb % 10 == 0, (ida, idb))
    }
    // an empty batch yields no candidates and no output
    assert(Dedup.simHashIndexPairs(batch.limit(0), sigIndex,
      "text", "doc_id").count() == 0)
    // re-ingest overlap: a batch id already in the index never pairs
    // with itself — both paths exclude self-pairs consistently
    val overlap = Dedup.simHashIndexPairsFromSigs(sigIndex.limit(5),
      sigIndex, maxDistance = 3, numChunks = 4).collect()
    overlap.foreach(r => assert(r.getLong(0) != r.getLong(1)))
    TransientCache.releaseAll()
  }

  test("embedding dedup: exact path is a broadcast join plan, no driver collect") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val exact = Similarity.embeddingDedupPairs(emb, 0.4, exact = Some(true))
    val plan = exact.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(500))
    // auto-select flips to the LSH bucket join when the corpus exceeds
    // the broadcast budget
    val lsh = Similarity.embeddingDedupPairs(emb, 0.4, maxExactRows = 10)
    val lshPlan = lsh.queryExecution.executedPlan.toString
    assert(!lshPlan.contains("BroadcastNestedLoopJoin"), lshPlan.take(500))
  }

  test("temperature sampling: alpha=1 uniform rate, alpha=0 equal counts, tail upweighted") {
    // 3 sources with skewed sizes: 600 / 300 / 100 rows
    val rows = (0 until 600).map(i => (i.toLong, "head")) ++
      (600 until 900).map(i => (i.toLong, "mid")) ++
      (900 until 1000).map(i => (i.toLong, "tail"))
    val df = rows.toDF("doc_id", "source")
    def keptBySource(alpha: Double, target: Long): Map[String, Long] =
      Sampling.temperatureSample(df, "source", "doc_id", alpha, target)
        .groupBy("source").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        .withDefaultValue(0L)
    // alpha = 1: every source keeps the SAME fraction (~target/N)
    val a1 = keptBySource(1.0, 500L)
    assert(math.abs(a1("head") / 600.0 - a1("mid") / 300.0) < 0.1, a1)
    // alpha = 0: every source aims at the SAME ROW COUNT (~target/3)
    val a0 = keptBySource(0.0, 150L)
    assert(a0("tail") > 0)
    assert(math.abs(a0("head").toDouble - a0("mid").toDouble) <
      0.5 * math.max(a0("head"), a0("mid")).toDouble, a0)
    // alpha = 0.5: the tail's keep FRACTION strictly exceeds the head's
    val ah = keptBySource(0.5, 300L)
    assert(ah("tail") / 100.0 > ah("head") / 600.0, ah)
    // deterministic under repartitioning
    val again = Sampling.temperatureSample(df.repartition(7), "source",
      "doc_id", 0.5, 300L).select("doc_id").collect().map(_.getLong(0)).toSet
    val first = Sampling.temperatureSample(df, "source",
      "doc_id", 0.5, 300L).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == first)
  }

  test("prefix-filtered ngram jaccard equals the plain self-join exactly") {
    val sfDocs = graft.sources.Tables.documents(spark, sf)
    // one threshold on each side of NgramJaccardCrossover (0.6), so
    // the selector parity below exercises BOTH branches
    for (t <- Seq(0.3, 0.8)) {
      val plain = Dedup.ngramJaccardPairs(sfDocs, "text", "doc_id",
        shingleSize = 2, threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val prefix = Dedup.ngramJaccardPairsPrefix(sfDocs, "text", "doc_id",
        shingleSize = 2, threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(prefix == plain, s"t=$t: ${plain.size} vs ${prefix.size}")
      assert(plain.nonEmpty || t > 0.3)
      val auto = Dedup.ngramJaccardPairsAuto(sfDocs, "text", "doc_id",
        shingleSize = 2, threshold = t)
      val autoRows = auto
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(autoRows == plain, s"t=$t selector output diverged")
    }
    // the unbounded-df opt-in has no bounded histogram to probe, so
    // it keeps the static threshold rule
    for (t <- Seq(0.3, 0.8)) {
      val unbounded = Dedup.ngramJaccardPairsAuto(sfDocs, "text", "doc_id",
        shingleSize = 2, threshold = t, maxDf = Int.MaxValue)
      val hasWindow = unbounded.queryExecution.optimizedPlan.toString
        .contains("row_number")
      assert(hasWindow == (t >= Dedup.NgramJaccardCrossover),
        s"unbounded t=$t picked the wrong branch (window=$hasWindow)")
    }
  }

  test("ngram selector is data-adaptive: dense df tail flips to prefix at low t") {
    // branch detection: only the prefix plan carries the per-doc
    // row_number window
    def pickedPrefix(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.toString.contains("row_number")
    def docs(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
    // SPARSE corpus: every shingle df=1 → prefix volume ≈ (1−t)·full;
    // at t=0.3 that is 0.7·1.85 > 1 → plain; at t=0.8, 0.2·1.85 < 1
    // → prefix (the static rule's shape emerges from flat data)
    val sparse = docs((0L until 60L).map(i =>
      i -> (0 until 45).map(j => s"w${i}_$j").mkString(" ")))
    // DENSE corpus: same doc shape plus a small shared core whose
    // df² dominates total volume while the unique shingles carry the
    // occurrence mass — the rare mass fills the prefix, so the
    // prefix path excludes the df² core even at t=0.3
    val core = (0 until 5).map(j => s"common$j").mkString(" ")
    val dense = docs((0L until 60L).map(i =>
      i -> ((0 until 40).map(j => s"w${i}_$j").mkString(" ") + " " + core)))
    val sparseLow = Dedup.ngramJaccardPairsAuto(sparse, "text", "doc_id",
      shingleSize = 2, threshold = 0.3)
    assert(!pickedPrefix(sparseLow), "sparse t=0.3 should pick plain")
    val sparseHigh = Dedup.ngramJaccardPairsAuto(sparse, "text", "doc_id",
      shingleSize = 2, threshold = 0.8)
    assert(pickedPrefix(sparseHigh), "sparse t=0.8 should pick prefix")
    val denseLow = Dedup.ngramJaccardPairsAuto(dense, "text", "doc_id",
      shingleSize = 2, threshold = 0.3)
    assert(pickedPrefix(denseLow),
      "dense t=0.3 should flip to prefix (df² core excluded)")
    // row identity holds on BOTH synthetic corpora regardless of the
    // branch picked
    for ((c, t) <- Seq((sparse, 0.3), (dense, 0.3))) {
      val p = Dedup.ngramJaccardPairs(c, "text", "doc_id", 2, t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val x = Dedup.ngramJaccardPairsPrefix(c, "text", "doc_id", 2, t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val a = Dedup.ngramJaccardPairsAuto(c, "text", "doc_id", 2, t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(p == x && a == p, s"t=$t parity broke")
    }
  }

  test("cluster resolution survives a 40-pair chain via the CC fallback") {
    // a threshold-transitive CHAIN: diameter 40 > the round cap, so
    // min-label propagation can't converge — the fallback to the
    // general-graph CC must finish the job instead of aborting
    val n = 41
    val chainDocs = (0 until n).map(i => (i.toLong, s"chain doc number $i"))
      .toDF("doc_id", "text")
    val pairs = (0 until n - 1).map(i => (i.toLong, i.toLong + 1))
      .toDF("ida", "idb").withColumn("jaccard", lit(1.0))
    val canon = Dedup.resolveDupClusters(chainDocs, "doc_id", pairs,
        maxRounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(canon.size == n)
    assert(canon.values.forall(_ == 0L), canon)
  }

  test("embedding dedup auto-select decides from plan stats, launching no job") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
    // an unfiltered parquet scan must yield a decision-grade count
    // from its footers (metadata only, EXACT) — the count() fallback
    // would mean a full corpus scan at cluster scale
    val known = Similarity.knownRows(emb)
    assert(known.contains(emb.count()), s"footer count $known wrong")
    // a filtered plan can NOT use footers; the width heuristic still
    // yields an order-of-magnitude estimate
    assert(Similarity.knownRows(emb.filter(col("vec_id") > 5)).isEmpty)
    assert(Similarity.estimatedRows(emb).isDefined)
    val sc = spark.sparkContext
    val group = s"autoselect-${System.nanoTime()}"
    sc.setJobGroup(group, "auto-select must not launch jobs", false)
    val (auto, autoLsh) =
      try {
        (Similarity.embeddingDedupPairs(emb, 0.4), // default auto-select
          Similarity.embeddingDedupPairs(emb, 0.4, maxExactRows = 1))
      } finally sc.clearJobGroup()
    org.apache.spark.graft.SparkTestAccess.flushListenerBus(sc)
    assert(sc.statusTracker.getJobIdsForGroup(group).isEmpty,
      "branch selection launched a Spark job")
    // …and the estimate drives the same branch decisions count() did:
    // under the default budget → exact BNLJ; over a tiny budget → LSH
    val autoPlan = auto.queryExecution.executedPlan.toString
    assert(autoPlan.contains("BroadcastNestedLoopJoin"), autoPlan.take(500))
    val lshPlan = autoLsh.queryExecution.executedPlan.toString
    assert(!lshPlan.contains("BroadcastNestedLoopJoin"), lshPlan.take(500))
  }

  test("embedding dedup LSH branch: precision 1, recall over floor, cap bounds buckets") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val exact = Similarity.embeddingDedupPairs(emb, 0.4, exact = Some(true))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = Similarity.embeddingDedupPairs(emb, 0.4, exact = Some(false),
      tables = 16, bits = 8, probes = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // every LSH pair is exact-verified → a subset with identical cosines
    lsh.foreach { case (k, c) => assert(exact.get(k).contains(c), k) }
    assert(lsh.size >= (exact.size * 0.8).toInt, s"${lsh.size}/${exact.size}")
    // multi-probe strictly widens the single-probe candidate set
    val single = Similarity.embeddingDedupPairs(emb, 0.4, exact = Some(false),
      tables = 16, bits = 8, probes = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(single.subsetOf(lsh.keySet))
    assert(lsh.size > single.size)
    // a 1-member bucket cap kills every candidate → empty, not an error
    val capped = Similarity.embeddingDedupPairs(emb, 0.4, exact = Some(false),
      tables = 4, bits = 4, maxBucketSize = 1)
    assert(capped.count() == 0)
  }

  test("contamination flags only docs sharing a full 5-gram with the benchmark") {
    val bench = Seq((100L, "Completely DIFFERENT content about spark"))
      .toDF("doc_id", "text")
    val hits = Dedup.contamination(docs, "doc_id", "text",
      bench, "doc_id", "text", k = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc 4 contains that exact normalized 5-gram; the fox docs share
    // no 5-gram with the benchmark despite sharing common words
    assert(hits == Map(4L -> 1L))
  }

  test("contamination: bloom pre-filter branch is row-identical to exact") {
    // bench = the fox sentence → every fox doc shares its 5-grams
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    def run(maxBroadcast: Long) =
      Dedup.contamination(docs, "doc_id", "text", bench, "doc_id", "text",
        k = 5, maxBroadcastShingles = maxBroadcast)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = run(Long.MaxValue) // forced broadcast branch
    val bloom = run(0L)            // forced Bloom + verify branch
    // 5 grams in a 9-word sentence, and every one covers word 5 —
    // docs 1/2/5 match all 5; doc 3 ("leaps" at word 5) matches none
    assert(exact == Map(1L -> 5L, 2L -> 5L, 5L -> 5L))
    assert(bloom == exact)
    // n_hits counts DISTINCT shared grams: a doc repeating a bench
    // gram twice still counts it once
    val rep = Seq((10L, "completely different content about spark " +
      "and again completely different content about spark"))
      .toDF("doc_id", "text")
    val benchSpark = Seq((100L, "completely different content about spark"))
      .toDF("doc_id", "text")
    val repHits = Dedup.contamination(rep, "doc_id", "text",
      benchSpark, "doc_id", "text", k = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(repHits == Map(10L -> 1L))
  }

  test("ngram index: prefix path == brute == recompute; round-trip; no self-pairs") {
    val d = graft.sources.Tables.documents(spark, sf)
    val idx = graft.TransientCache.persist(Dedup.buildNgramIndex(
      d.filter(col("doc_id") % 10 =!= 0), "text", "doc_id", shingleSize = 3))
    val batchSets = graft.TransientCache.persist(Dedup.buildNgramIndex(
      d.filter(col("doc_id") % 10 === 0), "text", "doc_id", shingleSize = 3))
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // prefix filtering is lossless on BOTH sides of its selectivity
    // regimes: strong filter (t=0.8, prefix ≈ 20% of each doc) and
    // weak filter (t=0.3, prefix ≈ whole doc)
    for (t <- Seq(0.8, 0.3)) {
      val filtered = toMap(Dedup.ngramJaccardIndexPairsFromSets(batchSets, idx, t))
      val brute = toMap(Dedup.ngramJaccardCrossBruteForce(idx, batchSets, t))
      assert(filtered == brute, s"t=$t")
      if (t == 0.3) assert(filtered.nonEmpty)
      // ties the index path to the oracle'd self-join path: cross-
      // boundary pairs of the full-corpus recompute, id-order folded
      val cross = Dedup.ngramJaccardPairs(d, "text", "doc_id",
        shingleSize = 3, threshold = t, maxDf = Int.MaxValue)
        .filter((col("ida") % 10 === 0) =!= (col("idb") % 10 === 0)).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(filtered.map { case ((a, b), j) =>
        (math.min(a, b), math.max(a, b)) -> j } == cross, s"t=$t")
    }
    // the index survives a parquet round-trip bit-for-bit
    val dir = tempDir("ngramidx").toString
    idx.write.mode("overwrite").parquet(dir)
    val viaDisk = toMap(Dedup.ngramJaccardIndexPairsFromSets(
      batchSets, spark.read.parquet(dir), 0.8))
    assert(viaDisk == toMap(Dedup.ngramJaccardIndexPairsFromSets(batchSets, idx, 0.8)))
    // re-ingested docs (same id in index and batch) never self-pair
    val allIdx = Dedup.buildNgramIndex(docs, "text", "doc_id", shingleSize = 3)
    val rePairs = toMap(Dedup.ngramJaccardIndexPairs(
      docs.filter(col("doc_id") === 1), allIdx, "text", "doc_id",
      shingleSize = 3, threshold = 0.8))
    // doc 1 vs the full index: exact dups 2 and 5 at J=1.0; (1,1)
    // excluded; doc 3 sits at trigram J=0.4
    assert(rePairs == Map((2L, 1L) -> 1.0, (5L, 1L) -> 1.0))
  }

  test("cluster resolution maps every doc to its component's min id") {
    val pairs = Seq((1L, 2L), (2L, 5L), (3L, 4L)).toDF("ida", "idb")
      .withColumn("jaccard", lit(1.0))
    val canon = Dedup.resolveDupClusters(docs, "doc_id", pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // {1,2,5} → 1 (transitively through 2), {3,4} → 3; no loners here
    assert(canon == Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 3L -> 3L, 4L -> 3L))
    // with a pair-free doc present, it maps to itself
    val more = docs.unionByName(Seq((9L, "solo doc")).toDF("doc_id", "text"))
    val canon2 = Dedup.resolveDupClusters(more, "doc_id", pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(canon2(9L) == 9L)
  }

  test("ivf ann: deterministic centroids, recall beats hyperplane lsh here") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(emb, queries, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(emb, queries, 5, nlist = 16, nprobe = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect ivf).size.toDouble / exact.size
    assert(recall >= 0.7, s"IVF recall too low: $recall")
    // determinism: a second build lands on identical centroids
    val c1 = Similarity.ivfCentroids(emb, 16, 5).map { case (i, v) => (i, v.toSeq) }
    val c2 = Similarity.ivfCentroids(emb, 16, 5).map { case (i, v) => (i, v.toSeq) }
    assert(c1.toSeq == c2.toSeq)
  }

  test("text functions: tokens, langid, quality bounds") {
    val r = docs.select(
      TextFunctions.tokenCount(col("text")).as("t"),
      TextFunctions.langId(col("text")).as("l"),
      TextFunctions.qualityScore(col("text")).as("q")).collect()
    assert(r.head.getInt(0) == 9)
    assert(r.head.getString(1) == "en")
    assert(r.forall(row => row.getDouble(2) >= 0.0 && row.getDouble(2) <= 1.0))
  }


  test("repetition signals: degenerate repetition scores high, prose low") {
    val rep = Seq(
      (1L, "spam spam spam spam spam spam"),
      (2L, "the quick brown fox jumps over a lazy dog"),
      (3L, "one")).toDF("doc_id", "text")
    val got = TextFunctions.repetitionSignals(rep, "doc_id", "text")
      .sort("id").collect()
    // doc 1: 6 words, 1 distinct -> dup_word 5/6; 5 bigrams all "spam spam"
    assert(got(0).getLong(1) === 6L)
    assert(got(0).getDouble(2) === 0.8333) // round(1 - 1/6, 4)
    assert(got(0).getDouble(3) === 0.8)    // 1 - 1/5
    assert(got(0).getDouble(4) === 1.0)          // top bigram owns all mass
    // doc 2: zero repetition, every bigram unique
    assert(got(1).getDouble(2) === 0.0)
    assert(got(1).getDouble(3) === 0.0)
    assert(got(1).getDouble(4) === 0.125)        // 1 of 8 bigrams
    // doc 3: single word -> whole-text fallback shingle
    assert(got(2).getLong(1) === 1L)
    assert(got(2).getDouble(4) === 1.0)
  }

  test("stratified sample is deterministic, rate-accurate, and pushdown-safe") {
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val rates = Map("src0" -> 1.0, "src1" -> 0.0)
    val s1 = Sampling.stratifiedSample(d, "source", "doc_id", rates, 0.5)
    val s2 = Sampling.stratifiedSample(d, "source", "doc_id", rates, 0.5)
    assert(s1.exceptAll(s2).isEmpty && s2.exceptAll(s1).isEmpty) // reproducible
    val bySrc = s1.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = d.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc.getOrElse("src1", 0L) === 0L)            // rate 0 keeps none
    assert(bySrc("src0") === totals("src0"))              // rate 1 keeps all
    // the sampling filter reaches the scan side (no shuffle before it)
    assert(!s1.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("mixStats reports exact kept counts per stratum") {
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val rates = Map("src0" -> 1.0)
    val stats = Sampling.mixStats(d, "source", "doc_id", rates, 0.2).collect()
    val direct = Sampling.stratifiedSample(d, "source", "doc_id", rates, 0.2)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    stats.foreach { r =>
      assert(r.getLong(2) === direct.getOrElse(r.getString(0), 0L))
    }
  }

  test("multimodal frame sample + resize: expansion and contract shapes") {
    val withBin = docs.select(col("doc_id"), col("text").cast("binary").as("payload"))
    // doc 1 is 43 bytes → 3 frames of 16; stride 2 keeps frames 0, 2
    val frames = Multimodal.frameSample(withBin, "doc_id", "payload",
      stride = 2, frameBytes = 16)
      .filter(col("id") === 1L).orderBy("frame_idx")
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getInt(3)))
    assert(frames.toSeq == Seq((0, 0L, 16), (2, 32L, 11)))
    // resize always emits exactly w*h*3 bytes with target metadata
    val resized = Multimodal.resize(withBin, "doc_id", "payload", 4, 2)
      .collect()
    assert(resized.forall(_.getAs[Array[Byte]]("payload").length == 24))
    assert(resized.forall(r => r.getInt(2) == 4 && r.getInt(3) == 2))
  }

  test("multimodal stub decode: deterministic meta from payload bytes") {
    val withBin = docs.select(col("doc_id"), col("text").cast("binary").as("payload"))
    val meta = Multimodal.decodeMeta(withBin, "doc_id", "payload")
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getLong(4))).toMap
    val len1 = "the quick brown fox jumps over the lazy dog".length
    assert(meta(1L) == ((32 + len1 % 32, 32 + (len1 / 32) % 32, len1.toLong)))
    val feats = Multimodal.extractFeatures(withBin, "doc_id", "payload").collect()
    assert(feats.forall(_.getSeq[Double](1).sum > 0.99)) // L1-normalized histogram
  }

  // hand-built image headers (public format knowledge) for the real
  // header parser — no codec library in this container, so fixtures
  // are constructed byte by byte
  private def pngBytes(w: Int, h: Int, colorType: Int): Array[Byte] = {
    val sig = Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A)
    def u32(v: Int) = Array((v >> 24) & 0xFF, (v >> 16) & 0xFF, (v >> 8) & 0xFF, v & 0xFF)
    (sig ++ u32(13) ++ "IHDR".getBytes("US-ASCII").map(_ & 0xFF) ++
      u32(w) ++ u32(h) ++ Array(8, colorType, 0, 0, 0) ++
      Array(0, 0, 0, 0) // CRC placeholder (parser doesn't verify)
    ).map(_.toByte)
  }

  private def jpegBytes(w: Int, h: Int, comps: Int, sofMarker: Int = 0xC0,
      leadingSegments: Boolean = true): Array[Byte] = {
    def u16(v: Int) = Array((v >> 8) & 0xFF, v & 0xFF)
    val app0 = Array(0xFF, 0xE0) ++ u16(16) ++ Array.fill(14)(0x4A)
    val com = Array(0xFF, 0xFE) ++ u16(9) ++ "fixture".getBytes("US-ASCII").map(_ & 0xFF)
    val sofLen = 8 + 3 * comps
    val sof = Array(0xFF, sofMarker) ++ u16(sofLen) ++ Array(8) ++
      u16(h) ++ u16(w) ++ Array(comps) ++ Array.fill(3 * comps)(0x11)
    ((Array(0xFF, 0xD8) ++ (if (leadingSegments) app0 ++ com else Array.empty[Int]))
      ++ sof).map(_.toByte)
  }

  test("real PNG/JPEG header parse: exact dims + channels, stub only for non-images") {
    // PNG color types → channel counts (RFC 2083 §4.1.1)
    assert(Multimodal.decodeHeader(pngBytes(640, 480, 2)).contains((640, 480, 3)))
    assert(Multimodal.decodeHeader(pngBytes(16, 8, 6)).contains((16, 8, 4)))
    assert(Multimodal.decodeHeader(pngBytes(1, 1, 0)).contains((1, 1, 1)))
    assert(Multimodal.decodeHeader(pngBytes(5, 5, 4)).contains((5, 5, 2)))
    // JPEG: baseline SOF0 behind APP0+COM segments, progressive SOF2,
    // grayscale, and a bare SOI+SOF stream
    assert(Multimodal.decodeHeader(jpegBytes(640, 480, 3)).contains((640, 480, 3)))
    assert(Multimodal.decodeHeader(jpegBytes(99, 7, 3, sofMarker = 0xC2)).contains((99, 7, 3)))
    assert(Multimodal.decodeHeader(jpegBytes(32, 32, 1)).contains((32, 32, 1)))
    assert(Multimodal.decodeHeader(
      jpegBytes(8, 4, 3, leadingSegments = false)).contains((8, 4, 3)))
    // malformed streams answer None, never throw: truncated PNG,
    // JPEG whose scan starts before any SOF, plain text
    assert(Multimodal.decodeHeader(pngBytes(640, 480, 2).take(20)).isEmpty)
    val sosFirst = Array(0xFF, 0xD8, 0xFF, 0xDA, 0x00, 0x04, 0x01, 0x02).map(_.toByte)
    assert(Multimodal.decodeHeader(sosFirst).isEmpty)
    assert(Multimodal.decodeHeader("just some text".getBytes("UTF-8")).isEmpty)
    // decodeMeta routes per row: image rows parse exactly, text rows
    // keep the deterministic stub — one mixed frame, one pass
    val text = "synthetic payload".getBytes("UTF-8")
    val mixed = Seq((1L, pngBytes(640, 480, 2)), (2L, jpegBytes(12, 34, 3)),
      (3L, text)).toDF("doc_id", "payload")
    val meta = Multimodal.decodeMeta(mixed, "doc_id", "payload")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getInt(3), r.getLong(4)))).toMap
    assert(meta(1L) == ((640, 480, 3, pngBytes(640, 480, 2).length.toLong)))
    assert(meta(2L) == ((12, 34, 3, jpegBytes(12, 34, 3).length.toLong)))
    val (sw, sh, sc) = Multimodal.decodeStub(text)
    assert(meta(3L) == ((sw, sh, sc, text.length.toLong)))
  }

  /** Canonical 44-byte PCM WAV header + `dataBytes` of silence;
    * `extraChunk` inserts a LIST chunk between fmt and data (chunk
    * walking must skip unknown chunks, including odd-sized ones that
    * carry a pad byte).
    */
  private def wavBytes(rate: Int, channels: Int, bits: Int, dataBytes: Int,
      extraChunk: Int = 0): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(
      44 + dataBytes + (if (extraChunk > 0) 8 + extraChunk + (extraChunk & 1) else 0))
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val blockAlign = channels * bits / 8
    bb.put("RIFF".getBytes("US-ASCII")).putInt(bb.capacity - 8)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1.toShort).putShort(channels.toShort).putInt(rate)
      .putInt(rate * blockAlign).putShort(blockAlign.toShort)
      .putShort(bits.toShort)
    if (extraChunk > 0)
      bb.put("LIST".getBytes("US-ASCII")).putInt(extraChunk)
        .put(new Array[Byte](extraChunk + (extraChunk & 1)))
    bb.put("data".getBytes("US-ASCII")).putInt(dataBytes)
      .put(new Array[Byte](dataBytes))
    bb.array()
  }

  test("real WAV header parse: exact rate/channels/bits, stub only for non-audio") {
    assert(Multimodal.decodeWavHeader(wavBytes(44100, 2, 16, 400))
      .contains((44100, 2, 16, 400L)))
    assert(Multimodal.decodeWavHeader(wavBytes(8000, 1, 8, 33))
      .contains((8000, 1, 8, 33L)))
    // unknown chunks (odd-sized → padded) between fmt and data skip
    assert(Multimodal.decodeWavHeader(wavBytes(16000, 1, 16, 64, extraChunk = 7))
      .contains((16000, 1, 16, 64L)))
    // non-PCM formats route to the stub, never to PCM arithmetic:
    // ADPCM's bits=4 would give blockAlign 0 and a confidently wrong
    // n_samples=0 if the parse accepted it
    val adpcm = wavBytes(44100, 2, 16, 400)
    adpcm(20) = 17 // audioFormat u16le := IMA ADPCM
    assert(Multimodal.decodeWavHeader(adpcm).isEmpty)
    // malformed: truncated mid-fmt, wrong magic, zero channels — all
    // None, never a throw
    assert(Multimodal.decodeWavHeader(wavBytes(44100, 2, 16, 400).take(20)).isEmpty)
    assert(Multimodal.decodeWavHeader("RIFFxxxxNOPE".getBytes("US-ASCII")).isEmpty)
    val zeroCh = wavBytes(44100, 2, 16, 4)
    zeroCh(22) = 0; zeroCh(23) = 0 // channels u16le := 0
    assert(Multimodal.decodeWavHeader(zeroCh).isEmpty)
    assert(Multimodal.decodeWavHeader("plain text".getBytes("UTF-8")).isEmpty)
    // decodeAudioMeta routes per row and derives samples/duration
    // with integer math: 400 bytes / (2ch × 2B) = 100 samples;
    // 100 × 1000 / 44100 = 2 ms (integer division)
    val text = "synthetic audio payload".getBytes("UTF-8")
    val mixed = Seq((1L, wavBytes(44100, 2, 16, 400)), (2L, text))
      .toDF("doc_id", "payload")
    val meta = Multimodal.decodeAudioMeta(mixed, "doc_id", "payload")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getInt(3), r.getLong(4), r.getLong(5)))).toMap
    assert(meta(1L) == ((44100, 2, 16, 100L, 2L)))
    val (sr, sch, sb, sd) = Multimodal.decodeAudioStub(text)
    val sSamples = sd / (sch * (sb / 8))
    assert(meta(2L) == ((sr, sch, sb, sSamples, sSamples * 1000L / sr)))
  }

  /** Minimal ISO-BMFF container: ftyp(brand) then moov(mvhd + traks).
    * mvhd version 0 or 1 per the spec's two layouts.
    */
  private def mp4Bytes(brand: String, timescale: Int, duration: Long,
      traks: Int, mvhdV1: Boolean = false,
      truncateMoov: Boolean = false): Array[Byte] = {
    val mvhdPayload = if (mvhdV1) 32 else 20
    val moovSize = 8 + (8 + mvhdPayload) + traks * 8
    val bb = java.nio.ByteBuffer.allocate(16 + moovSize)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    bb.putInt(16).put("ftyp".getBytes("US-ASCII"))
      .put(brand.getBytes("US-ASCII")).putInt(0)
    bb.putInt(moovSize).put("moov".getBytes("US-ASCII"))
    bb.putInt(8 + mvhdPayload).put("mvhd".getBytes("US-ASCII"))
    if (mvhdV1)
      bb.putInt(0x01000000).putLong(0L).putLong(0L)
        .putInt(timescale).putLong(duration)
    else
      bb.putInt(0).putInt(0).putInt(0)
        .putInt(timescale).putInt(duration.toInt)
    (1 to traks).foreach(_ =>
      bb.putInt(8).put("trak".getBytes("US-ASCII")))
    val out = bb.array()
    if (truncateMoov) out.take(out.length - traks * 8) else out
  }

  test("real MP4/ISO-BMFF parse: brand, mvhd v0+v1, trak count; stub otherwise") {
    assert(Multimodal.decodeMp4Header(mp4Bytes("isom", 600, 1200L, 2))
      .contains(("isom", 600L, 1200L, 2)))
    // version-1 mvhd carries 64-bit duration
    assert(Multimodal.decodeMp4Header(
      mp4Bytes("mp42", 90000, 5000000000L, 1, mvhdV1 = true))
      .contains(("mp42", 90000L, 5000000000L, 1)))
    // truncated moov still yields mvhd (range-read of the head);
    // the cut trak boxes simply don't count
    assert(Multimodal.decodeMp4Header(
      mp4Bytes("isom", 600, 1200L, 2, truncateMoov = true))
      .contains(("isom", 600L, 1200L, 0)))
    // malformed: no ftyp first, zero timescale, text — all None
    assert(Multimodal.decodeMp4Header(
      mp4Bytes("isom", 600, 1200L, 1).drop(16)).isEmpty)
    assert(Multimodal.decodeMp4Header(mp4Bytes("isom", 0, 1200L, 1)).isEmpty)
    assert(Multimodal.decodeMp4Header("plain text".getBytes("UTF-8")).isEmpty)
    // decodeVideoMeta routes per row: real parse for the container,
    // stub arithmetic for text; duration_ms = dur × 1000 / timescale
    val text = "synthetic video payload".getBytes("UTF-8")
    val mixed = Seq((1L, mp4Bytes("isom", 600, 1200L, 2)), (2L, text))
      .toDF("doc_id", "payload")
    val meta = Multimodal.decodeVideoMeta(mixed, "doc_id", "payload")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3), r.getInt(4)))).toMap
    assert(meta(1L) == (("isom", 600L, 2000L, 2)))
    val (sb, sts, sdur, straks) = Multimodal.decodeVideoStub(text)
    assert(meta(2L) == ((sb, sts, sdur * 1000L / sts, straks)))
  }

  // ===== exact substring (span-level) dedup =====

  lazy val spanDocs = Seq(
    (1L, "a b c1 c2 c3 c4 c5 c6 c7 d x y z e"),
    (2L, "c1 c2 c3 c4 c5 c6 c7 q r s"),
    (3L, "k l x y z m"),
    (4L, "unique words only here nothing shared at all"))
    .toDF("doc_id", "text")

  test("duplicated spans: maximal coverage islands at exact offsets") {
    val got = Dedup.duplicatedSpans(spanDocs, "text", "doc_id", k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
      .toSet
    // doc1: c1..c7 run covers grams at pos 2..6 → [2,8]; "x y z" at
    // 10 → [10,12] (gap 9 keeps them separate). doc2: [0,6].
    // doc3: [2,4]. doc4: nothing.
    assert(got == Set((1L, 2, 8, 7), (1L, 10, 12, 3),
      (2L, 0, 6, 7), (3L, 2, 4, 3)))
  }

  test("duplicated spans: touching coverage merges into one island") {
    val d = Seq(
      (5L, "m1 m2 m3 n1 n2 n3"),
      (6L, "z1 m1 m2 m3 z2"),
      (7L, "w1 n1 n2 n3 w2")).toDF("doc_id", "text")
    val got = Dedup.duplicatedSpans(d, "text", "doc_id", k = 3)
      .filter(col("id") === 5L)
      .collect().map(r => (r.getInt(1), r.getInt(2), r.getInt(3))).toSet
    // [0,2] and [3,5] touch (3 ≤ 2+1) → single maximal span [0,5]
    assert(got == Set((0, 5, 6)))
  }

  test("duplicated spans match a brute-force reference on random docs") {
    val rnd = new scala.util.Random(42)
    val vocab = Vector("ga", "gb", "gc", "gd", "ge", "gf", "gg", "gh")
    val corpus = (1L to 30L).map { id =>
      val n = 5 + rnd.nextInt(16)
      id -> Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    val k = 3
    // plain-Scala reference: grams → ≥2-doc filter → interval union
    val toks = corpus.map { case (id, t) => id -> t.split(" ").toSeq }
    val grams = toks.flatMap { case (id, w) =>
      if (w.size >= k)
        w.sliding(k).zipWithIndex.map { case (g, i) => (id, i, g.mkString(" ")) }
      else Nil
    }
    val dupSet = grams.groupBy(_._3)
      .filter(_._2.map(_._1).distinct.size >= 2).keySet
    val want = grams.filter(g => dupSet(g._3)).groupBy(_._1).toSeq
      .flatMap { case (id, gs) =>
        val ps = gs.map(_._2).sorted
        val islands = ps.foldLeft(List.empty[(Int, Int)]) {
          case ((s0, e0) :: rest, p) if p <= e0 + 1 =>
            (s0, math.max(e0, p + k - 1)) :: rest
          case (acc, p) => (p, p + k - 1) :: acc
        }
        islands.map { case (s0, e0) => (id, s0, e0, e0 - s0 + 1) }
      }.toSet
    val got = Dedup.duplicatedSpans(corpus.toDF("doc_id", "text"),
      "text", "doc_id", k = k)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
      .toSet
    assert(got == want && got.nonEmpty)
  }

  test("duplicated span stats: counts, tokens, fraction of doc length") {
    val got = Dedup.duplicatedSpanStats(spanDocs, "text", "doc_id", k = 3)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got == Map(
      1L -> ((2L, 10L, 0.7143)), // 10 of 14 tokens duplicated
      2L -> ((1L, 7L, 0.7)),
      3L -> ((1L, 3L, 0.5))))
  }

  test("span increment: cross-boundary only, index round-trips via parquet") {
    val corpus = Seq(
      (10L, "c1 c2 c3 c4 c5 c6 c7 idx tail"),
      (11L, "p q x y z r")).toDF("doc_id", "text")
    val batch = Seq(
      (20L, "a b c1 c2 c3 c4 c5 end"),
      (21L, "x y z only"),
      // 22/23 duplicate each other but share nothing with the
      // corpus — batch-internal dups must NOT surface
      (22L, "bb1 bb2 bb3 bb4 bb5"),
      (23L, "bb1 bb2 bb3 bb4 bb5")).toDF("doc_id", "text")
    val dir = tempDir("graft_spanidx")
    Dedup.buildSpanGramIndex(corpus, "text", "doc_id", k = 3)
      .write.mode("overwrite").parquet(dir.toString)
    val idx = spark.read.parquet(dir.toString)
    val got = Dedup.duplicatedSpansVsIndex(batch, idx, "text", "doc_id", k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
      .toSet
    // doc20: grams c1c2c3..c3c4c5 at pos 2..4 → [2,6]; doc21: [0,2]
    assert(got == Set((20L, 2, 6, 5), (21L, 0, 2, 3)))
  }

  test("strip duplicated spans keeps exactly one occurrence per span text") {
    val d = spanDocs.union(Seq((8L, "c1 c2 c3 c4 c5 c6 c7")).toDF("doc_id", "text"))
    val got = Dedup.stripDuplicatedSpans(d, "text", "doc_id", k = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // span-text groups keep the min-id occurrence: doc1 keeps both
    // its spans; doc2/doc8 lose the c-run, doc3 loses "x y z"; a doc
    // cut down to nothing surfaces as empty text, not a missing row
    assert(got == Map(
      1L -> "a b c1 c2 c3 c4 c5 c6 c7 d x y z e",
      2L -> "q r s",
      3L -> "k l m",
      4L -> "unique words only here nothing shared at all",
      8L -> ""))
  }

  test("fixpoint equals single strip when one round suffices") {
    val d = spanDocs.union(Seq((8L, "c1 c2 c3 c4 c5 c6 c7")).toDF("doc_id", "text"))
    val (res, rounds, converged) =
      Dedup.stripDuplicatedSpansFixpointStats(d, "text", "doc_id", k = 3)
    assert(converged && rounds == 1)
    val got = res.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val single = Dedup.stripDuplicatedSpans(d, "text", "doc_id", k = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == single)
  }

  test("fixpoint round 2 cuts junction-spliced duplicates a single strip leaves") {
    // cutting "c1 c2 c3" out of doc2 splices "j1 j2 j3 j4" together,
    // which then exactly duplicates doc3 — a single strip ships TWO
    // copies of that text; the fixpoint's respan catches it
    val d = Seq(
      (1L, "z c1 c2 c3 z2"),
      (2L, "j1 j2 c1 c2 c3 j3 j4"),
      (3L, "j1 j2 j3 j4")).toDF("doc_id", "text")
    val single = Dedup.stripDuplicatedSpans(d, "text", "doc_id", k = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(single(2L) == "j1 j2 j3 j4" && single(3L) == "j1 j2 j3 j4")
    val (res, rounds, converged) =
      Dedup.stripDuplicatedSpansFixpointStats(d, "text", "doc_id", k = 3)
    assert(converged && rounds == 2)
    val got = res.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "z c1 c2 c3 z2", 2L -> "j1 j2 j3 j4", 3L -> ""))
    assert(Dedup.duplicatedSpans(res, "text", "id", k = 3).isEmpty)
  }

  test("fixpoint stall-breaker: distinct island texts still converge via gram cuts") {
    // every maximal-span text is distinct (doc1's two duplicated
    // grams merge into one long island; doc2's stay separate), so
    // the span-text keep-rank grouping yields ZERO cuts — the
    // gram-granular stall-breaker must kick in and still converge
    val d = Seq(
      (1L, "m1 m2 m3 s1 s2 s3"),
      (2L, "m1 m2 m3 zz s1 s2 s3")).toDF("doc_id", "text")
    val (res, rounds, converged) =
      Dedup.stripDuplicatedSpansFixpointStats(d, "text", "doc_id", k = 3)
    assert(converged && rounds == 1)
    val got = res.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "m1 m2 m3 s1 s2 s3", 2L -> "zz"))
  }

  test("fixpoint property: random corpora converge with no surviving cross-doc span") {
    val rnd = new scala.util.Random(7)
    val vocab = Vector("va", "vb", "vc", "vd", "ve")
    val corpus = (1L to 25L).map { id =>
      val n = 4 + rnd.nextInt(12)
      id -> Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    val d = corpus.toDF("doc_id", "text")
    val (res, rounds, converged) =
      Dedup.stripDuplicatedSpansFixpointStats(d, "text", "doc_id", k = 3,
        minDocs = 2, maxRounds = 12)
    assert(converged, s"did not converge in 12 rounds")
    assert(rounds >= 1)
    // the guarantee the operator exists for: NO 3-token window shared
    // by >= 2 docs survives
    assert(Dedup.duplicatedSpans(res, "text", "id", k = 3).isEmpty)
    // strip only ever REMOVES tokens: every result token stream is a
    // subsequence of the original normalized stream
    def isSubseq(sub: Seq[String], full: Seq[String]): Boolean = {
      var i = 0
      full.foreach { t => if (i < sub.size && sub(i) == t) i += 1 }
      i == sub.size
    }
    val gotMap = res.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    corpus.foreach { case (id, orig) =>
      val sub = gotMap(id).split(" ").filter(_.nonEmpty).toSeq
      assert(isSubseq(sub, orig.split(" ").toSeq), s"doc $id not a subsequence")
    }
  }

  test("misra-gries: heavy keys survive; heavyHitters certifies or falls back") {
    import spark.implicits._
    import graft.functions.Sketches
    // skewed stream: "hot" 60×, "warm" 25×, 40 singletons — capacity 8
    // guarantees every key with count > 125/8 ≈ 15.6 survives
    val data = Seq.fill(60)("hot") ++ Seq.fill(25)("warm") ++
      (1 to 40).map(i => s"cold$i")
    val ds = spark.createDataset(scala.util.Random.shuffle(data))
    val cands = Sketches.misraGriesCandidates(ds.repartition(4), 8)
      .collect().toSet
    assert(cands.contains("hot") && cands.contains("warm"))
    // certified path equals the exact answer
    val df = ds.toDF("k")
    val hh = Sketches.heavyHitters(df, "k", k = 2, capacity = 16)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(hh == Seq("hot" -> 60L, "warm" -> 25L))
    // uncertifiable (k-th is a singleton): fallback still exact
    val hh5 = Sketches.heavyHitters(df, "k", k = 5, capacity = 16)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(hh5.take(2) == Seq("hot" -> 60L, "warm" -> 25L))
    assert(hh5.drop(2).forall(_._2 == 1L))
    assert(hh5.map(_._1).drop(2) == hh5.map(_._1).drop(2).sorted)
    // degenerate: fewer distinct keys than k
    val tiny = Seq("a", "a", "b").toDF("k")
    val ht = Sketches.heavyHitters(tiny, "k", k = 5, capacity = 8)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(ht == Seq("a" -> 2L, "b" -> 1L))
  }

  test("SemDeDup: nlist=1 equals global exact dedup; clustered merges stay sound") {
    import spark.implicits._
    import graft.functions.{Dedup, Similarity}
    // two tight near-dup groups on different axes plus two loners
    val rows = Seq(
      (1L, Array(1f, 0f, 0f, 0f)),
      (2L, Array(0.99f, 0.1f, 0f, 0f)),
      (3L, Array(0f, 1f, 0f, 0f)),
      (4L, Array(0.1f, 0.99f, 0f, 0f)),
      (5L, Array(0f, 0f, 1f, 0f)),
      (6L, Array(0f, 0f, 0f, 1f))).toDF("vec_id", "embedding")
    // nlist=1 is the degenerate single-cluster case: SemDeDup must
    // equal the global exact pair scan + CC resolve bit for bit
    val sem = Similarity.semanticDedup(rows, 0.9, nlist = 1, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = Dedup.resolveDupClusters(rows.select(col("vec_id")),
        "vec_id",
        Similarity.embeddingDedupPairs(rows, 0.9).select("ida", "idb"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sem == exact)
    assert(sem(2L) == 1L && sem(4L) == 3L && sem(5L) == 5L && sem(6L) == 6L)
    // clustered run: merges must be SOUND (only vectors the exact
    // pair graph connects may share a survivor — border-cell recall
    // loss is allowed, false merges are not), loners untouched
    val sem4 = Similarity.semanticDedup(rows, 0.9, nlist = 4, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for ((v, c) <- sem4 if v != c)
      assert(exact(v) == exact(c), s"unsound merge $v -> $c")
    assert(sem4(5L) == 5L && sem4(6L) == 6L)
  }

  test("SemDeDup: nlist scaled with the corpus (64 cells) stays sound " +
    "under the driver query's violation oracle") {
    // the production contract is nlist ∝ corpus so cells stay
    // partition-sized; this pins its SOUNDNESS half — a high nlist
    // can only lose border-pair recall (allowed), never drop a
    // vector without an exact neighbor or merge across exact
    // components. The SemDeDup scale probe measured the cost half on
    // the 10x corpus (OPTIMIZATION_r13.md, Retired diagnostics).
    import graft.functions.{Dedup, Similarity}
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val resolved = Similarity.semanticDedup(emb, 0.4, nlist = 64)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exactPairs = Similarity.embeddingDedupPairs(emb, 0.4)
      .select("ida", "idb").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val paired = exactPairs.flatMap(p => Seq(p._1, p._2)).toSet
    val gcomp = Dedup.resolveDupClusters(emb.select(col("vec_id")),
        "vec_id", exactPairs.toSeq.toDF("ida", "idb"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for ((v, c) <- resolved if v != c) {
      assert(paired.contains(v), s"dropped $v without an exact neighbor")
      assert(gcomp(v) == gcomp(c), s"merged $v -> $c across components")
    }
    // the fixture must actually exercise merges at this nlist, or the
    // pin is vacuous
    assert(resolved.exists { case (v, c) => v != c })
  }

  test("HLL index: rollup-merge equals one-shot sketch; 2% envelope at 50k distinct") {
    import spark.implicits._
    import graft.functions.Sketches
    // 50k distinct keys spread over 10 groups, with heavy repetition
    // (3 rows per key) so the sketch sees duplicates too
    val rows = spark.range(0, 150000)
      .select((col("id") % 50000).as("k"), (col("id") % 10).as("g"))
      .select(concat(lit("user_"), col("k")).as("user"), col("g"))
    val idx = Sketches.hllIndex(rows, "user", Seq("g"), lgK = 12)
    assert(idx.count() == 10)
    // rollup-serve and the one-shot global sketch share the error
    // envelope (bit-identity is NOT guaranteed — sparse-mode union
    // promotion differs from single-pass building); pin both against
    // exact at the documented 2% for this cardinality
    val viaRollup = Sketches.hllRollup(idx, Nil)
      .collect().head.getLong(0)
    val direct = rows.agg(
      hll_sketch_estimate(hll_sketch_agg(col("user"), 12)))
      .collect().head.getLong(0)
    assert(math.abs(viaRollup - 50000.0) <= 50000.0 * 0.02,
      s"rollup estimate $viaRollup outside 2% of 50000")
    assert(math.abs(direct - 50000.0) <= 50000.0 * 0.02,
      s"direct estimate $direct outside 2% of 50000")
    // idempotence: re-merging the same sketches changes nothing (the
    // property that makes the streaming twin's crash window benign)
    val doubled = Sketches.hllRollup(idx.unionByName(idx), Nil)
      .collect().head.getLong(0)
    assert(doubled == viaRollup)
    // coarser serve partitions the estimate consistently: per-group
    // estimates also come from the index, each within 3·rsd ≈ 5% of
    // the exact per-group count (a hard per-draw gate needs ~3σ; the
    // 2% figure is ~1.25σ, fine for a sum over groups, too tight for
    // each of ten 5k-cardinality draws — group 4 measured 2.02%)
    val perGroup = Sketches.hllRollup(idx, Seq("g"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exactPerGroup = rows.groupBy("g")
      .agg(count_distinct(col("user")).as("d"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for ((g, ex) <- exactPerGroup)
      assert(math.abs(perGroup(g) - ex.toDouble) <= ex * 0.05, s"group $g")
  }

  test("edit-distance pairs: parity vs brute force at maxDist 1 and 2") {
    import spark.implicits._
    // covers every edit kind: substitution (cat/bat), deletion
    // (cat/at), insertion (cat/cart), transposition = 2 substitutions
    // (abcd/bacd), a dist-0 duplicate under two ids, a 1-char string,
    // and far-apart strings that share NO ≤2-deletion signature
    val rows = Seq(
      (1L, "cat"), (2L, "bat"), (3L, "at"), (4L, "cart"),
      (5L, "abcd"), (6L, "bacd"), (7L, "cat"), (8L, "x"),
      (9L, "zzzzzz")).toDF("id", "s")
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val data = rows.collect().map(r => r.getLong(0) -> r.getString(1))
    for (k <- 1 to 2) {
      val got = graft.functions.Dedup.editDistancePairs(rows, "id", "s", k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4))).toSet
      val want = (for {
        (i1, s1) <- data; (i2, s2) <- data
        if i1 < i2 && lev(s1, s2) <= k
      } yield (i1, i2, lev(s1, s2).toLong)).toSet
      assert(got == want, s"maxDist=$k")
    }
    // maxDist 1 sanity on the fixture's own facts
    val d1 = graft.functions.Dedup.editDistancePairs(rows, "id", "s", 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(d1.contains((1L, 7L)) && d1.contains((1L, 2L))) // dup + sub
    assert(!d1.contains((5L, 6L))) // transposition is distance 2
    intercept[IllegalArgumentException] {
      graft.functions.Dedup.editDistancePairs(rows, "id", "s", 3)
    }
  }

  test("quantile coreset: weights sum to N; ranks inside the proven envelope") {
    import graft.functions.Sketches
    val rnd = new scala.util.Random(42)
    // skewed data (heavy duplicates + a long tail), several partitions
    val vals = (Seq.fill(3000)(7.0) ++ (1 to 2000).map(_ => rnd.nextDouble() * 100)
      ++ Seq.fill(500)(99.5)).map(Tuple1(_))
    val df = vals.toDF("x").repartition(7)
    val (coreset, n, t, p) = Sketches.quantileCoreset(df, "x", eps = 0.02)
    val core = coreset.as[(Double, Long)].collect()
    assert(n == 5500L)
    assert(core.map(_._2).sum == n, "coreset weights must sum to N")
    assert(core.length <= n / t + p + 1, "coreset must stay (P+1)/eps-bounded")
    val sorted = vals.map(_._1).sorted
    // a value's rank is an interval under duplicates: certify
    // count(<=est) >= target − B and count(<est) <= target + B
    val bound = 2L * (p + 1) * t
    for ((q, est) <- Sketches.coresetQuantiles(core, n,
        Seq(0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0))) {
      val le = sorted.count(_ <= est).toLong
      val lt = sorted.count(_ < est).toLong
      val target = math.max(1L, math.ceil(q * n).toLong)
      assert(le >= target - bound && lt <= target + bound,
        s"q=$q est=$est le=$le lt=$lt target=$target bound=$bound")
    }
  }

  test("quantile coreset: t=1 degenerates to exact ranks per partition") {
    import graft.functions.Sketches
    val df = (1 to 40).map(i => Tuple1(i.toDouble)).toDF("x").repartition(4)
    // eps tiny → t=1 → the coreset IS the data (weight 1 each)
    val (coreset, n, t, _) = Sketches.quantileCoreset(df, "x", eps = 0.001)
    assert(t == 1L)
    val core = coreset.as[(Double, Long)].collect()
    assert(core.length == 40 && core.map(_._2).forall(_ == 1L))
    val qs = Sketches.coresetQuantiles(core, n, Seq(0.5, 1.0)).toMap
    assert(qs(0.5) == 20.0 && qs(1.0) == 40.0)
  }

  test("grouped quantile coreset: per-key weights sum, run boundaries, rank envelope") {
    import graft.functions.Sketches
    val rnd = new scala.util.Random(23)
    // three keys with different sizes incl one smaller than t
    val rows = (1 to 700).map(_ => ("a", rnd.nextDouble() * 100)) ++
      (1 to 350).map(_ => ("b", 50.0)) ++ // all-duplicates key
      (1 to 4).map(i => ("c", i.toDouble)) // tiny key (< t)
    val df = rows.toDF("k", "x")
    val t = 9L
    val core = Sketches.groupedQuantileCoreset(df, "k", "x", t)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    val byKey = core.groupBy(_._1)
    assert(byKey("a").map(_._3).sum == 700L)
    assert(byKey("b").map(_._3).sum == 350L)
    assert(byKey("c").map(_._3).sum == 4L && byKey("c").length == 1)
    assert(core.forall(_._3 <= t))
    // certified per-key quantiles: envelope holds, incl the
    // all-duplicates key and the tiny key
    val cert = Sketches.groupedCertifiedQuantiles(df, "k", "x",
      Seq(0.25, 0.5, 0.75), t).collect()
    assert(cert.length == 9)
    assert(cert.forall(_.getBoolean(4)), cert.mkString("; "))
    // brute re-check of the envelope for key a
    val aSorted = rows.filter(_._1 == "a").map(_._2).sorted
    cert.filter(_.getString(0) == "a").foreach { r =>
      val (q, est) = (r.getDouble(1), r.getDouble(2))
      val target = math.max(1L, math.ceil(q * 700).toLong)
      val le = aSorted.count(_ <= est).toLong
      val lt = aSorted.count(_ < est).toLong
      assert(le >= target - 2 * t && lt <= target + 2 * t,
        s"q=$q est=$est le=$le lt=$lt target=$target")
    }
    // determinism: per-key runs are single-partition, so the whole
    // output is a pure function of (data, t)
    val rerun = Sketches.groupedQuantileCoreset(df, "k", "x", t)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    assert(rerun.sortBy(x => (x._1, x._2, x._3)).toSeq ==
      core.sortBy(x => (x._1, x._2, x._3)).toSeq)
  }

  test("certifiedQuantiles: certificates hold on lineitem-like skew") {
    import graft.functions.Sketches
    val rnd = new scala.util.Random(7)
    val df = (1 to 8000).map(_ => Tuple1(math.pow(rnd.nextDouble(), 3) * 1e5))
      .toDF("price").repartition(8)
    val rows = Sketches.certifiedQuantiles(df, "price",
      Seq(0.1, 0.5, 0.9), eps = 0.01).collect()
    assert(rows.length == 3)
    assert(rows.forall(_.getBoolean(4)), rows.mkString("; "))
  }

  test("certifiedQuantiles: empty and all-null inputs answer uncertified " +
    "rows instead of NPEing") {
    import graft.functions.Sketches
    val empty = Seq.empty[Tuple1[Double]].toDF("price")
    val e = Sketches.certifiedQuantiles(empty, "price", Seq(0.5, 0.9))
      .collect()
    assert(e.length == 2 && e.forall(r =>
      !r.getBoolean(4) && r.getLong(3) == 0L && r.getDouble(1).isNaN))
    val allNull = Seq[Option[Double]](None, None).toDF("price")
    val a = Sketches.certifiedQuantiles(allNull, "price", Seq(0.5))
      .collect()
    assert(a.length == 1 && !a.head.getBoolean(4))
  }
}
