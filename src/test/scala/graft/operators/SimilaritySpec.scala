package graft.operators

import graft.SparkSpec
import graft.functions.{TopKBuffer, VectorFunctions}
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {

  private def vecs(rows: (Long, Seq[Float])*) = {
    val s = spark
    import s.implicits._
    rows.toSeq.toDF("vec_id", "embedding")
  }

  test("cosine expression: known geometry, zero-vector safe") {
    val df = vecs(
      1L -> Seq(1f, 0f), 2L -> Seq(0f, 1f), 3L -> Seq(2f, 0f), 4L -> Seq(0f, 0f))
    val self = df.as("a").crossJoin(df.as("b"))
      .select(col("a.vec_id").as("ia"), col("b.vec_id").as("ib"),
        VectorFunctions.cosine(col("a.embedding"), col("b.embedding")).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(math.abs(self((1L, 3L)) - 1.0) < 1e-12) // parallel
    assert(math.abs(self((1L, 2L))) < 1e-12)       // orthogonal
    assert(self((4L, 1L)) == 0.0)                  // zero vector -> 0, not NaN
  }

  test("bruteForceTopK: exact ranks with id tie-break, self excluded") {
    val df = vecs(
      1L -> Seq(1f, 0f),
      2L -> Seq(1f, 0f),   // identical to 1 -> sim 1.0
      3L -> Seq(0.9f, 0.1f),
      4L -> Seq(0f, 1f))
    val out = Similarity.bruteForceTopK(df, df.filter(col("vec_id") === 1), k = 2)
      .orderBy("rank")
      .collect().map(r => (r.getInt(1), r.getLong(2)))
    assert(out.sameElements(Array((1, 2L), (2, 3L))))
  }

  test("lshTopK: same-bucket neighbors recalled; output is subset of brute force") {
    val emb = graft.sources.TableLoader.table(spark, sfDir, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
    val brute = Similarity.bruteForceTopK(emb, queries, k = 10)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 2 planes -> ~1/4 of the corpus probed per query; recall well above
    // the random-candidate floor but below exact by design
    val lsh = Similarity.lshTopK(emb, queries, k = 10, numPlanes = 2)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.nonEmpty)
    val recall = (lsh intersect brute).size.toDouble / brute.size
    assert(recall > 0.25, s"lsh recall $recall")
    // multi-probe (radius 1) probes each one-flip bucket too: recall
    // must not drop, and candidate coverage strictly widens
    val probed = Similarity.lshTopK(emb, queries, k = 10, numPlanes = 2, probeRadius = 1)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val probedRecall = (probed intersect brute).size.toDouble / brute.size
    assert(probedRecall >= recall, s"multi-probe recall $probedRecall < $recall")
  }

  test("ivfTopK: deterministic, no invented neighbors, decent recall") {
    val emb = graft.sources.TableLoader.table(spark, sfDir, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
    val brute = Similarity.bruteForceTopK(emb, queries, k = 10)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def run() = Similarity.ivfTopK(emb, queries, k = 10, nlist = 16, nprobe = 4)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = run()
    assert(ivf == run()) // seeded: stable across runs
    val recall = (ivf intersect brute).size.toDouble / brute.size
    assert(recall > 0.3, s"ivf recall $recall") // nprobe/nlist = 1/4 of corpus probed
  }

  test("pqTopK: deterministic, self excluded, decent recall vs exact dot product") {
    val emb = graft.sources.TableLoader.table(spark, sfDir, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
    // exact inner-product top-10 (PQ/ADC approximates the dot, not
    // cosine, so that's the right baseline)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("d").desc, col("cid"))
    val exact = emb.select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      .crossJoin(broadcast(queries.select(col("vec_id").as("qid"), col("embedding").as("qvec"))))
      .filter(col("cid") =!= col("qid"))
      .withColumn("d", VectorFunctions.dot(col("cvec"), col("qvec")))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 10)
      .select("qid", "cid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def run() = Similarity.pqTopK(emb, queries, k = 10, m = 8, ksub = 16)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = run()
    assert(pq == run()) // seeded: stable across runs
    assert(pq.size == exact.size)
    val corpusIds = emb.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(pq.forall { case (q, n) => corpusIds.contains(n) && n != q })
    val recall = (pq intersect exact).size.toDouble / exact.size
    // 8 codes of 16 centroids is a coarse sketch — expect imperfect
    // but far-above-chance recall (chance ≈ 10/500 = 2%)
    assert(recall > 0.2, s"pq recall $recall")
  }

  test("ivfPqTopK: deterministic, self excluded, recall holds with cell routing") {
    val emb = graft.sources.TableLoader.table(spark, sfDir, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
    // exact inner-product baseline — ADC approximates the dot product
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("d").desc, col("cid"))
    val exact = emb.select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      .crossJoin(broadcast(queries.select(col("vec_id").as("qid"), col("embedding").as("qvec"))))
      .filter(col("cid") =!= col("qid"))
      .withColumn("d", VectorFunctions.dot(col("cvec"), col("qvec")))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 10)
      .select("qid", "cid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def setOf(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def run() = setOf(
      Similarity.ivfPqTopK(emb, queries, k = 10, nlist = 16, nprobe = 4, m = 8, ksub = 16))
    val ivfpq = run()
    assert(ivfpq == run()) // seeded: stable across runs
    val corpusIds = emb.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(ivfpq.forall { case (q, n) => corpusIds.contains(n) && n != q })
    val recall = (ivfpq intersect exact).size.toDouble / exact.size
    // probing 1/4 of cells must still beat the chance floor by far
    // (chance ≈ 10/500 = 2%); the flat-PQ spec above demands > 0.2
    // over the FULL corpus scan — routing keeps the same bar
    assert(recall > 0.2, s"ivfpq recall $recall")
    // nprobe = nlist degenerates to flat PQ's candidate set: the
    // routed result must be a subset of what the full scan finds at
    // the same codebooks... and at full probe width, identical to it
    val full = setOf(
      Similarity.ivfPqTopK(emb, queries, k = 10, nlist = 16, nprobe = 16, m = 8, ksub = 16))
    val flat = setOf(Similarity.pqTopK(emb, queries, k = 10, m = 8, ksub = 16))
    assert(full == flat, "nprobe=nlist must reduce IVFPQ to the flat PQ scan")
  }

  test("ivfPqRerankTopK: exact re-rank never hurts recall vs raw IVFPQ") {
    val emb = graft.sources.TableLoader.table(spark, sfDir, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
    val brute = Similarity.bruteForceTopK(emb, queries, k = 10)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(df: org.apache.spark.sql.DataFrame) = {
      val s = df.select("query_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (s intersect brute).size.toDouble / brute.size
    }
    val raw = recallOf(
      Similarity.ivfPqTopK(emb, queries, k = 10, nlist = 16, nprobe = 4))
    val rr = Similarity.ivfPqRerankTopK(
      emb, queries, k = 10, candMult = 4, nlist = 16, nprobe = 4)
    assert(recallOf(rr) >= raw, s"rerank ${recallOf(rr)} < raw ivfpq $raw")
    // within each query the output order must be exactly by sim desc
    rr.collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(3)))
      .groupBy(_._1).values.foreach { g =>
        val byRank = g.sortBy(_._2).map(_._3)
        assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
      }
  }

  test("pqRerankTopK: rerank never hurts recall vs raw PQ; exact order over candidates") {
    val emb = graft.sources.TableLoader.table(spark, sfDir, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
    val brute = Similarity.bruteForceTopK(emb, queries, k = 10)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(df: org.apache.spark.sql.DataFrame) = {
      val s = df.select("query_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (s intersect brute).size.toDouble / brute.size
    }
    val pqRecall = recallOf(Similarity.pqTopK(emb, queries, k = 10, m = 8, ksub = 16))
    val rerank = Similarity.pqRerankTopK(emb, queries, k = 10, candMult = 4, m = 8, ksub = 16)
    val rrRecall = recallOf(rerank)
    // with 4x candidates + exact scoring, rerank must do at least as
    // well as the raw compressed-domain ranking
    assert(rrRecall >= pqRecall, s"rerank $rrRecall < pq $pqRecall")
    // and within each query the output order must be exactly by sim
    val rows = rerank.collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getDouble(3)))
    rows.groupBy(_._1).values.foreach { g =>
      val byRank = g.sortBy(_._2).map(_._3)
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b }, g.mkString(","))
    }
  }

  test("knnClassify: unanimous neighborhoods get the neighborhood label; ties break low") {
    val s2 = spark
    import s2.implicits._
    // two tight clusters far apart: queries inside each cluster must
    // take that cluster's label
    def jitter(base: Seq[Float], eps: Float) = base.zipWithIndex.map {
      case (v, i) => v + (if (i % 2 == 0) eps else -eps)
    }
    val a = Seq(1f, 0f, 1f, 0f); val b = Seq(0f, 1f, 0f, 1f)
    val corpus = (0 until 6).map(i => (i.toLong, jitter(a, 0.01f * i), 7L)) ++
      (6 until 12).map(i => (i.toLong, jitter(b, 0.01f * (i - 6)), 3L))
    val df = corpus.toDF("vec_id", "embedding", "label")
    val queries = Seq((100L, a, 0L), (101L, b, 0L)).toDF("vec_id", "embedding", "label")
    val out = Similarity.knnClassify(df, queries, k = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(100L -> 7L, 101L -> 3L))
    // exact 2-2 vote tie: k=4 over two 2-element clusters → smaller label wins
    val tieCorpus = Seq(
      (0L, a, 9L), (1L, a, 9L), (2L, a, 4L), (3L, a, 4L)).toDF("vec_id", "embedding", "label")
    val tie = Similarity.knnClassify(tieCorpus, Seq((100L, a, 0L)).toDF("vec_id", "embedding", "label"), k = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tie == Map(100L -> 4L))
  }

  test("randomProject: hand-checkable signs, exact fixed-point sums, deterministic") {
    val df = vecs(1L -> Seq(1.0f, -2.0f), 2L -> Seq(0f, 0f))
    val out = Similarity.randomProject(df, kOut = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // regenerate the hash matrix the operator defines
    def sel(pos: Long, j: Long): Long = ((pos % 2147483648L) * 2654435761L + j * 40503L) % 2147483648L % 6
    def r(pos: Long, j: Long): Long = sel(pos, j) match { case 0 => 1L; case 1 => -1L; case _ => 0L }
    def q(v: Double): Long = math.floor(v * 1e9).toLong
    for (j <- 0L to 1L) {
      assert(out((1L, j)) == r(0, j) * q(1.0) + r(1, j) * q(-2.0))
      assert(out((2L, j)) == 0L) // zero vector projects to zero
    }
    // ±1 entries exist at the expected 1/3 density over a wider matrix
    val nonzero = (for (p <- 0L until 64L; j <- 0L until 8L) yield r(p, j)).count(_ != 0L)
    assert(nonzero > 100 && nonzero < 250, s"density off: $nonzero of 512")
  }

  test("embeddingNearDupPairs: threshold filter, a<b ordering") {
    val df = vecs(1L -> Seq(1f, 0f), 2L -> Seq(1f, 0.01f), 3L -> Seq(0f, 1f))
    val out = Similarity.embeddingNearDupPairs(df, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.sameElements(Array((1L, 2L))))
  }

  test("embeddingNearDupPairs: size guard rejects a corpus beyond maxExactRows, routing message names the LSH path") {
    val emb = graft.sources.TableLoader.table(spark, sfDir, "embeddings")
    val e = intercept[IllegalArgumentException] {
      Similarity.embeddingNearDupPairs(emb, 0.45, maxExactRows = 10L)
    }
    assert(e.getMessage.contains("embeddingNearDupPairsLsh"))
  }

  test("embeddingNearDupPairsAuto: exact under the bound, LSH beyond it") {
    val emb = graft.sources.TableLoader.table(spark, sfDir, "embeddings")
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairSet(Similarity.embeddingNearDupPairs(emb, 0.45))
    // corpus fits: auto IS the exact kernel
    assert(pairSet(Similarity.embeddingNearDupPairsAuto(emb, 0.45)) == exact)
    // corpus "too big" (bound forced under the table size): auto takes
    // the banded path — a subset of exact, never an invented pair
    val routed = pairSet(Similarity.embeddingNearDupPairsAuto(emb, 0.45,
      maxExactRows = 10L, numTables = 8, planesPerTable = 2))
    assert(routed.subsetOf(exact) && routed.nonEmpty)
  }

  test("normalizeEmbeddings output composes with the sampled-quantizer ANN ops (element-type agnostic collect)") {
    val emb = graft.sources.TableLoader.table(spark, sfDir, "embeddings")
    val normalized = Similarity.normalizeEmbeddings(emb) // array<double> now
    // round-7 advice: this threw ClassCastException at collect time
    // (sampleVecs assumed array<float>); any sampleVecs-based op must
    // accept the ingest step's output
    val out = Similarity.ivfTopK(normalized, normalized.limit(3), k = 5)
    assert(out.count() > 0)
  }

  test("tunedCosineLshParams: recall identity holds; planes grow with corpus size") {
    for (n <- Seq(1000L, 100000L, 10000000L); t <- Seq(0.45, 0.7)) {
      val (l, b) = Similarity.tunedCosineLshParams(n, t, targetRecall = 0.9)
      val p = 1.0 - math.acos(t) / math.Pi
      val recall = 1.0 - math.pow(1.0 - math.pow(p, b), l)
      // capped table counts may undershoot; otherwise the solved L
      // must meet the target exactly by the collision model
      assert(l == 64 || recall >= 0.9 - 1e-9, s"n=$n t=$t l=$l b=$b recall=$recall")
    }
    val b1 = Similarity.tunedCosineLshParams(10000L, 0.45)._2
    val b2 = Similarity.tunedCosineLshParams(10000000L, 0.45)._2
    assert(b2 > b1, "planes must grow with corpus size to hold bucket occupancy flat")
  }

  test("embeddingNearDupPairsLsh: subset of exact, once per pair, more tables widen, recall") {
    val emb = graft.sources.TableLoader.table(spark, sfDir, "embeddings")
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairSet(Similarity.embeddingNearDupPairs(emb, 0.45))
    assert(exact.nonEmpty, "fixture has no exact near-dup pairs — recall is vacuous")

    val few = Similarity.embeddingNearDupPairsLsh(emb, 0.45, numTables = 2, planesPerTable = 2)
    val fewRows = few.collect()
    val fewSet = pairSet(few)
    // never invents a pair, and each qualifying pair is emitted exactly
    // once (multi-table collisions collapse in the distinct)
    assert(fewSet.subsetOf(exact), s"LSH invented pairs: ${fewSet -- exact}")
    assert(fewRows.length == fewSet.size, "duplicate pair rows")

    // tables 0..L-1 are a prefix of 0..L'-1 (plane index = t*b + j), so
    // adding tables can only ADD collisions — the pair set is monotone
    val many = pairSet(
      Similarity.embeddingNearDupPairsLsh(emb, 0.45, numTables = 8, planesPerTable = 2))
    assert(many.subsetOf(exact))
    assert(fewSet.subsetOf(many), "more tables must only widen the pair set")
    // (b=2, L=8) at this loose threshold: per-pair recall ≈
    // 1-(1-0.65²)⁸ ≈ 0.99 — deterministic for the seeded planes
    val recall = (many intersect exact).size.toDouble / exact.size
    assert(recall > 0.7, s"banded recall $recall vs exact ${exact.size} pairs")
  }

  test("embeddingNearDupPairsLshAuto: tuned layout finds at least the fixed-layout pairs (verified output only)") {
    val emb = graft.sources.TableLoader.table(spark, sfDir, "embeddings")
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairSet(Similarity.embeddingNearDupPairs(emb, 0.45))
    val fixed = pairSet(Similarity.embeddingNearDupPairsLsh(emb, 0.45))
    val auto = pairSet(Similarity.embeddingNearDupPairsLshAuto(emb, 0.45))
    // both score candidates at the same threshold, so every emitted
    // pair is true; the default layout (8 planes, sized for a 0.9
    // threshold) collides a 0.45 pair far less often than the tuned
    // one (fewer planes at this corpus size, tables solved for 0.95
    // recall) -> superset
    assert(auto.subsetOf(exact), s"LSH invented pairs: ${auto -- exact}")
    assert(fixed.subsetOf(auto))
    val recall = auto.size.toDouble / exact.size
    assert(recall > 0.8, s"tuned recall $recall vs exact ${exact.size} pairs")
  }

  test("embeddingNearDupPairsLsh: planted identical vectors always recalled") {
    // Identical vectors share every hyperplane sign, hence every
    // bucket in every table — recall of TRUE duplicates is 1.0 at any
    // (b, L).
    val df = vecs(
      1L -> Seq(0.3f, -1.2f, 0.7f, 2f), 2L -> Seq(0.3f, -1.2f, 0.7f, 2f),
      3L -> Seq(-5f, 0.1f, 0f, 1f), 4L -> Seq(-5f, 0.1f, 0f, 1f),
      5L -> Seq(1f, 1f, 1f, 1f))
    val out = Similarity.embeddingNearDupPairsLsh(df, 0.999, numTables = 1, planesPerTable = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((1L, 2L), (3L, 4L)))
  }

  test("hardNegatives: same-label rows never surface; known geometry") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, Seq(1f, 0f), "a"),
      (2L, Seq(1f, 0.01f), "a"), // most similar to 1 but SAME label
      (3L, Seq(0.9f, 0.3f), "b"),
      (4L, Seq(0f, 1f), "b")).toDF("vec_id", "embedding", "label")
    val out = Similarity.hardNegatives(df, df.filter($"vec_id" === 1), k = 2)
      .orderBy("rank").collect().map(r => (r.getInt(1), r.getLong(2)))
    // negatives for anchor 1 ("a"): only label-b rows, by similarity
    assert(out.sameElements(Array((1, 3L), (2, 4L))))
  }

  test("normalizeEmbeddings: unit norms, zero vector untouched, direction preserved") {
    val df = vecs(1L -> Seq(3f, 4f), 2L -> Seq(0f, 0f), 3L -> Seq(-2f, 0f))
    val out = Similarity.normalizeEmbeddings(df)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(out(1L).map(x => math.abs(x)).sum > 0)
    assert(math.abs(out(1L)(0) - 0.6) < 1e-12 && math.abs(out(1L)(1) - 0.8) < 1e-12)
    assert(out(2L) == Seq(0.0, 0.0)) // zero vector: no division by zero
    assert(out(3L) == Seq(-1.0, 0.0))
  }

  test("semanticDedup: planted duplicates pruned to min id; drop rule holds on the corpus") {
    // identical vectors share every centroid distance, hence a cell:
    // only the smallest id of each planted group may survive
    val planted = vecs(
      1L -> Seq(1f, 0f, 0f, 0f), 2L -> Seq(1f, 0f, 0f, 0f), 3L -> Seq(1f, 0f, 0f, 0f),
      10L -> Seq(0f, 1f, 0f, 0f), 11L -> Seq(0f, 1f, 0f, 0f),
      20L -> Seq(0f, 0f, 1f, 0f))
    val kept = Similarity.semanticDedup(planted, threshold = 0.999, nclusters = 2)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 10L, 20L), s"got $kept")

    // real corpus: survivors+drops partition it, and every drop has a
    // smaller-id same-cell witness at >= threshold
    val emb = graft.sources.TableLoader.table(spark, sfDir, "embeddings")
    val out = Similarity.semanticDedup(emb, threshold = 0.45, nclusters = 8)
    val cells = out.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val all = emb.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(cells.keySet.subsetOf(all))
    val survivors = emb.join(out, Seq("vec_id"), "left_semi")
    // no surviving pair within one cell at >= threshold with a<b
    val sOut = out.withColumnRenamed("vec_id", "id")
    val sa = emb.join(sOut, col("vec_id") === col("id")).select(
      col("cell"), col("vec_id").as("ia"), col("embedding").as("va"))
    val sb = emb.join(sOut, col("vec_id") === col("id")).select(
      col("cell"), col("vec_id").as("ib"), col("embedding").as("vb"))
    val bad = sa.join(sb, Seq("cell")).filter(col("ia") < col("ib"))
      .filter(graft.functions.VectorFunctions.cosine(col("va"), col("vb")) >= 0.45)
      .count()
    assert(bad == 0L, s"$bad surviving same-cell near-dup pairs")
    assert(survivors.count() == cells.size)
  }

  test("scalarQuantize: exact codes, constant-vector guard, reconstruction bound") {
    val df = vecs(
      1L -> Seq(0f, 1f, 2f, 4f),   // mn=0 mx=4: codes floor(v*255/4)
      2L -> Seq(3f, 3f, 3f, 3f),   // constant: all 0
      3L -> Seq(-2f, 0f, 2f))      // negative domain
    val out = Similarity.scalarQuantize(df)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(out((1L, 0L)) == 0 && out((1L, 1L)) == 63 && out((1L, 2L)) == 127 && out((1L, 3L)) == 255)
    assert(Seq(0L, 1L, 2L, 3L).forall(p => out((2L, p)) == 0))
    assert(out((3L, 0L)) == 0 && out((3L, 1L)) == 127 && out((3L, 2L)) == 255)
    // dequantization error bounded by one step: |v - (mn + code*step)| <= step
    val step = 4.0 / 255
    Seq(0f, 1f, 2f, 4f).zipWithIndex.foreach { case (v, p) =>
      val deq = out((1L, p.toLong)) * step
      assert(math.abs(v - deq) <= step + 1e-9, s"pos $p: $v vs $deq")
    }
  }

  test("TopKBuffer: bounded, merge-correct, deterministic under ties") {
    val b1 = new TopKBuffer(3)
    Seq(0.5 -> 10L, 0.9 -> 3L, 0.9 -> 2L, 0.1 -> 7L, 0.7 -> 1L)
      .foreach { case (s, i) => b1.insert(s, i) }
    assert(b1.sortedDesc.toSeq == Seq((0.9, 2L), (0.9, 3L), (0.7, 1L)))

    val b2 = new TopKBuffer(3)
    Seq(0.95 -> 99L, 0.05 -> 98L).foreach { case (s, i) => b2.insert(s, i) }
    b1.mergeFrom(b2)
    assert(b1.sortedDesc.toSeq == Seq((0.95, 99L), (0.9, 2L), (0.9, 3L)))

    val rt = TopKBuffer.fromBytes(b1.toBytes)
    assert(rt.sortedDesc.toSeq == b1.sortedDesc.toSeq)
  }

  test("persisted IVF index: identical results to the in-memory path; probed cells prune the scan") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 10)
    val idx = tmpDir("graft-ivf-idx-")
    Similarity.buildIvfIndex(emb, idx, nlist = 8)
    val fromIndex = Similarity.ivfIndexTopK(spark, idx, queries, k = 5, nprobe = 2)
    val inMemory = Similarity.ivfTopK(emb, queries, k = 5, nlist = 8, nprobe = 2)
    assert(fromIndex.exceptAll(inMemory).isEmpty && inMemory.exceptAll(fromIndex).isEmpty,
      "the persisted index must reproduce the in-memory IVF results exactly")
    // pruning: a single query probing 2 of 8 cells must read fewer
    // partition directories than the full corpus layout holds
    val allFiles = spark.read.parquet(s"$idx/corpus").inputFiles.length
    val one = emb.filter(col("vec_id") === 0)
    val centroids = spark.read.parquet(s"$idx/centroids").orderBy(col("cell"))
      .collect().map(_.getSeq[Double](1).toArray)
    val cells = one.select(explode(graft.functions.CentroidFunctions.nearestCells(
        col("embedding"), centroids, 2)).as("cell"))
      .collect().map(_.getInt(0)).toSeq
    val pruned = spark.read.parquet(s"$idx/corpus")
      .filter(col("cell").isin(cells: _*))
    // inputFiles reports the pre-pruning listing; count what EXECUTES
    val scanned = pruned.select(input_file_name()).distinct().count()
    assert(scanned < allFiles,
      s"partition filter must prune scanned files: $scanned vs $allFiles")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell") || plan.contains("PartitionFilters: [isnotnull(cell"),
      s"cell filter must plan as a partition filter, not a data filter:\n$plan")
  }

  test("ivfIndexAppend: incremental equals frozen-quantizer rebuild; replay no-op; compaction preserves") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val base = emb.filter(col("vec_id") % 3 =!= 2)
    val b1 = emb.filter(col("vec_id") % 3 === 2 && col("vec_id") % 2 === 0)
    val b2 = emb.filter(col("vec_id") % 3 === 2 && col("vec_id") % 2 === 1)
    val queries = emb.filter(col("vec_id") < 8)
    val full = tmpDir("graft-ivf-full-")
    val inc = tmpDir("graft-ivf-inc-")
    // both indexes train the quantizer on the SAME data (base), so
    // routing is the same pure function of the centroids
    Similarity.buildIvfIndex(emb, full, nlist = 8, trainOn = Some(base))
    Similarity.buildIvfIndex(base, inc, nlist = 8, trainOn = Some(base))
    assert(Similarity.ivfIndexAppend(spark, inc, b1, batchId = Some(1L)))
    assert(Similarity.ivfIndexAppend(spark, inc, b2, batchId = Some(2L)))
    // redelivered batch: recognized by the commit-riding id, skipped
    assert(!Similarity.ivfIndexAppend(spark, inc, b2, batchId = Some(2L)))
    def res(p: String): Set[(Long, Int, Long)] =
      Similarity.ivfIndexTopK(spark, p, queries, k = 5, nprobe = 3)
        .select("query_id", "rank", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val expected = res(full)
    assert(res(inc) == expected, "incrementally-grown index must equal the rebuild")
    // the union scan still prunes by cell across base + log roots
    val plan = Similarity.ivfIndexTopK(spark, inc, queries, k = 5, nprobe = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell") || plan.contains("PartitionFilters: [isnotnull(cell"),
      s"incremental index scan must keep the cell partition filter:\n$plan")
    // compaction: same results, fewer committed versions
    graft.sources.VersionedLog.compact(spark, s"$inc/log",
      partitionBy = Map("corpus" -> Seq("cell")))
    assert(graft.sources.VersionedLog.committed(spark, s"$inc/log").length == 1)
    assert(res(inc) == expected, "compacted log must preserve the index contents")
  }

  test("recallAtK: hand-built overlap, zero-hit queries reported, extras ignored") {
    val s = spark
    import s.implicits._
    val exact = Seq(
      (1L, 10L), (1L, 11L), (1L, 12L),
      (2L, 20L), (2L, 21L), (2L, 22L),
      (3L, 30L), (3L, 31L), (3L, 32L)).toDF("query_id", "neighbor_id")
    val approx = Seq(
      (1L, 10L), (1L, 11L), (1L, 99L),  // 2/3
      (2L, 20L), (2L, 21L), (2L, 22L),  // 3/3
      // query 3 entirely missed by the index — must still report
      (4L, 40L))                        // approx-only query: ignored
      .toDF("query_id", "neighbor_id")
    val out = Similarity.recallAtK(exact, approx, k = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out == Map(
      1L -> ((2L, 6666L)),
      2L -> ((3L, 10000L)),
      3L -> ((0L, 0L))))
  }
}
