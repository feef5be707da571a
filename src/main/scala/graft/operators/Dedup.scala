package graft.operators

import graft.functions.HashFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines.
  *
  * Scale design: every variant avoids the O(n²) pair space.
  *  - exact: one hash aggregate (map-side combine) on the content.
  *  - n-gram Jaccard: inverted-index self-join — pairs only exist
  *    where a shingle is shared.
  *  - MinHash LSH: banded signatures; candidate pairs only within a
  *    band bucket; exact Jaccard verification on candidates only.
  *  - SimHash: 16-bit chunk buckets; Hamming verification within.
  *  - embedding: threshold join on cosine (exact kernel), with the
  *    LSH variant in Similarity as the 100 TB path.
  */
object Dedup {

  /** Exact dedup: keep the lowest-id row per identical content.
    * Single hash aggregate; `min_by(payload, id)` keeps the lowest-id
    * row without sorting the group.
    */
  def exact(df: DataFrame, contentCol: String, idCol: String): DataFrame = {
    val payload = struct(df.columns.map(col).toIndexedSeq: _*)
    df.groupBy(col(contentCol).as("_graft_key"))
      .agg(min_by(payload, col(idCol)).as("_graft_row"))
      .select(col("_graft_row.*"))
  }

  /** Paragraph-level exact dedup (C4/RefinedWeb-style): chunk every
    * doc into fixed `chunkTokens`-word paragraphs, drop every repeat
    * of a paragraph CORPUS-WIDE (first occurrence by (doc, position)
    * wins), and reassemble each doc from its surviving paragraphs in
    * order. Boilerplate that repeats across documents disappears from
    * every copy but the first; docs whose every paragraph is a repeat
    * vanish entirely.
    *
    * Scale shape: explode → ONE shuffle on the 64-bit paragraph hash
    * (row_number picks the winner inside each hash's group — same
    * shuffle a groupBy would take, no second join back) → one
    * shuffle on doc id to reassemble. The shuffle currency is
    * (hash, doc, idx) longs plus each paragraph string exactly once;
    * collisions merge paragraphs at ~k²/2⁶⁵ — the established
    * contract of every hash-keyed dedup here.
    */
  def paragraphs(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      chunkTokens: Int = 10): DataFrame = {
    require(chunkTokens > 0, "chunkTokens must be positive")
    import org.apache.spark.sql.expressions.Window
    val w = split(col(textCol), " ")
    val nChunks = ceil(size(w).cast("double") / chunkTokens).cast("int")
    val chunks = df
      .select(col(idCol), w.as("_w"), nChunks.as("n_chunks"),
        posexplode(sequence(lit(0), nChunks - 1)).as(Seq("idx", "_i")))
      .select(col(idCol), col("n_chunks").cast("long").as("n_chunks"), col("idx"),
        array_join(slice(col("_w"), col("_i") * chunkTokens + 1, lit(chunkTokens)), " ")
          .as("chunk"))
    val keep = Window.partitionBy(xxhash64(col("chunk")))
      .orderBy(col(idCol), col("idx"))
    chunks
      .withColumn("_rn", row_number().over(keep))
      .filter(col("_rn") === 1)
      .groupBy(col(idCol), col("n_chunks"))
      .agg(
        count(lit(1)).as("n_kept"),
        array_join(
          transform(sort_array(collect_list(struct(col("idx"), col("chunk")))),
            s => s.getField("chunk")),
          " ").as("text_kept"))
  }

  /** Word n-gram shingle set per doc: distinct space-joined n-grams.
    * Docs with fewer than n tokens have no shingle (empty array) —
    * the guard matters because `sequence(1, size-(n-1))` would count
    * DOWN for a negative stop and then crash slice().
    */
  def shingles(text: Column, n: Int): Column = {
    val w = split(text, " ")
    val idx = when(size(w) >= n, sequence(lit(1), size(w) - (n - 1)))
      .otherwise(array().cast("array<int>"))
    array_distinct(transform(idx, i => concat_ws(" ", slice(w, i, lit(n)))))
  }

  /** Distinct 64-bit-hashed word n-grams — the shingle currency for
    * joins and signatures. 8-byte longs instead of n-word strings:
    * smaller shuffles, codegen'd equality, and set sizes identical to
    * the string shingle sets up to 64-bit collisions (~(k²/2⁶⁵) per
    * corpus of k distinct shingles — negligible below billions).
    * One codegen'd kernel (`GraftHash.hashedShingles`): per-word hash
    * once, mix-chain per window — no shingle strings materialized.
    */
  def hashedShingles(text: Column, n: Int): Column =
    HashFunctions.hashedShingles(split(text, " "), n)

  /** Pairs (doc_a < doc_b) with n-gram Jaccard >= threshold, via an
    * inverted-index join: explode HASHED shingles, join on the 64-bit
    * key, count shared, Jaccard = |∩| / (|A| + |B| - |∩|). Never
    * enumerates non-overlapping pairs, and the join currency is an
    * 8-byte long, not an n-word string — at 100 TB that's the
    * difference between shuffling shingle text and shuffling longs.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String, n: Int, threshold: Double): DataFrame = {
    val sh = df.select(col(idCol).as("doc"), explode(hashedShingles(col(textCol), n)).as("h"))
    // set size is a per-doc projection (the shingle array is already
    // distinct) — NOT an explode+groupBy, which would shuffle every
    // shingle row just to count them
    val sizes = df.select(col(idCol).as("doc"), size(hashedShingles(col(textCol), n)).as("nsh"))
    val a = sh.as("a"); val b = sh.as("b")
    val common = a.join(b, col("a.h") === col("b.h") && col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .agg(count(lit(1)).as("common"))
    common
      .join(sizes.withColumnRenamed("doc", "doc_a").withColumnRenamed("nsh", "nsh_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc", "doc_b").withColumnRenamed("nsh", "nsh_b"), "doc_b")
      .withColumn("jaccard", col("common").cast("double") / (col("nsh_a") + col("nsh_b") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Prefix-filtered Jaccard pairs (PPJoin-style) — EXACT same result
    * as `ngramJaccardPairs`, with a provably-sufficient fraction of
    * the index join: order each doc's shingle set by one global total
    * order; if J(A,B) >= t, A and B must share a shingle within their
    * first |X| - ceil(t·|X|) + 1 shingles (the "prefix"), so only
    * prefix shingles enter the candidate join — at t=0.8 that's ~20%
    * of the index rows, and candidate verification touches only
    * surviving pairs (size(array_intersect) on the two shingle
    * arrays, no second index pass).
    *
    * Canonical order here is the shingle hash itself (free — the
    * array sorts once per doc, no global stats). Production corpora
    * get better pruning from ascending-document-frequency order
    * (rare shingles first), at the cost of one extra shingle-count
    * aggregation; the filter stays correct under ANY shared total
    * order, which is what the spec pins against the unfiltered join.
    */
  def prefixFilteredJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold in (0, 1]")
    // Global token order = ASCENDING DOCUMENT FREQUENCY (ties by
    // hash) — the canonical PPJoin ordering, derived from the corpus
    // itself. The prefix filter is provably sufficient under ANY
    // total order, so the RESULT is identical to hash ordering; what
    // changes is candidate volume: prefixes now hold each document's
    // RAREST shingles, so a prefix token's join bucket is its (tiny)
    // document frequency, and bucket occupancy stays flat as the
    // corpus grows instead of scaling with it — the knob that keeps
    // the candidate join linear at 10×/100× data. Costs one extra
    // linear shuffle of (doc, shingle) pairs to stamp frequencies.
    val exploded = df
      .select(col(idCol).as("doc"), explode(hashedShingles(col(textCol), n)).as("h"))
    val dfreq = exploded.groupBy(col("h")).agg(count(lit(1)).as("_df"))
    val docs = exploded.join(dfreq, "h")
      .groupBy(col("doc"))
      .agg(sort_array(collect_list(struct(col("_df"), col("h")))).as("_dh"))
      .select(col("doc"),
        transform(col("_dh"), x => x.getField("h")).as("sh"),
        size(col("_dh")).as("nsh"))
    val prefLen = (col("nsh") - ceil(col("nsh") * lit(threshold)).cast("int") + 1)
    val pref = docs.select(col("doc"),
      explode(slice(col("sh"), lit(1), prefLen)).as("h"))
    val cand = pref.as("a")
      .join(pref.as("b"), col("a.h") === col("b.h") && col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .distinct()
    cand
      .join(docs.select(col("doc").as("doc_a"), col("sh").as("sh_a"), col("nsh").as("nsh_a")), "doc_a")
      .join(docs.select(col("doc").as("doc_b"), col("sh").as("sh_b"), col("nsh").as("nsh_b")), "doc_b")
      .withColumn("common", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        col("common").cast("double") / (col("nsh_a") + col("nsh_b") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Containment near-dup pairs: ordered (a, b) where
    * |shingles(a) ∩ shingles(b)| / |shingles(a)| >= threshold — "a is
    * (mostly) contained in b". Symmetric Jaccard MISSES quote-and-
    * expand duplication (a 100-word doc pasted into a 2000-word doc
    * has Jaccard ~0.05 but containment ~1.0); containment is the
    * standard corpus answer.
    *
    * Same single shuffle as ngramJaccardPairs (the unordered common-
    * count join), then each unordered pair fans out to its two
    * ordered directions locally — no second join, no second shuffle.
    */
  def containmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 5,
      threshold: Double = 0.9): DataFrame = {
    val sh = df.select(col(idCol).as("doc"), explode(hashedShingles(col(textCol), n)).as("h"))
    val sizes = df.select(col(idCol).as("doc"), size(hashedShingles(col(textCol), n)).as("nsh"))
    val a = sh.as("a"); val b = sh.as("b")
    val common = a.join(b, col("a.h") === col("b.h") && col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("da"), col("b.doc").as("db"))
      .agg(count(lit(1)).as("common"))
      .join(sizes.withColumnRenamed("doc", "da").withColumnRenamed("nsh", "nsh_a"), "da")
      .join(sizes.withColumnRenamed("doc", "db").withColumnRenamed("nsh", "nsh_b"), "db")
    common
      .select(explode(array(
        struct(col("da").as("doc_a"), col("db").as("doc_b"),
          (col("common").cast("double") / col("nsh_a")).as("containment")),
        struct(col("db").as("doc_a"), col("da").as("doc_b"),
          (col("common").cast("double") / col("nsh_b")).as("containment")))).as("p"))
      .select(col("p.*"))
      .filter(col("containment") >= threshold)
  }

  /** Edit-distance near-dup pairs: shingle-Jaccard CANDIDATES,
    * verified by exact bounded Levenshtein — `jaccard >= candidate
    * threshold AND editdist <= maxDist` is the operator's definition
    * (both filters are semantics, not heuristics, so the result is
    * SQL-oracle-able).
    *
    * Why not edit distance directly: even length-banded blocking
    * leaves O(n²/bands) candidate pairs, each costing O(L·maxDist)
    * DP — measured 160s in vectorized C++ at sf0.1. The shingle join
    * trades on 8-byte hashes and emits only genuinely-overlapping
    * pairs (O(result), not O(corpus²)); the DP then runs on that
    * small pair list, with Spark's threshold variant short-circuiting
    * rows that blow past `maxDist`. Contract: ASCII-safe only — Spark
    * counts Unicode codepoints where some engines count bytes.
    */
  def editDistancePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 5,
      candidateJaccard: Double = 0.2,
      maxDist: Int = 30): DataFrame = {
    val texts = df.select(col(idCol).as("_ed_id"), col(textCol).as("_ed_text"))
    val cands = ngramJaccardPairs(df, idCol, textCol, n, candidateJaccard)
      .select(col("doc_a"), col("doc_b"))
    // the pair list is the output of a near-dup filter — broadcast it
    // (and the pair-sized intermediate) so the corpus never shuffles
    val withA = broadcast(cands)
      .join(texts, col("doc_a") === col("_ed_id"))
      .withColumnRenamed("_ed_text", "_text_a").drop("_ed_id")
    broadcast(withA)
      .join(texts, col("doc_b") === col("_ed_id"))
      .withColumn("edit_dist", levenshtein(col("_text_a"), col("_ed_text"), maxDist))
      .filter(col("edit_dist") >= 0)
      .select(col("doc_a"), col("doc_b"), col("edit_dist"))
  }

  /** MinHash LSH near-dup candidate pairs, verified by exact Jaccard.
    *
    * bands × rowsPerBand = signature length. Two docs collide if any
    * band of their signatures matches exactly; collision probability
    * follows the usual (1 - (1 - j^r)^b) S-curve. Candidates are then
    * verified with true shingle-set Jaccard, so the output contains
    * no false positives — only recall is approximate.
    *
    * Shape chosen for codegen and shuffle count, not elegance. Two
    * earlier variants were measured and discarded: (1) a nested
    * higher-order-function signature projection, which CollapseProject
    * inlined into every band key (~32× interpreted recompute); (2)
    * `numHashes` separate min() aggregate columns, whose generated
    * code cost tens of seconds of Janino compilation. The shipped
    * shape computes signature AND band keys in one scalar kernel per
    * doc (`LshBandKeys`, codegen'd) over the hashed-shingle array —
    * zero shuffles before the band-bucket self-join.
    */
  def minhashLshPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 5,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")

    // Per-doc shingle-hash set as a projection; docs shorter than n
    // tokens have an empty set and drop out, like the reference
    // behavior of skipping empty shingle sets.
    val docsH = df.select(col(idCol).as("doc"), hashedShingles(col(textCol), n).as("hs"))
      .filter(size(col("hs")) > 0)

    // Banded LSH keys per doc in ONE scalar pass (signature + band
    // folding inside LshBandKeys — no shuffle to build signatures;
    // compare the groupBy-the-exploded-shingles alternative, which
    // shuffles every (doc, shingle) row first).
    val banded = docsH.select(
      col("doc"),
      posexplode(graft.functions.MinHashFunctions.lshBandKeys(col("hs"), numHashes, bands))
        .as(Seq("band", "bkey")))

    val candidates = banded.as("a").join(banded.as("b"), Seq("band", "bkey"))
      .filter(col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .distinct()

    // Exact verification on the candidate set only: shingle-hash sets
    // are ~doc-length longs, joined to the (small) candidate list.
    val sets = docsH.select(col("doc"), col("hs"), size(col("hs")).as("nsh"))
    val inter = size(array_intersect(col("hs_a"), col("hs_b"))).cast("double")
    val union = (col("nsh_a") + col("nsh_b")).cast("double") - inter
    candidates
      .join(sets.select(col("doc").as("doc_a"), col("hs").as("hs_a"), col("nsh").as("nsh_a")), "doc_a")
      .join(sets.select(col("doc").as("doc_b"), col("hs").as("hs_b"), col("nsh").as("nsh_b")), "doc_b")
      .withColumn("jaccard", inter / union)
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Cross-corpus MinHash-LSH near-dup pairs: the same banded kernel
    * as [[minhashLshPairs]], but candidates come from band-key
    * matches BETWEEN two tables (left ⋈ right, no a<b ordering) —
    * the fuzzy face of benchmark decontamination: a training doc is
    * flagged when it is NEAR a holdout doc, not only when it shares
    * an exact n-gram. Both sides band with identical parameters (the
    * band keys must agree bit-for-bit across tables), candidates are
    * verified with exact Jaccard on the shingle-hash sets.
    *
    * Scale shape: in the decontamination use the right side (the
    * benchmark/holdout corpus) is tiny next to the training corpus —
    * its banded keys broadcast, so the candidate join never shuffles
    * the training side; verification joins only the candidate list.
    */
  def minhashLshPairsCross(
      left: DataFrame,
      right: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 5,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    def prep(df: DataFrame) =
      df.select(col(idCol).as("doc"), hashedShingles(col(textCol), n).as("hs"))
        .filter(size(col("hs")) > 0)
    def banded(d: DataFrame) = d.select(
      col("doc"),
      posexplode(graft.functions.MinHashFunctions.lshBandKeys(col("hs"), numHashes, bands))
        .as(Seq("band", "bkey")))
    val l = prep(left)
    val r = prep(right)
    // the holdout side's banded keys BROADCAST (hinted, not hoped):
    // without the hint Spark may plan a sort-merge join that shuffles
    // every banded training row — the opposite of the documented
    // 100 TB shape where the training side is never shuffled
    val candidates = banded(l).as("a").join(broadcast(banded(r).as("b")), Seq("band", "bkey"))
      .select(col("a.doc").as("left_id"), col("b.doc").as("right_id"))
      .distinct()
    val inter = size(array_intersect(col("hs_a"), col("hs_b"))).cast("double")
    val union = (col("nsh_a") + col("nsh_b")).cast("double") - inter
    candidates
      .join(l.select(col("doc").as("left_id"), col("hs").as("hs_a"),
        size(col("hs")).as("nsh_a")), "left_id")
      .join(r.select(col("doc").as("right_id"), col("hs").as("hs_b"),
        size(col("hs")).as("nsh_b")), "right_id")
      .withColumn("jaccard", inter / union)
      .filter(col("jaccard") >= threshold)
      .select(col("left_id"), col("right_id"), col("jaccard"))
  }

  /** (numHashes, bands) derived from MEASURED corpus stats instead
    * of hand-tuning — the knob SCALE.md shows must move with corpus
    * size (fixed bands at 10× data = superlinear bucket occupancy).
    *
    * Two constraints pick rows-per-band r and bands b:
    *  - recall: 1 − (1 − t^r)^b ≥ targetRecall at the threshold t
    *    fixes b(r) = ⌈ln(1−R)/ln(1−t^r)⌉ (the standard S-curve);
    *  - spurious-candidate budget, from OBSERVED band-bucket
    *    occupancy: the tuner signs a bounded corpus sample with the
    *    SAME minhash kernel the pipeline uses, buckets it with each
    *    candidate (r, b) layout, and classifies the colliding sample
    *    pairs by their true Jaccard. Pairwise-similarity models
    *    (median/mean s^r) are structurally wrong here: minhash
    *    collisions concentrate wherever a POPULAR shingle wins a
    *    hash's argmin — every doc containing it shares that minhash
    *    value — which no random-pair statistic sees. Counting real
    *    bucket collisions on real signatures captures popular-token
    *    skew, dup clusters, and boilerplate exactly as the full run
    *    will meet them.
    * Colliding pairs AT OR ABOVE the threshold are genuine output and
    * extrapolate LINEARLY (each doc has O(1) near-dups); pairs below
    * it are spurious candidate work and extrapolate QUADRATICALLY
    * (both sides of a random collision scale with the corpus). The
    * smallest r whose estimated spurious total fits
    * spuriousPerDoc·nDocs wins — so r grows with corpus size/skew
    * exactly when the data demands it, and signature work never
    * outruns the budget's need. Driver work is O(sample · maxHashes ·
    * shingles) signing plus bounded bucket counting — never
    * O(corpus).
    */
  def tunedMinhashParams(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 5,
      threshold: Double = 0.5,
      targetRecall: Double = 0.9,
      sampleSize: Int = 512,
      spuriousPerDoc: Double = 4.0,
      maxHashes: Int = 256): (Int, Int) = {
    require(threshold > 0 && threshold < 1, "threshold in (0, 1)")
    require(targetRecall > 0 && targetRecall < 1, "targetRecall in (0, 1)")
    val nDocs = math.max(df.count(), 2L)
    // hash-mod pre-filter BEFORE the ordered take: the TakeOrdered
    // then heaps ~2·sampleSize thin survivors, not the whole corpus's
    // fat shingle arrays (a top-512 of 40KB rows per partition is a
    // driver-side GC bomb at real corpus sizes)
    val modK = math.max(1L, nDocs / (sampleSize.toLong * 2))
    val sample: Array[Array[Long]] = df
      .filter(pmod(xxhash64(col(idCol)), lit(modK)) === 0)
      .select(hashedShingles(col(textCol), n).as("hs"), col(idCol).as("_id"))
      .filter(size(col("hs")) > 0)
      .orderBy(xxhash64(col("_id"), lit(1)), col("_id"))
      .limit(sampleSize)
      .collect()
      .map(_.getSeq[Long](0).toArray)
    val m = sample.length
    if (m < 8) return (64, 16) // degenerate corpus: the spec'd default
    def bandsFor(r: Int): Int =
      math.max(1, math.ceil(math.log(1 - targetRecall) / math.log(1 - math.pow(threshold, r))).toInt)
    // signatures grown lazily to the widest layout actually probed
    var sigs: Array[Array[Long]] = Array.empty
    var sigWidth = 0
    def ensureSigs(w: Int): Unit = if (w > sigWidth) {
      sigWidth = w
      sigs = sample.map(graft.functions.MinHashMix.signature(_, w))
    }
    def jaccard(a: Array[Long], b: Array[Long]): Double = {
      var i = 0; var j = 0; var inter = 0
      while (i < a.length && j < b.length) { // sorted distinct arrays
        if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
        else if (a(i) < b(j)) i += 1
        else j += 1
      }
      inter.toDouble / (a.length + b.length - inter)
    }
    val linScale = nDocs.toDouble / m
    val quadScale = linScale * linScale
    val budget = spuriousPerDoc * nDocs
    def estSpurious(r: Int, b: Int): Double = {
      ensureSigs(r * b)
      val seen = scala.collection.mutable.HashSet.empty[Long]
      var spurious = 0.0
      var bi = 0
      while (bi < b) {
        val byKey = scala.collection.mutable.HashMap
          .empty[Long, scala.collection.mutable.ArrayBuffer[Int]]
        var d = 0
        while (d < m) {
          var k = 0L; var j = bi * r
          while (j < (bi + 1) * r) {
            k = graft.functions.MinHashMix.mix(k ^ sigs(d)(j), j); j += 1
          }
          byKey.getOrElseUpdate(k, scala.collection.mutable.ArrayBuffer.empty) += d
          d += 1
        }
        byKey.values.foreach { grp =>
          if (grp.length > 256) {
            // a bucket this hot in a bounded sample is pure skew:
            // count it all as spurious without enumerating
            spurious += grp.length.toDouble * (grp.length - 1) / 2
          } else if (grp.length > 1) {
            var x = 0
            while (x < grp.length) {
              var y = x + 1
              while (y < grp.length) {
                val key = (grp(x).toLong << 32) | grp(y).toLong
                if (seen.add(key) && jaccard(sample(grp(x)), sample(grp(y))) < threshold)
                  spurious += 1
                y += 1
              }
              x += 1
            }
          }
        }
        bi += 1
      }
      spurious * quadScale
    }
    val candidates = (2 to 16).map { r =>
      val b = math.max(1, math.min(bandsFor(r), maxHashes / r))
      (r, b)
    }.distinct
    // probe r ascending LAZILY: most corpora accept a small r, and
    // stopping there keeps the signing work at the narrow layout
    val probed = candidates.to(LazyList).map { case (r, b) => ((r, b), estSpurious(r, b)) }
    val (r, b) = probed.find(_._2 <= budget).map(_._1)
      .getOrElse(probed.minBy(_._2)._1) // nothing fits: least-bad layout
    (r * b, b)
  }

  /** `minhashLshPairs` with corpus-derived parameters — the scale
    * path: call this when the corpus size is not known in advance.
    * (The fixed-parameter variant stays the gate query: its oracle
    * hardcodes the 64/16 pipeline.)
    */
  def minhashLshPairsAuto(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 5,
      threshold: Double = 0.5,
      targetRecall: Double = 0.9): DataFrame = {
    val (nh, b) = tunedMinhashParams(df, idCol, textCol, n, threshold, targetRecall)
    minhashLshPairs(df, idCol, textCol, n, nh, b, threshold)
  }

  /** INCREMENTAL MinHash-LSH near-dup: each arriving batch appends
    * its banded keys and shingle sets to persisted state, and emits
    * the near-dup pairs INVOLVING that batch — candidates are the
    * batch's band keys joined against state-so-far (prior corpus ∪
    * batch), so a refresh costs O(batch bands + matched buckets) and
    * the prior corpus is never re-banded or re-paired. The union of
    * all refreshes' emissions equals the one-shot `minhashLshPairs`
    * over everything ingested (every pair surfaces exactly when its
    * LATER member arrives), which is what the gate checks by running
    * two refreshes under the one-shot query's oracle.
    *
    * State lives in a [[graft.sources.VersionedLog]] (documents are
    * immutable facts — an append log, not an upsert table): each
    * refresh publishes `bands/` (band, bkey, doc — 8-byte keys on
    * the wire) and `sets/` (doc, hs, nsh — for exact Jaccard
    * verification of candidates only) as ONE marker-committed
    * version, so a crash can't leave bands without their sets, and a
    * failed refresh is safely re-runnable. With a monotonic
    * `batchId`, the refresh is REPLAY-SAFE under at-least-once
    * delivery: a redelivered batch at or below the recorded
    * high-water mark appends nothing, and re-derives its ORIGINAL
    * emission from the retained version it was applied as (exactly-
    * once output on retry); if state compaction has since collapsed
    * that version, the replay degrades to an empty emission — the
    * replay window is bounded by compaction, as a table cleaner
    * bounds incremental reads. Single-writer per state path, like
    * the versioned tables without `upsertConcurrent`.
    */
  def minhashLshIncremental(
      statePath: String,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 5,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5,
      batchId: Option[Long] = None): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    import graft.sources.VersionedLog
    val spark = batch.sparkSession
    val (banded, sets) = minhashBandBatch(batch, idCol, textCol, n, numHashes, bands)
    val replayed = batchId.exists(id => VersionedLog.appliedHwm(spark, statePath).exists(id <= _))
    val upTo: Int =
      if (replayed) {
        VersionedLog.versionOfBatch(spark, statePath, batchId.get) match {
          case Some(v) => v.num // retained: re-derive the original emission below
          case None => // compacted away: recognized replay, nothing to re-emit
            return banded.select(col("doc").as("doc_a"), col("doc").as("doc_b"),
              lit(0.0).as("jaccard")).limit(0)
        }
      } else
        VersionedLog.append(spark, statePath, Map("bands" -> banded, "sets" -> sets), batchId)
    minhashIncEmit(spark, statePath, banded, threshold, upTo)
  }

  /** The refresh's write-side inputs: banded keys + shingle sets of
    * one batch. */
  private def minhashBandBatch(batch: DataFrame, idCol: String, textCol: String,
      n: Int, numHashes: Int, bands: Int): (DataFrame, DataFrame) = {
    val docsH = batch.select(col(idCol).as("doc"), hashedShingles(col(textCol), n).as("hs"))
      .filter(size(col("hs")) > 0)
    val banded = docsH.select(
      col("doc"),
      posexplode(graft.functions.MinHashFunctions.lshBandKeys(col("hs"), numHashes, bands))
        .as(Seq("band", "bkey")))
    val sets = docsH.select(col("doc"), col("hs"), size(col("hs")).as("nsh"))
    (banded, sets)
  }

  /** The refresh's read side: candidates from the batch's bands vs
    * state-so-far, verified by exact Jaccard. The heavy `sets`
    * channel (shingle arrays, corpus-sized) is scanned ONCE: each
    * candidate pair explodes into its two member docs, one join
    * fetches both sides' sets (candidate side broadcast — it is
    * match-sized), and a regroup per pair reassembles (hs_a, hs_b).
    * The former two-join form scanned the full sets channel twice
    * per refresh — at 10× data that second scan was the single
    * largest slice of the fold premium.
    */
  private def minhashIncEmit(spark: org.apache.spark.sql.SparkSession,
      statePath: String, banded: DataFrame, threshold: Double, upTo: Int): DataFrame = {
    import graft.sources.VersionedLog
    val allBands = VersionedLog.read(spark, statePath, "bands", Some(upTo)).get
    val allSets = VersionedLog.read(spark, statePath, "sets", Some(upTo)).get
    val candidates = banded.as("a").join(allBands.as("b"), Seq("band", "bkey"))
      .filter(col("a.doc") =!= col("b.doc"))
      .select(least(col("a.doc"), col("b.doc")).as("doc_a"),
        greatest(col("a.doc"), col("b.doc")).as("doc_b"))
      .distinct()
    val sides = candidates
      .select(col("doc_a"), col("doc_b"), explode(array(col("doc_a"), col("doc_b"))).as("doc"))
    val packed = sides.join(allSets, "doc")
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(
        first(when(col("doc") === col("doc_a"), col("hs")), ignoreNulls = true).as("hs_a"),
        first(when(col("doc") === col("doc_a"), col("nsh")), ignoreNulls = true).as("nsh_a"),
        first(when(col("doc") === col("doc_b"), col("hs")), ignoreNulls = true).as("hs_b"),
        first(when(col("doc") === col("doc_b"), col("nsh")), ignoreNulls = true).as("nsh_b"))
    val inter = size(array_intersect(col("hs_a"), col("hs_b"))).cast("double")
    val union = (col("nsh_a") + col("nsh_b")).cast("double") - inter
    packed
      .withColumn("jaccard", inter / union)
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      // emissions are a STREAM, not a lazy view: materialize NOW, or a
      // later refresh's state appends would leak into this result when
      // the caller finally evaluates it
      .localCheckpoint(true)
  }

  /** State-compaction table service for the incremental MinHash-LSH
    * log: N refreshes leave one file-set per batch; at a steady
    * ingest rate the band state would otherwise accumulate small
    * files forever (the classic streaming-ingest small-file problem —
    * the reference runs Hudi's compactor for the same reason,
    * generate_hudi_table.py:150-167). Collapses every committed
    * band/set version into one right-sized version — identical rows,
    * so subsequent refreshes emit identical pairs — and carries the
    * applied-batch high-water mark forward (replays stay recognized;
    * their exact re-emission window is bounded by compaction).
    * Run out-of-band from refreshes (single-writer state).
    */
  def minhashLshCompactState(
      spark: org.apache.spark.sql.SparkSession,
      statePath: String,
      targetFileBytes: Long = 512L * 1024 * 1024): Unit =
    graft.sources.VersionedLog.compact(spark, statePath, targetFileBytes)

  /** Connected components over a near-dup pair list: every node gets
    * the minimum id reachable through any chain of pairs — turning
    * pairwise "A is a near-dup of B" into dedup CLUSTERS (keep one doc
    * per cluster, drop the rest), which is what a curation pipeline
    * actually consumes.
    *
    * Algorithm: distributed min-label propagation. Each round joins
    * current labels across the (symmetrized) edge list and takes the
    * elementwise min; converges in O(graph diameter) rounds — near-dup
    * graphs are overwhelmingly small dense cliques, so a handful. Each
    * round is two hash-shuffles of |E| + |V| rows; nothing is ever
    * collected. The driver only evaluates a scalar changed-count per
    * round (the standard convergence check; a large-star/small-star
    * variant would cut pathological-chain rounds to O(log n) but
    * pessimizes the clique-dominated common case).
    *
    * Size-gated hybrid: the edge list is the OUTPUT of a near-dup
    * filter, vanishingly small relative to the corpus (a 100 TB crawl
    * yields millions of pairs, not billions of rows). When it fits
    * under `localEdgeThreshold` (and ids are integral), one collect of
    * that already-tiny table feeds an exact driver union-find —
    * no iterative job chain, no convergence budget, guaranteed-final
    * assignments (the advisor's unconverged-diameter failure mode
    * cannot occur). Distributed min-label propagation remains the
    * path for anything larger. Same precedent as the IVF quantizer's
    * bounded sample: driver work is fine when it is O(result), never
    * O(corpus).
    */
  def clusters(pairs: DataFrame, aCol: String, bCol: String, maxRounds: Int = 20,
      localEdgeThreshold: Long = 1L << 20): DataFrame = {
    val fwd = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
    val edges = fwd.unionByName(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .cache()
    val integralIds = fwd.schema.head.dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    // count() also materializes the cache every later path needs
    if (integralIds && edges.count() <= localEdgeThreshold)
      return localClusters(edges, fwd.schema.head.dataType)
    // localCheckpoint (not cache) after every round: iterative
    // self-reference otherwise compounds the LOGICAL plan round over
    // round until plan construction itself OOMs the driver — lineage
    // must be truncated, not just the computation memoized.
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint(true)
    // decimal sum: long-sum overflow at billions of large ids would
    // break the monotone-sum convergence test. Null-safe: sum over
    // zero rows is NULL — an empty pair list must converge on round
    // one, not NPE.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      Option(df.agg(sum(col("label").cast("decimal(38,0)"))).collect()(0).getDecimal(0))
        .getOrElse(java.math.BigDecimal.ZERO)
    var converged = false
    var round = 0
    var prevSum = labelSum(labels)
    while (!converged && round < maxRounds) {
      val prevLabels = labels
      // min over (own label, neighbors' labels) — the self-edge union
      // keeps isolated-from-this-round nodes and makes labels monotone
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), col("label"))
      labels = viaNeighbors.unionByName(labels)
        .groupBy("id").agg(min("label").as("label"))
        .localCheckpoint(true)
      // labels only ever decrease (min-propagation is monotone), so
      // "no label changed" ⟺ "the label sum is unchanged" — a scalar
      // aggregate per round instead of a join-against-previous
      val nextSum = labelSum(labels)
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      round += 1
      // the new round is checkpointed (materialized) — the previous
      // round's blocks are dead weight from here on. Freeing them
      // eagerly matters: ContextCleaner only reclaims checkpoint
      // blocks after a driver GC notices the dropped reference, and a
      // long-running session accumulates O(rounds) block leakage
      // meanwhile.
      unpersistCheckpoint(prevLabels)
    }
    edges.unpersist()
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"Dedup.clusters stopped after maxRounds=$maxRounds without converging: " +
          "component diameter exceeds the round budget and the returned " +
          "cluster assignments are NOT final. Raise maxRounds (rounds needed " +
          "~= largest component diameter).")
    labels.select(col("id").as("doc_id"), col("label").as("cluster_rep"))
  }

  /** Exact small-graph solve: union-find with "smaller root absorbs"
    * linking (the component representative IS the min id, no second
    * pass) plus path compression on find. Input is the symmetrized
    * distinct edge cache; output schema matches the distributed path.
    */
  private def localClusters(edges: DataFrame, idType: org.apache.spark.sql.types.DataType): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val parent = new java.util.HashMap[Long, Long]()
    def add(x: Long): Unit = if (!parent.containsKey(x)) parent.put(x, x)
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    edges.collect().foreach { row =>
      val a = row.getAs[Number](0).longValue(); val b = row.getAs[Number](1).longValue()
      add(a); add(b)
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent.put(rb, ra) else if (rb < ra) parent.put(ra, rb)
    }
    edges.unpersist()
    val assignments = scala.jdk.CollectionConverters.SetHasAsScala(parent.keySet()).asScala
      .toSeq.map(id => (id, find(id)))
    assignments.toDF("doc_id", "cluster_rep")
      .select(col("doc_id").cast(idType), col("cluster_rep").cast(idType))
  }

  /** Free the blocks behind an eagerly-localCheckpointed DataFrame.
    * `Dataset.unpersist` only consults the CacheManager, which knows
    * nothing about checkpoint RDD blocks — the checkpointed data hangs
    * off the LogicalRDD leaf, so unpersist that RDD directly.
    */
  private def unpersistCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
      case _ => ()
    }

  /** SimHash near-dup pairs: 64-bit simhash over word tokens, banded
    * into 4 × 16-bit chunks (any equal chunk => candidate, catching
    * all pairs with Hamming distance <= 3 by pigeonhole... candidates
    * verified with exact bit_count(xor) <= maxHamming).
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String, maxHamming: Int = 3): DataFrame =
    signaturePairs(df, idCol, HashFunctions.simhash64(split(col(textCol), " ")), maxHamming)

  /** Perceptual-hash near-dup pairs over a MULTIMODAL binary payload
    * column: 64-bit dHash ([[HashFunctions.phash64]] — block-mean
    * downsample of the byte signal, adjacent-mean comparison bits;
    * the decode stage a real codec replaces), then the exact same
    * pigeonhole banding + Hamming verification as [[simhashPairs]].
    * This is the image-dedup production shape (pHash/dHash at
    * ingestion): signatures are 8 bytes however large the media
    * payloads, so the pair search never touches payload bytes after
    * the one signature scan.
    */
  def phashPairs(media: DataFrame, idCol: String, payloadCol: String,
      maxHamming: Int = 3): DataFrame =
    signaturePairs(media, idCol, HashFunctions.phash64(col(payloadCol)), maxHamming)

  /** Shared signature banding: 4 × 16-bit chunks (any equal chunk ⇒
    * candidate — catches every pair with Hamming ≤ 3 by pigeonhole),
    * candidates verified with exact bit_count(xor) ≤ maxHamming.
    * Only (id, sig, chunk) rows — 8-byte signatures — ever shuffle.
    */
  private def signaturePairs(df: DataFrame, idCol: String, sig: org.apache.spark.sql.Column,
      maxHamming: Int): DataFrame = {
    val withSig = df.select(col(idCol).as("doc"), sig.as("sig"))
    val chunkKeys = (0 until 4).map(c =>
      shiftright(col("sig"), c * 16).bitwiseAND(lit(0xffffL)))
    val chunked = withSig.select(
      col("doc"), col("sig"),
      posexplode(array(chunkKeys: _*)).as(Seq("chunk", "ckey")))
    val a = chunked.select(col("chunk"), col("ckey"), col("doc").as("doc_a"), col("sig").as("sig_a"))
    val b = chunked.select(col("chunk"), col("ckey"), col("doc").as("doc_b"), col("sig").as("sig_b"))
    a.join(b, Seq("chunk", "ckey"))
      .filter(col("doc_a") < col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  /** INCREMENTAL exact dedup: fold each arriving batch into a
    * content-keyed survivor state (lowest id wins) kept in the
    * versioned table layout — production dedup is incremental, and
    * rescanning yesterday's 100 TB because an hour of documents
    * arrived is exactly what this avoids. Each refresh costs one
    * upsert of the batch against state (touched content keys only);
    * the state read IS the deduplicated corpus, bit-identical to
    * `exact` over everything ingested so far — which is what the
    * oracle checks.
    *
    * The record key is the CONTENT itself (equality-exact; the
    * hash-keyed variant trades that for 8-byte shuffle keys under the
    * usual k²/2⁶⁵ contract); lowest-id-wins rides the existing
    * latest-wins upsert by negating the id as the precombine.
    */
  def incrementalExact(
      statePath: String,
      batch: DataFrame,
      contentCol: String,
      idCol: String): Unit =
    graft.sources.UpsertWriter.upsert(
      batch.withColumn("_graft_neg_id", -col(idCol)),
      statePath, recordKeys = Seq(contentCol), precombine = "_graft_neg_id")

  /** Current survivor snapshot of the incremental-dedup state. */
  def incrementalExactRead(
      spark: org.apache.spark.sql.SparkSession,
      statePath: String): DataFrame =
    graft.sources.UpsertWriter.read(spark, statePath).drop("_graft_neg_id")

  /** Duplicated-substring excision (the ExactSubstr shape from
    * "Deduplicating Training Data Makes Language Models Better",
    * Lee et al. 2022, at token granularity): any `w`-token window
    * whose text occurs ≥2 times ANYWHERE in the corpus — across docs
    * or repeated within one doc — is a duplicated span, and every
    * token covered by any duplicated window is removed from its
    * document. Unlike doc-level dedup, this strips boilerplate from
    * EVERY copy while keeping each document's unique remainder.
    *
    * Emits one row per input doc: (id, clean_text, n_tokens,
    * n_removed); docs shorter than `w` tokens pass through whole.
    *
    * Scale shape — no suffix array, no pair join:
    *  1. per doc, hash each w-token window in place (array kernel;
    *     nothing exploded yet), then explode only (id, start, hash64)
    *     — the window STRINGS never leave the map side;
    *  2. ONE shuffle on the 8-byte window hash counts occurrences;
    *     hashes seen ≥2× join straight back (same partitioning,
    *     AQE-coalesced) to yield duplicated starts;
    *  3. covered positions aggregate per doc — the only rows that
    *     shuffle by doc are (id, covered-pos) for actually-duplicated
    *     spans, then the final filter runs inside the doc's array
    *     with a two-arg lambda (token, index): tokens themselves are
    *     never shuffled at all.
    * Window-hash collisions merge two distinct windows at ~k²/2⁶⁵ —
    * the same contract as every hash-keyed dedup above.
    */
  def duplicatedSpanExcision(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      w: Int = 8): DataFrame = {
    require(w > 0, "window must be positive")
    val toks = split(col(textCol), " ")
    val base = df.select(col(idCol), toks.as("_toks"), size(toks).as("_n"))
    val wins = base.select(
      col(idCol),
      posexplode(
        when(col("_n") >= w,
          transform(sequence(lit(0), col("_n") - lit(w)),
            p => xxhash64(concat_ws(" ", slice(col("_toks"), p + lit(1), lit(w))))))
          .otherwise(array().cast("array<bigint>"))).as(Seq("p", "h")))
    val dupHashes = wins.groupBy(col("h"))
      .agg(count(lit(1)).as("_c")).filter(col("_c") >= 2).select(col("h"))
    val covered = wins.join(dupHashes, "h")
      .select(col(idCol), explode(sequence(col("p"), col("p") + lit(w - 1))).as("pos"))
      .groupBy(col(idCol))
      .agg(collect_set(col("pos")).as("_cov"))
    base.join(covered, Seq(idCol), "left")
      .select(
        col(idCol),
        concat_ws(" ",
          filter(col("_toks"), (t, i) =>
            !array_contains(coalesce(col("_cov"), array().cast("array<int>")), i)))
          .as("clean_text"),
        col("_n").cast("long").as("n_tokens"),
        coalesce(size(col("_cov")), lit(0)).cast("long").as("n_removed"))
  }
}
