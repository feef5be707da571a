package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer training over a document corpus —
  * the vocabulary-construction step of a training-data pipeline
  * (the reference's surface ends at reports; a corpus this engine
  * curates feeds a tokenizer, and BPE is the standard one).
  *
  * Scale design: the corpus is collapsed ONCE to the distinct-word
  * frequency table (`wordCounts` — one shuffle over the corpus),
  * and every BPE iteration then runs over |vocab| rows, not corpus
  * rows — the classic trick that makes distributed BPE tractable:
  * at 100 TB the corpus has billions of rows but only millions of
  * distinct words, so the per-merge pair-count aggregation is a
  * small-table job with a driver-side top-1 pick (a few KB
  * collected per iteration). Merge application is a pure
  * `aggregate` HOF fold over each word's symbol array — no UDF, no
  * per-row JVM closure serialization — and the loop
  * `localCheckpoint`s every few iterations so plan lineage stays
  * bounded.
  */
object Bpe {

  /** Distinct words with weights: one corpus shuffle, everything
    * after runs on this table.
    */
  def wordCounts(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(explode(split(col(textCol), " ")).as("word"))
      .filter(length(col("word")) >= 1)
      .groupBy("word")
      .agg(count(lit(1)).as("n"))

  /** Seed symbol table: each word split into single characters. */
  def toSymbols(words: DataFrame): DataFrame =
    words.withColumn("syms", split(col("word"), ""))

  /** Ungrouped weighted adjacent pairs of the given symbol rows:
    * (left, right, n) — one row per pair OCCURRENCE, weighted by the
    * word count. zip_with of the array with its own tail.
    */
  private def wordPairs(symbols: DataFrame): DataFrame =
    symbols
      .filter(size(col("syms")) >= 2)
      .select(col("n"), explode(
        zip_with(
          slice(col("syms"), lit(1), size(col("syms")) - 1),
          slice(col("syms"), lit(2), size(col("syms")) - 1),
          (a, b) => struct(a.as("left"), b.as("right")))).as("p"))
      .select(col("p.left").as("left"), col("p.right").as("right"), col("n"))

  /** Weighted adjacent-pair counts over the symbol table: the
    * statistics one BPE iteration ranks.
    */
  def pairCounts(symbols: DataFrame): DataFrame =
    wordPairs(symbols)
      .groupBy(col("left"), col("right"))
      .agg(sum(col("n")).as("pair_n"))

  /** True iff the word's symbol array contains (l, r) adjacently —
    * the "touched by this merge" predicate. Map-side only: no
    * shuffle, no explode.
    */
  private def hasAdjacent(l: String, r: String): org.apache.spark.sql.Column = {
    val k = greatest(lit(0), size(col("syms")) - 1)
    exists(
      zip_with(slice(col("syms"), lit(1), k), slice(col("syms"), lit(2), k),
        (a, b) => a === lit(l) && b === lit(r)),
      x => x)
  }

  /** Apply one merge (left,right → left||right) to every word:
    * greedy left-to-right fold, the standard BPE apply order.
    */
  private def applyMerge(symbols: DataFrame, left: String, right: String): DataFrame = {
    val l = lit(left)
    val r = lit(right)
    symbols.withColumn("syms",
      aggregate(
        col("syms"),
        array().cast("array<string>"),
        (acc, x) =>
          when(size(acc) > 0 && element_at(acc, -1) === l && x === r,
            concat(slice(acc, lit(1), size(acc) - 1), array(concat(l, r))))
            .otherwise(concat(acc, array(x)))))
  }

  /** Adjacent triples of a symbol array: (a, b, c) structs. */
  private def zipTriples(syms: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val k = size(syms) - 2
    zip_with(
      zip_with(slice(syms, lit(1), k), slice(syms, lit(2), k),
        (a, b) => struct(a.as("a"), b.as("b"))),
      slice(syms, lit(3), k),
      (ab, c) => struct(ab.getField("a").as("a"), ab.getField("b").as("b"), c.as("c")))
  }

  /** Two jobs per training PASS: (1) the top `topK` weighted pair
    * counts (a TakeOrdered, same cost as the old one-merge pick), then
    * (2) each collected pair's NEW-PAIR BOUND — the largest weighted
    * count of any adjacent triple containing the pair. Merging (l,r)
    * can only create pairs of the forms (x, lr) and (lr, y), and every
    * occurrence of such a pair corresponds to a pre-pass triple
    * occurrence (x,l,r) / (l,r,y), so max over those triple counts
    * bounds every pair the merge can create — the driver uses it to
    * decide how far down the sorted pair list a batch stays exactly
    * sequential. The triple aggregation is FILTERED to triples
    * touching a collected pair (broadcast semi-joins on the tiny
    * candidate list) so the heavy all-triples shuffle never happens.
    * Returns the top pairs in selection order (count desc, lex).
    */
  /** New-pair bounds for a small candidate set — the largest weighted
    * count of any adjacent triple containing each pair, with the
    * triple aggregation FILTERED to the candidates (broadcast
    * semi-joins on the tiny pair list), so the heavy all-triples
    * shuffle never happens.
    */
  private def newPairBounds(
      symbols: DataFrame,
      cands: Seq[(String, String)]): Map[(String, String), Long] = {
    val spark = symbols.sparkSession
    import spark.implicits._
    val cand = broadcast(cands.toDF("_cl", "_cr"))
    val trip = symbols.filter(size(col("syms")) >= 3)
      .select(col("n"), explode(zipTriples(col("syms"))).as("t"))
      .select(col("n"), col("t.a").as("a"), col("t.b").as("b"), col("t.c").as("c"))
    def sideBound(lc: String, rc: String) = trip
      .join(cand, col(lc) === col("_cl") && col(rc) === col("_cr"), "left_semi")
      .groupBy(col("a"), col("b"), col("c")).agg(sum(col("n")).as("tn"))
      .groupBy(col(lc).as("left"), col(rc).as("right"))
      .agg(max(col("tn")).as("new_bound"))
    sideBound("b", "c").unionAll(sideBound("a", "b"))
      .groupBy(col("left"), col("right")).agg(max(col("new_bound")).as("new_bound"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
  }

  /** Max CURRENT count of any pair already involving a candidate
    * merge's product symbol l+r. The product is a plain string
    * concatenation, so it can equal a symbol that already exists via
    * a different split ('a'+'bc' and 'ab'+'c' both make 'abc') — a
    * created pair (x, abc) then lands ON TOP of a pre-existing
    * (x, abc) count, and the triple bound alone under-counts the
    * post-merge total. One filtered agg over the maintained pair
    * table (broadcast semi-join on the tiny concat list).
    */
  private def preExistingMax(
      counts: DataFrame,
      concats: Seq[String]): Map[String, Long] = {
    val spark = counts.sparkSession
    import spark.implicits._
    val cc = broadcast(concats.toDF("_cc"))
    counts.select(col("left").as("_sym"), col("pair_n"))
      .unionAll(counts.select(col("right").as("_sym"), col("pair_n")))
      .join(cc, col("_sym") === col("_cc"), "left_semi")
      .groupBy(col("_sym")).agg(max(col("pair_n")).as("pre_max"))
      .collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** Longest SYMBOL-DISJOINT prefix of the sorted pair list — merging
    * p_j then cannot change any later p_i's count (overlapping pairs
    * only ever lose occurrences, so the first overlap ends the
    * batch), and the recorded counts equal sequential's at-selection
    * counts. Pairs beyond the collected topK rank below every
    * candidate by sortedness and cannot interfere.
    *
    * The used-set also holds each committed merge's CONCATENATION
    * l+r: a later candidate whose own symbol equals an earlier
    * merge's product would have its recorded count changed mid-batch
    * (the merge manufactures fresh copies of that symbol — and the
    * symbol string may ALSO arise from a different split, e.g.
    * 'a'+'bc' vs 'ab'+'c', so this is not implied by symbol
    * disjointness). The first such candidate ends the batch.
    */
  private def disjointPrefix(
      cands: Array[(String, String, Long)],
      maxBatch: Int): Seq[(String, String, Long)] = {
    val used = scala.collection.mutable.Set.empty[String]
    val out = Seq.newBuilder[(String, String, Long)]
    var taken = 0
    var i = 0
    var stop = false
    while (i < cands.length && taken < maxBatch && !stop) {
      val c @ (l, r, _) = cands(i)
      if (used(l) || used(r)) stop = true
      else {
        out += c
        used += l; used += r; used += l + r
        taken += 1
      }
      i += 1
    }
    out.result()
  }

  /** Cut the disjoint prefix at the first candidate whose count does
    * NOT stay strictly above the largest new-pair bound of the merges
    * before it — a pair created mid-pass can therefore never outrank
    * (or lex-tie) the next selection, so the batch is provably the
    * exact sequential pick order. The caller's bound per merge is
    * created-occurrences (triple bound) PLUS the pre-existing count
    * of pairs already involving the product symbol (`preExistingMax`)
    * — the post-merge total of a colliding pair is the sum of both.
    */
  private def boundCut(
      prefix: Seq[(String, String, Long)],
      bounds: Map[(String, String), Long]): Seq[(String, String, Long)] = {
    var newBound = -1L
    val out = Seq.newBuilder[(String, String, Long)]
    var stop = false
    prefix.foreach { case c @ (l, r, n) =>
      if (!stop) {
        if (newBound >= n) stop = true
        else {
          out += c
          newBound = math.max(newBound, bounds.getOrElse((l, r), 0L))
        }
      }
    }
    out.result()
  }

  /** EXACT sequential BPE over a collected word-frequency table —
    * the driver fast lane of the size-gated hybrid (same philosophy
    * as TextRank's driver power loop). Classic BPE trainers are
    * driver-side for a reason: after the ONE distributed corpus
    * shuffle (`wordCounts`), the distinct-word table is a few MB at
    * any corpus size short of web scale, and an in-memory
    * delta-maintained merge loop runs thousands of merges in seconds
    * with zero job-scheduling overhead. Pair counts are maintained
    * incrementally (merge touches only words containing the pair,
    * found via an inverted pair→word index with lazy invalidation),
    * so per-merge cost is O(touched words), not O(vocab).
    */
  private[operators] def trainInMemory(
      words: Seq[(String, Long)],
      iters: Int): Seq[(Int, String, String, Long)] = {
    import scala.collection.mutable
    val syms = mutable.ArrayBuffer.empty[Array[String]]
    val wts = mutable.ArrayBuffer.empty[Long]
    locally { // collapse identical char splits up front
      val seen = mutable.Map.empty[String, Int]
      for ((w, n) <- words) seen.get(w) match {
        case Some(i) => wts(i) += n
        case None =>
          seen(w) = syms.length
          syms += w.map(_.toString).toArray
          wts += n
      }
    }
    val counts = mutable.Map.empty[(String, String), Long]
    // pair -> word ids that held the pair when it was added; entries
    // go stale after merges and are re-checked against the live
    // symbol array on use (lazy invalidation beats eager cleanup)
    val index = mutable.Map.empty[(String, String), mutable.Set[Int]]
    def foldWord(i: Int, sign: Long, reindex: Boolean): Unit = {
      val s = syms(i); val n = wts(i) * sign
      var j = 0
      while (j < s.length - 1) {
        val p = (s(j), s(j + 1))
        val c = counts.getOrElse(p, 0L) + n
        if (c == 0L) counts.remove(p) else counts(p) = c
        if (reindex) index.getOrElseUpdate(p, mutable.Set.empty) += i
        j += 1
      }
    }
    syms.indices.foreach(foldWord(_, 1L, reindex = true))
    val out = Seq.newBuilder[(Int, String, String, Long)]
    var rank = 0
    var exhausted = false
    while (rank < iters && !exhausted) {
      if (counts.isEmpty) exhausted = true
      else {
        val ((l, r), n) = counts.minBy { case ((l, r), n) => (-n, l, r) }
        rank += 1
        out += ((rank, l, r, n))
        val touched = index.getOrElse((l, r), mutable.Set.empty[Int]).toArray
        index.remove((l, r))
        touched.foreach { i =>
          val s = syms(i)
          var has = false
          var j = 0
          while (!has && j < s.length - 1) { has = s(j) == l && s(j + 1) == r; j += 1 }
          if (has) { // stale entries skipped here
            foldWord(i, -1L, reindex = false)
            val b = Array.newBuilder[String]
            var k = 0
            while (k < s.length) {
              if (k < s.length - 1 && s(k) == l && s(k + 1) == r) { b += (l + r); k += 2 }
              else { b += s(k); k += 1 }
            }
            syms(i) = b.result()
            foldWord(i, 1L, reindex = true)
          }
        }
      }
    }
    out.result()
  }

  /** Train `iters` merges. Returns the merge table:
    * (rank, left, right, pair_n). Deterministic: best pair = highest
    * weighted count, ties to the lexicographically smallest
    * (left, right) — BYTE-IDENTICAL to one-merge-at-a-time training.
    *
    * SIZE-GATED HYBRID. The corpus is collapsed once to the distinct
    * word-frequency table (one shuffle — the only corpus-sized job).
    * When that table fits under `driverVocabBound` rows it is
    * collected and trained by the exact in-memory loop
    * (`trainInMemory`) — at 1M distinct words that is tens of MB on
    * the driver and merges run at memory speed, which is how every
    * production BPE trainer works. Beyond the bound (web-scale
    * corpora where even the vocab table is big) the DISTRIBUTED
    * batched loop below takes over: each pass runs one pair-stats
    * job and commits every leading pair the disjointness +
    * new-pair-bound rules prove the sequential algorithm would pick
    * next, then applies them in rank order — a 32k-merge vocabulary
    * costs hundreds of Spark jobs instead of 32k, and the output
    * stays exactly sequential (BpeSpec checks both paths
    * merge-for-merge against an independent reference).
    */
  def train(docs: DataFrame, iters: Int, textCol: String = "text",
      maxBatch: Int = 32,
      batchThreshold: Int = 4,
      driverVocabBound: Long = 1000000L): Seq[(Int, String, String, Long)] = {
    require(maxBatch >= 1, "maxBatch must be >= 1")
    require(batchThreshold >= 2, "batchThreshold must be >= 2")
    // materialize the word table ONCE — otherwise every early
    // iteration's pair-count job re-scans and re-tokenizes the whole
    // corpus (measured 9.4s → 4.9s for 8 merges at sf0.1)
    val words = wordCounts(docs, textCol).localCheckpoint(true)
    if (words.count() <= driverVocabBound)
      return trainInMemory(
        words.collect().map(r => (r.getString(0), r.getLong(1))).toSeq, iters)
    var symbols = toSymbols(words).localCheckpoint(true)
    // DELTA-MAINTAINED pair table: seeded from the full symbol table
    // once, then each pass folds in only the TOUCHED words' pair
    // deltas — a merge changes exactly the words containing its pair
    // adjacently (new adjacencies always involve the fused symbol,
    // and the used-concat rule keeps batch pairs off earlier
    // products, so untouched words stay untouched through a whole
    // batch). Per-pass explode cost is O(touched words), not
    // O(vocab): at a real 32k-merge vocabulary most passes touch a
    // thin slice of the word table, which is what makes long trains
    // tractable — the full recount per pass was the old bottleneck.
    var counts = pairCounts(symbols).localCheckpoint(true)
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var rank = 0
    var exhausted = false
    while (rank < iters && !exhausted) {
      val budget = math.min(maxBatch, iters - rank)
      // job 1: top pairs — now a TakeOrdered over the maintained
      // table, no re-explode of the vocabulary
      val cands = counts
        .orderBy(col("pair_n").desc, col("left"), col("right"))
        .limit(math.max(64, maxBatch * 4))
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      if (cands.isEmpty) exhausted = true
      else {
        val prefix = disjointPrefix(cands, budget)
        // the bounds job only pays for itself when the pass can batch
        // SUBSTANTIALLY: early char-level passes conflict heavily
        // (top pairs share letters, prefixes of 1-3) and a 2-merge
        // batch costs more in triple stats than it saves in passes —
        // measured 3.8s vs 2.0s for 20 merges at sf0.1. Below the
        // cutoff the pass takes the single top merge at exactly the
        // sequential per-merge cost; large-vocab passes (disjoint
        // word-level tokens) clear it and amortize.
        val batch =
          if (prefix.length < batchThreshold) prefix.take(1)
          else {
            val pairs = prefix.map(p => (p._1, p._2))
            val created = newPairBounds(symbols, pairs)
            val pre = preExistingMax(counts, pairs.map { case (l, r) => l + r }.distinct)
            // post-merge count of a pair involving product l+r is
            // bounded by created occurrences + what already existed
            // under that symbol string (collision via another split)
            val bounds = pairs.map { case (l, r) =>
              (l, r) -> (created.getOrElse((l, r), 0L) + pre.getOrElse(l + r, 0L))
            }.toMap
            boundCut(prefix, bounds)
          }
        batch.foreach { case (l, r, n) =>
          rank += 1
          merges += ((rank, l, r, n))
        }
        // apply in rank order (greedy leftmost per merge) to the
        // touched slice only, then fold the pair delta into the
        // maintained table. BOTH tables are eagerly checkpointed
        // EVERY pass: the touched/untouched split doubles plan
        // branches per un-checkpointed pass (2^k leaf scans after k
        // passes) and AQE re-plans per action, so lineage left to
        // grow re-executes the whole window on every collect — flat
        // per-pass materialization of two vocab-sized in-memory
        // tables is strictly cheaper (measured: the every-4-passes
        // cadence turned a 120-pass spec train pathological).
        val touchedPred = batch.map { case (l, r, _) => hasAdjacent(l, r) }.reduce(_ || _)
        val touched = symbols.filter(touchedPred)
        val untouched = symbols.filter(!touchedPred)
        val mergedTouched = batch.foldLeft(touched) { case (acc, (l, r, _)) =>
          applyMerge(acc, l, r)
        }
        val removed = wordPairs(touched).select(col("left"), col("right"), (-col("n")).as("n"))
        val added = wordPairs(mergedTouched)
        // coalesce: unionAll CONCATENATES partition lists (32 + 32),
        // and the next pass unions again — without the narrow merge
        // the partition count doubles every pass and by pass ~15 the
        // scheduler is launching 2^15 × 32 near-empty tasks per job
        symbols = untouched.unionAll(mergedTouched)
          .coalesce(symbols.sparkSession.sparkContext.defaultParallelism)
          .localCheckpoint(true)
        counts = counts.select(col("left"), col("right"), col("pair_n").as("n"))
          .unionAll(added).unionAll(removed)
          .groupBy(col("left"), col("right")).agg(sum(col("n")).as("pair_n"))
          .filter(col("pair_n") > 0)
          .localCheckpoint(true)
      }
    }
    merges.result()
  }

  /** The learned merges as a DataFrame (for the query registry). */
  def trainDf(spark: SparkSession, docs: DataFrame, iters: Int): DataFrame = {
    import spark.implicits._
    train(docs, iters).toDF("rank", "left", "right", "pair_n")
  }

  /** Encode words with a learned merge list: the merges replayed in
    * rank order (each a fold), yielding each word's final symbol
    * sequence — what a tokenizer ships to production.
    */
  def segment(words: DataFrame, merges: Seq[(Int, String, String, Long)]): DataFrame =
    merges.sortBy(_._1).foldLeft(toSymbols(words)) { case (acc, (_, l, r, _)) =>
      applyMerge(acc, l, r)
    }
}
