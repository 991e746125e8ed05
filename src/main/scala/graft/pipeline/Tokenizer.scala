package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.DatasetBridge

/** Byte-pair-encoding tokenizer training + encoding — the canonical
  * pre-training-corpus job (learn a subword vocabulary from the data,
  * then tokenize the data with it).
  *
  * Scale shape: the corpus is touched ONCE (word-frequency shuffle);
  * every merge round then runs over the distinct-WORD table, which is
  * vocabulary-sized (Heaps' law: ~√N types for N tokens), not
  * corpus-sized — at 100 TB the word table is gigabytes, and each round
  * is a small groupBy + a 1-row argmax to the driver (the sequential
  * driver round-trips are inherent to BPE's greedy definition, and they
  * iterate over the small table). Encoding is a pure map stage with the
  * learned merge ranks broadcast in the UDF closure.
  *
  * Determinism: pair-frequency ties break lexicographically on (left,
  * right), so the learned merge list is identical on any engine and any
  * partitioning.
  */
object Tokenizer {

  /** Word-frequency table of a corpus: lowercased, whitespace-split —
    * the same tokenization convention as the corpus_vocab oracle. One
    * shuffle with map-side combine. */
  def wordCounts(docs: DataFrame, text: Column): DataFrame =
    docs.select(explode(split(lower(trim(text)), "\\s+")).as("word"))
      .where(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("f"))

  /** Weighted adjacent-symbol-pair counts over a (syms, f) word table —
    * one round's merge candidates. Declarative slice+zip, no UDF. */
  def pairCounts(words: DataFrame): DataFrame =
    words
      .select(col("f"), explode(zip_with(
        slice(col("syms"), lit(1), size(col("syms")) - 1),
        slice(col("syms"), lit(2), size(col("syms")) - 1),
        (x, y) => struct(x.as("l"), y.as("r")))).as("pr"))
      .groupBy(col("pr.l").as("l"), col("pr.r").as("r"))
      .agg(sum(col("f")).as("pf"))

  private val mergeOnce = udf(
    (syms: Seq[String], a: String, b: String) => {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < syms.length) {
        if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
          out += (a + b); i += 2
        } else { out += syms(i); i += 1 }
      }
      out.toSeq
    })

  /** Learn `numMerges` BPE merge rules from a corpus. Returns the
    * ordered rule list — rule k was the most frequent adjacent symbol
    * pair (weighted by word frequency) after rules 0..k-1 were applied,
    * ties broken lexicographically. Stops early when no pair remains.
    *
    * Each round: pair-count groupBy over the word table (map-side
    * combine), `limit(1)` argmax (ONE row to the driver), then a narrow
    * map applying the merge. The word table is re-persisted per round
    * and the predecessor unpersisted, so lineage stays one round deep. */
  def trainBpe(docs: DataFrame, text: Column, numMerges: Int)
      : Seq[(String, String)] = {
    require(numMerges > 0, "numMerges must be positive")
    // per-round state is materialized AND lineage-truncated
    // (localCheckpoint): plain persist keeps the logical plan, which
    // compounds across rounds until planning itself OOMs — same
    // discipline as Dedup.duplicateClusters' label-propagation loop.
    // The checkpoints are LAZY: each round's argmax collect is the
    // first (and only) action over that round's word table, so it
    // materializes the checkpoint as a side effect — ONE Spark job per
    // merge round instead of two (the eager form paid a dedicated
    // checkpoint job per round; at 30 merges over a vocabulary-sized
    // table the per-job scheduling floor, not compute, was the wall).
    // The superseded generation's blocks are released only AFTER the
    // collect that materializes its successor.
    //
    // The loop's queries are all over the SAME vocabulary-sized table;
    // AQE's per-query stage orchestration (a separate job per shuffle
    // stage plus runtime re-optimization) is pure driver overhead here
    // — the driver round-trip floor, not data volume, is the wall of a
    // numMerges-round greedy loop at any scale. AQE goes off in a
    // session of the loop's own (same SparkContext and cached data, its
    // own SQL conf), so queries running beside it on the caller's
    // session keep theirs.
    val loop = docs.sparkSession.newSession()
    loop.conf.set("spark.sql.adaptive.enabled", "false")
    var words = wordCounts(
        DatasetBridge.ofRows(loop, docs.queryExecution.analyzed), text)
      .select(split(col("word"), "").as("syms"), col("f"))
      .localCheckpoint(false)
    var prev: Option[DataFrame] = None
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var exhausted = false
    while (merges.length < numMerges && !exhausted) {
      val top = pairCounts(words)
        .orderBy(desc("pf"), col("l"), col("r")).limit(1).collect()
      // `words` is now checkpointed (the collect computed every
      // partition via the groupBy); its predecessor can be dropped
      prev.foreach(graft.util.Lineage.release)
      prev = None
      if (top.isEmpty) exhausted = true
      else {
        val (a, b) = (top(0).getString(0), top(0).getString(1))
        merges += ((a, b))
        val next = words
          .withColumn("syms", mergeOnce(col("syms"), lit(a), lit(b)))
          .localCheckpoint(false)
        // checkpoint blocks release through the RDD (Lineage), not
        // Dataset.unpersist (a no-op for checkpoints) — and only
        // after the next round's collect materialized the successor
        prev = Some(words)
        words = next
      }
    }
    prev.foreach(graft.util.Lineage.release)
    graft.util.Lineage.release(words)
    merges.toSeq
  }

  // ---- unigram-LM (SentencePiece-style) tokenizer ----------------------

  /** All substring occurrences of a word with length 1..maxLen — the
    * unigram seed-candidate generator (occurrence-weighted, so a
    * substring repeating inside one word counts each occurrence). */
  private val substringsUdf = udf((w: String, maxLen: Int) => {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < w.length) {
      var l = 1
      while (l <= maxLen && i + l <= w.length) {
        out += w.substring(i, i + l); l += 1
      }
      i += 1
    }
    out.toSeq
  })

  /** Fallback log-score of an out-of-vocabulary single character —
    * well below any real piece score at feasible corpus sizes
    * (ln(1/total) ≈ −28 even at 10¹² tokens) but finite, so encoding
    * is total on ANY input. */
  private val UnkCharScore = -100.0

  /** Viterbi segmentation of one word under broadcast piece scores:
    * maximize the summed log-probability; ties break to FEWER pieces,
    * then to the longer final piece — total and deterministic, so the
    * hard-EM counts below are independent of partitioning. */
  private[pipeline] def viterbiSegment(w: String,
      score: Map[String, Double], maxLen: Int): Seq[String] = {
    val n = w.length
    if (n == 0) return Nil
    val best = Array.fill(n + 1)(Double.NegativeInfinity)
    val nPieces = new Array[Int](n + 1)
    val lastLen = new Array[Int](n + 1)
    best(0) = 0.0
    var i = 1
    while (i <= n) {
      val maxL = math.min(maxLen, i)
      var l = 1
      while (l <= maxL) {
        val piece = w.substring(i - l, i)
        val s = score.get(piece) match {
          case Some(x)            => x
          case None if l == 1     => UnkCharScore
          case None               => Double.NegativeInfinity
        }
        if (s != Double.NegativeInfinity &&
            best(i - l) != Double.NegativeInfinity) {
          val cand = best(i - l) + s
          val candN = nPieces(i - l) + 1
          val better = cand > best(i) ||
            (cand == best(i) && (candN < nPieces(i) ||
              (candN == nPieces(i) && l > lastLen(i))))
          if (better) {
            best(i) = cand; nPieces(i) = candN; lastLen(i) = l
          }
        }
        l += 1
      }
      i += 1
    }
    val out = new Array[String](nPieces(n))
    var pos = n
    var k = nPieces(n) - 1
    while (pos > 0) {
      val l = lastLen(pos)
      out(k) = w.substring(pos - l, pos)
      k -= 1; pos -= l
    }
    out.toSeq
  }

  /** Add-one-smoothed log-probabilities of a (piece, count) vocab. */
  private def unigramScores(vocab: Seq[(String, Long)])
      : Map[String, Double] = {
    val total = vocab.map(_._2 + 1L).sum.toDouble
    vocab.map { case (p, c) => p -> math.log((c + 1L) / total) }.toMap
  }

  /** Learn a unigram-LM subword vocabulary (the SentencePiece trainer
    * shape, hard-EM variant): seed with the most frequent substrings,
    * then alternate Viterbi segmentation of the word table (E-step)
    * with count-based re-estimation + pruning to `vocabTarget`
    * (M-step). Every single character seen in the corpus is always
    * kept, so encoding stays total; multi-char slots go to the
    * highest-count pieces, ties broken lexicographically.
    *
    * Scale shape — the [[trainBpe]] story: the corpus is touched once
    * (word-frequency shuffle); every EM round is one UDF map + one
    * map-side-combined groupBy over the vocabulary-sized WORD table,
    * and only the bounded vocab (≤ seedMultiplier × vocabTarget +
    * alphabet rows) ever reaches the driver. The word table is
    * lineage-truncated once up front; rounds are stateless given the
    * broadcast scores, so nothing accumulates across rounds.
    *
    * Returns (piece, count) sorted by (count desc, piece) — counts are
    * the final round's exact Viterbi counts (integers). */
  def trainUnigram(docs: DataFrame, text: Column, vocabTarget: Int,
      maxPieceLen: Int = 6, seedMultiplier: Int = 4, rounds: Int = 2)
      : Seq[(String, Long)] = {
    require(vocabTarget > 0 && maxPieceLen > 0 && rounds > 0)
    val words = wordCounts(docs, text).localCheckpoint(true)
    val seeds = words
      .select(col("f"),
        explode(substringsUdf(col("word"), lit(maxPieceLen))).as("piece"))
      .groupBy("piece").agg(sum(col("f")).as("cnt"))
    val charRows = seeds.where(length(col("piece")) === 1).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val multiRows = seeds.where(length(col("piece")) > 1)
      .orderBy(desc("cnt"), col("piece"))
      .limit(seedMultiplier * vocabTarget).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val charSet = charRows.map(_._1).toSet
    var vocab: Seq[(String, Long)] = (charRows ++ multiRows).toSeq
    for (_ <- 1 to rounds) {
      val scores = unigramScores(vocab)
      val ml = maxPieceLen
      val seg = udf((w: String) => viterbiSegment(w, scores, ml))
      val counts = words
        .select(col("f"), explode(seg(col("word"))).as("piece"))
        .groupBy("piece").agg(sum(col("f")).as("cnt"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val singles = charSet.toSeq.sorted
        .map(c => (c, counts.getOrElse(c, 0L)))
      val multiSlots = math.max(vocabTarget - singles.size, 0)
      val multis = counts.toSeq
        .filter { case (p, c) => p.length > 1 && c > 0L }
        .sortBy { case (p, c) => (-c, p) }
        .take(multiSlots)
      vocab = singles ++ multis
    }
    graft.util.Lineage.release(words)
    vocab.sortBy { case (p, c) => (-c, p) }
  }

  /** Tokenize text with a learned unigram vocab: per word, the same
    * Viterbi segmentation the trainer used — pure map stage, vocab
    * scores ride the UDF closure. Lossless on any input (OOV
    * characters fall back to single-char pieces). */
  def encodeUnigram(text: Column, vocab: Seq[(String, Long)],
      maxPieceLen: Int = 6): Column = {
    val scores = unigramScores(vocab)
    val ml = maxPieceLen
    val enc = udf((t: String) => {
      if (t == null) null
      else t.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
        .flatMap(w => viterbiSegment(w, scores, ml))
    })
    enc(text)
  }

  /** Tokenize text with a learned merge list: per word, repeatedly
    * merge the adjacent pair with the best (lowest-index) rank until no
    * learned pair remains — the standard rank-greedy BPE encoder.
    * Returns the token array for the whole text (words concatenated in
    * order). Pure map stage; the rank table rides the UDF closure
    * (vocabulary-sized, broadcast with the task binary). */
  def encodeBpe(text: Column, merges: Seq[(String, String)]): Column = {
    val ranks: Map[(String, String), Int] =
      merges.zipWithIndex.map { case (p, i) => p -> i }.toMap
    val enc = udf((t: String) => {
      if (t == null) null
      else t.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
        .flatMap { w =>
          var syms = w.split("").toVector
          var done = false
          while (!done && syms.length > 1) {
            var bestRank = Int.MaxValue
            var bestIdx = -1
            var i = 0
            while (i < syms.length - 1) {
              val r = ranks.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
              if (r < bestRank) { bestRank = r; bestIdx = i }
              i += 1
            }
            if (bestIdx < 0) done = true
            else {
              // merge every occurrence of the best-ranked pair, left
              // to right (mirrors the training round's application)
              val a = syms(bestIdx)
              val b = syms(bestIdx + 1)
              val out = Vector.newBuilder[String]
              var j = 0
              while (j < syms.length) {
                if (j < syms.length - 1 && syms(j) == a &&
                    syms(j + 1) == b) {
                  out += (a + b); j += 2
                } else { out += syms(j); j += 1 }
              }
              syms = out.result()
            }
          }
          syms
        }
    })
    enc(text)
  }
}
