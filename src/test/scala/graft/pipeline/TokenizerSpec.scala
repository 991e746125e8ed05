package graft.pipeline

import graft.TestSpark

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** BPE tokenizer training + encoding: hand-computed merge sequences,
  * greedy-overlap semantics, lossless round-trip, determinism. */
class TokenizerSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("pairCounts weights adjacent pairs by word frequency") {
    val words = Seq((Seq("a", "b", "c"), 2L), (Seq("b", "c"), 3L))
      .toDF("syms", "f")
    val got = Tokenizer.pairCounts(words).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    assert(got === Map(("a", "b") -> 2L, ("b", "c") -> 5L))
  }

  test("trainBpe learns the hand-computed merge sequence") {
    val docs = Seq((0L, "aa ab"), (1L, "aa aa")).toDF("doc_id", "text")
    // word counts: aa->3, ab->1; round 1 pairs: (a,a)->3, (a,b)->1
    // round 2 (after aa merged): (a,b)->1
    val merges = Tokenizer.trainBpe(docs, col("text"), numMerges = 5)
    assert(merges === Seq(("a", "a"), ("a", "b")))
  }

  test("trainBpe leaves the shared session's AQE setting alone while " +
      "it runs") {
    val docs = Seq((0L, "aa ab"), (1L, "aa aa")).toDF("doc_id", "text")
    val aqe = "spark.sql.adaptive.enabled"
    assert(spark.conf.get(aqe) === "true")
    val run = scala.concurrent.Future(
      Tokenizer.trainBpe(docs, col("text"), numMerges = 5))(
      scala.concurrent.ExecutionContext.global)
    val seen = scala.collection.mutable.Set.empty[String]
    while (!run.isCompleted) {
      seen += spark.conf.get(aqe)
      Thread.sleep(1)
    }
    val merges = scala.concurrent.Await.result(run,
      scala.concurrent.duration.Duration.Zero)
    assert(seen === Set("true"))
    assert(merges === Seq(("a", "a"), ("a", "b")))
  }

  test("pair-frequency ties break lexicographically") {
    val docs = Seq((0L, "xy xy cd cd")).toDF("doc_id", "text")
    val merges = Tokenizer.trainBpe(docs, col("text"), numMerges = 1)
    assert(merges === Seq(("c", "d"))) // (c,d) and (x,y) tie at 2
  }

  test("encodeBpe applies best-rank merges; overlaps merge left-to-right") {
    val merges = Seq(("a", "a"), ("a", "b"))
    val out = Seq("aab aa", "aaa", "zzz")
      .toDF("t").select(Tokenizer.encodeBpe(col("t"), merges).as("toks"))
      .collect().map(_.getSeq[String](0))
    assert(out(0) === Seq("aa", "b", "aa"))
    assert(out(1) === Seq("aa", "a")) // greedy left-to-right on overlap
    assert(out(2) === Seq("z", "z", "z")) // no learned pair applies
  }

  test("rank order beats position: the earlier-learned merge wins") {
    // in "cab": pairs (c,a) rank1 and (a,b) rank0 → (a,b) merges first,
    // leaving c + ab (no (c,ab) rule), NOT ca + b
    val out = Seq("cab").toDF("t")
      .select(Tokenizer.encodeBpe(col("t"),
        Seq(("a", "b"), ("c", "a"))).as("toks"))
      .collect()(0).getSeq[String](0)
    assert(out === Seq("c", "ab"))
  }

  test("encoding is lossless and compresses on real corpus text") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet").limit(50)
    val merges = Tokenizer.trainBpe(docs, col("text"), numMerges = 20)
    assert(merges.length === 20)
    val enc = docs.select(col("text"),
      Tokenizer.encodeBpe(col("text"), merges).as("toks"))
    val rows = enc.select(
      concat_ws("", col("toks")).as("joined"),
      regexp_replace(lower(trim(col("text"))), "\\s+", "").as("norm"),
      size(col("toks")).as("n_toks"),
      length(regexp_replace(lower(trim(col("text"))), "\\s+", ""))
        .as("n_chars")).collect()
    rows.foreach { r =>
      assert(r.getAs[String]("joined") === r.getAs[String]("norm"))
      assert(r.getAs[Int]("n_toks") < r.getAs[Int]("n_chars"),
        "20 merges should compress English prose")
    }
  }

  test("training is independent of input partitioning") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet").limit(30)
    val m1 = Tokenizer.trainBpe(docs, col("text"), 8)
    val m2 = Tokenizer.trainBpe(docs.repartition(7), col("text"), 8)
    assert(m1 === m2)
  }

  // ---- unigram-LM tokenizer ----------------------------------------------

  test("trainUnigram keeps every corpus character and promotes the " +
      "dominant substring to a piece") {
    val docs = Seq((0L, "abab abab abab"), (1L, "abab cd"))
      .toDF("doc_id", "text")
    val vocab = Tokenizer.trainUnigram(docs, col("text"),
      vocabTarget = 8, maxPieceLen = 4, rounds = 2)
    val pieces = vocab.map(_._1).toSet
    assert(Set("a", "b", "c", "d").subsetOf(pieces), s"chars kept: $vocab")
    assert(pieces.contains("abab") || pieces.contains("ab"),
      s"frequent substring promoted: $vocab")
    assert(vocab.size <= 8)
  }

  test("encodeUnigram is lossless, total on OOV characters, and uses " +
      "multi-char pieces") {
    val docs = Seq((0L, "hello hello world world hello"),
      (1L, "hello world")).toDF("doc_id", "text")
    val vocab = Tokenizer.trainUnigram(docs, col("text"),
      vocabTarget = 20, maxPieceLen = 5, rounds = 2)
    val enc = Seq((0L, "hello world"), (1L, "XyZ!? hello"), (2L, ""),
      (3L, "unseen"))
      .toDF("doc_id", "text")
      .select(col("doc_id"),
        Tokenizer.encodeUnigram(col("text"), vocab, maxPieceLen = 5)
          .as("toks"),
        regexp_replace(lower(trim(col("text"))), "\\s+", "").as("norm"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getSeq[String](1), r.getAs[String]("norm")))).toMap
    enc.foreach { case (id, (toks, norm)) =>
      assert(toks.mkString("") === norm, s"doc $id not lossless")
    }
    assert(enc(0L)._1.exists(_.length > 1),
      s"no multi-char piece used: ${enc(0L)._1}")
  }

  test("trainUnigram is independent of input partitioning") {
    val docs = (0L until 40L)
      .map(i => (i, s"the quick brown fox number$i the the quick"))
    val a = Tokenizer.trainUnigram(docs.toDF("doc_id", "text"),
      col("text"), vocabTarget = 30, maxPieceLen = 4)
    val b = Tokenizer.trainUnigram(
      docs.toDF("doc_id", "text").repartition(13), col("text"),
      vocabTarget = 30, maxPieceLen = 4)
    assert(a === b)
  }

  test("viterbiSegment prefers fewer pieces on score ties and maximizes " +
      "log-probability") {
    // "ab" vs "a"+"b": with p(ab) = p(a)·p(b) exactly, fewer wins
    val s = Map("a" -> math.log(0.25), "b" -> math.log(0.25),
      "ab" -> math.log(0.0625))
    assert(Tokenizer.viterbiSegment("ab", s, 2) === Seq("ab"))
    // higher-probability piece beats the tie rule
    val s2 = Map("a" -> math.log(0.4), "b" -> math.log(0.4),
      "ab" -> math.log(0.1))
    assert(Tokenizer.viterbiSegment("ab", s2, 2) === Seq("a", "b"))
  }

  test("trainBpe stops early when every word is one symbol") {
    val docs = Seq((0L, "ab ab")).toDF("doc_id", "text")
    assert(Tokenizer.trainBpe(docs, col("text"), 10) === Seq(("a", "b")))
  }
}
