package graft

import graft.text.{Bpe, Unigram}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Tokenizer realism at a REAL vocabulary scale: every constant here is
  * pinned from the deterministic [[ZipfCorpus]] fixture (30k docs,
  * ~113k distinct words — the driver corpus has 31 distinct words at
  * every scale factor, where "greedy attains the Viterbi optimum" and
  * "the inventory fills" are trivially true and prove nothing).
  *
  * The retired round-8 Zipf scale probe (PLANS.md, "Retired probes")
  * measured the same fixture at 10× (300k docs): the encode join-back flips BroadcastHashJoin → SortMergeJoin cleanly, the DP cost
  * stays on the distinct-word frame, and BM25/minhash scale sublinearly /
  * linearly (PLANS.md round-8 section records the numbers). */
class ZipfFixtureSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("1e5-vocab corpus: inventory fills, fertility gap is real, BPE merges compose") {
    val docs = ZipfCorpus.corpus(spark, 30000L, 120000).cache()
    val wc = Bpe.wordCounts(docs, "text").cache()
    try {
      // Heaps-scale distinct-word frame — the regime every "vocab-scale /
      // broadcast join-back" claim is actually about
      assert(wc.count() == 113145L)

      // the multi-piece inventory FILLS its budget (8192 multis + 18
      // alphabet singles); at 31 words it could not even reach 64
      val vocab = Unigram.learnFromCounts(wc, vocabMulti = 8192)
      assert(vocab.size == 8210)

      // corpus fertilities, exact: greedy pays 5 extra pieces over the
      // Viterbi optimum — a REAL (if small, MaxPieceLen = 4) gap, and the
      // direction is pinned: greedy must never use fewer pieces
      val vit = Unigram.encodedLength(docs, "text", "doc_id", vocab)
        .agg(sum(col("n_tokens"))).head().getLong(0)
      val greedy = Unigram.encodedLengthGreedy(docs, "text", "doc_id", vocab)
        .agg(sum(col("n_tokens"))).head().getLong(0)
      assert(vit == 5295086L)
      assert(greedy == 5295091L)

      // exactly 2 distinct words are greedy traps (longest-match commits
      // to a prefix whose tail needs more pieces than the optimum)
      val costMap = vocab.map(p => p.piece -> (Unigram.CostBase + p.rank)).toMap
      val pieceSet = vocab.map(_.piece).toSet
      val gapWords = wc.select(col("__w")).as[String]
        .mapPartitions(ws => ws.map { w =>
          val v = Unigram.encodeWord(w, costMap) / Unigram.CostBase
          val g = Unigram.encodeWordGreedy(w, pieceSet)
          assert(g >= v, s"greedy beat Viterbi on '$w' — impossible")
          if (g > v) 1L else 0L
        }).reduce(_ + _)
      assert(gapWords == 2L)

      // BPE at a Zipfian distribution learns a SECOND-ORDER merge (in+g
      // builds on i+n) — merge composition, not just frequent bigrams
      val merges = Bpe.learnFromCounts(wc, nMerges = 8)
        .map(m => s"${m.lhs}+${m.rhs}")
      assert(merges == Seq("i+n", "o+n", "a+l", "a+n", "b+e", "t+i",
        "in+g", "u+s"))
    } finally {
      wc.unpersist(blocking = false)
      docs.unpersist(blocking = false)
      graft.ops.Caches.release()
    }
  }
}
