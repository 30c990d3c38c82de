package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Unigram-LM-style tokenizer — the OTHER major subword family next to
  * [[Bpe]] (SentencePiece's unigram model, Kudo 2018): a piece inventory
  * scored from the corpus, and per-word Viterbi segmentation that picks
  * the best piece sequence, instead of BPE's greedy merge replay.
  *
  * Spark-first shape, same backbone as BPE training:
  *
  *   - one corpus-scale pass collapses the corpus to (word, count)
  *     (reuses [[Bpe.wordCounts]] — Heaps' law makes everything after
  *     vocab-scale);
  *   - the piece inventory is one bounded explode over the word table
  *     (every substring of length 1..[[MaxPieceLen]], ≤ 4·len pieces per
  *     word) plus a groupBy — map-side combined, never corpus-scale;
  *   - vocabulary selection is a TakeOrdered top-V (per-partition top-k
  *     folded on the driver, no global sort) UNIONed with ALL single
  *     characters, which guarantees every word segments;
  *   - the trained model is CONTROL data (≤ alphabet + V rows) and rides
  *     into the encode stage inside the closure; encoding runs the
  *     word-level Viterbi DP over the DISTINCT-word frame only, then a
  *     broadcast-sized join fans results back to documents.
  *
  * Determinism (the oracle seam): real unigram-LM training scores pieces
  * with EM-estimated log-probabilities — floating point, whose last-ulp
  * differences across engines flip rounded outputs. This model keeps the
  * Viterbi structure but scores with exact integers: a piece's cost is
  * `CostBase + rank` where rank orders the inventory by (count DESC,
  * piece ASC). Minimizing total cost therefore minimizes the PIECE COUNT
  * first (CostBase dominates any rank sum: ranks ≤ inventory size, words
  * bounded, rank sums < CostBase) and prefers frequent pieces among
  * equal-length segmentations. The minimum COST is a unique integer per
  * word — tie-breaks between segmentations never surface in the output —
  * so an external engine reproduces every value bit-for-bit with an
  * 8-round Bellman-Ford relaxation in SQL.
  *
  * Reference scope: qvarn-mr has no tokenizer (values are opaque JSON —
  * func.py:34-43); training-data extension surface next to [[Bpe]].
  */
object Unigram {

  /** Longest piece considered — SentencePiece's max_sentencepiece_length
    * analogue; bounds the inventory explode at 4·len per word. */
  val MaxPieceLen = 4

  /** Piece-count cost scale: total cost = CostBase·nPieces + Σ rank.
    * Valid while Σ rank < CostBase — checked in [[encodeWord]]. 10⁹ leaves
    * room for REALISTIC inventories (a 10⁵-piece vocab × 10³-char words ≈
    * 10⁸ max rank sum; the original 10⁶ capped |vocab|·len at ~10⁶, which
    * a Zipfian corpus at SentencePiece-scale vocabularies exceeds —
    * measured by the round-8 Zipf scale probe, see PLANS.md). Per-word costs stay < 10³·10⁹ ≈ 2⁵⁰, so
    * corpus-level BIGINT sums keep 13 bits of headroom per 10³ docs. */
  val CostBase = 1000000000L

  /** One inventory entry: 1-based rank in (count DESC, piece ASC) order. */
  final case class Piece(rank: Int, piece: String, cnt: Long)

  /** Weighted piece counts: every substring of length 1..[[MaxPieceLen]]
    * of every word OCCURRENCE (the word table's count weights each
    * word's substrings). Bounded explode over the vocab-scale word
    * table — one aggregation, map-side combined. */
  private[text] def pieceCounts(counts: DataFrame): DataFrame = {
    val w = col("__w")
    val subs = flatten(transform(sequence(lit(1), length(w)),
      s => transform(
        sequence(lit(1), least(lit(MaxPieceLen), length(w) - s + 1)),
        l => substring(w, s, l))))
    counts.filter(length(w) > 0)
      .select(col("__cnt"), explode(subs).as("piece"))
      .groupBy(col("piece")).agg(sum(col("__cnt")).as("cnt"))
  }

  /** Learn the inventory: ALL single characters (coverage — every word
    * stays segmentable) plus the top-`vocabMulti` multi-character pieces
    * by (count DESC, piece ASC), ranked together in the same order. */
  def learn(docs: DataFrame, textCol: String, vocabMulti: Int): Seq[Piece] =
    learnFromCounts(Bpe.wordCounts(docs, textCol), vocabMulti)

  /** Learn from an explicit (word, count) table — like
    * [[Bpe.learnFromCounts]], the seam incremental word-count
    * maintenance plugs into. */
  def learnFromCounts(counts: DataFrame, vocabMulti: Int): Seq[Piece] = {
    import counts.sparkSession.implicits._
    val pc = pieceCounts(counts).cache()
    try {
      val singles = pc.filter(length(col("piece")) === 1)
        .as[(String, Long)].collect()
      // TakeOrderedAndProject: per-partition top-k, folded on the driver
      val multis = pc.filter(length(col("piece")) >= 2)
        .orderBy(col("cnt").desc, col("piece"))
        .limit(vocabMulti)
        .as[(String, Long)].collect()
      (singles ++ multis)
        .sortBy { case (p, c) => (-c, p) }
        .zipWithIndex
        .map { case ((p, c), i) => Piece(i + 1, p, c) }
        .toSeq
    } finally pc.unpersist(blocking = false)
  }

  /** The trained inventory as a frame: (rank, piece, cnt). */
  def vocabTable(docs: DataFrame, textCol: String, vocabMulti: Int): DataFrame = {
    import docs.sparkSession.implicits._
    learn(docs, textCol, vocabMulti).map(p => (p.rank, p.piece, p.cnt))
      .toDF("rank", "piece", "cnt")
  }

  /** Word-level Viterbi: minimum total cost over segmentations into
    * inventory pieces (classic O(len·[[MaxPieceLen]]) DP). Returns the
    * cost; `CostBase` decomposes it into (piece count, rank sum). */
  def encodeWord(word: String, cost: Map[String, Long]): Long = {
    val n = word.length
    // rank sums must stay below CostBase or the (pieces, ranks) decoding
    // of the cost integer is ambiguous: n pieces max, each rank ≤ |vocab|
    require(n.toLong * (cost.size + 1) < CostBase,
      s"word too long for the cost encoding: $n chars, |vocab|=${cost.size}")
    val inf = Long.MaxValue / 4
    val best = Array.fill(n + 1)(inf)
    best(0) = 0L
    var j = 1
    while (j <= n) {
      var l = 1
      val lMax = math.min(MaxPieceLen, j)
      while (l <= lMax) {
        if (best(j - l) < inf) {
          cost.get(word.substring(j - l, j)) match {
            case Some(c) =>
              val cand = best(j - l) + c
              if (cand < best(j)) best(j) = cand
            case None => ()
          }
        }
        l += 1
      }
      j += 1
    }
    require(best(n) < inf, s"unsegmentable word '$word' (missing single char)")
    best(n)
  }

  /** WordPiece-style GREEDY longest-match segmentation over the same
    * inventory (BERT's tokenizer discipline, Wu et al. 2016): at each
    * position take the LONGEST piece that matches, never backtrack.
    * Single-character coverage means it always terminates in ≤ len
    * steps. Greedy is the cheap O(len·MaxPieceLen) counterpart of the
    * Viterbi optimum — by construction it never uses FEWER pieces
    * (spec-pinned), and comparing the two published fertilities is the
    * tokenizer-family bake-off. Returns the piece count. */
  def encodeWordGreedy(word: String, pieces: Set[String]): Long = {
    val n = word.length
    var pos = 0
    var count = 0L
    while (pos < n) {
      var l = math.min(MaxPieceLen, n - pos)
      while (l > 1 && !pieces.contains(word.substring(pos, pos + l))) l -= 1
      require(l > 1 || pieces.contains(word.substring(pos, pos + 1)),
        s"unsegmentable word '$word' (missing single char)")
      pos += l
      count += 1
    }
    count
  }

  /** Greedy piece-RANK sequence for one word — [[encodeWordGreedy]]'s walk
    * emitting the ids instead of the count. The longest match at each
    * position is a unique STRING, so the rank sequence is an exact
    * function of (word, inventory) that an external engine replays. */
  def encodeWordGreedyIds(word: String, ranks: Map[String, Int]): Seq[Int] = {
    val n = word.length
    var pos = 0
    val out = scala.collection.mutable.ArrayBuffer.empty[Int]
    while (pos < n) {
      var l = math.min(MaxPieceLen, n - pos)
      while (l > 1 && !ranks.contains(word.substring(pos, pos + l))) l -= 1
      require(l > 1 || ranks.contains(word.substring(pos, pos + 1)),
        s"unsegmentable word '$word' (missing single char)")
      out += ranks(word.substring(pos, pos + l))
      pos += l
    }
    out.toSeq
  }

  /** Per-document token-ID sequences — the tokenizer family's actual DATA
    * PRODUCT (the counts the other queries publish are its statistics):
    * (idCol, ids array<int>) where ids = the greedy piece ranks of the
    * doc's words in order. Same scale shape as [[encodedLength]]: the walk
    * runs once per DISTINCT word, and the join fans word id-arrays back to
    * the corpus token stream; per-doc assembly is one sort_array over the
    * (position, word-ids) pairs — no window, no driver work. */
  def greedyIds(docs: DataFrame, textCol: String, idCol: String,
                vocab: Seq[Piece]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val rankMap: Map[String, Int] = vocab.map(p => p.piece -> p.rank).toMap
    val words = docs.select(col(idCol),
      posexplode(TextFunctions.tokens(col(textCol))).as(Seq("__pos", "__w")))
    val encoded = words.select(col("__w")).distinct()
      .as[String]
      .mapPartitions { it =>
        val m = rankMap
        it.map(w => (w, encodeWordGreedyIds(w, m).toArray))
      }
      .toDF("__w", "__wids")
    words.join(encoded, Seq("__w"))
      .groupBy(col(idCol))
      .agg(flatten(transform(
        sort_array(collect_list(struct(col("__pos"), col("__wids")))),
        x => x.getField("__wids"))).as("ids"))
  }

  /** Per-document GREEDY token count: (idCol, n_tokens). Same
    * distinct-word + broadcast-join-back shape as [[encodedLength]]. */
  def encodedLengthGreedy(docs: DataFrame, textCol: String, idCol: String,
                          vocab: Seq[Piece]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val pieceSet: Set[String] = vocab.map(_.piece).toSet
    val words = docs.select(col(idCol),
      explode(TextFunctions.tokens(col(textCol))).as("__w"))
    val encoded = words.select(col("__w")).distinct()
      .as[String]
      .mapPartitions { it =>
        val ps = pieceSet
        it.map(w => (w, encodeWordGreedy(w, ps)))
      }
      .toDF("__w", "__np")
    words.join(encoded, Seq("__w"))
      .groupBy(col(idCol))
      .agg(sum(col("__np")).as("n_tokens"))
  }

  /** Per-document length in TRAINED-tokenizer tokens plus the rank sum
    * (the integer stand-in for the segmentation's log-likelihood):
    * (idCol, n_tokens, rank_sum). The DP runs once per DISTINCT word —
    * vocab-scale — and a broadcast-sized join fans the results back to
    * the corpus-scale token stream. */
  def encodedLength(docs: DataFrame, textCol: String, idCol: String,
                    vocab: Seq[Piece]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val costMap: Map[String, Long] =
      vocab.map(p => p.piece -> (CostBase + p.rank)).toMap
    val words = docs.select(col(idCol),
      explode(TextFunctions.tokens(col(textCol))).as("__w"))
    val encoded = words.select(col("__w")).distinct()
      .as[String]
      .mapPartitions { it =>
        val m = costMap // one closure-held model per partition
        it.map { w =>
          val c = encodeWord(w, m)
          (w, c / CostBase, c % CostBase)
        }
      }
      .toDF("__w", "__np", "__rs")
    words.join(encoded, Seq("__w"))
      .groupBy(col(idCol))
      .agg(sum(col("__np")).as("n_tokens"), sum(col("__rs")).as("rank_sum"))
  }
}
