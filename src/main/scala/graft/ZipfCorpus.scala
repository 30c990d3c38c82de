package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Deterministic Zipfian-vocabulary corpus for the text family. The
  * testdata fixtures have 31 DISTINCT words at every scale factor, so every
  * "distinct-word-scale / Heaps-bounded / broadcast join-back" claim
  * (Unigram, Bpe, HeavyHitters, BM25 postings, shingle distributions)
  * would go untested where it matters: this generator synthesizes a
  * ~10⁵-distinct-word corpus with a realistic rank-frequency law.
  * [[BenchZipf]] runs those paths over it at a fixed size.
  *
  * Determinism: every sample derives from splitmix64 of (docId, position)
  * — no RNG state, so the corpus is identical across runs, partitionings,
  * and JVMs; UnigramSpec pins bake-off constants derived from it.
  */
object ZipfCorpus {

  /** splitmix64 — the standard 64-bit finalizer (public domain constant
    * set; same mixer Spark's xxhash uses internally for avalanche). */
  def mix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  private val syllables: Array[String] = {
    // onsets include clusters and the vowels pair with optional codas, so
    // the 2-4-char substring space is RICH (a pure CV grid caps distinct
    // pieces at a few thousand and makes greedy longest-match trivially
    // optimal — measured on the first fixture revision)
    val onset = Array("b", "d", "k", "l", "m", "n", "p", "r", "s", "t",
      "st", "tr", "ch", "pl", "gr")
    val rhyme = Array("a", "e", "i", "o", "u", "an", "er", "in", "on", "us")
    for (c <- onset; v <- rhyme) yield c + v // 150 syllables, 2-4 chars
  }
  private val suffixes = Array("", "s", "ing", "tion", "ed", "al")

  /** Injective rank → word. Base-150 syllable encoding keeps the HEAD
    * short and the tail growing logarithmically (rank 10⁵ → 2-3
    * syllables), matching the natural-language length-frequency
    * correlation; rank-hashed SUFFIXES create the crossing pieces
    * (\"-ing\", \"-tion\") where greedy longest-match genuinely diverges
    * from the Viterbi optimum, and every 17th rank doubles into a compound
    * (the Viterbi round-count stressor). */
  def wordFor(rank: Long): String = {
    def enc(r0: Long): String = {
      var r = r0
      val sb = new StringBuilder
      do { sb.append(syllables((r % 150).toInt)); r /= 150 } while (r > 0)
      sb.toString
    }
    val base = enc(rank) + suffixes(((mix(rank * 13 + 5) >>> 41) % 6).toInt)
    if (rank % 17 == 0) base + enc(mix(rank) >>> 47) else base
  }

  /** Zipf(s≈1) rank sample over [0, vocab): inverse-CDF via rank =
    * floor(vocab^u) with u uniform from the hash — P(rank = r) ∝ 1/r. */
  def zipfRank(h: Long, vocab: Int): Long = {
    val u = (h >>> 11).toDouble / (1L << 53).toDouble // [0, 1)
    math.min(vocab - 1L, math.exp(u * math.log(vocab.toDouble)).toLong - 1L)
      .max(0L)
  }

  /** The corpus: `nDocs` documents over a `vocab`-word Zipfian vocabulary,
    * 40-119 words each, in the testdata documents schema
    * (doc_id, text, lang, source, n_chars). Distributed generation —
    * spark.range partitions the id space; each row derives only from its
    * own id. */
  def corpus(spark: SparkSession, nDocs: Long, vocab: Int): DataFrame = {
    import spark.implicits._
    spark.range(nDocs).as[Long].mapPartitions { it =>
      it.map { id =>
        // every 229th doc is a NEAR-COPY of its predecessor (same sampled
        // words + a 4-token id-specific tail) so the near-dup verify stage
        // has real work at every corpus size, not just candidate hashing
        val contentId = if (id % 229 == 0 && id > 0) id - 1 else id
        val nw = 40 + (mix(contentId * 31 + 7) >>> 40).toInt % 80
        val words = new Array[String](nw)
        var i = 0
        while (i < nw) {
          words(i) = wordFor(zipfRank(mix(contentId * 1000003L + i), vocab))
          i += 1
        }
        val tail =
          if (contentId != id)
            (0 until 4).map(j => wordFor(zipfRank(mix(id * 7919L + j), vocab)))
          else Seq.empty
        val text = (words ++ tail).mkString(" ")
        (id, text, "en", "src" + (id % 20), text.length.toLong)
      }
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
  }
}
