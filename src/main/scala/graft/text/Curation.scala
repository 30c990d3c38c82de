package graft.text

import graft.dedup.DocDedup
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators a pretraining data pipeline runs between raw
  * ingest and tokenization: benchmark decontamination, PII scrubbing,
  * deterministic stratified sampling, and sequence packing.
  *
  * All deterministic and engine-reproducible by construction (md5-derived
  * randomness, RE2-safe regexes), so every operator is hash-checked against
  * an external SQL oracle. At 100 TB each stays a narrow projection or a
  * single well-shaped shuffle:
  *   - decontamination broadcasts the benchmark n-gram set (benchmarks are
  *     control-sized next to a training corpus) — the corpus side never
  *     shuffles;
  *   - scrubbing and sampling are pure per-row expressions;
  *   - packing windows within (stratum, shard) — shard count scales the
  *     parallelism, no global sort.
  */
object Curation {

  // ---------------------------------------------------------------- decontamination

  /** Documents sharing at least one distinct word `n`-gram with the
    * benchmark set, with the count of distinct overlapping n-grams —
    * the standard pre-release decontamination sweep (benchmark prompts
    * must not leak into training data).
    *
    * The benchmark side is deduplicated and BROADCAST: its distinct n-gram
    * set is control data next to the corpus, so the corpus side is scanned
    * once, exploded, hash-semi-joined in place, and partially aggregated
    * map-side before the per-doc count shuffle. Output: (idCol, n_hits),
    * hit docs only.
    */
  def contamination(docs: DataFrame, benchmark: DataFrame,
                    textCol: String, idCol: String, n: Int = 5): DataFrame = {
    val docSh = docs.select(col(idCol),
      explode(array_distinct(DocDedup.shingles(col(textCol), n))).as("__sh"))
    val benchSh = benchmark
      .select(explode(array_distinct(DocDedup.shingles(col(textCol), n))).as("__sh"))
      .distinct()
    docSh.join(broadcast(benchSh), "__sh")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits"))
  }

  // ---------------------------------------------------------------- PII scrubbing

  /** RE2-safe patterns (no lookarounds — the same literals run verbatim in
    * external engines), applied in this order. */
  val piiPatterns: Seq[(String, String)] = Seq(
    """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}""" -> "<EMAIL>",
    """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b""" -> "<IP>",
    """\b\d{3}[-. ]\d{4}\b""" -> "<PHONE>")

  /** Text with emails, IPv4s and phone-shaped digit groups replaced by
    * typed placeholders. Pure narrow expression — no UDF, no shuffle. */
  def scrubPii(text: Column): Column =
    piiPatterns.foldLeft(text) { case (acc, (pat, repl)) =>
      regexp_replace(acc, pat, repl)
    }

  /** Count of PII spans [[scrubPii]] would redact. Counted pattern-by-
    * pattern on the progressively scrubbed text, so overlapping patterns
    * (an IP inside an email, a phone inside an IP) are not double-counted
    * — exactly the spans the scrub replaces. */
  def piiCount(text: Column): Column = {
    val (total, _) = piiPatterns.foldLeft((lit(0L), text)) {
      case ((acc, t), (pat, repl)) =>
        (acc + size(regexp_extract_all(t, lit(pat), lit(0))),
          regexp_replace(t, pat, repl))
    }
    total
  }

  // ---------------------------------------------------------------- sampling

  /** Deterministic uniform in [0, 1) from an id: the first 32 bits of
    * md5(salt + ":" + id) over 2^32. Reproducible in any engine with md5 —
    * no RNG, no seed state, stable under re-partitioning and re-runs. */
  def hashUniform(id: Column, salt: String): Column =
    conv(substring(md5(concat(lit(salt + ":"), id.cast("string"))), 1, 8), 16, 10)
      .cast("long").cast("double") / 4294967296.0

  /** Deterministic stratified sample: keep a row iff its [[hashUniform]]
    * draw is below its stratum's rate (strata absent from `rates` default
    * to 0.0 — dropped). A pure filter: pushdown-friendly, no shuffle, and
    * the SAME rows survive at any scale or partitioning — the property
    * that makes pipeline re-runs and A/B comparisons reproducible,
    * which `df.sample`'s partition-seeded RNG does not give. */
  def stratifiedSample(docs: DataFrame, idCol: String, strataCol: String,
                       rates: Map[String, Double],
                       salt: String = "graft-sample"): DataFrame = {
    val rate = rates.foldLeft(lit(0.0)) { case (acc, (stratum, r)) =>
      when(col(strataCol) === stratum, lit(r)).otherwise(acc)
    }
    docs.filter(hashUniform(col(idCol), salt) < rate)
  }

  /** Per-document token-trigram language-model score — the CCNet-style
    * quality signal: documents whose token statistics diverge from the
    * corpus (gibberish, boilerplate soup, wrong language for the corpus)
    * score a high average negative log-likelihood, normal prose scores low.
    * `nll = -avg over trigrams t of ln((count(t)+1) / (N+V))` (add-one
    * smoothing; N = total trigram occurrences, V = distinct trigrams).
    *
    * Trigrams are built by windowed `lead` over a posexploded token
    * stream: the tokenizing `split` runs ONCE per document. (Two rejected
    * formulations, both measured quadratic: per-index `substr` on the raw
    * string scans by codepoint from position 0 each call, and `element_at`
    * lambdas re-evaluate the `split` expression per element because
    * project-collapse inlines the alias into every use.)
    *
    * Two-pass corpus-stats shape, same as [[corpusProfile]]/doc-frequency:
    * pass 1 aggregates the vocabulary-sized trigram table; pass 2 scores
    * the cached trigram stream through a count join + one groupBy on
    * the id. N and V are two driver-side numbers. Documents with fewer
    * than 3 tokens have no trigrams and are absent from the output.
    * `idCol` must be UNIQUE per row — the window partitions on it, so
    * duplicate ids would interleave two rows' tokens into phantom
    * trigrams (same precondition as [[dupSpans]]). */
  def lmScore(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("__p"))
    val tri = graft.ops.Caches.track(docs
      .select(col(idCol),
        posexplode(TextFunctions.tokens(col(textCol))).as(Seq("__p", "__w")))
      .withColumn("__w1", lead(col("__w"), 1).over(w))
      .withColumn("__w2", lead(col("__w"), 2).over(w))
      .filter(col("__w2").isNotNull)
      .select(col(idCol), concat_ws(" ", col("__w"), col("__w1"), col("__w2")).as("__t")))
    // (trigram, salt) re-key for AQE skew-splittability — see dupSpans:
    // a corpus-hot trigram ("one of the") otherwise serializes the
    // join-back on one reducer with the split rule blocked by shape
    val counts = tri
      .groupBy(col("__t"), pmod(xxhash64(col("__t")), lit(16)).as("__z"))
      .agg(count(lit(1)).as("__c"))
      .drop("__z")
    graft.ops.Caches.track(counts)
    val totals = counts.agg(coalesce(sum(col("__c")), lit(0L)),
      count(lit(1))).head()
    val denom = (totals.getLong(0) + totals.getLong(1)).toDouble
    // no broadcast hint: a trigram vocabulary grows with the corpus (far
    // past any broadcast limit at scale) — AQE broadcasts when it fits
    tri.join(counts, Seq("__t"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tri"),
        // round: the only FP-order-sensitive value (sum of ~|ln 1e-6| terms
        // reordered across engines drifts ~1e-12 — far inside 6 decimals)
        round(-avg(log((col("__c") + lit(1.0)) / lit(denom))), 6).as("nll"))
  }

  /** Duplicated-SPAN statistics — the substring-dedup signal ("Deduplicating
    * Training Data Makes Language Models Better"-style, at token-window
    * granularity): every `span`-token sliding window is hashed; windows
    * whose text occurs more than once ACROSS the corpus are duplicated
    * spans, and each document reports how many of its windows are
    * duplicated. Exact-dedup misses partial overlap, MinHash reports
    * whole-document similarity — this catches the verbatim chunk pasted
    * into otherwise-distinct documents.
    *
    * Same one-tokenization stream shape as [[lmScore]]: posexplode + a
    * sliding `collect_list` window (O(span · tokens) rows, never a
    * re-tokenize per position); the frequent-window table is corpus-level
    * (pass 1) and joins back (pass 2). Output:
    * (id, n_spans, n_dup, dup_frac) for docs with ≥ `span` tokens.
    * `idCol` must be UNIQUE per row (see [[lmScore]]). */
  def dupSpans(docs: DataFrame, textCol: String, idCol: String,
               span: Int = 20): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("__p"))
      .rowsBetween(0, span - 1)
    val spans = graft.ops.Caches.track(docs
      .select(col(idCol),
        posexplode(TextFunctions.tokens(col(textCol))).as(Seq("__p", "__w")))
      .withColumn("__s", collect_list(col("__w")).over(w))
      .filter(size(col("__s")) === span)
      .select(col(idCol), md5(concat_ws(" ", col("__s")).cast("binary")).as("__h")))
    // no broadcast hint: the duplicated-hash set is data-dependent
    // (boilerplate-heavy corpora can be huge) — AQE sees its runtime size
    // and broadcasts exactly when it fits. The aggregate re-keys through
    // (hash, salt): salt = f(hash) changes NOTHING semantically, but stops
    // the aggregate's output partitioning from already satisfying the
    // join, so EnsureRequirements owns the exchange under the join's
    // probe-side Sort — the exact shape OptimizeSkewedJoin can split. An
    // aggregate straight on __h pipelines into the SortMergeJoin and
    // BLOCKS AQE's skew split permanently (both SMJ children must be bare
    // shuffle stages; measured by the round-9 skew probe, see PLANS.md: a
    // spam key with 5.9M spans serialized on one reducer with
    // skewSplit=false at any threshold).
    // Costs one dup-hash-table-sized shuffle, only paid in the SMJ regime.
    val dupHashes = spans
      .groupBy(col("__h"), pmod(xxhash64(col("__h")), lit(16)).as("__z"))
      .agg(count(lit(1)).as("__c"))
      .filter(col("__c") > 1).select(col("__h"))
    spans.join(dupHashes.withColumn("__dup", lit(1L)), Seq("__h"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_spans"),
        sum(coalesce(col("__dup"), lit(0L))).as("n_dup"))
      .withColumn("dup_frac", round(col("n_dup") / col("n_spans"), 6))
  }

  /** Per-group QUANTILE length gate: keep documents whose token count lies
    * inside the group's own [lo, hi] quantile band — the outlier gate that
    * drops truncated fragments and concatenation accidents RELATIVE to
    * their source's distribution (a fixed global threshold misclassifies
    * whole sources whose lengths legitimately differ). Two corpus passes:
    * the bounds are a per-group exact-percentile aggregate (map-side
    * partial state, group-count-sized result — `groupCol` is a dimension,
    * e.g. source/lang, so the bounds table broadcasts), then the gate is a
    * narrow filter; no per-group sort exists at any scale. Bounds are
    * rounded to 4 decimals so the comparison is engine-portable.
    *
    * Memory caveat: Spark's EXACT `percentile` aggregate buffers a whole
    * group's values in its aggregation state — fine while a group's row
    * count fits an executor, unbounded for a dominant source at corpus
    * scale. [[lengthGateSketched]] is the bounded-memory variant. */
  def lengthGate(docs: DataFrame, textCol: String, idCol: String,
                 groupCol: String, loQ: Double = 0.05,
                 hiQ: Double = 0.95): DataFrame = {
    val ntok = TextFunctions.tokenCount(col(textCol)).cast("long")
    val measured = docs.select(col(idCol), col(groupCol), ntok.as("n_tok"))
    val bounds = measured.groupBy(col(groupCol))
      .agg(round(percentile(col("n_tok"), lit(loQ)), 4).as("lo"),
        round(percentile(col("n_tok"), lit(hiQ)), 4).as("hi"))
    gateAgainst(measured, groupCol, bounds)
  }

  /** [[lengthGate]] with BOUNDED memory at any group size: the bounds are
    * exact order statistics over each group's deterministic bottom-`k`
    * md5-uniform sample ([[Sketches.bottomKQuantiles]]'s substrate —
    * mergeable, map-side WindowGroupLimit, ≤ k rows per group ever held),
    * instead of the exact-percentile aggregate whose state grows with the
    * group. The gate itself is identical; bounds converge to the exact
    * ones at O(1/√k). Deterministic: same corpus, same verdicts, any
    * partitioning. */
  def lengthGateSketched(docs: DataFrame, textCol: String, idCol: String,
                         groupCol: String, k: Int = 4096,
                         salt: String = "graft-quant"): DataFrame = {
    val ntok = TextFunctions.tokenCount(col(textCol)).cast("long")
    val measured = graft.ops.Caches.track(
      docs.select(col(idCol), col(groupCol), ntok.as("n_tok")))
    val u = hashUniform(col(idCol), salt)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(u, col(idCol).cast("string"))
    val sample = measured
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") <= k)
    // the 5%/95% band as pure-integer ceil indices over the sample
    // (ceil(q·n) = (q_num·n + q_den − 1) div q_den; see Sketches)
    val bounds = sample.groupBy(col(groupCol))
      .agg(count(lit(1)).as("__n"), sort_array(collect_list(col("n_tok"))).as("__vs"))
      .select(col(groupCol),
        element_at(col("__vs"),
          expr("(__n + 19) div 20").cast("int")).cast("double").as("lo"),
        element_at(col("__vs"),
          expr("(__n * 19 + 19) div 20").cast("int")).cast("double").as("hi"))
    gateAgainst(measured, groupCol, bounds)
  }

  private def gateAgainst(measured: DataFrame, groupCol: String,
                          bounds: DataFrame): DataFrame = {
    val idCol = measured.columns(0)
    measured.join(broadcast(bounds), Seq(groupCol))
      .filter(col("n_tok") >= col("lo") && col("n_tok") <= col("hi"))
      .select(col(idCol), col(groupCol), col("n_tok"), col("lo"), col("hi"))
  }

  /** CCNet-style quality BUCKETS: split each language's documents into
    * head/middle/tail by the corpus-LM score ([[lmScore]] — lower
    * perplexity = higher quality = head). The thresholds are per-language
    * terciles of the score — a quantile AGGREGATE broadcast back over a
    * narrow bucket pass, NOT an ntile window: bucketing by comparison
    * against corpus-stat thresholds needs no per-language sort at any
    * scale, and ties land deterministically (score is the 6-decimal
    * rounded nll, boundary rule is `<=`). Output:
    * (id, lang, nll, bucket). */
  def lmBuckets(docs: DataFrame, textCol: String, idCol: String,
                langCol: String): DataFrame = {
    // pinned: the scored frame feeds both the tercile bounds and the final
    // bucket pass — without it the post-shuffle join/score stages run twice
    val scored = graft.ops.Caches.track(lmScore(docs, textCol, idCol)
      .join(docs.select(col(idCol), col(langCol)), Seq(idCol)))
    val bounds = scored.groupBy(col(langCol))
      .agg(round(percentile(col("nll"), lit(1.0 / 3)), 6).as("__t1"),
        round(percentile(col("nll"), lit(2.0 / 3)), 6).as("__t2"))
    scored.join(broadcast(bounds), Seq(langCol))
      .select(col(idCol), col(langCol), col("nll"),
        when(col("nll") <= col("__t1"), lit("head"))
          .when(col("nll") <= col("__t2"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
  }

  /** DSIR importance weights ("Data Selection for Language Models via
    * Importance Resampling", Xie et al. 2023): score every document by how
    * much its hashed n-gram bag looks like a TARGET slice of the corpus
    * versus the raw rest. Features are unigrams + bigrams of the token
    * stream hashed into `buckets` md5 buckets; both sides fit add-1-
    * smoothed multinomials over the buckets, and a document's log weight
    * is the sum of its features' log(p_target/p_raw).
    *
    * Shape at scale: one tokenize pass; the feature stream aggregates to
    * ≤ `buckets` count rows (map-side combine — the shuffle carries
    * buckets × tasks rows no matter the corpus size), the two totals are
    * driver-side longs, and the per-bucket log-ratio table is control
    * data broadcast back against the same cached feature stream. Output:
    * (id, n_feat, logw) — selection on the weights is a separate,
    * composable filter ([[hashUniform]]-style or top-k).
    *
    * FP note: `logw` is the one order-sensitive sum (like [[lmScore]]'s
    * nll) — rounded to 6 decimals, far above the ~1e-12 reorder drift. */
  def dsirWeights(docs: DataFrame, textCol: String, idCol: String,
                  isTarget: Column, buckets: Int = 1024,
                  salt: String = "graft-dsir"): DataFrame = {
    val toks = TextFunctions.tokens(col(textCol))
    val bi = zip_with(slice(toks, lit(1), size(toks) - 1), slice(toks, lit(2), size(toks) - 1),
      (a, b) => concat(a, lit(" "), b))
    val h = md5(concat(lit(salt + ":"), col("__f")))
    // 10 bits straight from hex nibbles 6-8 of the digest — the identity an
    // external engine re-derives without a bigint hex parse
    val bucket = pmod(conv(substring(h, 6, 3), 16, 10).cast("long"), lit(buckets.toLong))
    val feats = graft.ops.Caches.track(docs
      .select(col(idCol), isTarget.as("__t"),
        explode(concat(toks, bi)).as("__f"))
      .select(col(idCol), col("__t"), bucket.as("__b")))
    val counts = feats.groupBy(col("__b")).agg(
      sum(when(col("__t"), 1L).otherwise(0L)).as("__ct"),
      sum(when(col("__t"), 0L).otherwise(1L)).as("__cr"))
    graft.ops.Caches.track(counts)
    val tot = counts.agg(coalesce(sum(col("__ct")), lit(0L)),
      coalesce(sum(col("__cr")), lit(0L))).head()
    val (nt, nr) = (tot.getLong(0), tot.getLong(1))
    val ratios = counts.select(col("__b"),
      (log((col("__ct") + lit(1.0)) / lit((nt + buckets).toDouble)) -
        log((col("__cr") + lit(1.0)) / lit((nr + buckets).toDouble))).as("__lr"))
    feats.join(broadcast(ratios), Seq("__b"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_feat"), round(sum(col("__lr")), 6).as("logw"))
  }

  /** Per-document unigram diversity: token entropy
    * `H = ln(n) − (Σ c·ln c)/n` over the document's token counts, plus the
    * type count and type-token ratio — the cheap "is this doc repetitive
    * word soup" signal next to [[Repetition]]'s n-gram gates. Relational
    * shape: one tokenize, a (doc, token) count, a per-doc fold — both
    * aggregates map-side-combined, keyed by doc. Output:
    * (id, n_tok, n_types, ttr, entropy); entropy/ttr round to 6 (the FP
    * reorder-drift note on [[lmScore]] applies). */
  def tokenEntropy(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.select(col(idCol),
        explode(TextFunctions.tokens(col(textCol))).as("__w"))
      .groupBy(col(idCol), col("__w"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col(idCol))
      .agg(sum(col("__c")).as("n_tok"),
        count(lit(1)).as("n_types"),
        sum(col("__c").cast("double") * log(col("__c").cast("double"))).as("__clc"))
      .select(col(idCol), col("n_tok"), col("n_types"),
        round(col("n_types") / col("n_tok"), 6).as("ttr"),
        round(log(col("n_tok").cast("double")) - col("__clc") / col("n_tok"), 6)
          .as("entropy"))

  /** Token-distribution DRIFT between two corpus slices — the text twin of
    * [[graft.sim.Similarity.dimensionDrift]]: per-term smoothed log rate
    * ratio ln((c_a+1)/(n_a+V)) − ln((c_b+1)/(n_b+V)), ranked by absolute
    * shift in integer micro units (exact cross-engine). One tokenize, one
    * vocabulary-sized aggregate; totals and V are driver scalars. Output:
    * (term, cnt_a, cnt_b, lr_micro), top `topK` by |shift| (ties term
    * asc). */
  def tokenDrift(docs: DataFrame, textCol: String, isA: Column,
                 topK: Int = 20): DataFrame = {
    val counts = graft.ops.Caches.track(docs
      .select(isA.as("__a"), explode(TextFunctions.tokens(col(textCol))).as("__t"))
      .groupBy(col("__t")).agg(
        sum(when(col("__a"), 1L).otherwise(0L)).as("cnt_a"),
        sum(when(col("__a"), 0L).otherwise(1L)).as("cnt_b")))
    val tot = counts.agg(coalesce(sum(col("cnt_a")), lit(0L)),
      coalesce(sum(col("cnt_b")), lit(0L)), count(lit(1))).head()
    val (na, nb, v) = (tot.getLong(0), tot.getLong(1), tot.getLong(2))
    val lr = log((col("cnt_a") + lit(1.0)) / lit((na + v).toDouble)) -
      log((col("cnt_b") + lit(1.0)) / lit((nb + v).toDouble))
    counts.select(col("__t").as("term"), col("cnt_a"), col("cnt_b"),
        round(lr * 1e6).cast("long").as("lr_micro"))
      .orderBy(abs(col("lr_micro")).desc, col("term"))
      .limit(topK)
  }

  /** Fixed-size overlapping token chunks — the retrieval/embedding prep
    * step (RAG-style): each document yields windows of `size` tokens
    * starting every `stride` tokens (stride < size ⇒ consecutive chunks
    * overlap by size − stride; the trailing partial window is kept). Pure
    * narrow projection — `sequence` starts + `slice` windows off ONE
    * tokenization, no shuffle, no self-join; the md5 chunk hash is the
    * stable id an embedding pass or chunk-level dedup keys on. Output:
    * (id, chunk_idx, n_tok, chunk_hash). */
  def chunkTokens(docs: DataFrame, textCol: String, idCol: String,
                  size: Int = 64, stride: Int = 48): DataFrame = {
    require(size > 0 && stride > 0, "size and stride must be positive")
    val toks = TextFunctions.tokens(col(textCol))
    val starts = sequence(lit(0), org.apache.spark.sql.functions.size(toks) - 1,
      lit(stride))
    docs.select(col(idCol),
        posexplode(transform(starts, st => {
          val chunk = slice(toks, st + 1, lit(size))
          struct(org.apache.spark.sql.functions.size(chunk).cast("long").as("n_tok"),
            md5(concat_ws(" ", chunk).cast("binary")).as("chunk_hash"))
        })).as(Seq("chunk_idx", "__c")))
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        col("__c.n_tok"), col("__c.chunk_hash"))
  }

  /** Duplicate-PASSAGE removal — the destructive counterpart of
    * [[dupSpans]]: each document's token stream splits into consecutive
    * `span`-token passages (trailing partial passage included); a passage
    * whose text recurs ANYWHERE in the corpus survives only at its first
    * occurrence in (id, position) order, and every document's text is
    * rebuilt from its surviving passages. This is the pipeline stage that
    * actually strips corpus-wide boilerplate (headers, license blocks,
    * navigation chrome) out of otherwise-distinct documents.
    *
    * Shape: one narrow pass derives the passages by slicing the tokenized
    * array (no posexplode/regroup of individual tokens); first occurrence
    * is a `min(struct(id, idx))` aggregate — map-side partial combine, so a
    * passage duplicated millions of times still forwards ONE row per map
    * task, where a window over the hash key would sort the whole hot
    * partition (boilerplate IS skew). The passage-vocabulary table joins
    * back without a broadcast hint: its size is data-dependent, AQE
    * broadcasts exactly when it fits. Output:
    * (id, n_chunks, n_removed, text_scrubbed); `idCol` must be unique and
    * orderable. */
  def scrubDupSpans(docs: DataFrame, textCol: String, idCol: String,
                    span: Int = 10): DataFrame = {
    val chunks = docs
      .select(col(idCol), TextFunctions.tokens(col(textCol)).as("__t"))
      .select(col(idCol), posexplode(transform(
        sequence(lit(0), floor((size(col("__t")) - 1) / span).cast("int")),
        i => concat_ws(" ", slice(col("__t"), i * span + 1, lit(span)))))
        .as(Seq("__ci", "__chunk")))
      .withColumn("__h", md5(col("__chunk").cast("binary")))
    // (hash, salt) re-key for AQE skew-splittability — see dupSpans; the
    // min(struct) per (h, f(h)) equals the min per h
    val firstOcc = chunks
      .groupBy(col("__h"), pmod(xxhash64(col("__h")), lit(16)).as("__z"))
      .agg(min(struct(col(idCol), col("__ci"))).as("__first"))
      .drop("__z")
    chunks.join(firstOcc, Seq("__h"))
      .withColumn("__keep",
        col("__first") === struct(col(idCol), col("__ci")))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("__keep"), 0L).otherwise(1L)).as("n_removed"),
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("__keep"),
            struct(col("__ci"), col("__chunk"))))),
          s => s.getField("__chunk"))).as("text_scrubbed"))
  }

  /** CONTENT-DEFINED chunking (the FastCDC/rsync idea at token
    * granularity): a chunk boundary falls after token p wherever the md5
    * of the trailing `window`-token text satisfies `hash % div == 0` — the
    * boundary depends only on LOCAL content, so inserting or deleting a
    * token reshapes chunks near the edit and re-synchronizes within
    * `window` tokens, where fixed-span chunking shifts EVERY later chunk.
    * Expected chunk length is `div` tokens. The hash draw is the first 4
    * md5 nibbles (engine-portable integer arithmetic, same family as the
    * LSH/split oracles). Output: one row per chunk
    * (id, cid, chunk, chunk_hash), cid in position order.
    *
    * Shape: one tokenization, two window frames over the per-doc token
    * stream (trailing window text, then a running boundary count), one
    * (id, cid) regroup. */
  def cdcChunks(docs: DataFrame, textCol: String, idCol: String,
                window: Int = 4, div: Int = 8): DataFrame = {
    val byPos = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("__p"))
    val trailing = byPos.rowsBetween(-(window - 1), 0)
    val toks = docs.select(col(idCol),
      posexplode(TextFunctions.tokens(col(textCol))).as(Seq("__p", "__w")))
    val bounded = toks
      .withColumn("__win", collect_list(col("__w")).over(trailing))
      .withColumn("__b",
        when(size(col("__win")) === window &&
          conv(substring(md5(concat_ws(" ", col("__win")).cast("binary")), 1, 4),
            16, 10).cast("long") % div === 0, 1L).otherwise(0L))
      .withColumn("__cid", coalesce(
        sum(col("__b")).over(byPos.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
    bounded.groupBy(col(idCol), col("__cid").as("cid"))
      .agg(concat_ws(" ", transform(
        array_sort(collect_list(struct(col("__p"), col("__w")))),
        s => s.getField("__w"))).as("chunk"))
      .withColumn("chunk_hash", md5(col("chunk").cast("binary")))
  }

  /** Chunk-level exact-dedup statistics over [[cdcChunks]] — the
    * shift-robust sibling of [[dupSpans]]: a verbatim run shared between
    * documents at DIFFERENT token offsets still yields identical chunks
    * (boundaries re-synchronize on content), so the duplication shows up
    * where fixed spans or fixed passages would slide past each other.
    * Same two-pass corpus shape as [[dupSpans]]. Output:
    * (id, n_chunks, n_dup, dup_frac). */
  def cdcDedupStats(docs: DataFrame, textCol: String, idCol: String,
                    window: Int = 4, div: Int = 8): DataFrame = {
    val chunks = graft.ops.Caches.track(
      cdcChunks(docs, textCol, idCol, window, div))
    // (hash, salt) re-key for AQE skew-splittability — see dupSpans
    val dup = chunks
      .groupBy(col("chunk_hash"),
        pmod(xxhash64(col("chunk_hash")), lit(16)).as("__z"))
      .agg(count(lit(1)).as("__c"))
      .filter(col("__c") > 1).select(col("chunk_hash"))
    chunks.join(dup.withColumn("__dup", lit(1L)), Seq("chunk_hash"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_chunks"),
        sum(coalesce(col("__dup"), lit(0L))).as("n_dup"))
      .withColumn("dup_frac", round(col("n_dup") / col("n_chunks"), 6))
  }

  /** Cluster-balanced (diversity) sampling: keep `perCell` deterministic
    * representatives of each embedding cluster cell — the data-diversity
    * step that stops one dense region of embedding space from dominating a
    * sampled training set. `assigned` is an (id, cell) frame (e.g.
    * [[graft.sim.Ivf.assignCells]]); representatives are the cell's
    * `perCell` smallest [[hashUniform]] draws, so the sample is stable
    * under any partitioning and re-run. One shuffle on the cell key; the
    * per-cell sort is a WindowGroupLimit pushdown (top-k, never a full
    * sort of big cells). */
  def diverseSample(assigned: DataFrame, idCol: String, cellCol: String,
                    perCell: Int, salt: String = "graft-diverse"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(cellCol)).orderBy(hashUniform(col(idCol), salt), col(idCol))
    assigned.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= perCell).drop("__rn")
  }

  /** Weighted sample WITHOUT replacement (Efraimidis–Spirakis 2006): the
    * top-`k` rows by key u_i^(1/w_i) with u_i the deterministic
    * [[hashUniform]] draw — inclusion probability proportional to weight,
    * one pass, mergeable (the global top-k of per-partition top-ks), the
    * standard distributed weighted-sampling primitive for source-weighted
    * corpus mixing. Ranked via the monotone form ln(u)/w quantized to
    * integer NANO units (the BM25 trick: cross-engine libm ulp differences
    * can't reorder integer keys), ties by id; the plan is a
    * TakeOrderedAndProject — per-partition bounded heaps, never a global
    * sort. Weights must be strictly positive. */
  def weightedSample(docs: DataFrame, idCol: String, weight: Column, k: Int,
                     salt: String = "graft-wsample"): DataFrame = {
    // u clamped away from 0: a (2^-32-probability) zero draw would send
    // ln to -inf and the integer cast off a cliff
    val u = greatest(hashUniform(col(idCol), salt), lit(1e-12))
    val keyNano = round(log(u) / weight * 1e9).cast("long")
    docs.select(col(idCol), weight.cast("long").as("w"), keyNano.as("key_nano"))
      .orderBy(col("key_nano").desc, col(idCol))
      .limit(k)
  }

  /** Deterministic multi-way split assignment (train/val/test): each id's
    * [[hashUniform]] draw lands in the named fraction whose cumulative
    * range contains it. A pure narrow projection — the same id gets the
    * same split at any scale, partitioning, or re-run, and membership can
    * be recomputed from the id alone (no split table to store or join).
    * `fractions` must sum to 1; order defines the cumulative ranges. */
  def assignSplit(id: Column, fractions: Seq[(String, Double)],
                  salt: String = "graft-split"): Column = {
    require(fractions.nonEmpty && math.abs(fractions.map(_._2).sum - 1.0) < 1e-9,
      "split fractions must sum to 1")
    val u = hashUniform(id, salt)
    val uppers = fractions.scanLeft(0.0) { case (acc, (_, f)) => acc + f }.tail
    // ascending when-chain; the final otherwise absorbs u == 1.0 edge draws
    fractions.init.zip(uppers.init).foldRight(lit(fractions.last._1)) {
      case (((name, _), upper), acc) => when(u < upper, lit(name)).otherwise(acc)
    }
  }

  /** Deterministic per-group document cap: keep at most `n` documents of
    * each group (domain, source, site), chosen by [[hashUniform]] rank — the
    * anti-domination gate a web-corpus pipeline applies per domain so one
    * crawl-heavy site cannot dominate the mixture. Same id, same verdict,
    * under any partitioning. One shuffle on the group key; the rank-≤-n
    * filter compiles to a WindowGroupLimit pushdown, so map tasks forward
    * at most n rows per group before the exchange — a hot domain never
    * materializes beyond the cap on the reducer. */
  def capPerGroup(docs: DataFrame, idCol: String, groupCol: String, n: Int,
                  salt: String = "graft-cap"): DataFrame = {
    val w = Window.partitionBy(col(groupCol))
      .orderBy(hashUniform(col(idCol), salt), col(idCol))
    docs.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= n).drop("__rn")
  }

  /** Winnowing document fingerprints (Schleimer–Wilkerson–Aiken, SIGMOD
    * 2003 — the MOSS algorithm): hash every `k`-token shingle, then from
    * each window of `w` consecutive shingle hashes record the minimum (ties
    * to the LEFTMOST position, so the choice is total and deterministic).
    * Guarantees at least one recorded fingerprint per `w` consecutive
    * shingles, so any shared substring of ≥ `k`+`w`-1 tokens produces a
    * shared fingerprint — positional sub-document dedup with a bounded,
    * content-stable fingerprint density (~2/(w+1) of positions), unlike
    * "every span" ([[dupSpans]]) or "one per doc" fingerprinting.
    *
    * One tokenization feeds both the shingle and window passes (posexplode
    * + sliding `collect_list`); the per-doc windows are Spark window
    * frames, no self-join. Hashes are md5-hex — engine-reproducible, so
    * the selected (position, hash) set is exact-checkable externally.
    * Documents shorter than `k`+`w`-1 tokens have no full window and emit
    * NO fingerprints (the standard winnowing guarantee starts at the
    * noise threshold; pair short docs with whole-doc fingerprinting).
    * Output: (idCol, pos, fp) — distinct selected fingerprints. */
  def winnow(docs: DataFrame, textCol: String, idCol: String,
             k: Int = 5, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1)
    val shingleW = Window.partitionBy(col(idCol)).orderBy(col("__p"))
      .rowsBetween(0, k - 1)
    val winW = Window.partitionBy(col(idCol)).orderBy(col("__p"))
      .rowsBetween(0, w - 1)
    docs
      .select(col(idCol),
        posexplode(TextFunctions.tokens(col(textCol))).as(Seq("__p", "__t")))
      .withColumn("__s", collect_list(col("__t")).over(shingleW))
      .filter(size(col("__s")) === k)
      .select(col(idCol), col("__p"),
        md5(concat_ws(" ", col("__s")).cast("binary")).as("__h"))
      // min (hash, pos) struct over the forward window anchored at each
      // start; leftmost-tie because pos breaks equal hashes
      .withColumn("__sel", min(struct(col("__h"), col("__p"))).over(winW))
      .withColumn("__n", count(lit(1)).over(winW))
      .filter(col("__n") === w) // only full windows select
      .select(col(idCol), col("__sel.__p").as("pos"), col("__sel.__h").as("fp"))
      .distinct()
  }

  // ---------------------------------------------------------------- corpus mixing

  /** Deterministic corpus mixing to a per-source token budget: within each
    * source, documents are ranked by their [[hashUniform]] draw (a
    * reproducible random order) and kept greedily until the source's token
    * budget is exhausted — the "data mixture" step that turns per-domain
    * sampling weights into an actual training set. A document is kept iff
    * it STARTS before the budget line, so every source with a positive
    * budget contributes at least one document.
    *
    * Sources absent from `budgets` get `defaultBudget`; a 0 budget drops
    * the source entirely.
    *
    * Scale shape: the running sum is SHARDED (the [[Sketches.globalOrder]]
    * two-pass pattern) — the shard is a monotone function of the uniform
    * draw, so each source's global (u, id) order is the concatenation of
    * its shards; per-(source, shard) token totals are control data, the
    * exclusive shard offsets ride as one map literal, and the window only
    * runs per (source, shard). A real corpus is 80%+ one crawl, and a
    * whole-source window would put that source through ONE task; the
    * sharded form caps any window partition at ~1/nShards of a source. */
  def mixToBudget(docs: DataFrame, idCol: String, textCol: String,
                  sourceCol: String, budgets: Map[String, Long],
                  defaultBudget: Long,
                  salt: String = "graft-mix"): DataFrame =
    mixToBudgetCounted(docs.select(col(idCol), col(sourceCol),
        size(TextFunctions.subwordTokens(col(textCol))).cast("long").as("n_tok")),
      idCol, sourceCol, budgets, defaultBudget, salt)

  /** [[mixToBudget]] over an ALREADY-counted (id, source, n_tok) frame —
    * callers that have tokenized once (e.g. [[mixByTemperature]], whose
    * budget derivation already needed the counts) must not pay a second
    * tokenization pass. */
  def mixToBudgetCounted(counted: DataFrame, idCol: String,
                         sourceCol: String, budgets: Map[String, Long],
                         defaultBudget: Long,
                         salt: String = "graft-mix",
                         nShards: Int = 16): DataFrame = {
    val (base, totals) = mixShardTotals(counted, idCol, sourceCol, salt, nShards)
    mixFill(base, totals, idCol, sourceCol, budgets, defaultBudget)
  }

  /** Shared first pass of the budgeted mixes: the sharded frame (cached —
    * it feeds the totals collect AND the fill window) plus the
    * per-(source, shard) token totals as driver-side control data.
    * shard = floor(u·nShards) is monotone in u, so shard order IS prefix
    * order: every row of shard s precedes every row of shard s+1 in the
    * source's global (u, id) order, and the within-shard running sum plus
    * the exclusive shard offset is the exact global cumulative sum. */
  private def mixShardTotals(counted: DataFrame, idCol: String,
                             sourceCol: String, salt: String, nShards: Int)
      : (DataFrame, Map[(String, Int), Long]) = {
    val u = hashUniform(col(idCol), salt)
    val base = graft.ops.Caches.track(
      counted.select(col(idCol), col(sourceCol), col("n_tok"),
        u.as("__u"),
        least(floor(u * nShards).cast("int"), lit(nShards - 1)).as("__sh")))
    // per-(source, shard) token totals: control data (|sources|·nShards longs)
    val totals = base.groupBy(col(sourceCol), col("__sh"))
      .agg(sum(col("n_tok")).as("__t")).collect()
      .map(r => ((r.getString(0), r.getInt(1)), r.getLong(2))).toMap
    (base, totals)
  }

  /** Greedy fill against known budgets over the sharded frame. */
  private def mixFill(base: DataFrame, totals: Map[(String, Int), Long],
                      idCol: String, sourceCol: String,
                      budgets: Map[String, Long],
                      defaultBudget: Long): DataFrame = {
    val budget = budgets.foldLeft(lit(defaultBudget)) {
      case (acc, (src, b)) => when(col(sourceCol) === src, lit(b)).otherwise(acc)
    }
    val offMap = typedLit(totals.keys.groupBy(_._1).flatMap { case (src, ks) =>
      val shs = ks.map(_._2).toSeq.sorted
      val offs = shs.scanLeft(0L)((acc, s) => acc + totals((src, s))).dropRight(1)
      shs.zip(offs).map { case (s, o) => s"$src:$s" -> o }
    }.toMap)
    val w = Window.partitionBy(col(sourceCol), col("__sh"))
      .orderBy(col("__u"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base
      .withColumn("__budget", budget)
      .withColumn("cum_tok", sum(col("n_tok")).over(w) +
        element_at(offMap, concat_ws(":", col(sourceCol), col("__sh"))))
      .filter(col("cum_tok") - col("n_tok") < col("__budget"))
      .select(col(idCol), col(sourceCol), col("n_tok"), col("cum_tok"))
  }

  /** Temperature-based source RESAMPLING (the multilingual-LM standard:
    * sampling share q_s ∝ n_s^alpha, alpha < 1 flattens the source
    * distribution so a dominant source cannot drown the tail): per-source
    * token budgets are derived from the corpus's own counts and fed to
    * [[mixToBudget]]'s deterministic md5-uniform greedy fill.
    *
    * The n_s^alpha weights quantize to UNIT integers before any sum (house
    * rule: no float summation whose order could differ across engines),
    * and the budget split `T * w_s / Σw` is exact big-integer arithmetic.
    * `pow` is the one transcendental in the pipeline and is only
    * 1-ulp-reproducible across engines; unit (not micro-unit) quantization
    * keeps a 1-ulp wobble ~10 orders of magnitude away from the floor
    * boundary, at the cost of ≤ 1/w_s relative budget granularity — the
    * right trade for a mixing ratio. Source counts are dimension-sized
    * control data (driver collect). */
  def mixByTemperature(docs: DataFrame, idCol: String, textCol: String,
                       sourceCol: String, alpha: Double, frac: Double,
                       salt: String = "graft-mix"): DataFrame = {
    // tokenize ONCE, and collect ONCE: the per-(source, shard) totals the
    // greedy fill needs anyway also carry the per-source sums the budget
    // derivation needs (exact long addition, associative — identical to
    // the former separate groupBy(source) collect)
    val counted = docs.select(col(idCol), col(sourceCol),
      size(TextFunctions.subwordTokens(col(textCol))).cast("long").as("n_tok"))
    val (base, totals) = mixShardTotals(counted, idCol, sourceCol, salt,
      nShards = 16)
    val counts = totals.toSeq.groupBy(_._1._1)
      .map { case (s, xs) => s -> xs.map(_._2).sum }.toSeq
    val total = counts.map(_._2).sum
    val budgetT = math.floor(frac * total).toLong
    val weights = counts.map { case (s, n) =>
      s -> math.floor(math.pow(n.toDouble, alpha)).toLong
    }
    val sumW = weights.map(_._2).sum
    val budgets = weights.map { case (s, w) =>
      s -> (BigInt(budgetT) * w / sumW).toLong
    }.toMap
    mixFill(base, totals, idCol, sourceCol, budgets, defaultBudget = 0L)
  }

  /** MODEL-driven mixture reweighting (the domain-reweighting idea behind
    * DoReMi-style pipelines, shrunk to an exact cross-engine core):
    * sources are RANKED by their mean per-doc quality score and the rank
    * becomes the mixing weight — best source S, worst 1 — then a
    * frac-of-corpus token budget splits ∝ weight with exact big-integer
    * arithmetic and [[mixToBudgetCounted]]'s deterministic md5-uniform
    * greedy fill selects the documents. Where [[mixByTemperature]]
    * reweights by SIZE, this reweights by a trained signal: mixture
    * composition follows data quality.
    *
    * Ordinal (rank) weights, not softmax of the raw signal: only
    * COMPARISONS of per-source means cross the engine boundary — both
    * engines divide the same exact integers in IEEE doubles, so the
    * ranking (and with it every budget) is bit-stable, with no
    * transcendental anywhere. Per-source stats are dimension-sized
    * control data (driver collect).
    *
    * `scores`: per-doc (idCol, scoreCol) integer scores — e.g.
    * [[graft.text.Probe.score]]'s pred_nano. */
  def mixByQualityRank(docs: DataFrame, idCol: String, textCol: String,
                       sourceCol: String, scores: DataFrame, scoreCol: String,
                       frac: Double, salt: String = "graft-mix"): DataFrame = {
    // tokenize ONCE; the counted frame feeds both the budget derivation
    // and the greedy fill
    val counted = graft.ops.Caches.track(docs.select(col(idCol), col(sourceCol),
      size(TextFunctions.subwordTokens(col(textCol))).cast("long").as("n_tok")))
    val stats = counted.join(scores.select(col(idCol), col(scoreCol)), idCol)
      .groupBy(col(sourceCol))
      .agg(sum(col(scoreCol)).as("__sp"), count(lit(1)).as("__n"),
        sum(col("n_tok")).as("__t"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val budgetT = math.floor(frac * stats.map(_._4).sum).toLong
    // mean-score DESC rank (ties by source name) -> weight S..1
    val ordered = stats.sortBy { case (s, sp, n, _) => (-(sp.toDouble / n), s) }
    val nSrc = ordered.length
    val weights = ordered.zipWithIndex.map { case ((s, _, _, _), i) =>
      s -> (nSrc - i).toLong
    }
    val sumW = weights.map(_._2).sum
    val budgets = weights.map { case (s, w) =>
      s -> (BigInt(budgetT) * w / sumW).toLong
    }.toMap
    mixToBudgetCounted(counted, idCol, sourceCol, budgets,
      defaultBudget = 0L, salt)
  }

  /** Hashing-trick featurizer (the no-model text embedding): each token
    * hashes to one of `dim` signed buckets — bucket from md5 nibble 2,
    * sign from nibble 3 — and a document's feature i is the SIGNED token
    * count of bucket i. The random-sign trick makes each feature an
    * unbiased sketch of the token distribution (Weinberger et al.'s
    * feature hashing), good enough for cheap clustering / near-dup /
    * probe features when no neural embedder is in the loop.
    *
    * Shape: ONE md5 per token (the transform pre-encodes bucket·2+sign),
    * then `2·dim` integer array filters — a pure narrow projection, no
    * shuffle, whole-stage codegen; all-integer output so the oracle is
    * exact. Output columns: idCol, f0..f{dim-1}. */
  def hashFeatures(docs: DataFrame, textCol: String, idCol: String,
                   dim: Int = 16): DataFrame = {
    require(dim > 0 && dim <= 64, s"dim $dim out of range")
    val toks = TextFunctions.subwordTokens(col(textCol))
    val enc = transform(toks, t => {
      val h = md5(t.cast("binary"))
      val bucket = conv(substring(h, 1, 2), 16, 10).cast("int") % dim
      val sign = when(substring(h, 3, 1) < "8", 1).otherwise(0)
      bucket * 2 + sign
    })
    val fs = (0 until dim).map { i =>
      (size(filter(col("__enc"), e => e === i * 2 + 1)) -
        size(filter(col("__enc"), e => e === i * 2))).cast("long").as(s"f$i")
    }
    docs.withColumn("__enc", enc)
      .select(col(idCol) +: fs: _*)
  }

  // ---------------------------------------------------------------- sequence packing

  /** Pack documents into fixed token-budget training sequences: documents
    * are laid out in id order within each (stratum, shard) lane and a
    * document's sequence id is its exclusive-prefix token count divided by
    * the budget — deterministic fixed-stride packing (greedy next-fit needs
    * a sequential scan; stride packing is the order-preserving variant that
    * stays a window expression).
    *
    * The window partitions by (stratum, shard): `nShards` bounds each
    * window's size, so parallelism scales with the shard count and no lane
    * ever needs a global sort. Output: (idCol, strataCol, shard, n_tok,
    * seq_id).
    */
  def packSequences(docs: DataFrame, idCol: String, textCol: String,
                    strataCol: String, budgetTokens: Int,
                    nShards: Int = 16): DataFrame = {
    val tok = size(TextFunctions.subwordTokens(col(textCol))).cast("long")
    val shard = pmod(col(idCol), lit(nShards)).cast("int")
    val w = Window.partitionBy(col(strataCol), col("shard"))
      .orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.select(col(idCol), col(strataCol), shard.as("shard"), tok.as("n_tok"))
      .withColumn("seq_id",
        floor((sum(col("n_tok")).over(w) - col("n_tok")) / budgetTokens).cast("long"))
  }

  // ---------------------------------------------------------------- corpus profile

  /** Per-source corpus profile — the "data card" summary a curation
    * pipeline publishes with a release: document counts, language spread,
    * size totals and a median. One shuffle on the source key with map-side
    * partial aggregation for the sums; the exact median buffers each
    * source's sizes on its reducer (fine while per-source cardinality fits
    * an executor — at extreme scale swap `percentile` for
    * `approx_percentile`, trading the oracle-exact check for a sketch). */
  def corpusProfile(docs: DataFrame, sourceCol: String, langCol: String,
                    charsCol: String, textCol: String): DataFrame =
    docs.groupBy(col(sourceCol))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col(langCol)).as("n_langs"),
        sum(col(charsCol)).as("total_chars"),
        sum(size(TextFunctions.subwordTokens(col(textCol))).cast("long"))
          .as("total_tok"),
        percentile(col(charsCol), lit(0.5)).as("med_chars"))

  // ---------------------------------------------------------------- quantization

  /** Per-vector min-max int8 scalar quantization: q_i = round((x_i - min) /
    * (max - min) * 255) - 128 (all-equal vectors quantize to 0). The
    * storage-compression step an embedding pipeline applies before indexing
    * at scale (4× smaller than float32; IEEE-deterministic, so quantized
    * codes are engine-reproducible). Pure narrow expression. */
  def quantizeInt8(vec: Column): Column = {
    val v = transform(vec, _.cast("double"))
    val mn = array_min(v)
    val mx = array_max(v)
    transform(v, x =>
      when(mx === mn, lit(0))
        .otherwise((round((x - mn) / (mx - mn) * 255) - 128).cast("int")))
  }
}
