package graft

import graft.text.Retrieval
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** TF-IDF top-k, BM25 over the partition-pruned inverted index, and
  * cross-slice n-gram overlap. */
class RetrievalSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "spark table scan", "a"),
    (2L, "spark table join join", "a"),
    (3L, "window sort window", "b"),
    (4L, "spark window table scan scan", "b")
  ).toDF("doc_id", "text", "source")

  test("tfidfTopK ranks rare terms above common ones, deterministic ties") {
    val top = Retrieval.tfidfTopK(docs, "text", "doc_id", k = 2)
    val byDoc = top.collect().groupBy(_.getLong(0))
    // doc 2: 'join' (tf=2, df=1) far outscores 'spark'/'table' (df=3)
    assert(byDoc(2L).minBy(_.getInt(5)).getString(1) == "join")
    // doc 1's terms tf=1 each: scores order by idf then term asc tie-break
    val d1 = byDoc(1L).sortBy(_.getInt(5)).map(_.getString(1)).toSeq
    assert(d1.head == "scan") // df=2 beats df=3; 'scan' unique in doc 1 at df=2
    // rank is dense 1..k
    assert(byDoc.values.forall(_.map(_.getInt(5)).sorted.toSeq == Seq(1, 2)))
  }

  test("bm25 probe equals an unpruned scoring pass and ranks by relevance") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25").toString
    try {
      val idx = Retrieval.buildIndex(docs, "text", "doc_id", dir, numBuckets = 8)
      val hits = Retrieval.bm25(spark, idx, "join table", k = 4).collect()
      // doc 2 matches both terms, 'join' twice — top hit
      assert(hits.head.getAs[Long]("doc") == 2L)
      // docs 1, 2, 4 contain 'table'; doc 3 matches nothing
      assert(hits.map(_.getAs[Long]("doc")).toSet == Set(1L, 2L, 4L))
      // scoring is reproducible run to run (integer micro-units)
      val again = Retrieval.bm25(spark, idx, "join table", k = 4).collect()
      assert(hits.map(r => (r.getAs[Long]("doc"), r.getAs[Long]("score_micro"))).toSeq ==
        again.map(r => (r.getAs[Long]("doc"), r.getAs[Long]("score_micro"))).toSeq)
      // the probe's scan carries a non-empty partition filter on `bucket`
      // (static pruning: only the query terms' directories are read)
      val explained = Retrieval.bm25(spark, idx, "join", k = 4)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      val pf = explained.linesIterator.find(_.contains("PartitionFilters"))
      assert(pf.nonEmpty, s"no PartitionFilters line in:\n$explained")
      assert(pf.get.contains("bucket"), pf.get)
    } finally graft.core.TempDirs.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("driver-side term buckets equal the hash() expression exactly") {
    val terms = Seq("join", "table", "scan", "stream", "ünïcode☃", "a b", "x")
    val sparkSide = terms.toDF("term")
      .select(col("term"), pmod(hash(col("term")), lit(64)).as("b"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    terms.foreach { t =>
      assert(Retrieval.termBucket(t, 64) == sparkSide(t),
        s"driver/Spark bucket mismatch for '$t'")
    }
  }

  test("top-k plans are bounded: TakeOrderedAndProject / WindowGroupLimit") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25_plan").toString
    try {
      val idx = Retrieval.buildIndex(docs, "text", "doc_id", dir, numBuckets = 8)
      // single-probe ranking must NOT funnel the full candidate set through
      // a partitionless window: orderBy+limit plans as TakeOrderedAndProject
      // (per-partition top-k, driver merge of k rows), and the rank window
      // then runs over at most k rows
      val p1 = Retrieval.bm25(spark, idx, "join table", k = 4)
        .queryExecution.executedPlan.toString()
      assert(p1.contains("TakeOrderedAndProject"), p1)
      val p2 = Retrieval.phraseSearch(spark, idx, "table scan", k = 4)
        .queryExecution.executedPlan.toString()
      assert(p2.contains("TakeOrderedAndProject"), p2)
      // batch ranking keeps the per-qid rank window, but the rank<=k filter
      // must infer a WindowGroupLimit so each map partition prunes to its
      // top-k per qid BEFORE the exchange (never a corpus-scale partition)
      val p3 = Retrieval.bm25Batch(spark, idx,
          Seq(("q1", "join table")).toDF("qid", "qtext"), "qid", "qtext", k = 4)
        .queryExecution.executedPlan.toString()
      assert(p3.contains("WindowGroupLimit"), p3)
    } finally graft.core.TempDirs.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("bm25BatchTerms with a superset termList equals bm25Batch") {
    // towerLists passes the probe VOCABULARY (a superset of the selected
    // terms) for bucket/scan pruning; df and scores must be unaffected by
    // the extra pruned-in terms because scoring joins the exact (qid, term)
    // pairs and df counts each term's own postings only
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25_terms").toString
    try {
      val idx = Retrieval.buildIndex(docs, "text", "doc_id", dir, numBuckets = 8)
      val qs = Seq(("q1", "join table"), ("q2", "window scan"))
      val viaBatch = Retrieval.bm25Batch(spark, idx, qs.toDF("qid", "qtext"),
          "qid", "qtext", k = 4)
        .select("qid", "doc", "score_micro", "n_terms", "rank")
        .collect().toSet
      val qterms = qs.toDF("qid", "qtext").select(col("qid"),
        explode(split(col("qtext"), " ")).as("term"))
      val superset = Seq("join", "table", "window", "scan",
        "sort", "merge", "group") // extra terms beyond the queries'
      val viaTerms = Retrieval.bm25BatchTerms(spark, idx, qterms, superset, k = 4)
        .select("qid", "doc", "score_micro", "n_terms", "rank")
        .collect().toSet
      assert(viaTerms == viaBatch)
    } finally graft.core.TempDirs.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("bm25Batch slices equal the single-query probe per qid") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25_batch").toString
    try {
      val idx = Retrieval.buildIndex(docs, "text", "doc_id", dir, numBuckets = 8)
      val qs = Seq(("q1", "join table"), ("q2", "window scan"), ("q3", "sort"))
      val batch = Retrieval.bm25Batch(spark, idx, qs.toDF("qid", "qtext"),
        "qid", "qtext", k = 4).collect()
        .groupBy(_.getAs[String]("qid"))
      for ((qid, qtext) <- qs) {
        val single = Retrieval.bm25(spark, idx, qtext, k = 4).collect()
          .map(r => (r.getAs[Long]("doc"), r.getAs[Long]("score_micro"),
            r.getAs[Long]("n_terms"), r.getAs[Int]("rank"))).toSeq
        val slice = batch.getOrElse(qid, Array.empty)
          .sortBy(_.getAs[Int]("rank"))
          .map(r => (r.getAs[Long]("doc"), r.getAs[Long]("score_micro"),
            r.getAs[Long]("n_terms"), r.getAs[Int]("rank"))).toSeq
        assert(slice == single, s"qid=$qid")
      }
    } finally graft.core.TempDirs.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("maintained index probes identically to a fresh rebuild") {
    val dirA = java.nio.file.Files.createTempDirectory("graft_bm25_incr").toString
    val dirB = java.nio.file.Files.createTempDirectory("graft_bm25_full").toString
    try {
      // start: doc 2 has STALE text, doc 4 missing, doc 99 is garbage that
      // will be deleted
      val stale = Seq(
        (1L, "spark table scan"),
        (2L, "outdated words entirely"),
        (3L, "window sort window"),
        (99L, "garbage row"))
        .toDF("doc_id", "text")
      val idx = Retrieval.buildIndex(stale, "text", "doc_id", dirA, numBuckets = 8)
      // batch 1: fix doc 2 (supersede), add doc 4, drop doc 99
      Retrieval.updateIndex(idx,
        upserts = Seq((2L, "spark table join join"),
          (4L, "spark window table scan scan")).toDF("doc_id", "text"),
        textCol = "text", idCol = "doc_id",
        deletes = Seq(Tuple1(99L)).toDF("doc_id"), gen = 1L)
      val full = Retrieval.buildIndex(docs.drop("source"), "text", "doc_id",
        dirB, numBuckets = 8)
      for (q <- Seq("join table", "scan", "window sort spark")) {
        val a = Retrieval.bm25(spark, idx, q, k = 10).collect().toSeq
        val b = Retrieval.bm25(spark, full, q, k = 10).collect().toSeq
        assert(a == b, s"query '$q': maintained=$a rebuilt=$b")
      }
    } finally {
      graft.core.TempDirs.deleteRecursively(java.nio.file.Paths.get(dirA))
      graft.core.TempDirs.deleteRecursively(java.nio.file.Paths.get(dirB))
    }
  }

  test("phraseSearch counts consecutive-token occurrences via positions") {
    val dir = java.nio.file.Files.createTempDirectory("graft_phrase").toString
    try {
      val corpus = Seq(
        (1L, "big table scan on a big table scan pipeline"),
        (2L, "table scan big"),
        (3L, "big scan table"),
        (4L, "big big big")
      ).toDF("doc_id", "text")
      val idx = Retrieval.buildIndex(corpus, "text", "doc_id", dir, numBuckets = 8)
      val hits = Retrieval.phraseSearch(spark, idx, "big table scan", k = 10).collect()
      // only doc 1 contains the phrase, starting at positions 0 and 5
      assert(hits.map(r => (r.getAs[Long]("doc"), r.getAs[Long]("n_hits"))).toSeq ==
        Seq((1L, 2L)))
      // repeated-term phrase: overlapping occurrences count each start
      val rep = Retrieval.phraseSearch(spark, idx, "big big", k = 10).collect()
      assert(rep.map(r => (r.getAs[Long]("doc"), r.getAs[Long]("n_hits"))).toSeq ==
        Seq((4L, 2L)))
      // absent phrase: empty result
      assert(Retrieval.phraseSearch(spark, idx, "scan scan", k = 10).count() == 0)
    } finally graft.core.TempDirs.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("compaction preserves probes and clears tombstones") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25_cmp").toString
    try {
      val idx = Retrieval.buildIndex(
        Seq((1L, "spark table scan"), (2L, "old junk"), (3L, "window sort window"))
          .toDF("doc_id", "text"), "text", "doc_id", dir, numBuckets = 8)
      Retrieval.updateIndex(idx,
        upserts = Seq((2L, "spark table join join"),
          (4L, "spark window table scan scan")).toDF("doc_id", "text"),
        textCol = "text", idCol = "doc_id",
        deletes = Seq.empty[Tuple1[Long]].toDF("doc_id"),
        gen = 1L)
      val before = Retrieval.bm25(spark, idx, "join table scan", k = 10).collect().toSeq
      Retrieval.compact(spark, idx)
      val after = Retrieval.bm25(spark, idx, "join table scan", k = 10).collect().toSeq
      assert(before == after)
      assert(!java.nio.file.Files.isDirectory(
        java.nio.file.Paths.get(idx.tombstoneDir)))
      // generations collapse to ONE — the pre-compaction MAX, so surviving
      // tombstones could never have killed the rewritten rows mid-swap
      // (gen is a PARTITION column since the crash-idempotent layout)
      assert(spark.read.parquet(idx.postingsDir)
        .select(col("gen")).distinct().count() == 1L)
      assert(spark.read.parquet(idx.postingsDir)
        .select(max(col("gen")).cast("long")).collect()(0).getLong(0) == 1L)
    } finally graft.core.TempDirs.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("property: random change batches keep maintained ≡ rebuilt") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed

    val words = Seq("spark", "table", "scan", "join", "window", "sort", "fast", "slow")
    val genText: Gen[String] =
      Gen.chooseNum(1, 10).flatMap(n => Gen.listOfN(n, Gen.oneOf(words)))
        .map(_.mkString(" "))
    def sample[A](g: Gen[A], seed: Long): A =
      g.apply(Gen.Parameters.default, Seed(seed)).get

    val dirA = java.nio.file.Files.createTempDirectory("graft_bm25_p1").toString
    val dirB = java.nio.file.Files.createTempDirectory("graft_bm25_p2").toString
    try {
      // live corpus state the index must converge to, id -> text
      var truth: Map[Long, String] =
        (0L until 12L).map(i => i -> sample(genText, 1000 + i)).toMap
      val idx = Retrieval.buildIndex(truth.toSeq.toDF("doc_id", "text"),
        "text", "doc_id", dirA, numBuckets = 8)
      for (gen <- 1L to 4L) {
        // each batch: some upserts (new + superseding ids), some deletes
        val upserts = (0 until 4).map { j =>
          val id = sample(Gen.chooseNum(0L, 20L), gen * 100 + j)
          id -> sample(genText, gen * 1000 + j)
        }.toMap // Map: at most one change per id per batch (the contract)
        val deletes = Seq(sample(Gen.chooseNum(0L, 20L), gen * 7))
          .filterNot(upserts.contains).distinct
        truth = (truth ++ upserts) -- deletes
        Retrieval.updateIndex(idx, upserts.toSeq.toDF("doc_id", "text"),
          "text", "doc_id", deletes.map(Tuple1(_)).toDF("doc_id"), gen)
      }
      val rebuilt = Retrieval.buildIndex(truth.toSeq.toDF("doc_id", "text"),
        "text", "doc_id", dirB, numBuckets = 8)
      for (q <- Seq("spark table", "window", "fast slow scan")) {
        val a = Retrieval.bm25(spark, idx, q, k = 25).collect().toSeq
        val b = Retrieval.bm25(spark, rebuilt, q, k = 25).collect().toSeq
        assert(a == b, s"query '$q' diverged after 4 random batches")
        val pa = Retrieval.phraseSearch(spark, idx, q, k = 25).collect().toSeq
        val pb = Retrieval.phraseSearch(spark, rebuilt, q, k = 25).collect().toSeq
        assert(pa == pb, s"phrase '$q' diverged after 4 random batches")
      }
    } finally {
      graft.core.TempDirs.deleteRecursively(java.nio.file.Paths.get(dirA))
      graft.core.TempDirs.deleteRecursively(java.nio.file.Paths.get(dirB))
    }
  }

  test("hybridRrf fuses both towers, excludes self, exact nano scores") {
    val corpus = sf("documents")
    val embs = sf("embeddings")
    val dir = java.nio.file.Files.createTempDirectory("graft_hyb").toString
    val idx = Retrieval.buildIndex(corpus, "text", "doc_id", dir, numBuckets = 8)
    val probes = corpus.filter(col("doc_id") % 17 === 0)
      .select(col("doc_id"), col("text"))
    val out = Retrieval.hybridRrf(spark, idx, probes, "doc_id", "text",
      embs, "vec_id", "embedding", kEach = 10, kOut = 5)
    val rows = out.collect()
    val probeIds = probes.select("doc_id").as[Long].collect().toSet
    val byQ = rows.groupBy(_.getAs[Long]("qid"))
    assert(byQ.keySet.subsetOf(probeIds) && byQ.nonEmpty)
    byQ.foreach { case (qid, rs) =>
      // never the probe itself; dense ranks 1..5; both-towers docs exist
      assert(!rs.exists(_.getAs[Long]("doc") == qid))
      assert(rs.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to rs.length))
      assert(rs.length <= 5)
      rs.foreach { r =>
        val n = r.getAs[Long]("n_lists")
        assert(n == 1 || n == 2)
        // nano score bounds: n terms of at most 1e9/61 each
        val s = r.getAs[Long]("rrf_nano")
        assert(s >= 1 && s <= n * math.round(1e9 / 61))
      }
    }
    // the fusion algebra, recomputed in plain Scala from the two tower
    // lists: MoreLikeThis term selection (10 rarest by df, term asc),
    // bm25 over the reconstructed queries, sum of round(1e9/(60+rank))
    // per (qid, doc), top-5 by (score desc, doc asc) — must equal the
    // operator's output exactly
    val docToks = corpus.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect()
      .map { case (id, t) => id -> t.trim.toLowerCase.split("\\s+").toSeq }.toMap
    val dfMap = docToks.values.toSeq.flatMap(_.distinct)
      .groupBy(identity).map { case (t, xs) => t -> xs.size }
    val probes2 = probes.select("doc_id").as[Long].collect().toSeq.sorted.map { id =>
      (id, docToks(id).distinct.sortBy(t => (dfMap(t), t)).take(10).sorted.mkString(" "))
    }.toDF("qid", "qtext")
    val lexList = Retrieval.bm25Batch(spark, idx, probes2, "qid", "qtext", 11)
      .select(col("qid").cast("long"), col("doc"), col("score_micro"))
      .as[(Long, Long, Long)].collect().toSeq
      .filter { case (q, d, _) => q != d }
      .groupBy(_._1).toSeq.flatMap { case (q, rs) =>
        rs.sortBy(r => (-r._3, r._2)).take(10).zipWithIndex
          .map { case ((_, d, _), i) => ((q, d), i + 1) } }
    val denList = graft.sim.Similarity
      .bruteForceTopK(embs, embs.join(probes.select(col("doc_id").as("vec_id")), "vec_id"),
        "vec_id", "embedding", 10)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
      .as[(Long, Long, Int)].collect().toSeq
      .map { case (q, d, r) => ((q, d), r) }
    val expected = (lexList ++ denList)
      .groupBy(_._1)
      .map { case ((q, d), rs) =>
        (q, d, rs.length.toLong, rs.map(r => math.round(1e9 / (60 + r._2))).sum) }
      .groupBy(_._1).toSeq.flatMap { case (_, cands) =>
        cands.toSeq.sortBy(c => (-c._4, c._2)).take(5) }
      .map { case (q, d, n, s) => (q, d, n, s) }.toSet
    val gotSet = rows.map(r => (r.getAs[Long]("qid"), r.getAs[Long]("doc"),
      r.getAs[Long]("n_lists"), r.getAs[Long]("rrf_nano"))).toSet
    assert(gotSet == expected)
    // deterministic under repartitioning
    val again = Retrieval.hybridRrf(spark, idx,
      probes.repartition(7), "doc_id", "text",
      embs.repartition(5), "vec_id", "embedding", kEach = 10, kOut = 5)
      .collect().map(_.toString()).sorted.toSeq
    assert(again == rows.map(_.toString()).sorted.toSeq)
    // hard negatives = the lexical list minus the dense list, exactly
    val negs = Retrieval.hardNegatives(spark, idx, probes, "doc_id", "text",
        embs, "vec_id", "embedding", kEach = 10)
      .as[(Long, Long, Int)].collect().toSeq
    val denSet = denList.map(_._1).toSet
    val expNegs = lexList.filterNot { case (qd, _) => denSet.contains(qd) }
      .map { case ((q, d), r) => (q, d, r) }.toSet
    assert(negs.toSet == expNegs)
    assert(negs.nonEmpty)
    // and the converse: paraphrase positives = dense minus lexical
    val pos = Retrieval.paraphrasePositives(spark, idx, probes, "doc_id", "text",
        embs, "vec_id", "embedding", kEach = 10)
      .as[(Long, Long, Int)].collect().toSeq
    val lexSet = lexList.map(_._1).toSet
    val expPos = denList.filterNot { case (qd, _) => lexSet.contains(qd) }
      .map { case ((q, d), r) => (q, d, r) }.toSet
    assert(pos.toSet == expPos && pos.nonEmpty)
  }

  test("a probe with no tokens still gets its dense-tower neighbours") {
    val corpus = sf("documents")
    val dir = java.nio.file.Files.createTempDirectory("graft_hyb0").toString
    val idx = Retrieval.buildIndex(corpus, "text", "doc_id", dir, numBuckets = 8)
    val ids = corpus.filter(col("doc_id") % 17 === 0).select("doc_id").as[Long]
      .collect().sorted
    val silent = ids.head
    val probes = corpus.filter(col("doc_id") % 17 === 0)
      .select(col("doc_id"),
        when(col("doc_id") === silent, lit(null).cast("string"))
          .otherwise(col("text")).as("text"))
    val rows = Retrieval.hybridRrf(spark, idx, probes, "doc_id", "text",
      sf("embeddings"), "vec_id", "embedding", kEach = 10, kOut = 5)
      .filter(col("qid") === silent).collect()
    assert(rows.nonEmpty, "the tokenless probe lost its dense list")
    assert(rows.forall(_.getAs[Long]("n_lists") == 1L), "no lexical list to fuse")
  }

  test("sourceOverlap counts shared distinct n-grams per unordered pair") {
    // 2-grams: a = {spark table, table scan, table join, join join};
    //          b = {window sort, sort window, spark window, window table,
    //               table scan, scan scan}
    val o = Retrieval.sourceOverlap(docs, "text", "source", n = 2).collect()
    assert(o.length == 1)
    val r = o.head
    assert(r.getAs[String]("slice_a") == "a" && r.getAs[String]("slice_b") == "b")
    assert(r.getAs[Long]("shared") == 1L) // 'table scan'
    assert(r.getAs[Long]("union_grams") == 4L + 6L - 1L)
    assert(r.getAs[Long]("jaccard_micro") == 1000000L / 9L)
  }
}
