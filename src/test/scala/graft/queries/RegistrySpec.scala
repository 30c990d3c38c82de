package graft.queries

import org.scalatest.funsuite.AnyFunSuite

/** The declared query registry: one declaration per name, the streaming
  * flag Bench's `streaming_sub` reads, and a lookup that never silently
  * selects nothing. */
class RegistrySpec extends AnyFunSuite {

  private def q(name: String) = Query(name, (s, _) => s.emptyDataFrame, "SELECT 1")

  test("a name declared twice fails construction, naming it") {
    val e = intercept[IllegalArgumentException] {
      Registry.index(Seq(q("a1"), q("dup_q"), q("b2"), q("dup_q")))
    }
    assert(e.getMessage.contains("dup_q"))
    assert(!e.getMessage.contains("a1"))
  }

  test("streaming is declared for exactly the stream-draining queries") {
    val streaming = Registry.all.values.filter(_.streaming).map(_.name).toSet
    assert(streaming === Set(
      "dedup_minhash_stream", "events_dedup_stream", "events_enrich_stream",
      "events_hourly_forever", "events_hourly_stream", "events_hourly_upsert",
      "events_join_stream", "events_join_stream_outer", "events_sessions_state",
      "events_uniques_stream",
      "mm_decode_stream", "quality_probe_stream", "search_bm25_stream",
      "sim_ivfpq_stream", "sketch_cms_stream", "text_bpe_stream",
      "text_kn_stream", "text_unigram_stream", "warc_ingest_stream"))
  }

  test("lookup keeps the requested order and rejects unknown names, naming them") {
    assert(Registry.lookup(Seq("b3_range", "a6_reduce_sum")).map(_.name) ===
      Seq("b3_range", "a6_reduce_sum"))
    val e = intercept[NoSuchElementException] {
      Registry.lookup(Seq("a6_reduce_sum", "typo_one", "typo_two"))
    }
    assert(e.getMessage.contains("typo_one,typo_two"))
    assert(!e.getMessage.contains("a6_reduce_sum"))
  }

  test("an empty selection is rejected, not run as zero queries") {
    // `,` is what a main sees as a name list that splits to nothing
    for (names <- Seq(Nil, ",".split(",").toSeq)) {
      val e = intercept[NoSuchElementException](Registry.lookup(names))
      assert(e.getMessage.contains("no query name given"))
    }
  }
}
