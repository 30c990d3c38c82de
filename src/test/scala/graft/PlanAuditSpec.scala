package graft

import org.scalatest.funsuite.AnyFunSuite

/** The recorded plan-audit lane's regression pins: each of the most
  * expensive batch queries has its final-adapted-plan exchange count
  * asserted, so a plan regression — a new shuffle, a broadcast→SMJ flip,
  * a lost reuse — fails a test instead of hiding inside bench jitter.
  * Counts are pinned at sf0.001 on the shared test session; if a
  * deliberate plan change moves one, the pin (and PLAN_AUDIT_r{N}.txt)
  * moves with it in the same commit. */
class PlanAuditSpec extends AnyFunSuite with SparkTestBase {

  /** query -> expected exchange count in the FINAL adapted plan
    * (includes ReusedExchange — any move in either direction is a plan
    * change worth reviewing). */
  private val pins: Seq[(String, Int)] = Seq(
    "curriculum_order" -> 2,
    "incr_snapshot_diff" -> 2,
    "pipeline_curate" -> 3,
    "incr_schema_evolve" -> 0,
    "mm_decode_mp4" -> 1,
    "mm_decode_jpeg_parallel" -> 3,
    "incr_time_travel" -> 0,
    "mm_decode_jpeg_color" -> 2,
    // 10 -> 13 in round 13: towerLists' selected-terms cache pin was
    // dropped (the InMemoryRelation HID its subtree's exchanges from this
    // count while paying them in a separate population job); the same
    // subtree now plans inline with the full-postings df scan replaced by
    // a bucket+term-pruned read — fewer scans and exchanges overall
    // (plans/r13/search_hybrid_rrf_{before,after}.txt), one plan instead
    // of cache-populate + probe.
    // 13 -> 12 in round 14: the two-tower retrieval pushes its probe ids
    // into the embeddings scan as `PushedFilters: [In(vec_id, …)]`, which
    // replaces the exchange that joined the probes against the full
    // embeddings scan (plans/r15/search_hybrid_rrf_{before,after}.txt)
    "search_hybrid_rrf" -> 12,
    "mm_decode_video" -> 2,
    "dedup_minhash_incr" -> 4,
    "sim_recall_lsh" -> 0, // dashboard: control rows, work in the counts
    // progressive decodes are narrow maps: both exchanges are Par.ensure
    // spreads (encode + decode stages), file/bytes-gated no-ops at scale
    // — the same shape as mm_decode_jpeg_color's 2
    "mm_decode_jpeg_progressive" -> 2,
    "mm_decode_jpeg_prog420" -> 2,
    // progressive segment-parallel: the same 3-exchange shape as the
    // baseline parallel decode — encode-stage Par.ensure spread, the ONE
    // (image, bucket) fan-out repartition, and the doc_id partial-merge
    "mm_decode_jpeg_prog_parallel" -> 3,
    // the crawl-ingestion reads are ZERO-exchange narrow maps over the
    // staged .warc.gz files — a shuffle appearing here would mean the
    // reader started moving whole blobs instead of decoded rows
    "fmt_warc_roundtrip" -> 0,
    "pipeline_web" -> 0,
    // round-12 additions: URL dedup is ONE shuffle (the canonical-key
    // groupBy — decoded rows move, never blobs); the normalizer and the
    // block classifier are pure narrow maps
    "dedup_url" -> 1,
    "url_normalize" -> 0,
    "text_html_content" -> 0,
    // link graph (round-13 re-key on registrable domain): the two-phase
    // exact countDistinct over (host, url) — same shape as domain stats
    "web_link_graph" -> 2,
    "url_domain_stats" -> 2,
    // 4:1:1 shares the color-decode shape (encode + decode Par.ensure
    // spreads); oriented adds the exifTagged staging stage; the MP3
    // header walk is the standard encode+decode pair
    "mm_decode_jpeg411" -> 2,
    "mm_decode_oriented" -> 3,
    "mm_mp3_survey" -> 2,
    // round-13 additions: the HTTP extraction, charset decode, and WET
    // round trip are ZERO-exchange narrow maps (message split + decode
    // fused into the byte-range task); the type census is the one
    // classify-and-count shuffle; the link graph's re-key on
    // registrable domain pays the two-phase exact countDistinct over
    // (host, url) like url_domain_stats
    "warc_http_extract" -> 0,
    "warc_type_survey" -> 1,
    "text_html_charset" -> 0,
    "fmt_wet_roundtrip" -> 0)

  for ((name, want) <- pins) {
    test(s"exchange count pinned: $name = $want") {
      try {
        val (plan, got) = PlanAudit.audit(spark, "/root/testdata/sf0.001", name)
        assert(got == want,
          s"$name exchange count moved $want -> $got; if deliberate, " +
            s"re-record PLAN_AUDIT and move this pin. Plan:\n${plan.take(4000)}")
      } finally {
        // cleanup must run even when a pin fails, or the leaked caches
        // and streaming state cascade into the remaining pins
        graft.core.Sessions.reset(spark)
      }
    }
  }
}
