package graft.queries

import graft.multimodal.Multimodal
import org.apache.spark.sql.functions._

/** Multimodal blobs: audio, video and container decoding, format surveys. */
object MmQueries {
  import Inputs._

  // shared G.711 oracle scaffold: `sampleExpr` maps companded byte `b`
  // to its 16-bit sample; stats identical to the PCM WAV oracle
  private def g711OracleSql(sampleExpr: String): String =
    raw"""WITH b AS (SELECT doc_id,
              regexp_extract_all(hex(encode(text)), '..') AS by FROM documents),
          u AS (SELECT doc_id, list_transform(by, h ->
              (strpos('0123456789ABCDEF', substr(h, 1, 1)) - 1) * 16
              + strpos('0123456789ABCDEF', substr(h, 2, 1)) - 1) AS bs
            FROM b),
          v AS (SELECT doc_id, len(bs) AS ns,
              list_transform(bs, b -> $sampleExpr) AS vs FROM u)
          SELECT doc_id,
            CAST(8000 AS INTEGER) AS sample_rate,
            CAST(1 AS INTEGER) AS channels,
            CAST(8 AS INTEGER) AS bits,
            CAST(ns AS BIGINT) AS n_samples,
            CAST(coalesce(list_sum(vs), 0) AS BIGINT) AS sum_samples,
            CAST(coalesce(list_sum(list_transform(vs, x -> x * x)), 0)
              AS BIGINT) AS sum_squares,
            CAST(coalesce(list_aggregate(list_transform(vs, x -> abs(x)),
              'max'), 0) AS BIGINT) AS max_abs
          FROM v"""

  val all: Seq[Query] = Seq(
    // Multimodal: binary blobs + typed metadata
    Query("mm_meta", (s, dir) => {
      val blobs = t(s, dir, "documents")
        .withColumn("blob", encode(col("text"), "UTF-8"))
      Multimodal.withMeta(blobs, "blob", "image", "utf8")
        .select(col("doc_id"), col("meta.byte_len").as("byte_len"),
          col("meta.checksum").as("checksum"))
    }, oracle =
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
           md5(text) AS checksum FROM documents"""),

    // Multimodal: partition-batched decode → feature rows (stub decoder)
    Query("mm_decode", (s, dir) => {
      val blobs = t(s, dir, "documents")
        .withColumn("blob", encode(col("text"), "UTF-8"))
      Multimodal.decodeFeatures(blobs, "doc_id", "blob")
        .select(col("doc_id"), col("byte_len"), col("dim1"), col("dim2"))
    }, oracle =
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
           CAST(1 + octet_length(encode(text)) % 640 AS INTEGER) AS dim1,
           CAST(1 + octet_length(encode(text)) % 480 AS INTEGER) AS dim2 FROM documents"""),

    // REAL container decode: each doc's UTF-8 bytes (even-truncated — PCM
    // frames are 2 bytes) wrapped into an actual RIFF/WAVE container (fmt
    // + JUNK + data chunks, built as binary-concat expressions inside
    // codegen), then parsed back by the pure-JVM chunk-walking 16-bit-PCM
    // WAV decoder (Multimodal.Wav — the decode seam's first real
    // implementation; the JUNK chunk forces genuine chunk walking). The
    // decoded sample statistics are exact integers, so the oracle
    // recomputes them from the same bytes
    Query("mm_decode_wav", (s, dir) => {
      val blobs = t(s, dir, "documents")
        .withColumn("__b", encode(col("text"), "UTF-8"))
        .withColumn("__pcm",
          expr("substring(__b, 1, length(__b) - pmod(length(__b), 2))"))
        .withColumn("blob", Multimodal.wavBlob(col("__pcm"),
          sampleRate = 8000, channels = 1))
      Multimodal.decodeWav(blobs, "doc_id", "blob")
    }, oracle =
      // the WAV round-trip decode: the PCM payload is the doc's
      // even-truncated UTF-8 bytes, so the decoded sample stats equal the
      // 16-bit LE signed reading of those bytes (len(by)//2 drops the odd
      // tail exactly like the even truncation)
      {
        def bv(idx: String) =
          s"((strpos('0123456789ABCDEF', substr(by[($idx)::INT], 1, 1)) - 1) * 16" +
            s" + strpos('0123456789ABCDEF', substr(by[($idx)::INT], 2, 1)) - 1)"
        raw"""WITH b AS (SELECT doc_id,
                regexp_extract_all(hex(encode(text)), '..') AS by FROM documents),
            s AS (SELECT doc_id, by, len(by) // 2 AS ns FROM b),
            r AS (SELECT doc_id, ns, list_transform(range(ns), i ->
                ${bv("2*i+1")} + 256 * ${bv("2*i+2")}) AS us FROM s),
            v AS (SELECT doc_id, ns, list_transform(us, x ->
                CASE WHEN x >= 32768 THEN x - 65536 ELSE x END) AS vs FROM r)
            SELECT doc_id,
              CAST(8000 AS INTEGER) AS sample_rate,
              CAST(1 AS INTEGER) AS channels,
              CAST(16 AS INTEGER) AS bits,
              CAST(ns AS BIGINT) AS n_samples,
              CAST(coalesce(list_sum(vs), 0) AS BIGINT) AS sum_samples,
              CAST(coalesce(list_sum(list_transform(vs, x -> x * x)), 0)
                AS BIGINT) AS sum_squares,
              CAST(coalesce(list_aggregate(list_transform(vs, x -> abs(x)),
                'max'), 0) AS BIGINT) AS max_abs
            FROM v"""
      }),

    // REAL G.711 μ-law decode (WAV format tag 7) — what telephony audio
    // actually ships as: every payload byte is one companded sample,
    // expanded with the standard complement + segment/mantissa integer
    // arithmetic the oracle replays per byte
    Query("mm_decode_mulaw", (s, dir) => {
      val blobs = t(s, dir, "documents")
        .withColumn("__b", encode(col("text"), "UTF-8"))
        .withColumn("blob", Multimodal.wavG711Blob(col("__b"),
          sampleRate = 8000, channels = 1, mulaw = true))
      Multimodal.decodeWav(blobs, "doc_id", "blob")
    }, oracle =
      // G.711 μ-law: sample = ±(((mantissa·8 + 132) << exponent) − 132)
      // over the complemented byte — validated against an independent
      // reference for all 256 byte values
      {
        val mag = "((((255-b)%16)*8 + 132) * (1 << (((255-b)//16)%8))) - 132"
        g711OracleSql(s"CASE WHEN (255-b) >= 128 THEN -($mag) ELSE $mag END")
      }),

    // REAL IMA ADPCM decode (WAV format tag 0x11) — the seam's first
    // COMPRESSED audio codec: the payload bytes are the raw nibble
    // stream, split into 12-byte blocks whose 4-byte headers (predictor
    // 0, step index 0) each emit sample 0, then every nibble steps the
    // predictor through the published step/index tables with clamping at
    // ±32767/[0,88]. Exact integer statistics; the oracle replays the
    // identical per-nibble recurrence in a recursive CTE over the same
    // bytes — a decoder that mis-ordered nibbles, missed a clamp, or
    // broke a block boundary hash-mismatches
    Query("mm_decode_adpcm", (s, dir) => {
      val blobs = t(s, dir, "documents")
        .withColumn("__b", encode(col("text"), "UTF-8"))
      Multimodal.decodeWav(
        Multimodal.wavAdpcmBlob(blobs, "doc_id", "__b",
          sampleRate = 8000, blockAlign = 12), "doc_id", "blob")
    }, oracle =
      // IMA ADPCM: the oracle replays the exact per-nibble recurrence —
      // step table lookup, 3-bit magnitude expansion, ±32767 clamp,
      // index advance clamped to [0,88] — in a recursive CTE whose
      // frontier is one row per (doc, 12-byte block), 2 nibbles per data
      // byte plus the header's sample 0; block state resets per block
      {
        val st = "[7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,41," +
          "45,50,55,60,66,73,80,88,97,107,118,130,143,157,173,190,209,230," +
          "253,279,307,337,371,408,449,494,544,598,658,724,796,876,963," +
          "1060,1166,1282,1411,1552,1707,1878,2066,2272,2499,2749,3024," +
          "3327,3660,4026,4428,4871,5358,5894,6484,7132,7845,8630,9493," +
          "10442,11487,12635,13899,15289,16818,18500,20350,22385,24623," +
          "27086,29794,32767]"
        val it = "[-1,-1,-1,-1,2,4,6,8]"
        raw"""WITH RECURSIVE b AS (SELECT doc_id,
                regexp_extract_all(hex(encode(text)), '..') AS by
                FROM documents),
            v AS (SELECT doc_id, list_transform(by, h ->
                (strpos('0123456789ABCDEF', substr(h, 1, 1)) - 1) * 16
                + strpos('0123456789ABCDEF', substr(h, 2, 1)) - 1) AS bv
              FROM b),
            blk AS (SELECT doc_id, j,
                bv[(j*8+1)::INT:(LEAST((j+1)*8, len(bv)))::INT] AS bb
              FROM v, unnest(range((len(bv) + 7) // 8)) AS t(j)),
            rec AS (
              SELECT doc_id, j, bb, 0 AS q, 0 AS pred, 0 AS sidx, 0 AS s
              FROM blk
              UNION ALL
              SELECT doc_id, j, bb, q + 1,
                LEAST(32767, GREATEST(-32768,
                  CASE WHEN nib >= 8 THEN pred - diff
                       ELSE pred + diff END)) AS pred,
                LEAST(88, GREATEST(0, sidx + ($it)[(nib % 8) + 1])) AS sidx,
                LEAST(32767, GREATEST(-32768,
                  CASE WHEN nib >= 8 THEN pred - diff
                       ELSE pred + diff END)) AS s
              FROM (SELECT doc_id, j, bb, q, pred, sidx,
                  CASE WHEN q % 2 = 0 THEN bb[(q + 2) // 2] % 16
                       ELSE bb[(q + 1) // 2] // 16 END AS nib,
                  ($st)[sidx + 1] AS step
                FROM rec WHERE q < 2 * len(bb)) r,
              LATERAL (SELECT step // 8
                + CASE WHEN nib % 2 = 1 THEN step // 4 ELSE 0 END
                + CASE WHEN (nib // 2) % 2 = 1 THEN step // 2 ELSE 0 END
                + CASE WHEN (nib // 4) % 2 = 1 THEN step ELSE 0 END
                AS diff) d)
            SELECT d.doc_id,
              CAST(8000 AS INTEGER) AS sample_rate,
              CAST(1 AS INTEGER) AS channels,
              CAST(4 AS INTEGER) AS bits,
              CAST(coalesce(r.n, 0) AS BIGINT) AS n_samples,
              CAST(coalesce(r.s, 0) AS BIGINT) AS sum_samples,
              CAST(coalesce(r.sq, 0) AS BIGINT) AS sum_squares,
              CAST(coalesce(r.mx, 0) AS BIGINT) AS max_abs
            FROM documents d LEFT JOIN (
              SELECT doc_id, count(*) AS n, sum(s) AS s, sum(s * s) AS sq,
                max(abs(s)) AS mx FROM rec GROUP BY doc_id) r
              USING (doc_id)"""
      }),

    // MP3-class audio survey — the dominant real-crawl audio container,
    // the last named audio absence (PLANS.md round 12 records the
    // measured-share decision: HEADER WALK implemented — frame count,
    // samplerate, CBR/VBR, peak bitrate, frame-exact duration, ID3
    // presence, the audio data-card fields — PCM synthesis the recorded
    // rejection). The walker validates every frame's sync/version/layer,
    // strides by the spec's 144·bitrate/samplerate(+padding) length, and
    // skips ID3v2 by its syncsafe size; the oracle re-derives every
    // output from the fixture's doc_id arithmetic
    Query("mm_mp3_survey", (s, dir) => {
      val px = t(s, dir, "documents")
        .withColumn("__b", expr("substring(encode(text, 'UTF-8'), 1, 64)"))
      Multimodal.decodeMp3Survey(
        Multimodal.mp3Blob(px, "doc_id", "__b"), "doc_id", "blob")
    }, oracle =
      // MP3: every walker output is fixture doc_id arithmetic — frames,
      // samplerate table, VBR cycle max, frame-exact truncated duration
      raw"""WITH m AS (SELECT doc_id,
              CAST(1 + doc_id % 8 AS INTEGER) AS n_frames,
              CAST(CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
                ELSE 32000 END AS INTEGER) AS sample_rate,
              -- a 1-frame "VBR" stream is observationally CBR: the
              -- walker reports what the frames DECLARE, not the fixture
              -- intent
              (doc_id % 4 != 0 OR 1 + doc_id % 8 = 1) AS cbr
              FROM documents)
            SELECT doc_id, n_frames, sample_rate, cbr,
              CAST(CASE WHEN cbr THEN 128
                WHEN n_frames >= 3 THEN 192
                WHEN n_frames = 2 THEN 160 ELSE 128 END AS INTEGER)
                AS max_kbps,
              CAST(n_frames * 1152 * 1000 // sample_rate AS BIGINT)
                AS duration_ms,
              (doc_id % 5 = 0) AS has_id3
            FROM m"""),

    // REAL FLAC decode — the seam's LOSSLESS compressed audio codec:
    // sample i is exactly payload byte i − 128, but the wire format
    // cycles VERBATIM → FIXED(1) with two Rice partitions → FIXED(2)
    // with escape-coded residuals → LPC(2) across frames, so
    // reconstructing the bytes requires real Rice decoding, inverse
    // prediction against three different predictors, UTF-8 frame
    // numbers, and CRC-8/CRC-16 verification on every frame. Exact
    // integer statistics; the oracle recomputes them from the bytes
    Query("mm_decode_flac", (s, dir) => {
      val blobs = t(s, dir, "documents")
        .withColumn("__b", expr("substring(encode(text, 'UTF-8'), 1, 2048)"))
      Multimodal.decodeFlac(
        Multimodal.flacBlob(blobs, "doc_id", "__b",
          sampleRate = 8000, blockSize = 64), "doc_id", "blob")
    }, oracle =
      // FLAC: decoded sample i ≡ byte i − 128 by fixture construction
      // (the wire format varies per frame; the VALUES don't) — so the
      // oracle is pure byte arithmetic, and any Rice/prediction/CRC slip
      // on the Spark side hash-mismatches
      raw"""WITH b AS (SELECT doc_id,
                list_transform(regexp_extract_all(
                    substr(hex(encode(text)), 1, 4096), '..'), h ->
                  (strpos('0123456789ABCDEF', substr(h, 1, 1)) - 1) * 16
                  + strpos('0123456789ABCDEF', substr(h, 2, 1)) - 1 - 128)
                  AS vs FROM documents)
            SELECT doc_id,
              CAST(8000 AS INTEGER) AS sample_rate,
              CAST(1 AS INTEGER) AS channels,
              CAST(16 AS INTEGER) AS bits,
              CAST((len(vs) + 63) // 64 AS INTEGER) AS n_frames,
              CAST(len(vs) AS BIGINT) AS n_samples,
              CAST(coalesce(list_sum(vs), 0) AS BIGINT) AS sum_samples,
              CAST(coalesce(list_sum(list_transform(vs, x -> x * x)), 0)
                AS BIGINT) AS sum_squares,
              CAST(coalesce(list_aggregate(list_transform(vs, x -> abs(x)),
                'max'), 0) AS BIGINT) AS max_abs
            FROM b"""),

    // REAL G.711 A-law decode (WAV format tag 6): XOR-0x55 companding,
    // linear segment 0, inverted sign convention vs μ-law
    Query("mm_decode_alaw", (s, dir) => {
      val blobs = t(s, dir, "documents")
        .withColumn("__b", encode(col("text"), "UTF-8"))
        .withColumn("blob", Multimodal.wavG711Blob(col("__b"),
          sampleRate = 8000, channels = 1, mulaw = false))
      Multimodal.decodeWav(blobs, "doc_id", "blob")
    }, oracle =
      // G.711 A-law: XOR 0x55, segment 0 linear, sign bit SET = positive
      {
        val mag = "CASE WHEN (xor(b,85)//16)%8 = 0 THEN (xor(b,85)%16)*16 + 8" +
          " ELSE ((xor(b,85)%16)*16 + 264) * (1 << ((xor(b,85)//16)%8 - 1)) END"
        g711OracleSql(s"CASE WHEN xor(b,85) >= 128 THEN ($mag) ELSE -($mag) END")
      }),

    // No-decode FORMAT SURVEY over a DECLARED mix — the production
    // pre-pass that measures the decode seam's reject rate before
    // spending decode cycles: blobs are classified structurally (JPEG SOF
    // kind + component count, PNG IHDR depth/interlace, container magics)
    // and counted by (format, decodable). The mix covers accepted classes
    // (baseline JPEG gray + 4:2:0, sequential + Adam7 PNG, REAL 16-bit
    // PNG — decodable since the depth-16 branch landed — and REAL FLAC
    // audio) and the two
    // named rejection classes (COLOR progressive JPEG at 4:1:1 —
    // gray/4:4:4/4:2:0/4:2:2 progressive decode for real — grayscale
    // PNG, and ARITHMETIC-coded JPEG: SOF10 rejected by name — the
    // measured-share input to the implement/reject decision recorded in
    // PLANS.md); the oracle re-derives every count from doc_id alone
    Query("mm_format_survey", (s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("__b0", expr("substring(encode(text, 'UTF-8'), 1, 2048)"))
        .withColumn("__k", pmod(col("doc_id"), lit(10L)))
      def slice(k: Int) = docs.filter(col("__k") === k)
      val gray = Multimodal.jpegBlob(
        slice(0).filter(length(col("__b0")) >= 1), "doc_id", "__b0")
      val j420 = Multimodal.jpeg420Blob(slice(1)
        .withColumn("__b",
          expr("substring(__b0, 1, length(__b0) - pmod(length(__b0), 4))"))
        .filter(length(col("__b")) >= 4), "doc_id", "__b", restartEvery = 3)
      def pngPx(k: Int) = slice(k)
        .withColumn("__px",
          expr("substring(__b0, 1, length(__b0) - pmod(length(__b0), 15))"))
        .filter(length(col("__px")) >= 15)
      val png = Multimodal.pngBlob(pngPx(2), "doc_id", "__px", width = 5)
      val adam = Multimodal.pngInterlacedBlob(pngPx(3), "doc_id", "__px", width = 5)
      val prog = slice(4).select(col("doc_id"),
        lit(Multimodal.ProgressiveJpegStub).as("blob"))
      val p16 = Multimodal.png16Blob(slice(5)
        .withColumn("__px",
          expr("substring(__b0, 1, length(__b0) - pmod(length(__b0), 30))"))
        .filter(length(col("__px")) >= 30), "doc_id", "__px", width = 5)
      val pgray = slice(6).select(col("doc_id"),
        lit(Multimodal.PngGrayStub).as("blob"))
      val arith = slice(7).select(col("doc_id"),
        lit(Multimodal.ArithmeticJpegStub).as("blob"))
      val flac = Multimodal.flacBlob(slice(8)
        .filter(length(col("__b0")) >= 1), "doc_id", "__b0")
      val mp3 = Multimodal.mp3Blob(slice(9), "doc_id", "__b0")
      val mix = Seq(gray, j420, png, adam, prog, p16, pgray, arith, flac,
        mp3)
        .map(_.select(col("doc_id"), col("blob"))).reduce(_.unionByName(_))
      Multimodal.formatSurvey(mix, "doc_id", "blob")
        .groupBy(col("format"), col("decodable"))
        .agg(count(lit(1)).as("n"))
    }, oracle =
      // the survey counts re-derived from doc_id alone: each mix slice's
      // own length gate decides membership, the format label is a pure
      // function of the slice
      raw"""WITH d AS (SELECT doc_id,
                least(octet_length(encode(text)), 2048) AS nb,
                doc_id % 10 AS k FROM documents),
            c AS (SELECT doc_id,
                CASE k
                  WHEN 0 THEN CASE WHEN nb >= 1 THEN 'jpeg_baseline' END
                  WHEN 1 THEN CASE WHEN nb - nb % 4 >= 4 THEN 'jpeg_baseline' END
                  WHEN 2 THEN CASE WHEN nb - nb % 15 >= 15 THEN 'png8' END
                  WHEN 3 THEN CASE WHEN nb - nb % 15 >= 15 THEN 'png8' END
                  WHEN 4 THEN 'jpeg_progressive'
                  WHEN 5 THEN CASE WHEN nb - nb % 30 >= 30 THEN 'png16' END
                  WHEN 6 THEN 'png8_gray'
                  WHEN 7 THEN 'jpeg_sofca'
                  WHEN 8 THEN CASE WHEN nb >= 1 THEN 'flac' END
                  WHEN 9 THEN 'mp3'
                END AS format,
                k IN (0, 1, 2, 3, 5, 6, 8, 9) AS decodable
              FROM d)
            SELECT format, decodable, count(*) AS n FROM c
            WHERE format IS NOT NULL GROUP BY 1, 2"""),

    // REAL video-container decode — the decode seam's third modality
    // (image/audio landed round 7): each doc wrapped into an actual
    // ISO-BMFF movie (ftyp + moov with mvhd timing and two trak/tkhd
    // children carrying 16.16 fixed-point dims + a free box + mdat), all
    // built by binary-concat expressions with BIG-endian box sizes, then
    // parsed back by the pure-JVM box walker (Multimodal.Mp4). The free
    // box forces generic size-based skipping; the nested moov walk and
    // the fixed-point dims are the non-trivial parse work. Exact oracle
    Query("mm_decode_mp4", (s, dir) => {
      val blobs = t(s, dir, "documents")
        .withColumn("__b", encode(col("text"), "UTF-8"))
        .withColumn("blob", Multimodal.mp4Blob(col("__b"),
          durationCol = col("n_chars") * 40,
          w = lit(16L) + pmod(col("n_chars"), lit(640L)),
          h = lit(16L) + pmod(col("n_chars"), lit(480L))))
      Multimodal.decodeMp4(blobs, "doc_id", "blob")
    }, oracle =
      // the MP4 box walk re-derived: every container field is an exact
      // function of the doc (brand/timescale/track structure static by
      // construction; duration and dims from n_chars; mdat stats from
      // the payload's hex bytes — the Spark side must PARSE the built
      // container to reproduce them)
      raw"""WITH b AS (SELECT doc_id, n_chars,
                regexp_extract_all(hex(encode(text)), '..') AS by FROM documents),
            m AS (SELECT doc_id, n_chars,
                list_transform(by, x ->
                  (strpos('0123456789ABCDEF', substr(x, 1, 1)) - 1) * 16
                    + strpos('0123456789ABCDEF', substr(x, 2, 1)) - 1) AS bv
              FROM b)
            SELECT doc_id, 'isom' AS brand, 4::BIGINT AS n_boxes,
              1000::BIGINT AS timescale,
              (n_chars * 40)::BIGINT AS duration,
              2::BIGINT AS n_tracks,
              (16 + n_chars % 640)::BIGINT AS width,
              (16 + n_chars % 480)::BIGINT AS height,
              len(bv)::BIGINT AS mdat_bytes,
              coalesce(list_aggregate(bv, 'sum'), 0)::BIGINT AS mdat_sum,
              coalesce(list_aggregate(bv, 'max'), 0)::BIGINT AS mdat_max
            FROM m"""),

    // REAL frame sampling — the demux layer: frames are located through
    // the container's OWN sample tables (stts duration, stsz sizes, stco
    // absolute chunk offset), never by assuming where the payload sits or
    // how it splits; every 2nd declared 200-byte frame is statted. The
    // oracle re-derives the frame plan the builder declared
    Query("mm_demux_mp4", (s, dir) => {
      val blobs = t(s, dir, "documents")
        .withColumn("__b", encode(col("text"), "UTF-8"))
        .withColumn("blob", Multimodal.mp4Blob(col("__b"),
          durationCol = col("n_chars") * 40,
          w = lit(16L) + pmod(col("n_chars"), lit(640L)),
          h = lit(16L) + pmod(col("n_chars"), lit(480L))))
      Multimodal.demuxMp4(blobs, "doc_id", "blob", stride = 2)
    }, oracle =
      // the demux replay: n = len // 200 declared frames at 40 ms each;
      // sampled = frames 0, 2, 4, … — byte positions re-derived from the
      // SAME frame plan the builder wrote into stsz/stco
      raw"""WITH b AS (SELECT doc_id,
                regexp_extract_all(hex(encode(text)), '..') AS by FROM documents),
            s AS (SELECT doc_id, by, len(by) // 200 AS n FROM b),
            p AS (SELECT doc_id, by, n, (n + 1) // 2 AS ns,
                flatten(list_transform(range((n + 1) // 2), k ->
                  list_transform(range(200), j -> 2 * k * 200 + j))) AS offs
              FROM s),
            v AS (SELECT doc_id, n, ns,
                list_transform(offs, x ->
                  (strpos('0123456789ABCDEF', substr(by[(x + 1)::INT], 1, 1)) - 1) * 16
                    + strpos('0123456789ABCDEF', substr(by[(x + 1)::INT], 2, 1)) - 1)
                  AS bv
              FROM p)
            SELECT doc_id, n::BIGINT AS n_frames, 40::BIGINT AS frame_ms,
              ns::BIGINT AS n_sampled, (ns * 200)::BIGINT AS sampled_bytes,
              coalesce(list_aggregate(bv, 'sum'), 0)::BIGINT AS sampled_sum,
              coalesce(list_aggregate(bv, 'max'), 0)::BIGINT AS sampled_max
            FROM v"""),

    // REAL video-FRAME decode — MJPEG-in-MP4, the composition closing the
    // demux→decode gap: each doc's payload splits into 64-byte slices,
    // each slice becomes a real DC-only grayscale JPEG frame, the frames
    // mux into a real ISO-BMFF movie (stts/stsz/stco), and the decoder
    // re-locates every frame through the container's OWN sample tables,
    // fans the frames across tasks through ONE keyed shuffle, and runs
    // the full baseline-JPEG pipeline per frame. One row per frame with
    // exact pixel statistics — the oracle re-derives every frame's pixels
    // from the document text (the DC-only fixture decodes bit-exactly)
    Query("mm_decode_video", (s, dir) => {
      val px = t(s, dir, "documents")
        .withColumn("__b0", expr("substring(encode(text, 'UTF-8'), 1, 2048)"))
        .withColumn("__b",
          expr("substring(__b0, 1, length(__b0) - pmod(length(__b0), 64))"))
        .filter(length(col("__b")) >= 64)
      Multimodal.decodeVideoFrames(
        Multimodal.mjpegBlob(px, "doc_id", "__b", frameBytes = 64,
          frameMs = 40), "doc_id", "blob")
    }, oracle =
      // the video round-trip: frame k of a doc is payload slice
      // [64k, 64(k+1)) — one flat 8×8 block per byte (the mm_decode_jpeg
      // fixture), so every frame is 8×512 with sum = 64·Σbytes; pts from
      // the container's single stts run (40 ms)
      raw"""WITH b AS (SELECT doc_id,
                regexp_extract_all(substr(hex(encode(text)), 1, 4096), '..') AS by
                FROM documents),
            s AS (SELECT doc_id, by[1:(len(by) - len(by) % 64)::INT] AS by
              FROM b WHERE len(by) >= 64),
            f AS (SELECT doc_id, by, unnest(range(len(by) // 64)) AS k FROM s),
            v AS (SELECT doc_id, k, by[(64*k+1)::INT] AS tl,
                list_transform(list_slice(by, (64*k+1)::INT, (64*k+64)::INT),
                  h -> (strpos('0123456789ABCDEF', substr(h, 1, 1)) - 1) * 16
                    + strpos('0123456789ABCDEF', substr(h, 2, 1)) - 1) AS bv
              FROM f)
            SELECT doc_id, k::INTEGER AS frame_idx, (k * 40)::BIGINT AS pts_ms,
              8::INTEGER AS width, 512::INTEGER AS height,
              4096::BIGINT AS n_px, (64 * list_sum(bv))::BIGINT AS sum_px,
              list_aggregate(bv, 'max')::INTEGER AS max_px, tl AS topleft_hex
            FROM v"""),

    // Multimodal frame sampling: fixed-size byte windows, every 2nd kept —
    // the blob never leaves codegen; frame content checked byte-exactly via
    // its hex against the oracle's hex-string slice
    Query("mm_frames", (s, dir) => {
      val blobs = t(s, dir, "documents")
        .withColumn("blob", encode(col("text"), "UTF-8"))
      Multimodal.sampleFrames(blobs, "blob", frameBytes = 256, stride = 2)
        .select(col("doc_id"),
          size(col("frames")).cast("long").as("n_frames"),
          hex(element_at(col("frames"), 1)).as("first_frame_hex"))
    }, oracle =
      """SELECT doc_id,
           (GREATEST(CAST(ceil(octet_length(encode(text))::DOUBLE / 256) AS BIGINT), 1) + 1) // 2
             AS n_frames,
           substring(hex(encode(text)), 1, 512) AS first_frame_hex
           FROM documents"""),

    // Multimodal audio windows: the blob as 16-bit LE PCM, per-window
    // integer energy + zero crossings (native one-pass kernels) — the
    // VAD/silence-trim substrate; published as scalars per doc (first/max
    // window energy, total crossings) since list cells don't hash
    Query("mm_audio_energy", (s, dir) => {
      val blobs = t(s, dir, "documents")
        .withColumn("blob", encode(col("text"), "UTF-8"))
      val en = Multimodal.audioEnergy(col("blob"), windowSamples = 256)
      val zc = Multimodal.audioZeroCrossings(col("blob"), windowSamples = 256)
      blobs.select(col("doc_id"),
        size(en).cast("long").as("n_windows"),
        try_element_at(en, lit(1)).as("energy_first"),
        array_max(en).as("energy_max"),
        aggregate(zc, lit(0L), _ + _).as("zc_total"))
    }, oracle =
      // AudioEnergy/AudioZeroCrossings kernels re-derived from the blob's
      // hex: 16-bit LE samples (lo + 256*hi, signed at 32768), per-256-
      // sample windows; CAST list_sum results (HUGEINT) back to BIGINT
      {
        def bv(idx: String) =
          s"((strpos('0123456789ABCDEF', substr(by[($idx)::INT], 1, 1)) - 1) * 16" +
            s" + strpos('0123456789ABCDEF', substr(by[($idx)::INT], 2, 1)) - 1)"
        raw"""WITH b AS (SELECT doc_id,
                regexp_extract_all(hex(encode(text)), '..') AS by FROM documents),
            s AS (SELECT doc_id, by, len(by) // 2 AS ns FROM b),
            r AS (SELECT doc_id, ns, list_transform(range(ns), i ->
                ${bv("2*i+1")} + 256 * ${bv("2*i+2")}) AS us FROM s),
            v AS (SELECT doc_id, ns, (ns + 255) // 256 AS nw,
                list_transform(us, x ->
                  CASE WHEN x >= 32768 THEN x - 65536 ELSE x END) AS vs
                FROM r),
            e AS (SELECT doc_id, ns, nw, vs, list_transform(range(nw), w ->
                list_sum(list_transform(
                  vs[(w*256+1)::INT:least((w+1)*256, ns)::INT],
                  x -> x * x))) AS es FROM v)
            SELECT doc_id, CAST(nw AS BIGINT) AS n_windows,
              CAST(es[1] AS BIGINT) AS energy_first,
              CAST(list_aggregate(es, 'max') AS BIGINT) AS energy_max,
              CAST(coalesce(list_sum(list_transform(range(1, ns), i ->
                CASE WHEN (vs[(i+1)::INT] < 0) <> (vs[i::INT] < 0)
                  THEN 1 ELSE 0 END)), 0) AS BIGINT) AS zc_total
            FROM e"""
      })
  )
}
