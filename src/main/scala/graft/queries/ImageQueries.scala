package graft.queries

import graft.core._
import graft.multimodal.Multimodal
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._

/** Image decoding (JPEG baseline/progressive, PNG, BMP), resizing, EXIF,
  * perceptual-hash dedup and the streamed JPEG decode. */
object ImageQueries {
  import Inputs._

  private val mmStreamStage =
    scala.collection.concurrent.TrieMap.empty[String, String]

  // the 4:4:4 color oracle, shared by the baseline and the progressive
  // decode queries (equality is the point): per payload byte b the
  // decoded MCU is a flat block with Y=b, Cb-128=b%9-4, Cr-128=b%7-3;
  // RGB re-derived with the decoder's 16-bit fixed-point BT.601
  // constants, where >>16 on a signed value is floor division by 65536
  private val jpegColorOracleSql: String = {
    def conv(e: String) =
      s"least(255, greatest(0, y + CAST(floor(($e + 32768) / 65536.0) AS INT)))"
    val r = conv("91881*(y%7-3)")
    val g = conv("-22554*(y%9-4) - 46802*(y%7-3)")
    val bb = conv("116130*(y%9-4)")
    raw"""WITH b AS (SELECT doc_id,
              regexp_extract_all(substr(hex(encode(text)), 1, 4096), '..') AS by
              FROM documents WHERE octet_length(encode(text)) >= 1),
          v AS (SELECT doc_id, list_transform(by, h ->
              (strpos('0123456789ABCDEF', substr(h, 1, 1)) - 1) * 16
              + strpos('0123456789ABCDEF', substr(h, 2, 1)) - 1) AS bv
            FROM b),
          px AS (SELECT doc_id, len(bv) AS n,
              list_transform(bv, y -> $r) AS rs,
              list_transform(bv, y -> $g) AS gs,
              list_transform(bv, y -> $bb) AS bs
            FROM v)
          SELECT doc_id,
            CAST(8 AS INTEGER) AS width,
            CAST(8 * n AS INTEGER) AS height,
            CAST(64 * n AS BIGINT) AS n_px,
            CAST(64 * list_sum(rs) AS BIGINT) AS sum_r,
            CAST(64 * list_sum(gs) AS BIGINT) AS sum_g,
            CAST(64 * list_sum(bs) AS BIGINT) AS sum_b,
            CAST(greatest(list_aggregate(rs, 'max'),
              list_aggregate(gs, 'max'),
              list_aggregate(bs, 'max')) AS INTEGER) AS max_px,
            printf('%02X%02X%02X', rs[1], gs[1], bs[1]) AS topleft_hex
          FROM px"""
  }
  // the 4:2:2 oracle, shared by the baseline and progressive queries:
  // bytes in PAIRS — half k of pair j is a flat 8×8 with Y = bv[2j+k],
  // chroma shared from the pair's FIRST byte
  private val jpeg422OracleSql: String = {
      def conv(y: String, e: String) =
        s"least(255, greatest(0, $y + CAST(floor(($e + 32768) / 65536.0) AS INT)))"
      val y = "bv[(2*j+k+1)::INT]"
      val c = "bv[(2*j+1)::INT]"
      val r = conv(y, s"91881*($c%7-3)")
      val g = conv(y, s"-22554*($c%9-4) - 46802*($c%7-3)")
      val bb = conv(y, s"116130*($c%9-4)")
      raw"""WITH b0 AS (SELECT doc_id,
                regexp_extract_all(substr(hex(encode(text)), 1, 4096), '..') AS by
                FROM documents),
            b AS (SELECT doc_id, by[1:(len(by) - len(by) % 2)::INT] AS by
              FROM b0 WHERE len(by) >= 2),
            v AS (SELECT doc_id, list_transform(by, h ->
                (strpos('0123456789ABCDEF', substr(h, 1, 1)) - 1) * 16
                + strpos('0123456789ABCDEF', substr(h, 2, 1)) - 1) AS bv
              FROM b),
            px AS (SELECT doc_id, len(bv) // 2 AS ng,
                flatten(list_transform(range(len(bv) // 2), j ->
                  list_transform(range(2), k -> [$r, $g, $bb]))) AS rgb
              FROM v)
            SELECT doc_id,
              CAST(16 AS INTEGER) AS width,
              CAST(8 * ng AS INTEGER) AS height,
              CAST(128 * ng AS BIGINT) AS n_px,
              CAST(64 * list_sum(list_transform(rgb, p -> p[1])) AS BIGINT)
                AS sum_r,
              CAST(64 * list_sum(list_transform(rgb, p -> p[2])) AS BIGINT)
                AS sum_g,
              CAST(64 * list_sum(list_transform(rgb, p -> p[3])) AS BIGINT)
                AS sum_b,
              CAST(list_aggregate(list_transform(rgb, p ->
                greatest(p[1], p[2], p[3])), 'max') AS INTEGER) AS max_px,
              printf('%02X%02X%02X', rgb[1][1], rgb[1][2], rgb[1][3])
                AS topleft_hex
            FROM px"""
  }
  // the shared 4-bytes-per-group oracle body: 4:2:0 (four Y quadrants,
  // 16-wide MCU) and 4:1:1 (four Y side by side, 32-wide MCU) produce
  // identical per-channel sums — only the declared geometry differs,
  // which is exactly what the parameterization expresses
  private def jpegQuadGroupOracleSql(widthExpr: String, heightExpr: String): String = {
      def conv(y: String, e: String) =
        s"least(255, greatest(0, $y + CAST(floor(($e + 32768) / 65536.0) AS INT)))"
      val y = "bv[(4*j+k+1)::INT]"
      val c = "bv[(4*j+1)::INT]"
      val r = conv(y, s"91881*($c%7-3)")
      val g = conv(y, s"-22554*($c%9-4) - 46802*($c%7-3)")
      val bb = conv(y, s"116130*($c%9-4)")
      raw"""WITH b0 AS (SELECT doc_id,
                regexp_extract_all(substr(hex(encode(text)), 1, 4096), '..') AS by
                FROM documents),
            b AS (SELECT doc_id, by[1:(len(by) - len(by) % 4)::INT] AS by
              FROM b0 WHERE len(by) >= 4),
            v AS (SELECT doc_id, list_transform(by, h ->
                (strpos('0123456789ABCDEF', substr(h, 1, 1)) - 1) * 16
                + strpos('0123456789ABCDEF', substr(h, 2, 1)) - 1) AS bv
              FROM b),
            px AS (SELECT doc_id, len(bv) // 4 AS ng,
                flatten(list_transform(range(len(bv) // 4), j ->
                  list_transform(range(4), k -> [$r, $g, $bb]))) AS rgb
              FROM v)
            SELECT doc_id,
              CAST($widthExpr AS INTEGER) AS width,
              CAST($heightExpr AS INTEGER) AS height,
              CAST(256 * ng AS BIGINT) AS n_px,
              CAST(64 * list_sum(list_transform(rgb, p -> p[1])) AS BIGINT)
                AS sum_r,
              CAST(64 * list_sum(list_transform(rgb, p -> p[2])) AS BIGINT)
                AS sum_g,
              CAST(64 * list_sum(list_transform(rgb, p -> p[3])) AS BIGINT)
                AS sum_b,
              CAST(list_aggregate(list_transform(rgb, p ->
                greatest(p[1], p[2], p[3])), 'max') AS INTEGER) AS max_px,
              printf('%02X%02X%02X', rgb[1][1], rgb[1][2], rgb[1][3])
                AS topleft_hex
            FROM px"""
    }
  // the 4:2:0 oracle, shared verbatim by the sequential and the
  // segment-parallel decode queries (equality is the point)
  private val jpeg420OracleSql: String = jpegQuadGroupOracleSql("16", "16 * ng")
  private val jpeg411OracleSql: String = jpegQuadGroupOracleSql("32", "8 * ng")
  // the EXIF-oriented oracle: the 4:2:0 body plus the orientation
  // arithmetic (doc_id-derived, as mm_exif_survey), display-dim swap
  // for orientations 5-8, and the stored-corner pick for the
  // displayed top-left witness
  private val jpegOrientedOracleSql: String = {
    def conv(y: String, e: String) =
      s"least(255, greatest(0, $y + CAST(floor(($e + 32768) / 65536.0) AS INT)))"
    val y = "bv[(4*j+k+1)::INT]"
    val c = "bv[(4*j+1)::INT]"
    val r = conv(y, s"91881*($c%7-3)")
    val g = conv(y, s"-22554*($c%9-4) - 46802*($c%7-3)")
    val bb = conv(y, s"116130*($c%9-4)")
    // displayed-top-left stored corner, per TIFF-274 orientation
    val cy = """CASE WHEN orientation IN (0, 1, 5) THEN bv[1]
           WHEN orientation IN (2, 8) THEN bv[2]
           WHEN orientation IN (3, 7) THEN bv[(4*ng)::INT]
           ELSE bv[(4*ng-1)::INT] END"""
    val cc = """CASE WHEN orientation IN (0, 1, 2, 5, 8) THEN bv[1]
           ELSE bv[(4*ng-3)::INT] END"""
    val wr = conv("cy", "91881*(cc%7-3)")
    val wg = conv("cy", "-22554*(cc%9-4) - 46802*(cc%7-3)")
    val wb = conv("cy", "116130*(cc%9-4)")
    raw"""WITH b0 AS (SELECT doc_id,
              regexp_extract_all(substr(hex(encode(text)), 1, 4096), '..') AS by
              FROM documents),
          b AS (SELECT doc_id, by[1:(len(by) - len(by) % 4)::INT] AS by
            FROM b0 WHERE len(by) >= 4),
          v AS (SELECT doc_id, list_transform(by, h ->
              (strpos('0123456789ABCDEF', substr(h, 1, 1)) - 1) * 16
              + strpos('0123456789ABCDEF', substr(h, 2, 1)) - 1) AS bv
            FROM b),
          o AS (SELECT doc_id, bv, len(bv) // 4 AS ng,
              CAST(CASE WHEN doc_id % 5 = 4 THEN 0
                ELSE 1 + doc_id % 8 END AS INTEGER) AS orientation FROM v),
          px AS (SELECT doc_id, orientation, ng,
              flatten(list_transform(range(ng), j ->
                list_transform(range(4), k -> [$r, $g, $bb]))) AS rgb,
              $cy AS cy, $cc AS cc
            FROM o)
          SELECT doc_id, orientation,
            CAST(CASE WHEN orientation BETWEEN 5 AND 8
              THEN 16 * ng ELSE 16 END AS INTEGER) AS width,
            CAST(CASE WHEN orientation BETWEEN 5 AND 8
              THEN 16 ELSE 16 * ng END AS INTEGER) AS height,
            CAST(256 * ng AS BIGINT) AS n_px,
            CAST(64 * list_sum(list_transform(rgb, p -> p[1])) AS BIGINT)
              AS sum_r,
            CAST(64 * list_sum(list_transform(rgb, p -> p[2])) AS BIGINT)
              AS sum_g,
            CAST(64 * list_sum(list_transform(rgb, p -> p[3])) AS BIGINT)
              AS sum_b,
            CAST(list_aggregate(list_transform(rgb, p ->
              greatest(p[1], p[2], p[3])), 'max') AS INTEGER) AS max_px,
            printf('%02X%02X%02X', $wr, $wg, $wb) AS topleft_hex
          FROM px"""
  }

  val all: Seq[Query] = Seq(
    // The decode seam under Structured Streaming: images ARRIVE as a
    // stream (4 parquet files, maxFilesPerTrigger=1 → a real multi-batch
    // drain), each micro-batch encodes + decodes its blobs through the
    // same 4:2:0 restart-marked path as mm_decode_jpeg420, and the
    // decoded features land in a per-batch-id sink directory (overwrite →
    // redelivery-idempotent; nothing corpus-scale touches the driver).
    // Same oracle as the batch query: stream-decode ≡ batch-decode,
    // proven by the gate
    Query("mm_decode_stream", (s, dir) => {
      val streamDir = mmStreamStage.getOrElseUpdate(dir, {
        val d = TempDirs.create("graft_mm_in")
        t(s, dir, "documents")
          .withColumn("__b0",
            expr("substring(encode(text, 'UTF-8'), 1, 2048)"))
          .withColumn("__b",
            expr("substring(__b0, 1, length(__b0) - pmod(length(__b0), 4))"))
          .filter(length(col("__b")) >= 4)
          .select(col("doc_id"), col("__b"))
          .repartition(4).write.mode("overwrite").parquet(d)
        d
      })
      val outDir = TempDirs.create("graft_mm_out")
      val q = s.readStream.schema(s.read.parquet(streamDir).schema)
        .option("maxFilesPerTrigger", "1").parquet(streamDir)
        .writeStream
        .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], id: Long) =>
          Multimodal.decodeJpegColor(
              Multimodal.jpeg420Blob(b.toDF(), "doc_id", "__b",
                restartEvery = 3), "doc_id", "blob")
            .write.mode("overwrite").parquet(s"$outDir/b$id")
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(s"$outDir/*")
    }, streaming = true, oracle =
      // ... and so is the streaming drain (micro-batched decode to a sink)
      jpeg420OracleSql),

    // EXIF SURVEY — the image-side governance pass: every JPEG gains a
    // REAL APP1/TIFF-IFD block (byte order alternating II/MM per doc,
    // out-of-line ASCII values so the offset arithmetic is load-bearing,
    // a GPS sub-IFD on every 3rd image — the privacy flag a release gate
    // counts BEFORE training on crawl images; every 5th image stays
    // EXIF-free, and absence is data, not an error). The decoder walks
    // the marker stream to APP1, parses BOTH endiannesses, reads inline
    // SHORTs and offset ASCII, and follows the GPS pointer; the oracle
    // re-derives every field from doc_id arithmetic
    Query("mm_exif_survey", (s, dir) => {
      val px = t(s, dir, "documents")
        .withColumn("__b", expr("substring(encode(text, 'UTF-8'), 1, 64)"))
        .filter(length(col("__b")) >= 1)
      Multimodal.decodeExif(
        Multimodal.exifTagged(
          Multimodal.jpegBlob(px, "doc_id", "__b"), "doc_id", "blob"),
        "doc_id", "blob")
    }, oracle =
      // EXIF: every field is doc_id arithmetic (the JPEG payload is
      // irrelevant to the metadata walk); EXIF-free images surface
      // all-absent fields
      raw"""SELECT doc_id,
              CASE WHEN doc_id % 5 = 4 THEN ''
                WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order,
              CAST(CASE WHEN doc_id % 5 = 4 THEN 0
                ELSE 1 + doc_id % 8 END AS INTEGER) AS orientation,
              CASE WHEN doc_id % 5 = 4 THEN ''
                ELSE 'Cam' || (doc_id % 7) END AS make,
              CASE WHEN doc_id % 5 = 4 THEN ''
                ELSE 'M-' || (doc_id % 13) END AS model,
              CASE WHEN doc_id % 5 = 4 THEN ''
                ELSE '2026:01:0' || (1 + doc_id % 9) || ' 12:00:00' END
                AS datetime,
              (doc_id % 5 != 4 AND doc_id % 3 = 0) AS gps_present,
              CAST(CASE WHEN doc_id % 5 != 4 AND doc_id % 3 = 0 THEN 2
                ELSE 0 END AS INTEGER) AS n_gps_tags
            FROM documents WHERE octet_length(encode(text)) >= 1"""),

    // REAL image decode: each doc's UTF-8 bytes (truncated to whole
    // 15-byte rows) wrapped into an actual bottom-up 24-bit BMP — file
    // header, BITMAPINFOHEADER, and 4-byte-stride row padding, built as
    // binary-concat expressions — then parsed back by the pure-JVM BMP
    // decoder (Multimodal.Bmp, the decode seam's real IMAGE
    // implementation). width 5 forces a nonzero row pad, so a parser that
    // ignores BMP's stride reads shifted channels; topleft_hex witnesses
    // the bottom-up row order. All-integer stats — exact oracle
    Query("mm_decode_bmp", (s, dir) => {
      val blobs = t(s, dir, "documents")
        .withColumn("__b", encode(col("text"), "UTF-8"))
        .withColumn("__px",
          expr("substring(__b, 1, length(__b) - pmod(length(__b), 15))"))
        .withColumn("blob", Multimodal.bmpBlob(col("__px"), width = 5))
      Multimodal.decodeBmp(blobs, "doc_id", "blob")
    }, oracle =
      // the BMP round-trip decode: the pixel payload is the doc's UTF-8
      // bytes truncated to whole 15-byte rows (width 5 × BGR), stored
      // bottom-up, so channel c's sum is the sum of payload bytes at
      // positions ≡ c (mod 3) and the logical top-left pixel is the FIRST
      // 3 bytes of the LAST stored row
      {
        def bv(idx: String) =
          s"((strpos('0123456789ABCDEF', substr(by[($idx)::INT], 1, 1)) - 1) * 16" +
            s" + strpos('0123456789ABCDEF', substr(by[($idx)::INT], 2, 1)) - 1)"
        raw"""WITH b AS (SELECT doc_id,
                regexp_extract_all(hex(encode(text)), '..') AS by,
                octet_length(encode(text)) AS nb FROM documents),
            s AS (SELECT doc_id, by, (nb - nb % 15) // 15 AS h,
                (nb - nb % 15) // 3 AS np FROM b),
            p AS (SELECT doc_id, by, h, np, list_transform(range(np), p ->
                [${bv("3*p+1")}, ${bv("3*p+2")}, ${bv("3*p+3")}]) AS px FROM s)
            SELECT doc_id,
              CAST(5 AS INTEGER) AS width,
              CAST(h AS INTEGER) AS height,
              CAST(np AS BIGINT) AS n_px,
              CAST(coalesce(list_sum(list_transform(px, q -> q[1])), 0)
                AS BIGINT) AS sum_b,
              CAST(coalesce(list_sum(list_transform(px, q -> q[2])), 0)
                AS BIGINT) AS sum_g,
              CAST(coalesce(list_sum(list_transform(px, q -> q[3])), 0)
                AS BIGINT) AS sum_r,
              CAST(coalesce(list_aggregate(list_transform(px,
                q -> q[1] + q[2] + q[3]), 'max'), 0) AS BIGINT) AS max_px,
              CASE WHEN h > 0 THEN
                by[((h-1)*15+1)::INT] || by[((h-1)*15+2)::INT] || by[((h-1)*15+3)::INT]
              ELSE '' END AS topleft_hex
            FROM p"""
      }),

    // REAL compressed-image decode — the decode seam's first COMPRESSED
    // format (WAV/BMP/MP4 walk uncompressed containers): each doc's UTF-8
    // bytes (whole 15-byte rows; docs under one row excluded — PNG
    // requires positive dims) wrapped into an actual baseline PNG whose
    // encoder cycles ALL FIVE row filters (None/Sub/Up/Average/Paeth) and
    // splits the zlib stream across IDAT chunks, then decoded back by the
    // pure-JVM parser (Inflater + unfilter + per-chunk CRC-32). The oracle
    // re-derives every pixel from the text, so a decode that fails to
    // invert the real deflate stream or any filter type hash-mismatches
    Query("mm_decode_png", (s, dir) => {
      val px = t(s, dir, "documents")
        .withColumn("__b", encode(col("text"), "UTF-8"))
        .withColumn("__px",
          expr("substring(__b, 1, length(__b) - pmod(length(__b), 15))"))
        .filter(length(col("__px")) >= 15)
      Multimodal.decodePng(
        Multimodal.pngBlob(px, "doc_id", "__px", width = 5), "doc_id", "blob")
    }, oracle =
      // the PNG round-trip decode: pixels are the doc's UTF-8 bytes in
      // whole 15-byte rows (width 5 × RGB), stored TOP-DOWN, so channel
      // c's sum is the payload bytes at positions ≡ c (mod 3) and the
      // top-left pixel is the FIRST 3 bytes; sub-row docs are excluded
      // (PNG requires positive dims)
      {
        def bv(idx: String) =
          s"((strpos('0123456789ABCDEF', substr(by[($idx)::INT], 1, 1)) - 1) * 16" +
            s" + strpos('0123456789ABCDEF', substr(by[($idx)::INT], 2, 1)) - 1)"
        raw"""WITH b AS (SELECT doc_id,
                regexp_extract_all(hex(encode(text)), '..') AS by,
                octet_length(encode(text)) AS nb FROM documents),
            s AS (SELECT doc_id, by, (nb - nb % 15) // 15 AS h,
                (nb - nb % 15) // 3 AS np FROM b WHERE nb >= 15),
            p AS (SELECT doc_id, by, h, np, list_transform(range(np), p ->
                [${bv("3*p+1")}, ${bv("3*p+2")}, ${bv("3*p+3")}]) AS px FROM s)
            SELECT doc_id,
              CAST(5 AS INTEGER) AS width,
              CAST(h AS INTEGER) AS height,
              CAST(np AS BIGINT) AS n_px,
              CAST(list_sum(list_transform(px, q -> q[1])) AS BIGINT) AS sum_r,
              CAST(list_sum(list_transform(px, q -> q[2])) AS BIGINT) AS sum_g,
              CAST(list_sum(list_transform(px, q -> q[3])) AS BIGINT) AS sum_b,
              CAST(list_aggregate(list_transform(px,
                q -> q[1] + q[2] + q[3]), 'max') AS BIGINT) AS max_px,
              by[1] || by[2] || by[3] AS topleft_hex
            FROM p"""
      }),

    // REAL Adam7-INTERLACED PNG decode — the progressive-rendering layout
    // a real crawl contains: the SAME pixels as mm_decode_png but stored
    // as seven independently-filtered pass sub-images on the spec grid,
    // so the decoder must walk a genuinely different scanline geometry
    // (per-pass filter resets, pass-dependent row lengths, empty passes
    // contributing nothing). The oracle is pixel-set identical to the
    // sequential query's — interlacing changes storage, not pixels —
    // which is exactly what makes the equality a decode proof
    Query("mm_decode_png_interlaced", (s, dir) => {
      val px = t(s, dir, "documents")
        .withColumn("__b", encode(col("text"), "UTF-8"))
        .withColumn("__px",
          expr("substring(__b, 1, length(__b) - pmod(length(__b), 15))"))
        .filter(length(col("__px")) >= 15)
      Multimodal.decodePng(
        Multimodal.pngInterlacedBlob(px, "doc_id", "__px", width = 5),
        "doc_id", "blob")
    }, oracle =
      // Adam7 round-trip: SAME pixel set as the sequential PNG — the
      // oracle re-derives the identical stats; only the decoder's walk
      // (seven pass sub-images) differs, which is the proof
      {
        def bv(idx: String) =
          s"((strpos('0123456789ABCDEF', substr(by[($idx)::INT], 1, 1)) - 1) * 16" +
            s" + strpos('0123456789ABCDEF', substr(by[($idx)::INT], 2, 1)) - 1)"
        raw"""WITH b AS (SELECT doc_id,
                regexp_extract_all(hex(encode(text)), '..') AS by,
                octet_length(encode(text)) AS nb FROM documents),
            s AS (SELECT doc_id, by, (nb - nb % 15) // 15 AS h,
                (nb - nb % 15) // 3 AS np FROM b WHERE nb >= 15),
            p AS (SELECT doc_id, by, h, np, list_transform(range(np), p ->
                [${bv("3*p+1")}, ${bv("3*p+2")}, ${bv("3*p+3")}]) AS px FROM s)
            SELECT doc_id,
              CAST(5 AS INTEGER) AS width,
              CAST(h AS INTEGER) AS height,
              CAST(np AS BIGINT) AS n_px,
              CAST(list_sum(list_transform(px, q -> q[1])) AS BIGINT) AS sum_r,
              CAST(list_sum(list_transform(px, q -> q[2])) AS BIGINT) AS sum_g,
              CAST(list_sum(list_transform(px, q -> q[3])) AS BIGINT) AS sum_b,
              CAST(list_aggregate(list_transform(px,
                q -> q[1] + q[2] + q[3]), 'max') AS BIGINT) AS max_px,
              by[1] || by[2] || by[3] AS topleft_hex
            FROM p"""
      }),

    // REAL palette-PNG decode (color type 3) — the layout of most web
    // graphics: payload bytes become palette INDICES into a deterministic
    // 256-entry PLTE the oracle re-derives arithmetically; the decoder
    // walks chunk CRCs, inflates, unfilters a 1-byte-per-pixel plane
    // (filter arithmetic at bpp=1, different from truecolor's 3), and
    // looks every index up in the palette
    Query("mm_decode_png_palette", (s, dir) => {
      val px = t(s, dir, "documents")
        .withColumn("__b", encode(col("text"), "UTF-8"))
        .withColumn("__px",
          expr("substring(__b, 1, length(__b) - pmod(length(__b), 5))"))
        .filter(length(col("__px")) >= 5)
      Multimodal.decodePng(
        Multimodal.pngPaletteBlob(px, "doc_id", "__px", width = 5),
        "doc_id", "blob")
    }, oracle =
      // palette round-trip: payload byte i is an index into the fixture
      // palette (i, (7i+13)%256, (31i+101)%256) — pure arithmetic
      {
        raw"""WITH b AS (SELECT doc_id,
                regexp_extract_all(hex(encode(text)), '..') AS by,
                octet_length(encode(text)) AS nb FROM documents),
            s AS (SELECT doc_id, by[1:(nb - nb % 5)::INT] AS by,
                (nb - nb % 5) AS n FROM b WHERE nb >= 5),
            v AS (SELECT doc_id, n, list_transform(by, h ->
                (strpos('0123456789ABCDEF', substr(h, 1, 1)) - 1) * 16
                + strpos('0123456789ABCDEF', substr(h, 2, 1)) - 1) AS iv
              FROM s),
            px AS (SELECT doc_id, n,
                list_transform(iv, i -> i) AS rs,
                list_transform(iv, i -> (7*i + 13) % 256) AS gs,
                list_transform(iv, i -> (31*i + 101) % 256) AS bs
              FROM v)
            SELECT doc_id,
              CAST(5 AS INTEGER) AS width,
              CAST(n // 5 AS INTEGER) AS height,
              CAST(n AS BIGINT) AS n_px,
              CAST(list_sum(rs) AS BIGINT) AS sum_r,
              CAST(list_sum(gs) AS BIGINT) AS sum_g,
              CAST(list_sum(bs) AS BIGINT) AS sum_b,
              CAST(list_aggregate(list_transform(range(n), q ->
                rs[(q+1)::INT] + gs[(q+1)::INT] + bs[(q+1)::INT]), 'max')
                AS BIGINT) AS max_px,
              printf('%02X%02X%02X', rs[1], gs[1], bs[1]) AS topleft_hex
            FROM px"""
      }),

    // REAL 16-BIT truecolor PNG decode (depth 16, color type 2 — the
    // HDR/scientific layout, formerly a named rejection class): payload
    // bytes become big-endian 16-bit samples, 6 bytes per pixel; the
    // decoder unfilters at the WIDE byte stride (filter offset 6, spec
    // §9) and sums full 0..65535 sample values. Shares the PNG
    // pixel-stat oracle shape; the oracle re-derives each 16-bit sample
    // as 256·hi + lo from the text bytes
    Query("mm_decode_png16", (s, dir) => {
      val px = t(s, dir, "documents")
        .withColumn("__b", encode(col("text"), "UTF-8"))
        .withColumn("__px",
          expr("substring(__b, 1, length(__b) - pmod(length(__b), 30))"))
        .filter(length(col("__px")) >= 30)
      Multimodal.decodePng(
        Multimodal.png16Blob(px, "doc_id", "__px", width = 5),
        "doc_id", "blob")
    }, oracle =
      // 16-bit truecolor round-trip: 6 payload bytes per pixel, each
      // sample the big-endian pair 256·hi + lo; the top-left witness is
      // the first six bytes' hex verbatim
      {
        def bv(idx: String) =
          s"((strpos('0123456789ABCDEF', substr(by[($idx)::INT], 1, 1)) - 1) * 16" +
            s" + strpos('0123456789ABCDEF', substr(by[($idx)::INT], 2, 1)) - 1)"
        def v16(idx: String) = s"(256 * ${bv(idx)} + ${bv(s"($idx)+1")})"
        raw"""WITH b AS (SELECT doc_id,
                regexp_extract_all(hex(encode(text)), '..') AS by,
                octet_length(encode(text)) AS nb FROM documents),
            s AS (SELECT doc_id, by, (nb - nb % 30) AS n FROM b
              WHERE nb >= 30),
            p AS (SELECT doc_id, by, n, list_transform(range(n // 6), q ->
                [${v16("6*q+1")}, ${v16("6*q+3")}, ${v16("6*q+5")}])
                AS px FROM s)
            SELECT doc_id,
              CAST(5 AS INTEGER) AS width,
              CAST(n // 30 AS INTEGER) AS height,
              CAST(n // 6 AS BIGINT) AS n_px,
              CAST(list_sum(list_transform(px, q -> q[1])) AS BIGINT) AS sum_r,
              CAST(list_sum(list_transform(px, q -> q[2])) AS BIGINT) AS sum_g,
              CAST(list_sum(list_transform(px, q -> q[3])) AS BIGINT) AS sum_b,
              CAST(list_aggregate(list_transform(px,
                q -> q[1] + q[2] + q[3]), 'max') AS BIGINT) AS max_px,
              by[1] || by[2] || by[3] || by[4] || by[5] || by[6]
                AS topleft_hex
            FROM p"""
      }),

    // REAL GRAYSCALE PNG decode (color type 0) — formerly the image
    // seam's last named rejection class, closed by the png16 precedent:
    // one byte per pixel, the narrowest filter geometry (bpp=1 left
    // distances), the one sample feeding all three stat channels
    Query("mm_decode_png_gray", (s, dir) => {
      val px = t(s, dir, "documents")
        .withColumn("__b", encode(col("text"), "UTF-8"))
        .withColumn("__px",
          expr("substring(__b, 1, length(__b) - pmod(length(__b), 5))"))
        .filter(length(col("__px")) >= 5)
      Multimodal.decodePng(
        Multimodal.pngGrayBlob(px, "doc_id", "__px", width = 5),
        "doc_id", "blob")
    }, oracle =
      // RGBA round-trip: 4-byte pixels straight off the payload, alpha
      // summed as its own channel, max over R+G+B only
      // grayscale round-trip: one payload byte per pixel feeds all three
      // stat channels; max is 3x the max sample
      {
        def bv(idx: String) =
          s"((strpos('0123456789ABCDEF', substr(by[($idx)::INT], 1, 1)) - 1) * 16" +
            s" + strpos('0123456789ABCDEF', substr(by[($idx)::INT], 2, 1)) - 1)"
        raw"""WITH b AS (SELECT doc_id,
                regexp_extract_all(hex(encode(text)), '..') AS by,
                octet_length(encode(text)) AS nb FROM documents),
            s AS (SELECT doc_id, by, (nb - nb % 5) AS n FROM b
              WHERE nb >= 5),
            p AS (SELECT doc_id, n, list_transform(range(n), q ->
                ${bv("q+1")}) AS gv FROM s)
            SELECT doc_id,
              CAST(5 AS INTEGER) AS width,
              CAST(n // 5 AS INTEGER) AS height,
              CAST(n AS BIGINT) AS n_px,
              CAST(list_sum(gv) AS BIGINT) AS sum_r,
              CAST(list_sum(gv) AS BIGINT) AS sum_g,
              CAST(list_sum(gv) AS BIGINT) AS sum_b,
              CAST(3 * list_aggregate(gv, 'max') AS BIGINT) AS max_px,
              printf('%02X%02X%02X', gv[1], gv[1], gv[1]) AS topleft_hex
            FROM p"""
      }),

    // REAL GRAY+ALPHA PNG decode (color type 4): 2-byte pixels, alpha
    // summed as its own exact channel at the bpp=2 filter stride
    Query("mm_decode_png_graya", (s, dir) => {
      val px = t(s, dir, "documents")
        .withColumn("__b", encode(col("text"), "UTF-8"))
        .withColumn("__px",
          expr("substring(__b, 1, length(__b) - pmod(length(__b), 10))"))
        .filter(length(col("__px")) >= 10)
      Multimodal.decodePngRgba(
        Multimodal.pngGrayAlphaBlob(px, "doc_id", "__px", width = 5),
        "doc_id", "blob")
    }, oracle =
      // gray+alpha round-trip: byte pairs (gray, alpha); alpha summed as
      // its own channel, excluded from max and the hex witness
      {
        def bv(idx: String) =
          s"((strpos('0123456789ABCDEF', substr(by[($idx)::INT], 1, 1)) - 1) * 16" +
            s" + strpos('0123456789ABCDEF', substr(by[($idx)::INT], 2, 1)) - 1)"
        raw"""WITH b AS (SELECT doc_id,
                regexp_extract_all(hex(encode(text)), '..') AS by,
                octet_length(encode(text)) AS nb FROM documents),
            s AS (SELECT doc_id, by, (nb - nb % 10) AS n FROM b
              WHERE nb >= 10),
            p AS (SELECT doc_id, n, list_transform(range(n // 2), q ->
                [${bv("2*q+1")}, ${bv("2*q+2")}]) AS px FROM s)
            SELECT doc_id,
              CAST(5 AS INTEGER) AS width,
              CAST(n // 10 AS INTEGER) AS height,
              CAST(n // 2 AS BIGINT) AS n_px,
              CAST(list_sum(list_transform(px, q -> q[1])) AS BIGINT) AS sum_r,
              CAST(list_sum(list_transform(px, q -> q[1])) AS BIGINT) AS sum_g,
              CAST(list_sum(list_transform(px, q -> q[1])) AS BIGINT) AS sum_b,
              CAST(list_sum(list_transform(px, q -> q[2])) AS BIGINT) AS sum_a,
              CAST(3 * list_aggregate(list_transform(px, q -> q[1]), 'max')
                AS BIGINT) AS max_px,
              printf('%02X%02X%02X', px[1][1], px[1][1], px[1][1])
                AS topleft_hex
            FROM p"""
      }),

    // REAL RGBA-PNG decode (color type 6): 4-byte pixels, alpha summed
    // as its own exact channel; the 4-bpp filter offsets and the extra
    // plane width exercise a distinct unfilter geometry
    Query("mm_decode_png_rgba", (s, dir) => {
      val px = t(s, dir, "documents")
        .withColumn("__b", encode(col("text"), "UTF-8"))
        .withColumn("__px",
          expr("substring(__b, 1, length(__b) - pmod(length(__b), 20))"))
        .filter(length(col("__px")) >= 20)
      Multimodal.decodePngRgba(
        Multimodal.pngRgbaBlob(px, "doc_id", "__px", width = 5),
        "doc_id", "blob")
    }, oracle = {
      def bv(idx: String) =
        s"((strpos('0123456789ABCDEF', substr(by[($idx)::INT], 1, 1)) - 1) * 16" +
          s" + strpos('0123456789ABCDEF', substr(by[($idx)::INT], 2, 1)) - 1)"
      raw"""WITH b AS (SELECT doc_id,
                regexp_extract_all(hex(encode(text)), '..') AS by,
                octet_length(encode(text)) AS nb FROM documents),
            s AS (SELECT doc_id, by, (nb - nb % 20) AS n FROM b
              WHERE nb >= 20),
            p AS (SELECT doc_id, n, list_transform(range(n // 4), q ->
                [${bv("4*q+1")}, ${bv("4*q+2")}, ${bv("4*q+3")}, ${bv("4*q+4")}])
                AS px FROM s)
            SELECT doc_id,
              CAST(5 AS INTEGER) AS width,
              CAST(n // 20 AS INTEGER) AS height,
              CAST(n // 4 AS BIGINT) AS n_px,
              CAST(list_sum(list_transform(px, q -> q[1])) AS BIGINT) AS sum_r,
              CAST(list_sum(list_transform(px, q -> q[2])) AS BIGINT) AS sum_g,
              CAST(list_sum(list_transform(px, q -> q[3])) AS BIGINT) AS sum_b,
              CAST(list_sum(list_transform(px, q -> q[4])) AS BIGINT) AS sum_a,
              CAST(list_aggregate(list_transform(px,
                q -> q[1] + q[2] + q[3]), 'max') AS BIGINT) AS max_px,
              printf('%02X%02X%02X', px[1][1], px[1][2], px[1][3])
                AS topleft_hex
            FROM p"""
    }),

    // REAL baseline JPEG decode — the seam's second compressed format.
    // JPEG is lossy, so the fixture encoder emits DC-ONLY grayscale
    // blocks whose dequantized DC is (b-128)*8 for payload byte b: the
    // IDCT of such a block is EXACTLY flat at b (zero rounding error), so
    // the oracle recomputes every pixel from the text while the decoder
    // still runs the full real pipeline — segment walk, canonical Huffman
    // from DHT, byte-unstuffing, DC prediction with sign extension,
    // zigzag dequantization, 2-D IDCT. One block per byte (width 8,
    // height 8n); payloads truncate to 2048 bytes, empty docs excluded
    Query("mm_decode_jpeg", (s, dir) => {
      val px = t(s, dir, "documents")
        .withColumn("__b", expr("substring(encode(text, 'UTF-8'), 1, 2048)"))
        .filter(length(col("__b")) >= 1)
      Multimodal.decodeJpeg(
        Multimodal.jpegBlob(px, "doc_id", "__b"), "doc_id", "blob")
    }, oracle =
      // the JPEG round-trip decode: each payload byte (first 2048 of the
      // doc's UTF-8) becomes one flat 8×8 block of exactly that value, so
      // every statistic is 64× the payload-byte statistic and the top-left
      // pixel is the first byte
      {
        raw"""WITH b AS (SELECT doc_id,
                regexp_extract_all(substr(hex(encode(text)), 1, 4096), '..') AS by
                FROM documents WHERE octet_length(encode(text)) >= 1),
            v AS (SELECT doc_id, by, list_transform(by, h ->
                (strpos('0123456789ABCDEF', substr(h, 1, 1)) - 1) * 16
                + strpos('0123456789ABCDEF', substr(h, 2, 1)) - 1) AS bv
              FROM b),
            s AS (SELECT doc_id, by, bv, len(bv) AS n FROM v)
            SELECT doc_id,
              CAST(8 AS INTEGER) AS width,
              CAST(8 * n AS INTEGER) AS height,
              CAST(64 * n AS BIGINT) AS n_px,
              CAST(64 * list_sum(bv) AS BIGINT) AS sum_px,
              CAST(64 * list_sum(list_transform(bv, x -> x * x)) AS BIGINT)
                AS sum_sq,
              CAST(list_aggregate(bv, 'max') AS INTEGER) AS max_px,
              CAST(list_aggregate(bv, 'min') AS INTEGER) AS min_px,
              by[1] AS topleft_hex
            FROM s"""
      }),

    // REAL PROGRESSIVE JPEG decode — the format most of a real crawl's
    // JPEGs use: the SAME flat DC-only blocks as mm_decode_jpeg, sent as
    // a true SOF2 four-scan progression (DC first at Al=1, AC first over
    // band 1..63 with cross-block EOBn runs, DC refinement bits, AC
    // refinement with correction bits) and decoded by the full T.81 G.2
    // successive-approximation algorithm. The oracle is byte-identical to
    // mm_decode_jpeg's — progressive changes the wire format, not the
    // pixels — so the equality proves the multi-scan decode
    Query("mm_decode_jpeg_progressive", (s, dir) => {
      val px = t(s, dir, "documents")
        .withColumn("__b", expr("substring(encode(text, 'UTF-8'), 1, 2048)"))
        .filter(length(col("__b")) >= 1)
      Multimodal.decodeJpeg(
        Multimodal.jpegProgressiveBlob(px, "doc_id", "__b"), "doc_id", "blob")
    }, oracle =
      // progressive ≡ baseline on the same blocks: the wire format is the
      // only difference, so the SAME oracle pins the multi-scan decode
      {
        raw"""WITH b AS (SELECT doc_id,
                regexp_extract_all(substr(hex(encode(text)), 1, 4096), '..') AS by
                FROM documents WHERE octet_length(encode(text)) >= 1),
            v AS (SELECT doc_id, by, list_transform(by, h ->
                (strpos('0123456789ABCDEF', substr(h, 1, 1)) - 1) * 16
                + strpos('0123456789ABCDEF', substr(h, 2, 1)) - 1) AS bv
              FROM b),
            s AS (SELECT doc_id, by, bv, len(bv) AS n FROM v)
            SELECT doc_id,
              CAST(8 AS INTEGER) AS width,
              CAST(8 * n AS INTEGER) AS height,
              CAST(64 * n AS BIGINT) AS n_px,
              CAST(64 * list_sum(bv) AS BIGINT) AS sum_px,
              CAST(64 * list_sum(list_transform(bv, x -> x * x)) AS BIGINT)
                AS sum_sq,
              CAST(list_aggregate(bv, 'max') AS INTEGER) AS max_px,
              CAST(list_aggregate(bv, 'min') AS INTEGER) AS min_px,
              by[1] AS topleft_hex
            FROM s"""
      }),

    // REAL baseline COLOR JPEG decode — full 3-component 4:4:4 YCbCr:
    // interleaved MCUs, per-component quant + Huffman tables (the chroma
    // tables use different code lengths, so table mis-selection would
    // desync, not drift), three DC predictors, and the 16-bit fixed-point
    // BT.601 conversion real decoders use. The fixture derives NON-neutral
    // flat chroma from each payload byte (Cb = 128 + b%9−4, Cr = 128 +
    // b%7−3; chroma DC quant 8 keeps the IDCT integer-exact), so the color
    // conversion does arithmetic on every pixel and the oracle re-derives
    // every channel with the same integer constants via floor division
    Query("mm_decode_jpeg_color", (s, dir) => {
      val px = t(s, dir, "documents")
        .withColumn("__b", expr("substring(encode(text, 'UTF-8'), 1, 2048)"))
        .filter(length(col("__b")) >= 1)
      Multimodal.decodeJpegColor(
        Multimodal.jpegColorBlob(px, "doc_id", "__b"), "doc_id", "blob")
    }, oracle =
      // the color JPEG round-trip: per payload byte b the decoded MCU is a
      // flat block with Y=b, Cb-128=b%9-4, Cr-128=b%7-3; RGB re-derived
      // with the decoder's 16-bit fixed-point BT.601 constants, where
      // >>16 on a signed value is floor division by 65536
      jpegColorOracleSql),

    // PROGRESSIVE COLOR decode, both real-world samplings: the SAME MCUs
    // as mm_decode_jpeg_color / mm_decode_jpeg420 sent as eight-scan SOF2
    // progressions — interleaved DC scans over three components, then
    // per-component AC scans walking each component's OWN plane raster
    // (which differs from MCU order at 4:2:0 — the load-bearing mapping).
    // Byte-identical oracles to the baseline queries: the wire format is
    // the only difference, which is the proof
    Query("mm_decode_jpeg_prog_color", (s, dir) => {
      val px = t(s, dir, "documents")
        .withColumn("__b", expr("substring(encode(text, 'UTF-8'), 1, 2048)"))
        .filter(length(col("__b")) >= 1)
      Multimodal.decodeJpegColor(
        Multimodal.jpegColorProgressiveBlob(px, "doc_id", "__b"),
        "doc_id", "blob")
    }, oracle =
      // progressive 4:4:4 ≡ baseline 4:4:4 on the same MCUs
      jpegColorOracleSql),
    Query("mm_decode_jpeg_prog420", (s, dir) => {
      val px = t(s, dir, "documents")
        .withColumn("__b0", expr("substring(encode(text, 'UTF-8'), 1, 2048)"))
        .withColumn("__b",
          expr("substring(__b0, 1, length(__b0) - pmod(length(__b0), 4))"))
        .filter(length(col("__b")) >= 4)
      Multimodal.decodeJpegColor(
        Multimodal.jpeg420ProgressiveBlob(px, "doc_id", "__b"),
        "doc_id", "blob")
    }, oracle =
      // progressive color ≡ baseline color on the same MCUs — shared
      // oracles pin the eight-scan decode for both samplings
      jpeg420OracleSql),

    // REAL 4:2:2 decode, baseline AND progressive — the OTHER common
    // subsampled layout (DV, many camera JPEGs): every two payload bytes
    // become one 16×8 MCU of two Y blocks over ONE shared chroma pair
    // (the horizontal twin of 4:2:0's quadrant semantics), so with this
    // pair every real-world JPEG layout (gray, 4:4:4, 4:2:0, 4:2:2 ×
    // baseline/progressive) decodes. Shared oracle across the two
    Query("mm_decode_jpeg422", (s, dir) => {
      val px = t(s, dir, "documents")
        .withColumn("__b0", expr("substring(encode(text, 'UTF-8'), 1, 2048)"))
        .withColumn("__b",
          expr("substring(__b0, 1, length(__b0) - pmod(length(__b0), 2))"))
        .filter(length(col("__b")) >= 2)
      Multimodal.decodeJpegColor(
        Multimodal.jpeg422Blob(px, "doc_id", "__b", restartEvery = 3),
        "doc_id", "blob")
    }, oracle =
      // 4:2:2: the horizontal shared-chroma twin, baseline + progressive
      jpeg422OracleSql),
    // EXIF orientation HONORED at decode — the governance pass extracts
    // the tag (mm_exif_survey); this query closes the loop: 4:2:0
    // restart-marked JPEGs are EXIF-tagged with orientation 1..8 (every
    // fifth image untagged), and the decode reports the DISPLAYED
    // raster — width/height swap for the transposed orientations and
    // the top-left witness is the stored corner the rotation maps there.
    // A pure integer remap of the existing pixel walk: the witness
    // coordinate moves, nothing is re-decoded. The oracle re-derives
    // orientation from doc_id arithmetic and picks the same corner
    Query("mm_decode_oriented", (s, dir) => {
      val px = t(s, dir, "documents")
        .withColumn("__b0", expr("substring(encode(text, 'UTF-8'), 1, 2048)"))
        .withColumn("__b",
          expr("substring(__b0, 1, length(__b0) - pmod(length(__b0), 4))"))
        .filter(length(col("__b")) >= 4)
      Multimodal.decodeJpegColorOriented(
        Multimodal.exifTagged(
          Multimodal.jpeg420Blob(px, "doc_id", "__b", restartEvery = 3),
          "doc_id", "blob"),
        "doc_id", "blob")
    }, oracle = jpegOrientedOracleSql),

    // REAL 4:1:1 JPEG decode — the last named layout rejection besides
    // arithmetic coding, closed by measured share (PLANS.md round 12):
    // each 32×8 MCU carries FOUR Y blocks side by side over ONE shared
    // Cb/Cr pair from the group's first byte, box-upsampled 4×1 — the
    // same 4-bytes-per-group semantics as 4:2:0 with quartered geometry,
    // so the oracle is the 4:2:0 oracle with (width,height) transposed
    // to the 32-wide MCU row. restartEvery=3 keeps the stream splittable
    Query("mm_decode_jpeg411", (s, dir) => {
      val px = t(s, dir, "documents")
        .withColumn("__b0", expr("substring(encode(text, 'UTF-8'), 1, 2048)"))
        .withColumn("__b",
          expr("substring(__b0, 1, length(__b0) - pmod(length(__b0), 4))"))
        .filter(length(col("__b")) >= 4)
      Multimodal.decodeJpegColor(
        Multimodal.jpeg411Blob(px, "doc_id", "__b", restartEvery = 3),
        "doc_id", "blob")
    }, oracle = jpeg411OracleSql),

    Query("mm_decode_jpeg_prog422", (s, dir) => {
      val px = t(s, dir, "documents")
        .withColumn("__b0", expr("substring(encode(text, 'UTF-8'), 1, 2048)"))
        .withColumn("__b",
          expr("substring(__b0, 1, length(__b0) - pmod(length(__b0), 2))"))
        .filter(length(col("__b")) >= 2)
      Multimodal.decodeJpegColor(
        Multimodal.jpeg422ProgressiveBlob(px, "doc_id", "__b"),
        "doc_id", "blob")
    }, oracle = jpeg422OracleSql),

    // REAL 4:2:0 JPEG decode WITH restart intervals — the layout virtually
    // all real crawl images use: each 16×16 MCU carries four Y blocks and
    // ONE shared Cb/Cr pair (from the group's first byte), box-upsampled
    // 2×2, so the shared-chroma semantics are observable in the oracle
    // (quadrants differ only through Y). restartEvery=3 puts RSTn markers
    // + DC-predictor resets in every stream — the resync structure that
    // makes one huge scan SPLITTABLE across decode tasks at scale
    Query("mm_decode_jpeg420", (s, dir) => {
      val px = t(s, dir, "documents")
        .withColumn("__b0", expr("substring(encode(text, 'UTF-8'), 1, 2048)"))
        .withColumn("__b",
          expr("substring(__b0, 1, length(__b0) - pmod(length(__b0), 4))"))
        .filter(length(col("__b")) >= 4)
      Multimodal.decodeJpegColor(
        Multimodal.jpeg420Blob(px, "doc_id", "__b", restartEvery = 3),
        "doc_id", "blob")
    }, oracle =
      // the 4:2:0 round-trip: bytes in groups of four — quadrant k of
      // group j is a flat 8×8 with Y = bv[4j+k], chroma shared from the
      // group's FIRST byte; restarts don't change decoded values (DC
      // prediction resets, but the fixture codes absolute DCs per block)
      jpeg420OracleSql),

    // SEGMENT-PARALLEL decode of the same 4:2:0 restart-marked streams:
    // each image's scan is split at its RSTn markers (one linear byte
    // scan, no entropy work), the segments fan across up to 8 stride-
    // buckets through a real shuffle, and exact partial statistics merge
    // by sum/max. Same oracle as mm_decode_jpeg420 — the driver gate
    // PROVES distributed-segment decode ≡ sequential whole-scan decode.
    // At 100 TB this is the difference between one task per giant image
    // and a cluster-wide decode
    Query("mm_decode_jpeg_parallel", (s, dir) => {
      val px = t(s, dir, "documents")
        .withColumn("__b0", expr("substring(encode(text, 'UTF-8'), 1, 2048)"))
        .withColumn("__b",
          expr("substring(__b0, 1, length(__b0) - pmod(length(__b0), 4))"))
        .filter(length(col("__b")) >= 4)
      Multimodal.decodeJpegColorParallel(
        Multimodal.jpeg420Blob(px, "doc_id", "__b", restartEvery = 3),
        "doc_id", "blob", tasksPerImage = 8)
    }, oracle =
      // the segment-parallel decode is value-identical to the sequential
      // one BY CONTRACT — same oracle, so the gate proves the equivalence
      jpeg420OracleSql),

    // SEGMENT-PARALLEL decode of restart-marked PROGRESSIVE 4:4:4
    // streams: 4:4:4 is the layout where the DC scan's MCU raster and
    // every AC scan's block raster are the SAME raster, so one restart
    // interval partitions ALL EIGHT SCANS into the same block ranges —
    // each task replays the full scan sequence (DC first → per-component
    // AC first → refinements) for just its stride of segments, holding
    // coefficient state in a reused restartInterval-sized buffer instead
    // of whole-image planes. Same oracle as mm_decode_jpeg_color /
    // mm_decode_jpeg_prog_color — the driver gate PROVES distributed
    // progressive decode ≡ sequential ≡ baseline
    Query("mm_decode_jpeg_prog_parallel", (s, dir) => {
      val px = t(s, dir, "documents")
        .withColumn("__b", expr("substring(encode(text, 'UTF-8'), 1, 2048)"))
        .filter(length(col("__b")) >= 1)
      Multimodal.decodeJpegColorProgressiveParallel(
        Multimodal.jpegColorProgressiveBlob(px, "doc_id", "__b",
          restartEvery = 3), "doc_id", "blob", tasksPerImage = 8)
    }, oracle =
      // segment-parallel progressive ≡ sequential progressive ≡ baseline:
      // the same pixel oracle across all three proves the distributed
      // scan-sequence replay exactly
      jpegColorOracleSql),

    // REAL-pixel resize: the decoded BMP downsampled 2× in both axes by
    // nearest neighbor — the decode→transform step mm_resize only
    // imitates on raw bytes. The sampling grid reads logical rows top
    // first (so the bottom-up storage mapping and the row stride are both
    // exercised per pixel); last_px_hex witnesses grid order. Exact
    // integer stats — the oracle re-derives every sampled offset
    Query("mm_resize_bmp", (s, dir) => {
      val blobs = t(s, dir, "documents")
        .withColumn("__b", encode(col("text"), "UTF-8"))
        .withColumn("__px",
          expr("substring(__b, 1, length(__b) - pmod(length(__b), 15))"))
        .withColumn("blob", Multimodal.bmpBlob(col("__px"), width = 5))
      Multimodal.resizeBmp(blobs, "doc_id", "blob", stride = 2)
    }, oracle =
      // the real-pixel 2× resize: logical pixel (r, c) of the output reads
      // original (2r, 2c); original logical row R is stored bottom-up at
      // h-1-R, so the sampled payload offset is (h-1-2r)*15 + 6c
      {
        def bv(idx: String) =
          s"((strpos('0123456789ABCDEF', substr(by[($idx)::INT], 1, 1)) - 1) * 16" +
            s" + strpos('0123456789ABCDEF', substr(by[($idx)::INT], 2, 1)) - 1)"
        raw"""WITH b AS (SELECT doc_id,
                regexp_extract_all(hex(encode(text)), '..') AS by,
                octet_length(encode(text)) AS nb FROM documents),
            s AS (SELECT doc_id, by, (nb - nb % 15) // 15 AS h FROM b),
            g AS (SELECT doc_id, by, h,
                CASE WHEN h > 0 THEN (h + 1) // 2 ELSE 0 END AS oh FROM s),
            o AS (SELECT doc_id, by, h, oh,
                flatten(list_transform(range(oh), r ->
                  list_transform(range(3), c -> (h - 1 - 2*r) * 15 + 6*c)))
                  AS offs FROM g)
            SELECT doc_id,
              CASE WHEN h > 0 THEN 3 ELSE 0 END::INTEGER AS out_w,
              CAST(oh AS INTEGER) AS out_h,
              CAST(len(offs) AS BIGINT) AS n_px,
              CAST(coalesce(list_sum(list_transform(offs, x -> ${bv("x+1")})), 0)
                AS BIGINT) AS sum_b,
              CAST(coalesce(list_sum(list_transform(offs, x -> ${bv("x+2")})), 0)
                AS BIGINT) AS sum_g,
              CAST(coalesce(list_sum(list_transform(offs, x -> ${bv("x+3")})), 0)
                AS BIGINT) AS sum_r,
              CASE WHEN oh > 0 THEN
                by[((h-1-2*(oh-1))*15 + 13)::INT] || by[((h-1-2*(oh-1))*15 + 14)::INT]
                  || by[((h-1-2*(oh-1))*15 + 15)::INT]
              ELSE '' END AS last_px_hex
            FROM o"""
      }),

    // Multimodal PERCEPTUAL-hash dedup: dHash-style gradient fingerprint
    // over the blob's byte stream (16 bucket means, adjacent comparisons
    // cross-multiplied in exact integers), then hash-group duplicate
    // flagging — the image near-dup primitive; the tiny hash-count table
    // joins back (AQE broadcasts it), the blob never leaves the scan
    Query("mm_phash_dedup", (s, dir) => {
      val blobs = t(s, dir, "documents")
        .withColumn("blob", encode(col("text"), "UTF-8"))
      val hashed = graft.ops.Caches.track(blobs.select(col("doc_id"),
        Multimodal.perceptualHash(col("blob")).as("phash")))
      val cnt = hashed.groupBy(col("phash")).agg(count(lit(1)).as("__c"))
      hashed.join(cnt, Seq("phash"))
        .select(col("doc_id"), col("phash"), (col("__c") > 1).as("is_dup"))
    }, oracle =
      """WITH d AS (SELECT doc_id,
             regexp_extract_all(hex(encode(text)), '..') AS hx FROM documents),
           v AS (SELECT doc_id,
             list_transform(hx, s ->
               ((strpos('0123456789ABCDEF', substr(s, 1, 1)) - 1) * 16 +
                (strpos('0123456789ABCDEF', substr(s, 2, 1)) - 1))::BIGINT) AS bs,
             len(hx) AS n FROM d),
           b AS (SELECT doc_id, n, list_transform(range(16), b ->
             coalesce(list_sum(bs[((n*b)//16 + 1)::INT:((n*(b+1))//16)::INT]), 0)
               ::BIGINT) AS sums FROM v),
           p AS (SELECT doc_id, CAST(coalesce(list_sum(list_transform(range(15), i ->
             CASE WHEN sums[(i+1)::INT] * ((n*(i+2))//16 - (n*(i+1))//16)
                       > sums[(i+2)::INT] * ((n*(i+1))//16 - (n*i)//16)
               THEN (1::BIGINT << i::INT) ELSE 0 END)), 0) AS BIGINT) AS phash
             FROM b),
           c AS (SELECT phash, count(*) AS c FROM p GROUP BY phash)
           SELECT doc_id, p.phash, (c.c > 1) AS is_dup
           FROM p JOIN c ON p.phash = c.phash"""),

    // Multimodal resize stub: byte-grid subsample (every 4th byte) as pure
    // expressions; content verified byte-exactly via hex
    Query("mm_resize", (s, dir) => {
      val blobs = t(s, dir, "documents")
        .withColumn("blob", encode(col("text"), "UTF-8"))
      val rz = Multimodal.resizeStub(col("blob"), stride = 4)
      blobs.select(col("doc_id"),
        length(rz).cast("long").as("resized_bytes"),
        substring(hex(rz), 1, 128).as("resized_hex_prefix"))
    }, oracle =
      """WITH b AS (SELECT doc_id,
             list_filter(regexp_extract_all(hex(encode(text)), '..'),
                         (x, i) -> (i - 1) % 4 = 0) AS kept
           FROM documents)
           SELECT doc_id, CAST(len(kept) AS BIGINT) AS resized_bytes,
             substring(coalesce(array_to_string(kept, ''), ''), 1, 128)
               AS resized_hex_prefix
           FROM b""")
  )
}
