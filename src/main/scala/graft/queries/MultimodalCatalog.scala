package graft.queries

import org.apache.spark.sql.functions._

import QueryDef._
import graft.multimodal.{Codecs, ImageIo, Multimodal}

/** Multimodal binary-column twins (builder brief). Decode is REAL for
  * every format the JVM can parse: pure-JVM WAV/BMP codecs
  * (multimodal.Codecs) and JDK `javax.imageio` PNG/JPEG/multi-frame GIF
  * (multimodal.ImageIo). Each gate synthesizes media blobs engine-side
  * from the table's own integer keys, containerizes, decodes with the
  * REAL parser, and reports integer-exact statistics that DuckDB
  * recomputes relationally from the synthesis formula — so any
  * header/layout/pixel/frame bug in the real codec path breaks the hash.
  *
  * documents.text stands in for opaque payloads in the sharding/ingest
  * gates (testdata ships no media files); the UTF-8 encoding step is
  * identical in both engines, so every downstream byte offset matches.
  */
object MultimodalCatalog {

  private val NFrames = 4

  /** REAL multi-frame decode, oracle-gated end-to-end: per returnflag the
    * engine synthesizes 4 grayscale 16×12 frames from the first 192
    * row-keys, containerizes them as an ANIMATED GIF
    * (ImageIo.encodeGifGray — LZW, gray palette, lossless), walks the
    * frame directory with the REAL JDK reader
    * (ImageReader.getNumImages/read(i) via Multimodal.GifFrameKernel),
    * re-emits each decoded frame as a standalone BMP blob, re-parses THAT
    * with the pure-JVM BMP decoder, and reports per-frame dims, exact BMP
    * byte size, and the exact gray pixel sum. DuckDB replays the frame
    * pixel formula relationally — any GIF frame-walk, palette, BMP
    * re-encode, or re-parse bug breaks the hash.
    */
  val mmFrames = {
    val FW = 16
    val FH = 12
    val NPix = FW * FH
    QueryDef(
      "q_mm_frames",
      (s, dir) => {
        val sp = s
        import sp.implicits._
        val media = t(s, dir, "lineitem")
          .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"))
          .as[(String, Long, Int)]
          .groupByKey(_._1)
          .mapGroups { (flag, it) =>
            val rows = it.toArray.sortBy(r => (r._2, r._3)).take(NPix)
            require(rows.length == NPix,
              s"group $flag has under $NPix rows — shrink the frame")
            val frames = (0 until NFrames).map { f =>
              rows.map { case (_, ok, ln) =>
                ((ok * 31 + ln + f * 17) % 256).toByte
              }
            }
            (flag.codePointAt(0).toLong,
              ImageIo.encodeGifGray(FW, FH, frames))
          }
          .toDF("media_id", "blob")
        Multimodal.sampleFrames(s, media, Multimodal.GifFrameKernel)
          .map { fr =>
            val img = Codecs.decodeBmp(fr.frame) // REAL re-parse of the frame
            var gs = 0L
            var i = 0
            while (i < img.pixels.length) { gs += img.pixels(i) & 0xff; i += 3 }
            (fr.media_id, fr.frame_idx, img.width.toLong, img.height.toLong,
              fr.frame.length.toLong, gs)
          }
          .toDF("media_id", "frame_idx", "width", "height", "n_bytes",
            "gray_sum")
          .orderBy("media_id", "frame_idx")
      },
      Some(s"""
        WITH r AS (
          SELECT l_returnflag AS flag,
                 row_number() OVER (PARTITION BY l_returnflag
                   ORDER BY l_orderkey, l_linenumber) - 1 AS rn,
                 l_orderkey AS ok, l_linenumber AS ln
          FROM lineitem),
        px AS (SELECT flag, ok, ln FROM r WHERE rn < $NPix),
        f AS (SELECT CAST(unnest(range($NFrames)) AS INT) AS fi),
        g AS (SELECT flag, fi, sum((ok * 31 + ln + fi * 17) % 256) AS gs
              FROM px CROSS JOIN f GROUP BY 1, 2)
        SELECT CAST(ascii(flag) AS BIGINT) AS media_id, fi AS frame_idx,
               CAST($FW AS BIGINT) AS width, CAST($FH AS BIGINT) AS height,
               CAST(54 + (($FW * 3 + 3) // 4 * 4) * $FH AS BIGINT)
                 AS n_bytes,
               CAST(gs AS BIGINT) AS gray_sum
        FROM g ORDER BY media_id, frame_idx""")
    )
  }

  /** Byte-range sharding of OPAQUE payloads (Multimodal.ByteSliceKernel —
    * splitting blobs for parallel transport, not decoding), gated on
    * exact slice bytes: step = max(1, len/n), n evenly spaced slices,
    * trailing remainder dropped. Docs with under `NFrames` bytes yield
    * one slice per byte; empty payloads yield none.
    */
  val mmChunks = QueryDef(
    "q_mm_chunks",
    (s, dir) => {
      val media = Multimodal.asMediaTable(
        t(s, dir, "documents").filter(col("text").isNotNull),
        "doc_id", "text", "text/plain")
      Multimodal.sampleFrames(s, media, NFrames).toDF()
        .select(col("media_id"), col("frame_idx"),
          length(col("frame")).cast("long").as("n_bytes"),
          hex(col("frame")).as("frame_hex"))
        .orderBy("media_id", "frame_idx")
    },
    Some(s"""
      WITH media AS (
        SELECT doc_id AS media_id, encode(text) AS blob,
               octet_length(encode(text)) AS len
        FROM documents WHERE text IS NOT NULL),
      stepped AS (
        SELECT media_id, blob, len,
               greatest(1, len // $NFrames) AS step
        FROM media),
      idx AS (
        SELECT media_id, blob, len, step,
               unnest(range(least($NFrames, len))) AS i
        FROM stepped),
      -- DuckDB's substring doesn't take BLOB: slice the hex rendering
      -- instead (2 hex chars per byte — offsets double, content identical)
      frames AS (
        SELECT media_id, CAST(i AS INT) AS frame_idx,
               least(len, i * step + step) - i * step AS flen,
               substring(hex(blob), CAST(i * step * 2 + 1 AS INT),
                 CAST((least(len, i * step + step) - i * step) * 2 AS INT))
                 AS frame_hex
        FROM idx)
      SELECT media_id, frame_idx, CAST(flen AS BIGINT) AS n_bytes, frame_hex
      FROM frames ORDER BY media_id, frame_idx""")
  )

  /** REAL container-header metadata, oracle-gated across THREE formats:
    * per doc (bounded: doc_id < 300) the engine synthesizes an image
    * whose dims derive from the doc key — encoded as BMP, PNG, or
    * single-frame GIF cycling on doc_id%3 — then asMediaTable sniffs the
    * magic bytes and parses width/height from the REAL container header
    * (PNG IHDR big-endian, GIF logical screen little-endian, BMP
    * BITMAPINFOHEADER little-endian) with native codegen'd expressions.
    * The aggregate gates the parsed dims (and the deterministic BMP byte
    * size) per source; any endianness/offset/magic bug breaks the hash.
    */
  val mmMeta = QueryDef(
    "q_mm_meta",
    (s, dir) => {
      val sp = s
      import sp.implicits._
      val docs = t(s, dir, "documents").filter(col("doc_id") < 300)
        .select(col("doc_id"), col("source"))
      val blobs = docs.select(col("doc_id")).as[Long].map { id =>
        val w = 8 + (id % 16).toInt
        val h = 4 + (id % 8).toInt
        val blob = (id % 3) match {
          case 0 =>
            val px = Array.tabulate(w * h * 3)(i =>
              ((id * 7 + i * 13) % 256).toByte)
            Codecs.encodeBmp(Codecs.BgrImage(w, h, px))
          case 1 =>
            val px = Array.tabulate(w * h * 3)(i =>
              ((id * 7 + i * 13) % 256).toByte)
            ImageIo.encodePng(Codecs.BgrImage(w, h, px))
          case _ =>
            val px = Array.tabulate(w * h)(i =>
              ((id * 7 + i * 13) % 256).toByte)
            ImageIo.encodeGifGray(w, h, Seq(px))
        }
        (id, blob)
      }.toDF("doc_id", "blob")
      Multimodal.asMediaTable(blobs, "doc_id", "blob", "image/auto")
        .join(broadcast(docs.select(col("doc_id").as("media_id"),
          col("source"))), Seq("media_id"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_media"),
          sum(col("meta.width").cast("long")).as("sum_width"),
          sum(col("meta.height").cast("long")).as("sum_height"),
          sum(when(pmod(col("media_id"), lit(3)) === 0, col("meta.n_bytes"))
            .otherwise(0L)).as("bmp_bytes"))
        .orderBy("source")
    },
    Some("""
      WITH d AS (
        SELECT doc_id, source, 8 + doc_id % 16 AS w, 4 + doc_id % 8 AS h
        FROM documents WHERE doc_id < 300)
      SELECT source, count(*) AS n_media,
             CAST(sum(w) AS BIGINT) AS sum_width,
             CAST(sum(h) AS BIGINT) AS sum_height,
             CAST(sum(CASE WHEN doc_id % 3 = 0
               THEN 54 + ((w * 3 + 3) // 4 * 4) * h ELSE 0 END) AS BIGINT)
               AS bmp_bytes
      FROM d GROUP BY 1 ORDER BY 1""")
  )

  /** Per-source byte stats over the raw blob column — the catalog-stats
    * scan a media lake runs before any decode (no parsing needed, pure
    * length aggregation).
    */
  val mmBytes = QueryDef(
    "q_mm_bytes",
    (s, dir) => {
      val docs = t(s, dir, "documents").filter(col("text").isNotNull)
      Multimodal.asMediaTable(docs, "doc_id", "text", "text/plain")
        .join(docs.select(col("doc_id").as("media_id"), col("source")),
          Seq("media_id"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_media"),
          sum(col("meta.n_bytes")).as("total_bytes"),
          max(col("meta.n_bytes")).as("max_bytes"))
        .orderBy("source")
    },
    Some("""
      SELECT source, count(*) AS n_media,
             CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
             CAST(max(octet_length(encode(text))) AS BIGINT) AS max_bytes
      FROM documents WHERE text IS NOT NULL
      GROUP BY 1 ORDER BY 1""")
  )

  /** REAL PNG decode through the FULL multimodal plumbing, oracle-gated:
    * per returnflag the first 41×32 row-keys become a 24bpp image,
    * encoded as PNG (ImageIo.encodePng — DEFLATE, lossless), wrapped by
    * asMediaTable (dims from the REAL IHDR big-endian header parse, not
    * the synthesis variables), then featurized partition-wise through
    * extractFeatures with the REAL ImageIoKernel (full inflate +
    * unfilter + pixel scan). Channel means come from exact integer sums
    * over the DECODED pixels; PNG is lossless, so DuckDB replays them
    * from the pixel formula — one double division and one float rounding
    * per mean, identical IEEE ops both sides.
    */
  val mmPngDecode = {
    val SrcW = 41
    val SrcH = 32
    val NPix = SrcW * SrcH
    QueryDef(
      "q_mm_png_decode",
      (s, dir) => {
        val sp = s
        import sp.implicits._
        val blobs = t(s, dir, "lineitem")
          .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"))
          .as[(String, Long, Int)]
          .groupByKey(_._1)
          .mapGroups { (flag, it) =>
            val rows = it.toArray.sortBy(r => (r._2, r._3)).take(NPix)
            require(rows.length == NPix,
              s"group $flag has under $NPix rows — shrink the image")
            val px = new Array[Byte](NPix * 3)
            rows.zipWithIndex.foreach { case ((_, ok, ln), i) =>
              px(i * 3) = ((ok * 31 + ln) % 256).toByte
              px(i * 3 + 1) = ((ok * 7 + ln * 3) % 256).toByte
              px(i * 3 + 2) = ((ln * 13) % 256).toByte
            }
            (flag.codePointAt(0).toLong,
              ImageIo.encodePng(Codecs.BgrImage(SrcW, SrcH, px)))
          }
          .toDF("media_id", "blob")
        val media = Multimodal.asMediaTable(blobs, "media_id", "blob",
          "image/png")
        val feats = Multimodal.extractFeatures(s, media,
          ImageIo.ImageIoKernel).toDF()
        media.join(feats, Seq("media_id"))
          .select(col("media_id"),
            col("meta.width").cast("long").as("width"), // REAL IHDR parse
            col("meta.height").cast("long").as("height"),
            element_at(col("feature"), 3).cast("double").as("mean_b"),
            element_at(col("feature"), 4).cast("double").as("mean_g"),
            element_at(col("feature"), 5).cast("double").as("mean_r"),
            element_at(col("feature"), 6).cast("double").as("mean_luma"))
          .orderBy("media_id")
      },
      Some(s"""
        WITH r AS (
          SELECT l_returnflag AS flag,
                 row_number() OVER (PARTITION BY l_returnflag
                   ORDER BY l_orderkey, l_linenumber) - 1 AS rn,
                 l_orderkey AS ok, l_linenumber AS ln
          FROM lineitem),
        px AS (
          SELECT flag, (ok * 31 + ln) % 256 AS b,
                 (ok * 7 + ln * 3) % 256 AS g, (ln * 13) % 256 AS r
          FROM r WHERE rn < $NPix),
        m AS (SELECT flag, sum(b) AS sb, sum(g) AS sg, sum(r) AS sr
              FROM px GROUP BY 1)
        SELECT CAST(ascii(flag) AS BIGINT) AS media_id,
               CAST($SrcW AS BIGINT) AS width,
               CAST($SrcH AS BIGINT) AS height,
               CAST(CAST(CAST(sb AS DOUBLE) / $NPix AS REAL) AS DOUBLE)
                 AS mean_b,
               CAST(CAST(CAST(sg AS DOUBLE) / $NPix AS REAL) AS DOUBLE)
                 AS mean_g,
               CAST(CAST(CAST(sr AS DOUBLE) / $NPix AS REAL) AS DOUBLE)
                 AS mean_r,
               CAST(CAST(CAST(sr * 299 + sg * 587 + sb * 114 AS DOUBLE)
                 / (1e3 * $NPix) AS REAL) AS DOUBLE) AS mean_luma
        FROM m ORDER BY media_id""")
    )
  }

  /** REAL JPEG encode + header parse + decode, oracle-gated on what a
    * LOSSY codec can guarantee: per returnflag a smooth 41×32 gradient
    * (base offset = Σ(orderkey+linenumber) mod 64 — data-dependent) is
    * JPEG-encoded, the header is parsed WITHOUT pixel decode
    * (ImageIo.headerInfo: format name, dims, frame count), and the full
    * DCT decode's mean gray must land within 3 levels of the source mean
    * (a smooth gradient keeps DCT error far below that; a decoder that
    * misparses components/subsampling lands far outside). Dims, format,
    * frame count, and base are exact; mean_ok is the bounded-error gate.
    */
  val mmJpegMeta = {
    val SrcW = 41
    val SrcH = 32
    QueryDef(
      "q_mm_jpeg_meta",
      (s, dir) => {
        val sp = s
        import sp.implicits._
        t(s, dir, "lineitem")
          .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"))
          .as[(String, Long, Int)]
          .groupByKey(_._1)
          .mapGroups { (flag, it) =>
            var keySum = 0L
            it.foreach(r => keySum += r._2 + r._3)
            val base = (keySum % 64).toInt
            val px = new Array[Byte](SrcW * SrcH * 3)
            var srcSumG = 0L
            for (y <- 0 until SrcH; x <- 0 until SrcW) {
              val v = 20 + base + 2 * x + 2 * y // smooth, no wraparound
              val i = (y * SrcW + x) * 3
              px(i) = v.toByte; px(i + 1) = v.toByte; px(i + 2) = v.toByte
              srcSumG += v
            }
            val jpg = ImageIo.encodeJpeg(Codecs.BgrImage(SrcW, SrcH, px))
            val hdr = ImageIo.headerInfo(jpg) // header-only parse
            val back = ImageIo.decodeImage(jpg) // REAL DCT decode
            var decSumG = 0L
            var i = 1
            while (i < back.pixels.length) {
              decSumG += back.pixels(i) & 0xff; i += 3
            }
            (flag, hdr.format, hdr.width.toLong, hdr.height.toLong,
              hdr.nFrames.toLong, base.toLong,
              math.abs(decSumG - srcSumG) <= 3L * SrcW * SrcH)
          }
          .toDF("flag", "fmt", "width", "height", "n_frames", "base",
            "mean_ok")
          .orderBy("flag")
      },
      Some(s"""
        SELECT l_returnflag AS flag, 'JPEG' AS fmt,
               CAST($SrcW AS BIGINT) AS width,
               CAST($SrcH AS BIGINT) AS height,
               CAST(1 AS BIGINT) AS n_frames,
               CAST(sum(l_orderkey + l_linenumber) % 64 AS BIGINT) AS base,
               TRUE AS mean_ok
        FROM lineitem GROUP BY 1 ORDER BY 1""")
    )
  }

  /** REAL decode, oracle-gated end-to-end: per returnflag the engine
    * SYNTHESIZES a PCM16 waveform from the table's own integer keys,
    * CONTAINERIZES it as a RIFF/WAVE blob (multimodal.Codecs.encodeWav),
    * then decodes it back with the real chunk-walking parser and reports
    * integer-exact audio statistics from the decoded samples. DuckDB
    * recomputes the same statistics relationally from the sample formula
    * — so any header/layout/sample-extraction bug in the REAL decoder
    * breaks the hash. (Per-group synthesis exists only to gate the
    * decoder; production media is bounded per ROW, where the kernel runs
    * scan-local via extractFeatures.) Stats are symmetric in sample
    * order, peak/counts are integers, rms is one exact-int division +
    * sqrt — bit-exact.
    */
  val mmWavDecode = QueryDef(
    "q_mm_wav_decode",
    (s, dir) => {
      val sp = s
      import sp.implicits._
      t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"))
        .as[(String, Long, Int)]
        .groupByKey(_._1)
        .mapGroups { (flag, it) =>
          val rows = it.toArray.sortBy(r => (r._2, r._3))
          val samples = rows.map { case (_, ok, ln) =>
            ((ok * 7 + ln * 13) % 65536 - 32768).toShort
          }
          val blob = Codecs.encodeWav(16000, 1, samples)
          val wav = Codecs.decodeWav(blob) // the REAL RIFF/PCM parse
          var sumSq = 0L
          var peak = 0L
          wav.samples.foreach { v =>
            sumSq += v.toLong * v
            if (math.abs(v.toLong) > peak) peak = math.abs(v.toLong)
          }
          (flag, wav.samples.length.toLong, blob.length.toLong,
            wav.sampleRate.toLong, peak,
            math.sqrt(sumSq.toDouble / wav.samples.length))
        }
        .toDF("flag", "n_samples", "n_bytes", "sample_rate", "peak", "rms")
        .orderBy("flag")
    },
    Some("""
      SELECT l_returnflag AS flag,
             count(*) AS n_samples,
             CAST(44 + 2 * count(*) AS BIGINT) AS n_bytes,
             CAST(16000 AS BIGINT) AS sample_rate,
             CAST(max(abs((l_orderkey * 7 + l_linenumber * 13) % 65536
                          - 32768)) AS BIGINT) AS peak,
             sqrt(CAST(sum(CAST((l_orderkey * 7 + l_linenumber * 13) % 65536
                                - 32768 AS BIGINT)
                           * ((l_orderkey * 7 + l_linenumber * 13) % 65536
                              - 32768)) AS DOUBLE)
                  / count(*)) AS rms
      FROM lineitem GROUP BY 1 ORDER BY 1""")
  )

  /** REAL image decode + resize, oracle-gated: per returnflag the first
    * 41×32 row-keys (sorted) become a 24bpp BGR image — width 41 forces
    * a padded 124-byte BMP row stride — which is containerized
    * (Codecs.encodeBmp), re-decoded with the REAL parser, and
    * nearest-neighbor resized to 10×8. DuckDB replays the resize GRID
    * relationally: rank rows per flag, keep ranks matching the sampled
    * source positions (ty·4·41 + ⌊tx·41/10⌋ — the exact floor-grid
    * arithmetic of Codecs.resizeNearest), and sums the sampled channel
    * values. Any stride/padding/row-order/grid bug in the real codec
    * breaks the hash; all outputs are exact integers.
    */
  val mmBmpResize = {
    val SrcW = 41
    val SrcH = 32
    val DstW = 10
    val DstH = 8
    val NPix = SrcW * SrcH
    QueryDef(
      "q_mm_bmp_resize",
      (s, dir) => {
        val sp = s
        import sp.implicits._
        t(s, dir, "lineitem")
          .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"))
          .as[(String, Long, Int)]
          .groupByKey(_._1)
          .mapGroups { (flag, it) =>
            val rows = it.toArray.sortBy(r => (r._2, r._3)).take(NPix)
            require(rows.length == NPix,
              s"group $flag has under $NPix rows — shrink the image")
            val px = new Array[Byte](NPix * 3)
            rows.zipWithIndex.foreach { case ((_, ok, ln), i) =>
              px(i * 3) = ((ok * 31 + ln) % 256).toByte
              px(i * 3 + 1) = ((ok * 7 + ln * 3) % 256).toByte
              px(i * 3 + 2) = ((ln * 13) % 256).toByte
            }
            val blob = Codecs.encodeBmp(Codecs.BgrImage(SrcW, SrcH, px))
            val back = Codecs.decodeBmp(blob) // the REAL 24bpp parse
            val small = Codecs.resizeNearest(back, DstW, DstH)
            var (sb, sg, sr) = (0L, 0L, 0L)
            var i = 0
            while (i < small.pixels.length) {
              sb += small.pixels(i) & 0xff
              sg += small.pixels(i + 1) & 0xff
              sr += small.pixels(i + 2) & 0xff
              i += 3
            }
            (flag, back.width.toLong, back.height.toLong, DstW.toLong,
              DstH.toLong, blob.length.toLong, sb, sg, sr)
          }
          .toDF("flag", "src_w", "src_h", "dst_w", "dst_h", "n_bytes",
            "sum_b", "sum_g", "sum_r")
          .orderBy("flag")
      },
      Some(s"""
        WITH r AS (
          SELECT l_returnflag AS flag,
                 row_number() OVER (PARTITION BY l_returnflag
                   ORDER BY l_orderkey, l_linenumber) - 1 AS rn,
                 l_orderkey AS ok, l_linenumber AS ln
          FROM lineitem),
        px AS (
          SELECT flag, rn, (ok * 31 + ln) % 256 AS b,
                 (ok * 7 + ln * 3) % 256 AS g, (ln * 13) % 256 AS r
          FROM r WHERE rn < $NPix),
        grid AS (
          SELECT ((ty * $SrcH) // $DstH) * $SrcW
                   + ((tx * $SrcW) // $DstW) AS rn_s
          FROM (SELECT unnest(range($DstW)) AS tx)
          CROSS JOIN (SELECT unnest(range($DstH)) AS ty)),
        samp AS (
          SELECT px.flag, px.b, px.g, px.r
          FROM px JOIN grid ON px.rn = grid.rn_s)
        SELECT flag, CAST($SrcW AS BIGINT) AS src_w,
               CAST($SrcH AS BIGINT) AS src_h,
               CAST($DstW AS BIGINT) AS dst_w,
               CAST($DstH AS BIGINT) AS dst_h,
               CAST(54 + (($SrcW * 3 + 3) // 4 * 4) * $SrcH AS BIGINT)
                 AS n_bytes,
               CAST(sum(b) AS BIGINT) AS sum_b,
               CAST(sum(g) AS BIGINT) AS sum_g,
               CAST(sum(r) AS BIGINT) AS sum_r
        FROM samp GROUP BY flag ORDER BY flag""")
    )
  }

  /** Image AUGMENTATION chain — center-crop → horizontal flip → 90°
    * clockwise rotation, the standard vision-training transforms — run as
    * REAL pixel operations (Codecs.crop/hflip/rot90cw) on the decoded
    * 41×32 BMP (same synthesis as q_mm_bmp_resize), oracle-gated on a
    * PERMUTATION-SENSITIVE checksum: plain channel sums only pin the crop
    * window (flip/rotate permute pixels), so the gate adds
    * position-weighted sums Σ(y·W+x)·channel over the final 16×20 image.
    * The oracle composes the three index maps into one closed form
    * (final (x,y) ← source rn = (23−x)·41 + (29−y)) and replays the
    * weighted sums relationally — any off-by-one in any transform, or a
    * wrong composition order, breaks the hash. All exact integers.
    */
  val mmAugment = {
    val SrcW = 41
    val SrcH = 32
    val NPix = SrcW * SrcH
    QueryDef(
      "q_mm_augment",
      (s, dir) => {
        val sp = s
        import sp.implicits._
        t(s, dir, "lineitem")
          .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"))
          .as[(String, Long, Int)]
          .groupByKey(_._1)
          .mapGroups { (flag, it) =>
            val rows = it.toArray.sortBy(r => (r._2, r._3)).take(NPix)
            require(rows.length == NPix,
              s"group $flag has under $NPix rows — shrink the image")
            val px = new Array[Byte](NPix * 3)
            rows.zipWithIndex.foreach { case ((_, ok, ln), i) =>
              px(i * 3) = ((ok * 31 + ln) % 256).toByte
              px(i * 3 + 1) = ((ok * 7 + ln * 3) % 256).toByte
              px(i * 3 + 2) = ((ln * 13) % 256).toByte
            }
            val blob = Codecs.encodeBmp(Codecs.BgrImage(SrcW, SrcH, px))
            val img = Codecs.rot90cw(Codecs.hflip(
              Codecs.crop(Codecs.decodeBmp(blob), 10, 8, 20, 16)))
            var (sb, sg, sr, wb, wg) = (0L, 0L, 0L, 0L, 0L)
            var y = 0
            while (y < img.height) {
              var x = 0
              while (x < img.width) {
                val i = (y * img.width + x) * 3
                val b = img.pixels(i) & 0xff
                val g = img.pixels(i + 1) & 0xff
                sb += b
                sg += g
                sr += img.pixels(i + 2) & 0xff
                wb += (y.toLong * img.width + x) * b
                wg += (y.toLong * img.width + x) * g
                x += 1
              }
              y += 1
            }
            (flag, img.width.toLong, img.height.toLong, sb, sg, sr, wb, wg)
          }
          .toDF("flag", "width", "height", "sum_b", "sum_g", "sum_r",
            "wsum_b", "wsum_g")
          .orderBy("flag")
      },
      Some(s"""
        WITH r AS (
          SELECT l_returnflag AS flag,
                 row_number() OVER (PARTITION BY l_returnflag
                   ORDER BY l_orderkey, l_linenumber) - 1 AS rn,
                 l_orderkey AS ok, l_linenumber AS ln
          FROM lineitem),
        px AS (
          SELECT flag, rn, (ok * 31 + ln) % 256 AS b,
                 (ok * 7 + ln * 3) % 256 AS g, (ln * 13) % 256 AS r
          FROM r WHERE rn < $NPix),
        -- crop(10,8,20,16) ∘ hflip ∘ rot90cw composed:
        -- final (tx, ty) ← src(29 − ty, 23 − tx), rn = y·41 + x
        grid AS (
          SELECT tx, ty, (23 - tx) * $SrcW + (29 - ty) AS rn_s
          FROM (SELECT unnest(range(16)) AS tx)
          CROSS JOIN (SELECT unnest(range(20)) AS ty)),
        samp AS (
          SELECT px.flag, grid.tx, grid.ty, px.b, px.g, px.r
          FROM px JOIN grid ON px.rn = grid.rn_s)
        SELECT flag, CAST(16 AS BIGINT) AS width, CAST(20 AS BIGINT)
                 AS height,
               CAST(sum(b) AS BIGINT) AS sum_b,
               CAST(sum(g) AS BIGINT) AS sum_g,
               CAST(sum(r) AS BIGINT) AS sum_r,
               CAST(sum((ty * 16 + tx) * b) AS BIGINT) AS wsum_b,
               CAST(sum((ty * 16 + tx) * g) AS BIGINT) AS wsum_g
        FROM samp GROUP BY flag ORDER BY flag""")
    )
  }

  /** REAL audio downsampling (2× decimation with pair averaging —
    * Codecs.downsample2) over the REAL WAV decode: per flag, the
    * q_mm_wav_decode synthesis is containerized, decoded, then decimated
    * (truncating integer pair mean, trailing odd sample dropped, rate
    * halved). DuckDB rebuilds the ordered sample sequence, pairs rows by
    * rank, and replays the truncating mean — exact integers throughout;
    * a dropped-sample or off-by-one pairing bug breaks the hash.
    */
  val mmDownsample = QueryDef(
    "q_mm_downsample",
    (s, dir) => {
      val sp = s
      import sp.implicits._
      t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"))
        .as[(String, Long, Int)]
        .groupByKey(_._1)
        .mapGroups { (flag, it) =>
          val rows = it.toArray.sortBy(r => (r._2, r._3))
          val samples = rows.map { case (_, ok, ln) =>
            ((ok * 7 + ln * 13) % 65536 - 32768).toShort
          }
          val wav = Codecs.decodeWav(Codecs.encodeWav(16000, 1, samples))
          val ds = Codecs.downsample2(wav) // REAL decimation
          var sum = 0L
          var peak = 0L
          ds.samples.foreach { v =>
            sum += v
            if (math.abs(v.toLong) > peak) peak = math.abs(v.toLong)
          }
          (flag, ds.samples.length.toLong, ds.sampleRate.toLong, sum, peak)
        }
        .toDF("flag", "n_samples", "sample_rate", "sum_pcm", "peak")
        .orderBy("flag")
    },
    Some("""
      WITH r AS (
        SELECT l_returnflag AS flag,
               row_number() OVER (PARTITION BY l_returnflag
                 ORDER BY l_orderkey, l_linenumber) - 1 AS rn,
               (l_orderkey * 7 + l_linenumber * 13) % 65536 - 32768 AS v
        FROM lineitem),
      p AS (
        SELECT flag, rn // 2 AS pair,
               max(CASE WHEN rn % 2 = 0 THEN v END) AS v0,
               max(CASE WHEN rn % 2 = 1 THEN v END) AS v1,
               count(*) AS n
        FROM r GROUP BY 1, 2),
      d AS (SELECT flag, (v0 + v1) // 2 AS v FROM p WHERE n = 2)
      SELECT flag, count(*) AS n_samples,
             CAST(8000 AS BIGINT) AS sample_rate,
             CAST(sum(v) AS BIGINT) AS sum_pcm,
             CAST(max(abs(v)) AS BIGINT) AS peak
      FROM d GROUP BY 1 ORDER BY 1""")
  )

  /** Image NEAR-DUP via difference hash (dHash — the aHash/pHash family of
    * perceptual image fingerprints every multimodal dedup pipeline runs
    * before training): decode the REAL BMP (same per-flag synthesis as
    * q_mm_bmp_resize), nearest-neighbor resize to 9×8, integer grayscale,
    * one bit per horizontally-adjacent pixel pair (gray[x] > gray[x+1]) →
    * a 64-bit hash; near-dup distance = Hamming distance of hashes. The
    * oracle replays the floor-grid sampling, the (b+g+r)/3 grayscale, the
    * comparison bits, and the two's-complement bit packing relationally,
    * then the same xor/bit_count — every value an exact integer, so any
    * codec/grid/packing bug breaks the hash. Per ROW in production the
    * kernel is scan-local (one decode + 64 compares per image); the
    * pairwise stage joins only the tiny hash table (band-bucketed at real
    * scale, all-pairs here over 3 flags).
    */
  val mmDhash = {
    val SrcW = 41
    val SrcH = 32
    val DstW = 9
    val DstH = 8
    val NPix = SrcW * SrcH
    QueryDef(
      "q_mm_dhash",
      (s, dir) => {
        val sp = s
        import sp.implicits._
        val hashes = t(s, dir, "lineitem")
          .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"))
          .as[(String, Long, Int)]
          .groupByKey(_._1)
          .mapGroups { (flag, it) =>
            val rows = it.toArray.sortBy(r => (r._2, r._3)).take(NPix)
            require(rows.length == NPix,
              s"group $flag has under $NPix rows — shrink the image")
            val px = new Array[Byte](NPix * 3)
            rows.zipWithIndex.foreach { case ((_, ok, ln), i) =>
              px(i * 3) = ((ok * 31 + ln) % 256).toByte
              px(i * 3 + 1) = ((ok * 7 + ln * 3) % 256).toByte
              px(i * 3 + 2) = ((ln * 13) % 256).toByte
            }
            val blob = Codecs.encodeBmp(Codecs.BgrImage(SrcW, SrcH, px))
            val back = Codecs.decodeBmp(blob) // the REAL 24bpp parse
            val small = Codecs.resizeNearest(back, DstW, DstH)
            def gray(x: Int, y: Int): Long = {
              val i = (y * DstW + x) * 3
              ((small.pixels(i) & 0xff) + (small.pixels(i + 1) & 0xff)
                + (small.pixels(i + 2) & 0xff)) / 3L
            }
            var h = 0L
            for (y <- 0 until DstH; x <- 0 until DstW - 1)
              if (gray(x, y) > gray(x + 1, y)) h |= 1L << (y * (DstW - 1) + x)
            (flag, h)
          }
          .toDF("flag", "dhash")
        val a = hashes.select(col("flag").as("fa"), col("dhash").as("ha"))
        val b = hashes.select(col("flag").as("fb"), col("dhash").as("hb"))
        a.join(broadcast(b), col("fa") < col("fb"))
          .select(col("fa"), col("fb"), col("ha"), col("hb"),
            expr("bit_count(ha ^ hb)").cast("long").as("hamming"))
          .orderBy("fa", "fb")
      },
      Some(s"""
        WITH r AS (
          SELECT l_returnflag AS flag,
                 row_number() OVER (PARTITION BY l_returnflag
                   ORDER BY l_orderkey, l_linenumber) - 1 AS rn,
                 l_orderkey AS ok, l_linenumber AS ln
          FROM lineitem),
        px AS (
          SELECT flag, rn,
                 ((ok * 31 + ln) % 256 + (ok * 7 + ln * 3) % 256
                  + (ln * 13) % 256) // 3 AS gray
          FROM r WHERE rn < $NPix),
        grid AS (
          SELECT tx, ty, ((ty * $SrcH) // $DstH) * $SrcW
                   + ((tx * $SrcW) // $DstW) AS rn_s
          FROM (SELECT unnest(range($DstW)) AS tx)
          CROSS JOIN (SELECT unnest(range($DstH)) AS ty)),
        samp AS (
          SELECT px.flag, grid.tx, grid.ty, px.gray
          FROM px JOIN grid ON px.rn = grid.rn_s),
        bits AS (
          SELECT a.flag, a.ty * ${DstW - 1} + a.tx AS idx,
                 CASE WHEN a.gray > b.gray THEN 1 ELSE 0 END AS bit
          FROM samp a JOIN samp b
            ON b.flag = a.flag AND b.ty = a.ty AND b.tx = a.tx + 1),
        h AS (
          SELECT flag,
                 CAST(sum(CASE WHEN bit = 1 THEN
                   CASE WHEN idx = 63
                        THEN CAST(-9223372036854775808 AS HUGEINT)
                        ELSE CAST((CAST(1 AS BIGINT) << idx) AS HUGEINT)
                   END ELSE 0 END) AS BIGINT) AS dhash
          FROM bits GROUP BY flag)
        SELECT a.flag AS fa, b.flag AS fb, a.dhash AS ha, b.dhash AS hb,
               CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS hamming
        FROM h a JOIN h b ON a.flag < b.flag
        ORDER BY fa, fb""")
    )
  }

  /** Audio feature extraction over the REAL WAV decode (the librosa-style
    * scan a speech-data pipeline runs to drop silence/noise): per flag,
    * synthesize+containerize+decode as in q_mm_wav_decode, then compute
    * the zero-crossing count (sign flips between consecutive samples —
    * the cheap pitch/noisiness proxy), the silence count (|v| < 1000 ≈
    * −30 dBFS), and the integer peak. The oracle rebuilds the decoded
    * sample sequence relationally (row_number order + the same sample
    * formula) and replays the lag-compare — all exact integers; any
    * chunk-walk or sample-extraction bug in the real decoder breaks it.
    */
  val mmAudioFeats = QueryDef(
    "q_mm_audio_feats",
    (s, dir) => {
      val sp = s
      import sp.implicits._
      t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"))
        .as[(String, Long, Int)]
        .groupByKey(_._1)
        .mapGroups { (flag, it) =>
          val rows = it.toArray.sortBy(r => (r._2, r._3))
          val samples = rows.map { case (_, ok, ln) =>
            ((ok * 7 + ln * 13) % 65536 - 32768).toShort
          }
          val blob = Codecs.encodeWav(16000, 1, samples)
          val wav = Codecs.decodeWav(blob) // the REAL RIFF/PCM parse
          var zc = 0L
          var silent = 0L
          var peak = 0L
          var i = 0
          while (i < wav.samples.length) {
            val v = wav.samples(i).toLong
            if (i > 0 && ((wav.samples(i - 1) < 0) != (v < 0))) zc += 1
            if (math.abs(v) < 1000L) silent += 1
            if (math.abs(v) > peak) peak = math.abs(v)
            i += 1
          }
          (flag, wav.samples.length.toLong, zc, silent, peak)
        }
        .toDF("flag", "n_samples", "n_zero_cross", "n_silent", "peak")
        .orderBy("flag")
    },
    Some("""
      WITH r AS (
        SELECT l_returnflag AS flag,
               row_number() OVER (PARTITION BY l_returnflag
                 ORDER BY l_orderkey, l_linenumber) AS rn,
               (l_orderkey * 7 + l_linenumber * 13) % 65536 - 32768 AS v
        FROM lineitem),
      lagged AS (
        SELECT flag, v,
               lag(v) OVER (PARTITION BY flag ORDER BY rn) AS pv
        FROM r)
      SELECT flag, count(*) AS n_samples,
             CAST(sum(CASE WHEN pv IS NOT NULL AND (pv < 0) <> (v < 0)
               THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_cross,
             CAST(sum(CASE WHEN abs(v) < 1000 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_silent,
             CAST(max(abs(v)) AS BIGINT) AS peak
      FROM lagged GROUP BY flag ORDER BY flag""")
  )

  // staged raw-media dir per testdata dir (bounded: ≤40 small files —
  // TEST staging only, mirroring the streamable-events pattern; real
  // media lakes already sit in files). The directories go on JVM exit,
  // through one shutdown hook.
  private val binDirCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private lazy val binDirCleanup = sys.addShutdownHook {
    binDirCache.values.forEach(d => graft.sources.Dirs.delete(d))
  }
  private def binaryStageDir(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    binDirCache.computeIfAbsent(dir, _ => {
      binDirCleanup // register the shutdown hook once, on first staging
      val d = java.nio.file.Files.createTempDirectory("graft_bin_media")
      t(s, dir, "documents")
        .filter(col("doc_id") < 40 && col("text").isNotNull)
        .select("doc_id", "text").collect()
        .foreach { r =>
          java.nio.file.Files.write(
            d.resolve(s"doc_${r.getLong(0)}.bin"),
            r.getString(1).getBytes("UTF-8"))
        }
      d.toString
    })

  /** Spark's built-in `binaryFile` SOURCE — the ingestion path that turns
    * a raw media lake (one blob per file: images, audio, shards) into the
    * blob-column table every other multimodal operator consumes. Gated on
    * exact bytes: file length and content md5 must match the SOURCE data
    * the staged files were derived from, so any truncation/encoding bug
    * in the read path breaks the hash. At scale the source lists files
    * distributedly and reads content only when the column is selected;
    * `pathGlobFilter`/partitioned layouts prune the listing.
    */
  val mmBinarySource = QueryDef(
    "q_src_binaryfile",
    (s, dir) => {
      val stage = binaryStageDir(s, dir)
      s.read.format("binaryFile").load(s"$stage/*.bin")
        .select(
          regexp_extract(col("path"), "doc_(\\d+)\\.bin", 1)
            .cast("long").as("doc_id"),
          col("length").as("n_bytes"),
          md5(col("content")).as("content_md5"))
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             md5(text) AS content_md5
      FROM documents WHERE doc_id < 40 AND text IS NOT NULL
      ORDER BY doc_id""")
  )

  /** REAL G.711 μ-law audio decode (ITU-T G.711 — the 8-bit telephony
    * companding every speech corpus crawl encounters), oracle-gated: per
    * returnflag the row keys become μ-law bytes, containerized as a
    * format-7 RIFF/WAVE blob (Codecs.encodeWavUlaw), decoded back
    * through the REAL chunk walk + μ-law expansion
    * (Codecs.ulawToPcm16: complement, exponent/mantissa split, +0x84
    * bias, sign), and summarized with exact integer statistics. DuckDB
    * replays the expansion formula bit-for-bit with xor/shift/modulo —
    * any companding-table or chunk-walk bug breaks the hash.
    */
  val mmUlawDecode = QueryDef(
    "q_mm_ulaw_decode",
    (s, dir) => {
      val sp = s
      import sp.implicits._
      t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"))
        .as[(String, Long, Int)]
        .groupByKey(_._1)
        .mapGroups { (flag, it) =>
          val ulaw = it.map { case (_, ok, ln) =>
            ((ok * 13 + ln * 7) % 256).toByte
          }.toArray
          val blob = Codecs.encodeWavUlaw(8000, 1, ulaw)
          val wav = Codecs.decodeWav(blob) // REAL walk + μ-law expansion
          var sum = 0L
          var peak = 0L
          var neg = 0L
          wav.samples.foreach { v =>
            sum += v
            if (math.abs(v.toLong) > peak) peak = math.abs(v.toLong)
            if (v < 0) neg += 1
          }
          (flag, wav.samples.length.toLong, wav.sampleRate.toLong, sum,
            peak, neg)
        }
        .toDF("flag", "n_samples", "sample_rate", "sum_pcm", "peak", "n_neg")
        .orderBy("flag")
    },
    Some("""
      WITH r AS (
        SELECT l_returnflag AS flag,
               xor((l_orderkey * 13 + l_linenumber * 7) % 256, 255) AS u
        FROM lineitem),
      d AS (
        SELECT flag,
               CASE WHEN u >= 128 THEN
                 -((((u % 16) * 8 + 132) << ((u // 16) % 8)) - 132)
               ELSE (((u % 16) * 8 + 132) << ((u // 16) % 8)) - 132
               END AS v
        FROM r)
      SELECT flag, count(*) AS n_samples,
             CAST(8000 AS BIGINT) AS sample_rate,
             CAST(sum(v) AS BIGINT) AS sum_pcm,
             CAST(max(abs(v)) AS BIGINT) AS peak,
             CAST(sum(CASE WHEN v < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg
      FROM d GROUP BY 1 ORDER BY 1""")
  )

  /** REAL TIFF decode — the remaining lossless format in the JDK codec
    * set (PNG/GIF/BMP gated above; JPEG is the lossy one): same 41×32
    * synthesis as q_mm_png_decode, encoded with the JDK TIFF writer,
    * header-parsed (dims + frame count without pixel decode) and fully
    * decoded for exact channel sums. TIFF's default JDK compression is
    * lossless, so DuckDB replays the sums from the pixel formula; the
    * format name is gated as a normalized boolean (reader spelling
    * varies: 'tif'/'TIFF').
    */
  val mmTiffDecode = {
    val SrcW = 41
    val SrcH = 32
    val NPix = SrcW * SrcH
    QueryDef(
      "q_mm_tiff_decode",
      (s, dir) => {
        val sp = s
        import sp.implicits._
        t(s, dir, "lineitem")
          .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"))
          .as[(String, Long, Int)]
          .groupByKey(_._1)
          .mapGroups { (flag, it) =>
            val rows = it.toArray.sortBy(r => (r._2, r._3)).take(NPix)
            require(rows.length == NPix,
              s"group $flag has under $NPix rows — shrink the image")
            val px = new Array[Byte](NPix * 3)
            rows.zipWithIndex.foreach { case ((_, ok, ln), i) =>
              px(i * 3) = ((ok * 31 + ln) % 256).toByte
              px(i * 3 + 1) = ((ok * 7 + ln * 3) % 256).toByte
              px(i * 3 + 2) = ((ln * 13) % 256).toByte
            }
            val tiff = ImageIo.encodeTiff(Codecs.BgrImage(SrcW, SrcH, px))
            val hdr = ImageIo.headerInfo(tiff) // header-only parse
            val back = ImageIo.decodeImage(tiff) // REAL TIFF decode
            var (sb, sg, sr) = (0L, 0L, 0L)
            var i = 0
            while (i < back.pixels.length) {
              sb += back.pixels(i) & 0xff
              sg += back.pixels(i + 1) & 0xff
              sr += back.pixels(i + 2) & 0xff
              i += 3
            }
            (flag, Set("tif", "tiff").contains(hdr.format.toLowerCase),
              hdr.width.toLong, hdr.height.toLong, hdr.nFrames.toLong,
              sb, sg, sr)
          }
          .toDF("flag", "fmt_ok", "width", "height", "n_frames",
            "sum_b", "sum_g", "sum_r")
          .orderBy("flag")
      },
      Some(s"""
        WITH r AS (
          SELECT l_returnflag AS flag,
                 row_number() OVER (PARTITION BY l_returnflag
                   ORDER BY l_orderkey, l_linenumber) - 1 AS rn,
                 l_orderkey AS ok, l_linenumber AS ln
          FROM lineitem),
        px AS (
          SELECT flag, (ok * 31 + ln) % 256 AS b,
                 (ok * 7 + ln * 3) % 256 AS g, (ln * 13) % 256 AS r
          FROM r WHERE rn < $NPix)
        SELECT flag, TRUE AS fmt_ok,
               CAST($SrcW AS BIGINT) AS width,
               CAST($SrcH AS BIGINT) AS height,
               CAST(1 AS BIGINT) AS n_frames,
               CAST(sum(b) AS BIGINT) AS sum_b,
               CAST(sum(g) AS BIGINT) AS sum_g,
               CAST(sum(r) AS BIGINT) AS sum_r
        FROM px GROUP BY flag ORDER BY flag""")
    )
  }

  /** REAL 1-bit WBMP round-trip — the monochrome container (and the last
    * JDK image format): per returnflag the 41×32 blue-channel formula is
    * thresholded at >127 into a bitmap, encoded as WBMP, header-parsed
    * and decoded back; the gate counts white pixels per ROW-BAND (four
    * 8-row bands — position-sensitive, so a row-order or bit-packing bug
    * breaks it, not just the total). DuckDB replays threshold + banding
    * relationally — all exact integers.
    */
  val mmWbmp = {
    val SrcW = 41
    val SrcH = 32
    val NPix = SrcW * SrcH
    QueryDef(
      "q_mm_wbmp",
      (s, dir) => {
        val sp = s
        import sp.implicits._
        t(s, dir, "lineitem")
          .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"))
          .as[(String, Long, Int)]
          .groupByKey(_._1)
          .mapGroups { (flag, it) =>
            val rows = it.toArray.sortBy(r => (r._2, r._3)).take(NPix)
            require(rows.length == NPix,
              s"group $flag has under $NPix rows — shrink the image")
            val bits = rows.map { case (_, ok, ln) =>
              (ok * 31 + ln) % 256 > 127
            }
            val blob = ImageIo.encodeWbmp(SrcW, SrcH, bits)
            val hdr = ImageIo.headerInfo(blob)
            val (w, h, back) = ImageIo.decodeWbmp(blob) // REAL 1-bit decode
            val bands = (0 until 4).map { band =>
              (band * 8 until (band + 1) * 8).map(y =>
                (0 until w).count(x => back(y * w + x))).sum.toLong
            }
            (flag, hdr.format.toLowerCase, w.toLong, h.toLong,
              bands(0), bands(1), bands(2), bands(3))
          }
          .toDF("flag", "fmt", "width", "height", "white_b0", "white_b1",
            "white_b2", "white_b3")
          .orderBy("flag")
      },
      Some(s"""
        WITH r AS (
          SELECT l_returnflag AS flag,
                 row_number() OVER (PARTITION BY l_returnflag
                   ORDER BY l_orderkey, l_linenumber) - 1 AS rn,
                 l_orderkey AS ok, l_linenumber AS ln
          FROM lineitem),
        px AS (
          SELECT flag, rn // ($SrcW * 8) AS band,
                 CASE WHEN (ok * 31 + ln) % 256 > 127 THEN 1 ELSE 0 END
                   AS white
          FROM r WHERE rn < $NPix)
        SELECT flag, 'wbmp' AS fmt, CAST($SrcW AS BIGINT) AS width,
               CAST($SrcH AS BIGINT) AS height,
               CAST(sum(CASE WHEN band = 0 THEN white ELSE 0 END)
                 AS BIGINT) AS white_b0,
               CAST(sum(CASE WHEN band = 1 THEN white ELSE 0 END)
                 AS BIGINT) AS white_b1,
               CAST(sum(CASE WHEN band = 2 THEN white ELSE 0 END)
                 AS BIGINT) AS white_b2,
               CAST(sum(CASE WHEN band = 3 THEN white ELSE 0 END)
                 AS BIGINT) AS white_b3
        FROM px GROUP BY flag ORDER BY flag""")
    )
  }

  /** Voice-activity-style ENERGY WINDOWING over the REAL WAV decode — the
    * framing pass every speech pipeline runs before VAD/ASR: the decoded
    * sample stream is cut into 400-sample frames (rank // 400, partial
    * tail kept), per-frame energy is the exact integer Σv², and frames
    * above a fixed threshold count as voiced. DuckDB rebuilds the ordered
    * stream and replays the framing with integer division — window
    * boundaries, energy sums, and the voiced count are all exact.
    */
  val mmVadWindows = {
    val Win = 400
    val Threshold = 100000000000L // 1e11 ≈ mean uniform energy per frame
    QueryDef(
      "q_mm_vad_windows",
      (s, dir) => {
        val sp = s
        import sp.implicits._
        t(s, dir, "lineitem")
          .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"))
          .as[(String, Long, Int)]
          .groupByKey(_._1)
          .mapGroups { (flag, it) =>
            val rows = it.toArray.sortBy(r => (r._2, r._3))
            val samples = rows.map { case (_, ok, ln) =>
              ((ok * 7 + ln * 13) % 65536 - 32768).toShort
            }
            val wav = Codecs.decodeWav(Codecs.encodeWav(16000, 1, samples))
            val energies = wav.samples.grouped(Win)
              .map(_.foldLeft(0L)((a, v) => a + v.toLong * v)).toArray
            (flag, energies.length.toLong,
              energies.count(_ > Threshold).toLong,
              energies.sum, energies.max)
          }
          .toDF("flag", "n_windows", "n_voiced", "total_energy",
            "max_window_energy")
          .orderBy("flag")
      },
      Some(s"""
        WITH r AS (
          SELECT l_returnflag AS flag,
                 row_number() OVER (PARTITION BY l_returnflag
                   ORDER BY l_orderkey, l_linenumber) - 1 AS rn,
                 (l_orderkey * 7 + l_linenumber * 13) % 65536 - 32768 AS v
          FROM lineitem),
        w AS (
          SELECT flag, rn // $Win AS win,
                 CAST(sum(CAST(v AS BIGINT) * v) AS BIGINT) AS energy
          FROM r GROUP BY 1, 2)
        SELECT flag, count(*) AS n_windows,
               CAST(sum(CASE WHEN energy > $Threshold THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_voiced,
               CAST(sum(energy) AS BIGINT) AS total_energy,
               CAST(max(energy) AS BIGINT) AS max_window_energy
        FROM w GROUP BY 1 ORDER BY 1""")
    )
  }

  /** REAL G.711 A-law decode — the European companding half (format 6),
    * same end-to-end gate shape as q_mm_ulaw_decode but a different
    * expansion law (XOR 0x55, linear low segment, biased upper segments):
    * DuckDB replays Codecs.alawToPcm16 bit-for-bit. Together the two
    * G.711 gates pin the decoder's format dispatch: a swapped law or a
    * misread fmt code breaks exactly one of them.
    */
  val mmAlawDecode = QueryDef(
    "q_mm_alaw_decode",
    (s, dir) => {
      val sp = s
      import sp.implicits._
      t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"))
        .as[(String, Long, Int)]
        .groupByKey(_._1)
        .mapGroups { (flag, it) =>
          val alaw = it.map { case (_, ok, ln) =>
            ((ok * 11 + ln * 5) % 256).toByte
          }.toArray
          val blob = Codecs.encodeWavAlaw(8000, 1, alaw)
          val wav = Codecs.decodeWav(blob) // REAL walk + A-law expansion
          var sum = 0L
          var peak = 0L
          var neg = 0L
          wav.samples.foreach { v =>
            sum += v
            if (math.abs(v.toLong) > peak) peak = math.abs(v.toLong)
            if (v < 0) neg += 1
          }
          (flag, wav.samples.length.toLong, wav.sampleRate.toLong, sum,
            peak, neg)
        }
        .toDF("flag", "n_samples", "sample_rate", "sum_pcm", "peak", "n_neg")
        .orderBy("flag")
    },
    Some("""
      WITH r AS (
        SELECT l_returnflag AS flag,
               xor((l_orderkey * 11 + l_linenumber * 5) % 256, 85) AS u
        FROM lineitem),
      m AS (
        SELECT flag, u,
               CASE WHEN ((u // 16) % 8) = 0 THEN (u % 16) * 16 + 8
                    ELSE ((u % 16) * 16 + 264) << (((u // 16) % 8) - 1)
               END AS mag
        FROM r),
      d AS (
        SELECT flag, CASE WHEN u >= 128 THEN mag ELSE -mag END AS v
        FROM m)
      SELECT flag, count(*) AS n_samples,
             CAST(8000 AS BIGINT) AS sample_rate,
             CAST(sum(v) AS BIGINT) AS sum_pcm,
             CAST(max(abs(v)) AS BIGINT) AS peak,
             CAST(sum(CASE WHEN v < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg
      FROM d GROUP BY 1 ORDER BY 1""")
  )

  /** REAL VIDEO container decode, oracle-gated end-to-end: per returnflag
    * the first 80 row-keys become three 10×8 24bpp frames (width 10
    * forces a 32-byte padded DIB stride), containerized as a RIFF/AVI
    * 'vids'/'DIB ' stream (Codecs.encodeAviDib: hdrl/strl/strf headers +
    * movi '00db' chunks), then decoded with the REAL recursive container
    * walk (Codecs.AviFrameKernel over the FrameKernel seam), each frame
    * re-emitted as BMP and re-parsed for exact channel sums. DuckDB
    * replays the per-frame pixel formulas — any header-offset, stride,
    * row-order, or frame-directory bug in the video path breaks the hash.
    */
  val mmAviFrames = {
    val NF = 3
    val FW = 10
    val FH = 8
    val NPix = FW * FH
    QueryDef(
      "q_mm_avi_frames",
      (s, dir) => {
        val sp = s
        import sp.implicits._
        val media = t(s, dir, "lineitem")
          .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"))
          .as[(String, Long, Int)]
          .groupByKey(_._1)
          .mapGroups { (flag, it) =>
            val rows = it.toArray.sortBy(r => (r._2, r._3)).take(NPix)
            require(rows.length == NPix,
              s"group $flag has under $NPix rows — shrink the frame")
            val frames = (0 until NF).map { f =>
              val px = new Array[Byte](NPix * 3)
              rows.zipWithIndex.foreach { case ((_, ok, ln), i) =>
                px(i * 3) = ((ok * 31 + ln + f * 7) % 256).toByte
                px(i * 3 + 1) = ((ok * 7 + ln * 3 + f * 11) % 256).toByte
                px(i * 3 + 2) = ((ln * 13 + f * 19) % 256).toByte
              }
              Codecs.BgrImage(FW, FH, px)
            }
            (flag.codePointAt(0).toLong, Codecs.encodeAviDib(10, frames))
          }
          .toDF("media_id", "blob")
        Multimodal.sampleFrames(s, media, Codecs.AviFrameKernel)
          .map { fr =>
            val img = Codecs.decodeBmp(fr.frame) // REAL re-parse per frame
            var (sb, sg, sr) = (0L, 0L, 0L)
            var i = 0
            while (i < img.pixels.length) {
              sb += img.pixels(i) & 0xff
              sg += img.pixels(i + 1) & 0xff
              sr += img.pixels(i + 2) & 0xff
              i += 3
            }
            (fr.media_id, fr.frame_idx, img.width.toLong, img.height.toLong,
              fr.frame.length.toLong, sb, sg, sr)
          }
          .toDF("media_id", "frame_idx", "width", "height", "n_bytes",
            "sum_b", "sum_g", "sum_r")
          .orderBy("media_id", "frame_idx")
      },
      Some(s"""
        WITH r AS (
          SELECT l_returnflag AS flag,
                 row_number() OVER (PARTITION BY l_returnflag
                   ORDER BY l_orderkey, l_linenumber) - 1 AS rn,
                 l_orderkey AS ok, l_linenumber AS ln
          FROM lineitem),
        px AS (SELECT flag, ok, ln FROM r WHERE rn < $NPix),
        f AS (SELECT CAST(unnest(range($NF)) AS INT) AS fi),
        g AS (SELECT flag, fi,
                     sum((ok * 31 + ln + fi * 7) % 256) AS sb,
                     sum((ok * 7 + ln * 3 + fi * 11) % 256) AS sg,
                     sum((ln * 13 + fi * 19) % 256) AS sr
              FROM px CROSS JOIN f GROUP BY 1, 2)
        SELECT CAST(ascii(flag) AS BIGINT) AS media_id, fi AS frame_idx,
               CAST($FW AS BIGINT) AS width, CAST($FH AS BIGINT) AS height,
               CAST(54 + (($FW * 3 + 3) // 4 * 4) * $FH AS BIGINT)
                 AS n_bytes,
               CAST(sb AS BIGINT) AS sum_b, CAST(sg AS BIGINT) AS sum_g,
               CAST(sr AS BIGINT) AS sum_r
        FROM g ORDER BY media_id, frame_idx""")
    )
  }

  /** Fixed-point 16-point DFT spectral energy — the spectrogram primitive
    * of an audio-featurization pipeline, done the way embedded DSPs do it:
    * an INTEGER twiddle table (round(cos·1e6), computed once at class
    * init and interpolated into the oracle as literals) makes every
    * per-frame re/im an exact integer sum — order-independent, no
    * cross-engine transcendental anywhere. The audio goes through the
    * REAL WAV codec round-trip (q_mm_wav_decode synthesis), frames are 16
    * samples (full frames only), and per-(flag, k) mean frame energy is a
    * decimal sum of bit-identical per-frame doubles. Frame fan-out is
    * bounded per key; the only data-scale shuffle is the final groupBy.
    */
  val mmDftEnergy = {
    val W = 16
    val cosQ = Array.tabulate(W)(i =>
      Math.round(Math.cos(2 * Math.PI * i / W) * 1e6))
    val sinQ = Array.tabulate(W)(i =>
      Math.round(Math.sin(2 * Math.PI * i / W) * 1e6))
    QueryDef(
      "q_mm_dft_energy",
      (s, dir) => {
        val sp = s
        import sp.implicits._
        t(s, dir, "lineitem")
          .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"))
          .as[(String, Long, Int)]
          .groupByKey(_._1)
          .flatMapGroups { (flag, it) =>
            val rows = it.toArray.sortBy(r => (r._2, r._3))
            val samples = rows.map { case (_, ok, ln) =>
              ((ok * 7 + ln * 13) % 65536 - 32768).toShort
            }
            val blob = Codecs.encodeWav(16000, 1, samples)
            val wav = Codecs.decodeWav(blob) // the REAL RIFF/PCM parse
            wav.samples.grouped(W).zipWithIndex
              .filter(_._1.length == W)
              .flatMap { case (frame, f) =>
                (0 to W / 2).map { k =>
                  var re = 0L
                  var im = 0L
                  var n = 0
                  while (n < W) {
                    val x = frame(n).toLong
                    re += x * cosQ((k * n) % W)
                    im -= x * sinQ((k * n) % W)
                    n += 1
                  }
                  (flag, k.toLong, f.toLong,
                    (re.toDouble * re.toDouble + im.toDouble * im.toDouble)
                      / 1e12)
                }
              }
          }
          .toDF("flag", "k", "frame", "e")
          .groupBy("flag", "k")
          .agg(count(lit(1)).as("n_frames"),
            r2(decD(sum(col("e").cast("decimal(38,6)")))
              / count(lit(1)).cast("double")).as("avg_energy"))
          .orderBy("flag", "k")
      },
      Some {
        val cosL = cosQ.mkString("[", ", ", "]")
        val sinL = sinQ.mkString("[", ", ", "]")
        s"""
        WITH s AS (
          SELECT l_returnflag AS flag,
                 CAST((l_orderkey * 7 + l_linenumber * 13) % 65536 - 32768
                   AS BIGINT) AS x,
                 CAST(row_number() OVER (PARTITION BY l_returnflag
                   ORDER BY l_orderkey, l_linenumber) - 1 AS BIGINT) AS rn
          FROM lineitem),
        fk AS (
          SELECT flag, x, rn // $W AS frame, rn % $W AS n, k
          FROM s, (SELECT CAST(unnest(range(${W / 2 + 1})) AS BIGINT) AS k)),
        ri AS (
          SELECT flag, k, frame,
                 CAST(sum(x * list_extract($cosL, (k * n) % $W + 1))
                   AS BIGINT) AS re,
                 CAST(sum(-x * list_extract($sinL, (k * n) % $W + 1))
                   AS BIGINT) AS im
          FROM fk GROUP BY 1, 2, 3 HAVING count(*) = $W),
        e AS (
          SELECT flag, k,
                 (CAST(re AS DOUBLE) * CAST(re AS DOUBLE)
                  + CAST(im AS DOUBLE) * CAST(im AS DOUBLE)) / 1e12 AS e
          FROM ri)
        SELECT flag, k, count(*) AS n_frames,
               ${sqlR2(sqlDecD("sum(CAST(e AS DECIMAL(38,6)))") +
          " / CAST(count(*) AS DOUBLE)")} AS avg_energy
        FROM e GROUP BY 1, 2 ORDER BY 1, 2"""
      }
    )
  }

  /** REAL IMA ADPCM decode (WAV format 0x11 — the 4-bit predictive
    * codec voicemail/telephony corpora arrive in, and the first
    * STATEFUL audio coding in the catalog: G.711 expands each byte
    * independently, ADPCM threads a (predictor, step-index) state
    * machine through every nibble). Per returnflag the first
    * [[AdpcmN]] row keys (ordered by primary key) become a nibble
    * stream, containerized as a format-17 RIFF/WAVE block
    * (Codecs.encodeWavImaAdpcm: block header + packed nibbles), and
    * decoded back through the REAL chunk walk + block walk +
    * Codecs.imaAdpcmStep. DuckDB replays the state machine as a
    * RECURSIVE CTE over the same nibble stream with the 89-entry step
    * table as a list literal — any table, clamp, or nibble-order bug
    * breaks the hash. All-integer; bounded recursion depth AdpcmN.
    */
  val mmAdpcmDecode = {
    val AdpcmN = 256 // nibbles per clip (even; recursion bound)
    QueryDef(
      "q_mm_adpcm_decode",
      (s, dir) => {
        val sp = s
        import sp.implicits._
        t(s, dir, "lineitem")
          .select(col("l_returnflag"), col("l_orderkey"),
            col("l_linenumber"))
          .as[(String, Long, Int)]
          .groupByKey(_._1)
          .mapGroups { (flag, it) =>
            val rows = it.toArray.sortBy(r => (r._2, r._3)).take(AdpcmN)
            require(rows.length == AdpcmN,
              s"group $flag has under $AdpcmN rows")
            val nib = rows.map { case (_, ok, ln) =>
              ((ok * 11 + ln * 5) % 16).toByte
            }
            val blob = Codecs.encodeWavImaAdpcm(8000, nib)
            val wav = Codecs.decodeWav(blob) // REAL block walk + steps
            var sum = 0L
            var peak = 0L
            var neg = 0L
            wav.samples.foreach { v =>
              sum += v
              if (math.abs(v.toLong) > peak) peak = math.abs(v.toLong)
              if (v < 0) neg += 1
            }
            (flag, wav.samples.length.toLong, sum, peak, neg,
              wav.samples.last.toLong)
          }
          .toDF("flag", "n_samples", "sum_pcm", "peak", "n_neg",
            "end_pred")
          .orderBy("flag")
      },
      Some {
        val st = Array(7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23,
          25, 28, 31, 34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97,
          107, 118, 130, 143, 157, 173, 190, 209, 230, 253, 279, 307,
          337, 371, 408, 449, 494, 544, 598, 658, 724, 796, 876, 963,
          1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066, 2272, 2499,
          2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894, 6484,
          7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
          16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767)
          .mkString("[", ", ", "]")
        val it = "[-1, -1, -1, -1, 2, 4, 6, 8]"
        // one decode step's diff, spelled from the shared step variable
        val diff = "(stp >> 3)" +
          " + CASE WHEN (n % 8) >= 4 THEN stp ELSE 0 END" +
          " + CASE WHEN (n % 4) >= 2 THEN (stp >> 1) ELSE 0 END" +
          " + CASE WHEN (n % 2) = 1 THEN (stp >> 2) ELSE 0 END"
        s"""
        WITH RECURSIVE nib AS MATERIALIZED (
          SELECT flag, rn, (ok * 11 + ln * 5) % 16 AS n FROM (
            SELECT l_returnflag AS flag,
                   row_number() OVER (PARTITION BY l_returnflag
                     ORDER BY l_orderkey, l_linenumber) - 1 AS rn,
                   l_orderkey AS ok, l_linenumber AS ln
            FROM lineitem)
          WHERE rn < $AdpcmN),
        dec AS (
          SELECT flag, CAST(-1 AS BIGINT) AS rn, 0 AS pred, 0 AS idx
          FROM (SELECT DISTINCT flag FROM nib)
          UNION ALL
          SELECT flag, rn, least(greatest(pd, -32768), 32767) AS pred,
                 least(greatest(idx + list_extract($it,
                   CAST(n % 8 AS INTEGER) + 1), 0), 88) AS idx
          FROM (
            SELECT d.flag, nib.rn, nib.n, d.idx,
                   d.pred + CASE WHEN n >= 8 THEN -($diff)
                                 ELSE ($diff) END AS pd
            FROM (SELECT dd.*,
                    list_extract($st, CAST(dd.idx AS INTEGER) + 1) AS stp
                  FROM dec dd) d
            JOIN nib ON nib.flag = d.flag AND nib.rn = d.rn + 1))
        SELECT flag, CAST(count(*) AS BIGINT) AS n_samples,
               CAST(sum(pred) AS BIGINT) AS sum_pcm,
               CAST(max(abs(pred)) AS BIGINT) AS peak,
               CAST(sum(CASE WHEN pred < 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_neg,
               CAST(max(CASE WHEN rn = $AdpcmN - 1 THEN pred END)
                 AS BIGINT) AS end_pred
        FROM dec GROUP BY 1 ORDER BY 1"""
      }
    )
  }

  /** RGB→grayscale + histogram EQUALIZATION — the color-space op the
    * image family lacked (augment moves pixels, downsample averages
    * them; this one remaps VALUES): BT.601 integer luma
    * ((29B+150G+77R)>>8, Codecs.grayLuma) through the real BMP
    * round-trip, then the truncating-CDF equalization LUT
    * (Codecs.equalize) — contrast stretch as preprocessing before
    * vision-model ingestion. DuckDB replays luma arithmetic, the
    * per-flag histogram CDF (a window sum over luma levels) and the
    * integer-division LUT — all exact integers, so the hash pins the
    * LUT convention itself.
    */
  val mmGrayscale = {
    val SrcW = 41
    val SrcH = 32
    val NPix = SrcW * SrcH
    QueryDef(
      "q_mm_grayscale",
      (s, dir) => {
        val sp = s
        import sp.implicits._
        t(s, dir, "lineitem")
          .select(col("l_returnflag"), col("l_orderkey"),
            col("l_linenumber"))
          .as[(String, Long, Int)]
          .groupByKey(_._1)
          .mapGroups { (flag, it) =>
            val rows = it.toArray.sortBy(r => (r._2, r._3)).take(NPix)
            require(rows.length == NPix,
              s"group $flag has under $NPix rows — shrink the image")
            val px = new Array[Byte](NPix * 3)
            rows.zipWithIndex.foreach { case ((_, ok, ln), i) =>
              px(i * 3) = ((ok * 31 + ln) % 256).toByte
              px(i * 3 + 1) = ((ok * 7 + ln * 3) % 256).toByte
              px(i * 3 + 2) = ((ln * 13) % 256).toByte
            }
            val blob = Codecs.encodeBmp(Codecs.BgrImage(SrcW, SrcH, px))
            val luma = Codecs.grayLuma(Codecs.decodeBmp(blob))
            val eq = Codecs.equalize(luma)
            (flag, luma.length.toLong,
              luma.map(_.toLong).sum, luma.distinct.length.toLong,
              eq.map(_.toLong).sum, eq.min.toLong, eq.max.toLong)
          }
          .toDF("flag", "n_pix", "sum_luma", "n_levels", "sum_eq",
            "min_eq", "max_eq")
          .orderBy("flag")
      },
      Some(s"""
        WITH r AS (
          SELECT l_returnflag AS flag,
                 row_number() OVER (PARTITION BY l_returnflag
                   ORDER BY l_orderkey, l_linenumber) - 1 AS rn,
                 l_orderkey AS ok, l_linenumber AS ln
          FROM lineitem),
        px AS (
          SELECT flag, (ok * 31 + ln) % 256 AS b,
                 (ok * 7 + ln * 3) % 256 AS g, (ln * 13) % 256 AS r
          FROM r WHERE rn < $NPix),
        lm AS (
          SELECT flag, (29 * b + 150 * g + 77 * r) // 256 AS y FROM px),
        h AS (SELECT flag, y, count(*) AS c FROM lm GROUP BY 1, 2),
        cd AS (
          SELECT flag, y,
                 (sum(c) OVER (PARTITION BY flag ORDER BY y) * 255)
                   // $NPix AS ey
          FROM h),
        eq AS (
          SELECT lm.flag, cd.ey
          FROM lm JOIN cd ON cd.flag = lm.flag AND cd.y = lm.y),
        a1 AS (
          SELECT flag, CAST(count(*) AS BIGINT) AS n_pix,
                 CAST(sum(y) AS BIGINT) AS sum_luma,
                 CAST(count(DISTINCT y) AS BIGINT) AS n_levels
          FROM lm GROUP BY 1),
        a2 AS (
          SELECT flag, CAST(sum(ey) AS BIGINT) AS sum_eq,
                 CAST(min(ey) AS BIGINT) AS min_eq,
                 CAST(max(ey) AS BIGINT) AS max_eq
          FROM eq GROUP BY 1)
        SELECT flag, n_pix, sum_luma, n_levels, sum_eq, min_eq, max_eq
        FROM a1 JOIN a2 USING (flag) ORDER BY flag""")
    )
  }

  /** Run-length encoding audit over the luma plane — the compression
    * primitive (RLE is BMP/TIFF/PCX's native codec and the degenerate
    * case every columnar encoder special-cases): run boundaries are
    * exact integer inequality flags on consecutive lumas, run ids a
    * prefix sum, the longest run a per-run count max — the same
    * gaps-and-islands machinery as q_f_streaks pointed at pixel data.
    * compression_ratio = runs/pixels (each run stores value+length)
    * tells whether RLE would pay for this plane. All integers; one r6.
    */
  val mmRle = {
    val SrcW = 41
    val SrcH = 32
    val NPix = SrcW * SrcH
    QueryDef(
      "q_mm_rle",
      (s, dir) => {
        val sp = s
        import sp.implicits._
        t(s, dir, "lineitem")
          .select(col("l_returnflag"), col("l_orderkey"),
            col("l_linenumber"))
          .as[(String, Long, Int)]
          .groupByKey(_._1)
          .mapGroups { (flag, it) =>
            val rows = it.toArray.sortBy(r => (r._2, r._3)).take(NPix)
            require(rows.length == NPix,
              s"group $flag has under $NPix rows — shrink the image")
            val px = new Array[Byte](NPix * 3)
            rows.zipWithIndex.foreach { case ((_, ok, ln), i) =>
              px(i * 3) = ((ok * 31 + ln) % 256).toByte
              px(i * 3 + 1) = ((ok * 7 + ln * 3) % 256).toByte
              px(i * 3 + 2) = ((ln * 13) % 256).toByte
            }
            val blob = Codecs.encodeBmp(Codecs.BgrImage(SrcW, SrcH, px))
            val luma = Codecs.grayLuma(Codecs.decodeBmp(blob))
            var runs = 1L
            var maxRun = 1L
            var cur = 1L
            var i = 1
            while (i < luma.length) {
              if (luma(i) == luma(i - 1)) { cur += 1 }
              else { runs += 1; if (cur > maxRun) maxRun = cur; cur = 1 }
              i += 1
            }
            if (cur > maxRun) maxRun = cur
            (flag, luma.length.toLong, runs, maxRun)
          }
          .toDF("flag", "n_pix", "n_runs", "max_run")
          .withColumn("compression_ratio",
            r6(col("n_runs").cast("double") / col("n_pix").cast("double")))
          .orderBy("flag")
      },
      Some(s"""
        WITH r AS (
          SELECT l_returnflag AS flag,
                 row_number() OVER (PARTITION BY l_returnflag
                   ORDER BY l_orderkey, l_linenumber) - 1 AS rn,
                 l_orderkey AS ok, l_linenumber AS ln
          FROM lineitem),
        lm AS (
          SELECT flag, rn,
                 (29 * ((ok * 31 + ln) % 256)
                  + 150 * ((ok * 7 + ln * 3) % 256)
                  + 77 * ((ln * 13) % 256)) // 256 AS y
          FROM r WHERE rn < $NPix),
        fl AS (
          SELECT flag, rn, y,
                 CASE WHEN lag(y) OVER w IS NULL
                        OR y <> lag(y) OVER w THEN 1 ELSE 0 END AS b
          FROM lm WINDOW w AS (PARTITION BY flag ORDER BY rn)),
        gr AS (
          SELECT flag, sum(b) OVER (PARTITION BY flag ORDER BY rn
                   ROWS UNBOUNDED PRECEDING) AS run_id
          FROM fl),
        rl AS (
          SELECT flag, run_id, count(*) AS len
          FROM gr GROUP BY 1, 2)
        SELECT flag, CAST(sum(len) AS BIGINT) AS n_pix,
               CAST(count(*) AS BIGINT) AS n_runs,
               CAST(max(len) AS BIGINT) AS max_run,
               ${sqlR6("CAST(count(*) AS DOUBLE)" +
        " / CAST(sum(len) AS DOUBLE)")} AS compression_ratio
        FROM rl GROUP BY 1 ORDER BY 1""")
    )
  }

  /** Shot-boundary detection — the video-curation primitive (scene cuts
    * feed frame-sampling and clip-level dedup in a multimodal training
    * pipeline): consecutive-frame sum-of-absolute-differences (SAD) over
    * REAL container decode. Eight synthesized frames per returnflag carry
    * a scene regime that changes every 3 frames; the AVI round-trips
    * through Codecs.encodeAviDib → AviFrameKernel's recursive RIFF walk,
    * each frame re-parsed as BMP, and SAD/cut/shot-id computed in a
    * per-media mapGroups (NF frames — bounded by the op's charter).
    * SAD is an exact integer; the oracle replays the per-pixel |Δ|
    * formulas relationally, so a stride, row-order, or frame-directory
    * bug shifts a byte and breaks the hash.
    */
  val mmShots = {
    val NF = 8
    val FW = 10
    val FH = 8
    val NPix = FW * FH
    val Th = 4000L
    QueryDef(
      "q_mm_shots",
      (s, dir) => {
        val sp = s
        import sp.implicits._
        val media = t(s, dir, "lineitem")
          .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"))
          .as[(String, Long, Int)]
          .groupByKey(_._1)
          .mapGroups { (flag, it) =>
            val rows = it.toArray.sortBy(r => (r._2, r._3)).take(NPix)
            require(rows.length == NPix,
              s"group $flag has under $NPix rows — shrink the frame")
            val frames = (0 until NF).map { f =>
              val scene = f / 3
              val px = new Array[Byte](NPix * 3)
              rows.zipWithIndex.foreach { case ((_, ok, ln), i) =>
                px(i * 3) = ((ok * 31 + ln + scene * 101 + f) % 256).toByte
                px(i * 3 + 1) =
                  ((ok * 7 + ln * 3 + scene * 57 + f * 2) % 256).toByte
                px(i * 3 + 2) =
                  ((ln * 13 + scene * 29 + f * 3) % 256).toByte
              }
              Codecs.BgrImage(FW, FH, px)
            }
            (flag.codePointAt(0).toLong, Codecs.encodeAviDib(10, frames))
          }
          .toDF("media_id", "blob")
        Multimodal.sampleFrames(s, media, Codecs.AviFrameKernel)
          .groupByKey(_.media_id)
          .flatMapGroups { (id, it) =>
            val fs = it.toArray.sortBy(_.frame_idx)
            val imgs = fs.map(f => Codecs.decodeBmp(f.frame).pixels)
            var shot = 0L
            (1 until fs.length).iterator.map { i =>
              val a = imgs(i - 1)
              val b = imgs(i)
              var sad = 0L
              var j = 0
              while (j < a.length) {
                sad += math.abs((b(j) & 0xff) - (a(j) & 0xff))
                j += 1
              }
              val cut = if (sad > Th) 1L else 0L
              shot += cut
              (id, i.toLong, sad, cut, shot)
            }
          }
          .toDF("media_id", "frame_idx", "sad", "is_cut", "shot_id")
          .orderBy("media_id", "frame_idx")
      },
      Some(s"""
        WITH r AS (
          SELECT l_returnflag AS flag,
                 row_number() OVER (PARTITION BY l_returnflag
                   ORDER BY l_orderkey, l_linenumber) - 1 AS rn,
                 l_orderkey AS ok, l_linenumber AS ln
          FROM lineitem),
        px AS (SELECT flag, ok, ln FROM r WHERE rn < $NPix),
        f AS (SELECT CAST(unnest(range(1, $NF)) AS BIGINT) AS fi),
        d AS (
          SELECT flag, fi,
                 sum(abs((ok * 31 + ln + (fi // 3) * 101 + fi) % 256
                       - (ok * 31 + ln + ((fi - 1) // 3) * 101 + (fi - 1))
                         % 256)
                   + abs((ok * 7 + ln * 3 + (fi // 3) * 57 + fi * 2) % 256
                       - (ok * 7 + ln * 3 + ((fi - 1) // 3) * 57
                          + (fi - 1) * 2) % 256)
                   + abs((ln * 13 + (fi // 3) * 29 + fi * 3) % 256
                       - (ln * 13 + ((fi - 1) // 3) * 29 + (fi - 1) * 3)
                         % 256)) AS sad
          FROM px CROSS JOIN f GROUP BY 1, 2),
        c AS (
          SELECT flag, fi, CAST(sad AS BIGINT) AS sad,
                 CASE WHEN sad > $Th THEN 1 ELSE 0 END AS is_cut
          FROM d)
        SELECT CAST(ascii(flag) AS BIGINT) AS media_id, fi AS frame_idx,
               sad, CAST(is_cut AS BIGINT) AS is_cut,
               CAST(sum(is_cut) OVER (PARTITION BY flag ORDER BY fi
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS shot_id
        FROM c ORDER BY media_id, frame_idx""")
    )
  }

  /** Codec-quality audit: SNR of the FULL G.711 μ-law round trip —
    * PCM → Codecs.pcm16ToUlaw (the encode half, new) → real WAV
    * container → decodeWav's μ-law expansion — against the original
    * signal. Signal and noise powers are EXACT INTEGER Σv² / Σ(v−v̂)²
    * (order-independent, so the unordered mapGroups iterator is fine);
    * the oracle replays compress+expand purely arithmetically (segment
    * thresholds, mantissa shifts, bias). A one-bit error in either
    * codec half shifts a power sum and breaks the hash.
    */
  val mmCodecSnr = QueryDef(
    "q_mm_codec_snr",
    (s, dir) => {
      val sp = s
      import sp.implicits._
      t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"))
        .as[(String, Long, Int)]
        .groupByKey(_._1)
        .mapGroups { (flag, it) =>
          val pcm = it.map { case (_, ok, ln) =>
            (((ok * 37 + ln * 17) % 60001) - 30000).toShort
          }.toArray
          val blob = Codecs.encodeWavUlaw(8000, 1,
            pcm.map(Codecs.pcm16ToUlaw))
          val dec = Codecs.decodeWav(blob).samples
          var sp2 = 0L
          var np2 = 0L
          var maxe = 0L
          var i = 0
          while (i < pcm.length) {
            val v = pcm(i).toLong
            val e = v - dec(i)
            sp2 += v * v
            np2 += e * e
            if (math.abs(e) > maxe) maxe = math.abs(e)
            i += 1
          }
          (flag, pcm.length.toLong, sp2, np2, maxe,
            sp2.toDouble / np2.toDouble)
        }
        .toDF("flag", "n_samples", "signal_power", "noise_power",
          "max_err", "snr_ratio")
        .orderBy("flag")
    },
    Some("""
      WITH r AS (
        SELECT l_returnflag AS flag,
               (l_orderkey * 37 + l_linenumber * 17) % 60001 - 30000 AS v
        FROM lineitem),
      e AS (
        SELECT flag, v,
               CASE WHEN v < 0 THEN 1 ELSE 0 END AS neg,
               least(abs(v), 32635) + 132 AS x
        FROM r),
      s AS (
        SELECT flag, v, neg, x,
               CASE WHEN x >= 16384 THEN 7 WHEN x >= 8192 THEN 6
                    WHEN x >= 4096 THEN 5 WHEN x >= 2048 THEN 4
                    WHEN x >= 1024 THEN 3 WHEN x >= 512 THEN 2
                    WHEN x >= 256 THEN 1 ELSE 0 END AS ex
        FROM e),
      m AS (
        SELECT flag, v, neg, ex,
               (x // (8 * (1 << ex))) % 16 AS mant
        FROM s),
      d AS (
        SELECT flag, v,
               CASE WHEN neg = 1
                 THEN -((mant * 8 + 132) * (1 << ex) - 132)
                 ELSE (mant * 8 + 132) * (1 << ex) - 132
               END AS dv
        FROM m)
      SELECT flag, count(*) AS n_samples,
             CAST(sum(v * v) AS BIGINT) AS signal_power,
             CAST(sum((v - dv) * (v - dv)) AS BIGINT) AS noise_power,
             CAST(max(abs(v - dv)) AS BIGINT) AS max_err,
             CAST(CAST(sum(v * v) AS BIGINT) AS DOUBLE)
               / CAST(CAST(sum((v - dv) * (v - dv)) AS BIGINT) AS DOUBLE)
               AS snr_ratio
      FROM d GROUP BY 1 ORDER BY 1""")
  )

  /** Laplacian sharpness / blur audit — the focus metric vision pipelines
    * gate ingestion on (variance of the 4-neighbor Laplacian response):
    * the kernel decodes the real BMP round-trip to luma and convolves the
    * INTEGER Laplacian 4·y − up − down − left − right over interior
    * pixels, returning exact integer Σ|v|, Σv² and a strong-edge count.
    * The oracle replays the convolution as four self-joins on the pixel
    * index (pure integer arithmetic), so the hash pins the geometry
    * (row-major, W-stride) as well as the values. One r6 ratio.
    */
  val mmLaplacian = {
    val SrcW = 41
    val SrcH = 32
    val NPix = SrcW * SrcH
    QueryDef(
      "q_mm_laplacian",
      (s, dir) => {
        val sp = s
        import sp.implicits._
        t(s, dir, "lineitem")
          .select(col("l_returnflag"), col("l_orderkey"),
            col("l_linenumber"))
          .as[(String, Long, Int)]
          .groupByKey(_._1)
          .mapGroups { (flag, it) =>
            val rows = it.toArray.sortBy(r => (r._2, r._3)).take(NPix)
            require(rows.length == NPix,
              s"group $flag has under $NPix rows — shrink the image")
            val px = new Array[Byte](NPix * 3)
            rows.zipWithIndex.foreach { case ((_, ok, ln), i) =>
              px(i * 3) = ((ok * 31 + ln) % 256).toByte
              px(i * 3 + 1) = ((ok * 7 + ln * 3) % 256).toByte
              px(i * 3 + 2) = ((ln * 13) % 256).toByte
            }
            val blob = Codecs.encodeBmp(Codecs.BgrImage(SrcW, SrcH, px))
            val luma = Codecs.grayLuma(Codecs.decodeBmp(blob))
            var n = 0L
            var sumAbs = 0L
            var sumSq = 0L
            var nStrong = 0L
            var y = 1
            while (y < SrcH - 1) {
              var x = 1
              while (x < SrcW - 1) {
                val i = y * SrcW + x
                val v = 4 * luma(i) - luma(i - 1) - luma(i + 1) -
                  luma(i - SrcW) - luma(i + SrcW)
                n += 1
                sumAbs += math.abs(v)
                sumSq += v.toLong * v
                if (math.abs(v) > 128) nStrong += 1
                x += 1
              }
              y += 1
            }
            (flag, n, sumAbs, sumSq, nStrong)
          }
          .toDF("flag", "n_interior", "lap_abs_sum", "lap_sq_sum",
            "n_strong")
          .withColumn("sharpness",
            r6(col("lap_sq_sum").cast("double")
              / col("n_interior").cast("double")))
          .orderBy("flag")
      },
      Some(s"""
        WITH r AS (
          SELECT l_returnflag AS flag,
                 row_number() OVER (PARTITION BY l_returnflag
                   ORDER BY l_orderkey, l_linenumber) - 1 AS rn,
                 l_orderkey AS ok, l_linenumber AS ln
          FROM lineitem),
        px AS (
          SELECT flag, rn, (ok * 31 + ln) % 256 AS b,
                 (ok * 7 + ln * 3) % 256 AS g, (ln * 13) % 256 AS r
          FROM r WHERE rn < $NPix),
        lm AS (
          SELECT flag, rn, (29 * b + 150 * g + 77 * r) // 256 AS y
          FROM px),
        lap AS (
          SELECT c.flag,
                 4 * c.y - lf.y - rt.y - up.y - dn.y AS v
          FROM lm c
          JOIN lm lf ON lf.flag = c.flag AND lf.rn = c.rn - 1
          JOIN lm rt ON rt.flag = c.flag AND rt.rn = c.rn + 1
          JOIN lm up ON up.flag = c.flag AND up.rn = c.rn - $SrcW
          JOIN lm dn ON dn.flag = c.flag AND dn.rn = c.rn + $SrcW
          WHERE c.rn % $SrcW <> 0 AND c.rn % $SrcW <> ${SrcW - 1}
            AND c.rn >= $SrcW AND c.rn < ${NPix - SrcW})
        SELECT flag, count(*) AS n_interior,
               CAST(sum(abs(v)) AS BIGINT) AS lap_abs_sum,
               CAST(sum(v * v) AS BIGINT) AS lap_sq_sum,
               CAST(sum(CASE WHEN abs(v) > 128 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_strong,
               ${sqlR6("""CAST(sum(v * v) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE)""")} AS sharpness
        FROM lap GROUP BY 1 ORDER BY 1""")
    )
  }

  /** Luma-histogram entropy + RMS contrast — exposure/low-information
    * screening for image ingestion. Spark-first split: the KERNEL only
    * decodes (flatMapGroups emits one (flag, luma) row per pixel); the
    * ANALYTICS are declarative DataFrame aggregations — the 256-level
    * histogram, Shannon entropy via the exact-decimal-sum-of-pinned-terms
    * idiom (q_a21_entropy), and contrast from exact integer Σy/Σy² — so
    * Catalyst sees (and can fuse) the whole statistics pipeline.
    */
  val mmEntropy = {
    val SrcW = 41
    val SrcH = 32
    val NPix = SrcW * SrcH
    QueryDef(
      "q_mm_entropy",
      (s, dir) => {
        val sp = s
        import sp.implicits._
        val lm = t(s, dir, "lineitem")
          .select(col("l_returnflag"), col("l_orderkey"),
            col("l_linenumber"))
          .as[(String, Long, Int)]
          .groupByKey(_._1)
          .flatMapGroups { (flag, it) =>
            val rows = it.toArray.sortBy(r => (r._2, r._3)).take(NPix)
            require(rows.length == NPix,
              s"group $flag has under $NPix rows — shrink the image")
            val px = new Array[Byte](NPix * 3)
            rows.zipWithIndex.foreach { case ((_, ok, ln), i) =>
              px(i * 3) = ((ok * 31 + ln) % 256).toByte
              px(i * 3 + 1) = ((ok * 7 + ln * 3) % 256).toByte
              px(i * 3 + 2) = ((ln * 13) % 256).toByte
            }
            val blob = Codecs.encodeBmp(Codecs.BgrImage(SrcW, SrcH, px))
            Codecs.grayLuma(Codecs.decodeBmp(blob)).iterator
              .map(yv => (flag, yv.toLong))
          }
          .toDF("flag", "y")
        val h = lm.groupBy("flag", "y").agg(count(lit(1)).as("c"))
        val tot = lm.groupBy("flag")
          .agg(count(lit(1)).as("n"), sum(col("y")).as("s1"),
            sum(col("y") * col("y")).as("s2"))
        val p = col("c").cast("double") / col("n").cast("double")
        h.join(broadcast(tot), Seq("flag"))
          .select(col("flag"), col("n"), col("s1"), col("s2"),
            (-p * log(p)).as("term"))
          .groupBy("flag")
          .agg(max(col("n")).as("n_pix"), count(lit(1)).as("n_levels"),
            r6(sum(col("term").cast("decimal(38,18)")).cast("double"))
              .as("entropy"),
            r6(sqrt((max(col("s2")).cast("double")
              - max(col("s1")).cast("double") * max(col("s1")).cast("double")
                / max(col("n")).cast("double"))
              / max(col("n")).cast("double"))).as("rms_contrast"))
          .orderBy("flag")
      },
      Some(s"""
        WITH r AS (
          SELECT l_returnflag AS flag,
                 row_number() OVER (PARTITION BY l_returnflag
                   ORDER BY l_orderkey, l_linenumber) - 1 AS rn,
                 l_orderkey AS ok, l_linenumber AS ln
          FROM lineitem),
        px AS (
          SELECT flag, (ok * 31 + ln) % 256 AS b,
                 (ok * 7 + ln * 3) % 256 AS g, (ln * 13) % 256 AS r
          FROM r WHERE rn < $NPix),
        lm AS (
          SELECT flag, (29 * b + 150 * g + 77 * r) // 256 AS y
          FROM px),
        h AS (SELECT flag, y, count(*) AS c FROM lm GROUP BY 1, 2),
        tot AS (
          SELECT flag, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(y) AS BIGINT) AS s1,
                 CAST(sum(y * y) AS BIGINT) AS s2
          FROM lm GROUP BY 1),
        term AS (
          SELECT h.flag, n, s1, s2,
                 -(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                   * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) AS term
          FROM h JOIN tot ON tot.flag = h.flag)
        SELECT flag, max(n) AS n_pix, count(*) AS n_levels,
               ${sqlR6("""CAST(sum(CAST(term AS DECIMAL(38,18)))
                 AS DOUBLE)""")} AS entropy,
               ${sqlR6("""sqrt((CAST(max(s2) AS DOUBLE)
                 - CAST(max(s1) AS DOUBLE) * CAST(max(s1) AS DOUBLE)
                   / CAST(max(n) AS DOUBLE))
                 / CAST(max(n) AS DOUBLE))""")} AS rms_contrast
        FROM term GROUP BY 1 ORDER BY 1""")
    )
  }

  /** End-to-end MULTIMODAL dedup pipeline — the composed image-side twin
    * of q_pipeline_e2e's text funnel: 16 synthesized images (one BMP per
    * lineitem bucket; odd buckets are their even sibling PERTURBED on
    * every 13th pixel, so near-dups exist by construction) run through
    * the REAL codec kernel (encodeBmp → decodeBmp → nearest resize) →
    * 64-bit dHash → 4×16-bit BAND-BUCKET candidate join (the LSH shape —
    * at real scale candidates come from band equality, never all-pairs)
    * → Hamming ≤ 10 verification → connected components → keep-min
    * manifest. One row per image with its raw hash, cluster, and keep
    * flag — any codec, sampling-grid, bit-packing, banding, or
    * clustering bug moves the hash or the cluster. The oracle replays
    * the whole chain relationally: pixel formula, floor-grid sampling,
    * comparison bits, two's-complement packing, band extraction,
    * xor/bit_count, and an exact recursive transitive closure. All
    * integers — bit-exact, no rounding anywhere.
    */
  val mmPipelineE2e = {
    val SrcW = 20
    val SrcH = 16
    val DstW = 9
    val DstH = 8
    val NPix = SrcW * SrcH // 320 ≤ the smallest sf0.001 bucket (332)
    val NImg = 16
    val HamT = 10
    QueryDef(
      "q_pipeline_mm_e2e",
      (s, dir) => {
        val sp = s
        import sp.implicits._
        val hashes = t(s, dir, "lineitem")
          .select((col("l_orderkey") % NImg).as("b"), col("l_orderkey"),
            col("l_linenumber"))
          .as[(Long, Long, Int)]
          .groupByKey(_._1)
          .mapGroups { (b, it) =>
            // pixel values depend only on (bucket, sorted index), so
            // (ok, ln) ties are harmless — the stream is content-free
            val n = it.map(_ => 1).sum
            require(n >= NPix, s"bucket $b has $n rows, needs $NPix")
            val pair = b / 2
            val px = new Array[Byte](NPix * 3)
            for (i <- 0 until NPix) {
              val d = if (b % 2 == 1 && i % 13 == 0) 16L else 0L
              px(i * 3) = ((pair * 37 + i * 31 + d) % 256).toByte
              px(i * 3 + 1) = ((pair * 59 + i * 7 + d) % 256).toByte
              px(i * 3 + 2) = ((pair * 17 + i * 13 + d) % 256).toByte
            }
            val blob = Codecs.encodeBmp(Codecs.BgrImage(SrcW, SrcH, px))
            val back = Codecs.decodeBmp(blob) // the REAL 24bpp parse
            val small = Codecs.resizeNearest(back, DstW, DstH)
            def gray(x: Int, y: Int): Long = {
              val i = (y * DstW + x) * 3
              ((small.pixels(i) & 0xff) + (small.pixels(i + 1) & 0xff)
                + (small.pixels(i + 2) & 0xff)) / 3L
            }
            var h = 0L
            for (y <- 0 until DstH; x <- 0 until DstW - 1)
              if (gray(x, y) > gray(x + 1, y))
                h |= 1L << (y * (DstW - 1) + x)
            (b, h)
          }
          .toDF("img_id", "dhash").localCheckpoint(true)
        val bands = hashes.select(col("img_id"),
            explode(array((0 until 4).map(k => struct(lit(k).as("k"),
              shiftright(col("dhash"), 16 * k)
                .bitwiseAND(lit(65535L)).as("v"))): _*)).as("band"))
          .select(col("img_id"), col("band.k").as("k"),
            col("band.v").as("v"))
        val cand = bands.as("a")
          .join(bands.as("c"), col("a.k") === col("c.k") &&
            col("a.v") === col("c.v") &&
            col("a.img_id") < col("c.img_id"))
          .select(col("a.img_id").as("id1"), col("c.img_id").as("id2"))
          .distinct()
        val dup = cand
          .join(broadcast(hashes.select(col("img_id").as("id1"),
            col("dhash").as("h1"))), Seq("id1"))
          .join(broadcast(hashes.select(col("img_id").as("id2"),
            col("dhash").as("h2"))), Seq("id2"))
          .filter(expr("bit_count(h1 ^ h2)") <= HamT)
          .select("id1", "id2")
        val comp = graft.dedup.Dedup.connectedComponents(dup, "id1", "id2")
          .withColumnRenamed("id", "img_id")
        hashes.join(comp, Seq("img_id"), "left")
          .withColumn("cluster", coalesce(col("comp"), col("img_id")))
          .select(col("img_id"), col("dhash"), col("cluster"),
            (col("cluster") === col("img_id")).as("keep"))
          .orderBy("img_id")
      },
      Some(s"""
        WITH RECURSIVE
        r AS (
          SELECT l_orderkey % $NImg AS b,
                 row_number() OVER (PARTITION BY l_orderkey % $NImg
                   ORDER BY l_orderkey, l_linenumber) - 1 AS rn
          FROM lineitem),
        px AS (
          SELECT b, rn,
                 CASE WHEN b % 2 = 1 AND rn % 13 = 0 THEN 16 ELSE 0 END AS d
          FROM r WHERE rn < $NPix),
        g AS (
          SELECT b, rn,
                 (((b // 2) * 37 + rn * 31 + d) % 256
                  + ((b // 2) * 59 + rn * 7 + d) % 256
                  + ((b // 2) * 17 + rn * 13 + d) % 256) // 3 AS gray
          FROM px),
        grid AS (
          SELECT tx, ty, ((ty * $SrcH) // $DstH) * $SrcW
                   + ((tx * $SrcW) // $DstW) AS rn_s
          FROM (SELECT unnest(range($DstW)) AS tx)
          CROSS JOIN (SELECT unnest(range($DstH)) AS ty)),
        samp AS (
          SELECT g.b, grid.tx, grid.ty, g.gray
          FROM g JOIN grid ON g.rn = grid.rn_s),
        bits AS (
          SELECT a.b, a.ty * ${DstW - 1} + a.tx AS idx,
                 CASE WHEN a.gray > c.gray THEN 1 ELSE 0 END AS bit
          FROM samp a JOIN samp c
            ON c.b = a.b AND c.ty = a.ty AND c.tx = a.tx + 1),
        h AS MATERIALIZED (
          SELECT b AS img_id,
                 CAST(sum(CASE WHEN bit = 1 THEN
                   CASE WHEN idx = 63
                        THEN CAST(-9223372036854775808 AS HUGEINT)
                        ELSE CAST((CAST(1 AS BIGINT) << idx) AS HUGEINT)
                   END ELSE 0 END) AS BIGINT) AS dhash
          FROM bits GROUP BY 1),
        bands AS (
          SELECT img_id, k, (dhash >> (16 * k)) & 65535 AS v
          FROM h, (SELECT CAST(unnest(range(4)) AS INT) AS k)),
        cand AS (
          SELECT DISTINCT a.img_id AS id1, c.img_id AS id2
          FROM bands a JOIN bands c
            ON a.k = c.k AND a.v = c.v AND a.img_id < c.img_id),
        dup AS (
          SELECT id1, id2 FROM cand
          JOIN h h1 ON h1.img_id = id1
          JOIN h h2 ON h2.img_id = id2
          WHERE bit_count(xor(h1.dhash, h2.dhash)) <= $HamT),
        edges AS (
          SELECT id1 AS a, id2 AS b2 FROM dup
          UNION SELECT id2, id1 FROM dup),
        walk(a, b2) AS (
          SELECT a, b2 FROM edges
          UNION
          SELECT w.a, e.b2 FROM walk w JOIN edges e ON w.b2 = e.a),
        comp AS (
          SELECT a AS img_id, least(a, min(b2)) AS component
          FROM walk GROUP BY a)
        SELECT h.img_id, h.dhash,
               coalesce(c.component, h.img_id) AS cluster,
               coalesce(c.component, h.img_id) = h.img_id AS keep
        FROM h LEFT JOIN comp c USING (img_id)
        ORDER BY h.img_id""")
    )
  }

  val all: Seq[QueryDef] =
    Seq(mmFrames, mmChunks, mmMeta, mmBytes, mmPngDecode, mmJpegMeta,
      mmWavDecode, mmBmpResize, mmDhash, mmAudioFeats, mmUlawDecode,
      mmAlawDecode, mmAviFrames, mmAugment, mmDownsample, mmTiffDecode,
      mmVadWindows, mmWbmp, mmBinarySource, mmDftEnergy, mmAdpcmDecode,
      mmGrayscale, mmRle, mmShots, mmCodecSnr, mmLaplacian, mmEntropy,
      mmPipelineE2e)
}
