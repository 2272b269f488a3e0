package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.Multimodal

/** Oracle-checked multimodal queries. q41 runs the typed mapPartitions
  * decode pipeline end-to-end (binary payload → fake codec → features →
  * grouped rollup); because the stub codec is a pure function of the
  * payload bytes, DuckDB reproduces every value from the source text. */
object MultimodalQ extends QueryModule {

  // Per-type rollup of decoded features. brightness is an integer-exact
  // mean (sum of bytes / n) only per-row; the rollup keeps sums exact by
  // aggregating numerator and denominator separately.
  private val q41 = Q("q41_media_features",
    (s, dir) => {
      val feats = Multimodal.decodeAll(Multimodal.mediaTable(s, dir))
      feats.toDF()
        .groupBy(col("media_type"))
        .agg(count(lit(1)).as("n_media"),
          sum(col("n_bytes")).as("total_bytes"),
          min(col("width")).as("min_w"), max(col("height")).as("max_h"),
          sum(col("n_frames")).as("total_frames"))
    },
    Some("""SELECT
        (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1] AS media_type,
        COUNT(*) AS n_media,
        CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
        CAST(MIN(octet_length(encode(text)) % 640 + 16) AS INT) AS min_w,
        CAST(MAX((octet_length(encode(text)) * 7) % 480 + 16) AS INT)
          AS max_h,
        CAST(SUM(octet_length(encode(text)) % 8 + 1) AS BIGINT)
          AS total_frames
      FROM documents GROUP BY 1"""))

  // Binary-column expressions without the typed path: envelope metadata +
  // content hash + a "thumbnail" hash of the first 64 payload bytes — all
  // computed on the BINARY column in Spark, replayed from text in DuckDB
  // (same bytes, the text is UTF-8-clean ASCII).
  private val q42 = Q("q42_media_meta",
    (s, dir) => {
      val m = Multimodal.mediaTable(s, dir).toDF()
      m.select(col("doc_id"), col("media_type"),
        octet_length(col("payload")).as("n_bytes"),
        md5(col("payload")).as("content_md5"),
        md5(substring(col("payload"), 1, 64)).as("thumb_md5"))
    },
    Some("""SELECT doc_id,
        (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1] AS media_type,
        octet_length(encode(text)) AS n_bytes,
        md5(text) AS content_md5,
        md5(substring(text, 1, 64)) AS thumb_md5
      FROM documents"""))

  // Binary near-dup candidates without decoding: 64-byte aligned block
  // hashes, paired on any shared (index, hash) — re-uploads differing
  // only past some offset. DuckDB replays the byte blocks from text
  // (ASCII ⇒ identical bytes; DuckDB cannot slice BLOBs).
  private val q84 = Q("q84_media_block_dedup",
    (s, dir) => Multimodal.blockNearDup(Multimodal.mediaTable(s, dir).toDF()),
    Some("""WITH n AS (SELECT doc_id, text AS p,
          CAST(ceil(CAST(length(text) AS DOUBLE) / 64) AS BIGINT) AS nb
        FROM documents WHERE length(text) > 0),
      c AS (SELECT doc_id, nb, i AS idx,
          md5(substring(p, CAST(i * 64 + 1 AS BIGINT), CAST(64 AS BIGINT)))
            AS h
        FROM n, (SELECT unnest(range(0, 4096)) AS i) WHERE i < nb),
      pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          CAST(COUNT(*) AS BIGINT) AS shared_blocks,
          MAX(a.nb) AS na, MAX(b.nb) AS nb2
        FROM c a JOIN c b ON a.idx = b.idx AND a.h = b.h
          AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT doc_a, doc_b, shared_blocks,
        CAST(shared_blocks AS DOUBLE) / greatest(na, nb2) AS sim
      FROM pr"""))

  // Uniform frame sampling over the video rows: typed metadata columns
  // (duration, fps) ride beside the binary payload, so the explode plan
  // never touches the bytes; all timestamp math is integer division.
  private val q90 = Q("q90_frame_sample",
    (s, dir) => Multimodal.sampleFrames(
      Multimodal.mediaTable(s, dir).toDF()
        .withColumn("duration_ms",
          lit(1000L) + (col("doc_id") % 20) * 500L)
        .withColumn("fps", lit(24L) + (col("doc_id") % 2) * 6L)),
    Some("""WITH v AS (SELECT doc_id,
        CAST(1000 + (doc_id % 20) * 500 AS BIGINT) AS duration_ms,
        CAST(24 + (doc_id % 2) * 6 AS BIGINT) AS fps
      FROM documents WHERE doc_id % 3 = 2),
      f AS (SELECT doc_id, duration_ms, fps, CAST(i AS BIGINT) AS frame_slot
        FROM v, (SELECT unnest(range(0, 4)) AS i))
      SELECT doc_id, duration_ms, fps, frame_slot,
        (frame_slot * duration_ms) // 4 AS ts_ms,
        ((frame_slot * duration_ms) // 4 * fps) // 1000 AS frame_no
      FROM f"""))

  // REAL image decode end-to-end: per-document solid-gray PNGs (dims and
  // fill are formulas of doc_id) are encoded with ImageIO on the
  // executors, decoded back through the real javax.imageio codec path,
  // and the decoded width/height/brightness must equal the generation
  // formulas — DuckDB replays those directly. A decode bug (wrong
  // dimensions, wrong pixel read, broken luminance sum) breaks the hash.
  // PNG is lossless and the fill is solid gray, so brightness is the
  // fill value EXACTLY (integer sum, one IEEE division). The payload
  // bytes themselves never appear in the output (PNG encoding is
  // encoder-dependent; the decoded values are not).
  private val q101 = Q("q101_image_decode",
    (s, dir) => {
      val feats = Multimodal.decodeAll(Multimodal.syntheticImageTable(s, dir))
      feats.toDF().select(col("doc_id"), col("width"), col("height"),
        col("n_frames"), col("brightness"))
    },
    Some("""SELECT doc_id,
        CAST(doc_id % 24 + 8 AS INT) AS width,
        CAST((doc_id * 3) % 24 + 8 AS INT) AS height,
        CAST(1 AS INT) AS n_frames,
        CAST((doc_id * 37) % 256 AS DOUBLE) AS brightness
      FROM documents"""))

  // REAL image resize end-to-end: the q101 PNGs resized to 8×8 through
  // Graphics2D (bilinear) and re-decoded — dimensions must be the resize
  // target and, because the fill is solid gray, the interpolated pixels
  // keep the fill value exactly, so brightness still equals the formula.
  private val q103 = Q("q103_image_resize",
    (s, dir) => {
      import s.implicits._
      Multimodal.syntheticImageTable(s, dir)
        .map { r =>
          val resized = Multimodal.resizeImage(r.payload, 8, 8).get
          r.copy(payload = resized)
        }
        .mapPartitions(_.map(Multimodal.decode))
        .toDF()
        .select(col("doc_id"), col("width"), col("height"),
          col("brightness"))
    },
    Some("""SELECT doc_id,
        CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
        CAST((doc_id * 37) % 256 AS DOUBLE) AS brightness
      FROM documents"""))

  // REAL audio decode end-to-end: per-document constant-fill 16-bit PCM
  // WAVs (frames/rate/fill are formulas of doc_id) through the engine's
  // one PCM WAV reader. The exact integer sum-of-squares is the
  // oracle surface (n·value²); rms derives as one division + sqrt, so
  // DuckDB replays every column bit-for-bit. A broken WAV parse, sample
  // byte order, or RMS sum breaks the hash.
  private val q104 = Q("q104_audio_decode",
    (s, dir) => Multimodal.decodeAudioAll(Multimodal.syntheticWavTable(s, dir))
      .toDF()
      .select(col("doc_id"), col("n_frames"), col("sample_rate"),
        col("channels"), col("sum_sq"), col("rms")),
    Some("""SELECT doc_id,
        CAST(doc_id % 400 + 100 AS BIGINT) AS n_frames,
        CAST(8000 + (doc_id % 3) * 4000 AS INT) AS sample_rate,
        CAST(1 AS INT) AS channels,
        CAST((doc_id % 400 + 100)
          * ((doc_id * 31) % 2048 - 1024)
          * ((doc_id * 31) % 2048 - 1024) AS BIGINT) AS sum_sq,
        sqrt(CAST((doc_id % 400 + 100)
            * ((doc_id * 31) % 2048 - 1024)
            * ((doc_id * 31) % 2048 - 1024) AS DOUBLE)
          / CAST(doc_id % 400 + 100 AS DOUBLE)) AS rms
      FROM documents"""))

  // REAL compressed-audio metadata end-to-end: per-document synthetic
  // MPEG-1 Layer III streams (frames/rate/bitrate/ID3-tag length are
  // formulas of doc_id) through the pure-JVM frame-header walk. The
  // oracle replays every parsed value AND the total byte length —
  // including the per-frame padding bytes and the ID3v2 envelope — so a
  // broken bitrate table, frame-length formula, tag skip, or padding
  // bit breaks the hash.
  private val q162 = Q("q162_mp3_meta",
    (s, dir) => Multimodal.decodeMp3All(Multimodal.syntheticMp3Table(s, dir))
      .toDF()
      .select(col("doc_id"), col("n_frames"), col("sample_rate"),
        col("channels"), col("kbps_mean"), col("duration_ms"),
        col("n_bytes")),
    Some("""WITH p AS (SELECT doc_id,
        doc_id % 200 + 40 AS nf,
        ([44100, 48000, 32000])[CAST(doc_id % 3 AS INT) + 1] AS rate,
        ([32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256,
          320])[CAST(doc_id % 14 AS INT) + 1] AS kbps,
        doc_id % 64 AS tag
      FROM documents)
      SELECT doc_id,
        CAST(nf AS BIGINT) AS n_frames,
        CAST(rate AS INT) AS sample_rate,
        CAST(1 AS INT) AS channels,
        CAST(kbps AS DOUBLE) AS kbps_mean,
        nf * 1152 * 1000.0 / rate AS duration_ms,
        CAST(CASE WHEN tag > 0 THEN 10 + tag ELSE 0 END
          + nf * (144 * kbps * 1000 // rate) + nf // 2 AS INT) AS n_bytes
      FROM p"""))

  // REAL tag-metadata extraction: ID3v2.4 text frames (title/artist/
  // album are formulas of doc_id) parsed from the byte layout in front
  // of a real MPEG stream — the metadata an audio corpus shards and
  // filters on. A frame-size slip, encoding-byte mixup, or tag-bounds
  // error breaks the hash.
  private val q174 = Q("q174_id3_tags",
    (s, dir) => Multimodal.decodeId3All(
        Multimodal.syntheticTaggedMp3Table(s, dir))
      .toDF()
      .select(col("doc_id"), col("title"), col("artist"), col("album"),
        col("n_frames_tag")),
    Some("""SELECT doc_id,
        'title_' || CAST(doc_id AS VARCHAR) AS title,
        'artist_' || CAST(doc_id % 7 AS VARCHAR) AS artist,
        'album_' || CAST(doc_id % 13 AS VARCHAR) AS album,
        CAST(3 AS INT) AS n_frames_tag
      FROM documents"""))

  // --- the MEDIA-RELEASE rehearsal: the multimodal counterpart of the
  // corpus-release (q161) and GWAS (q173) pipelines — a mixed media
  // corpus with PLANTED byte-duplicate payloads (even docs: solid PNGs
  // keyed by doc_id%97; odd docs: tagged MPEG streams keyed by
  // doc_id%83 — same key ⇒ identical bytes) flows through exact
  // byte-level keep-first dedup → REAL decode (ImageIO dims/brightness,
  // MPEG frame walk) → md5 shard assignment with deterministic
  // in-shard order. The oracle replays the duplicate structure, the
  // decode formulas per lane, and the shard math. ----------------------
  private val q175 = Q("q175_media_release",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val media = graft.core.Tables(s, dir, "documents")
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          if (id % 2 == 0) {
            val k = (id % 97).toInt
            Multimodal.MediaRow(id, "image", Multimodal.syntheticPng(
              k % 24 + 8, (k * 3) % 24 + 8, (k * 37) % 256))
          } else {
            val k = (id % 83).toInt
            val tag = Multimodal.syntheticId3(Seq("TIT2" -> s"t_$k"))
            Multimodal.MediaRow(id, "audio",
              tag ++ Multimodal.syntheticMp3(k % 20 + 5, k % 3, 9))
          }
        })
      val w = Window.partitionBy(col("__fp"))
      val kept = media.toDF()
        .withColumn("__fp", md5(col("payload")))
        .withColumn("__keep", col("doc_id") === min(col("doc_id")).over(w))
        .filter(col("__keep")).drop("__fp", "__keep")
      val feats = kept.as[Multimodal.MediaRow]
        .mapPartitions(_.map(Multimodal.decode)).toDF()
      val sw = Window.partitionBy(col("shard"))
        .orderBy(col("__key"), col("doc_id"))
      feats
        .withColumn("__key",
          md5(col("doc_id").cast("string").cast("binary")))
        .withColumn("shard",
          (conv(substring(col("__key"), 1, 8), 16, 10).cast("long") % 4)
            .cast("long"))
        .withColumn("pos", row_number().over(sw).cast("long"))
        .select(col("doc_id"), col("media_type"), col("width"),
          col("height"), col("n_frames"), col("shard"), col("pos"))
    },
    Some("""WITH m AS (SELECT doc_id,
        CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END
          AS media_type,
        CASE WHEN doc_id % 2 = 0 THEN doc_id % 97 ELSE doc_id % 83 END
          AS k
      FROM documents),
      kept AS (SELECT * FROM m
        QUALIFY doc_id = MIN(doc_id)
          OVER (PARTITION BY media_type, k)),
      f AS (SELECT doc_id, media_type,
        CASE WHEN media_type = 'image'
             THEN CAST(k % 24 + 8 AS INT)
             ELSE CAST(([44100, 48000, 32000])[CAST(k % 3 AS INT) + 1]
               AS INT) END AS width,
        CASE WHEN media_type = 'image'
             THEN CAST((k * 3) % 24 + 8 AS INT)
             ELSE CAST(1 AS INT) END AS height,
        CASE WHEN media_type = 'image' THEN CAST(1 AS INT)
             ELSE CAST(k % 20 + 5 AS INT) END AS n_frames
        FROM kept),
      sh AS (SELECT *, md5(CAST(doc_id AS VARCHAR)) AS key,
          CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
            AS BIGINT) % 4 AS shard
        FROM f)
      SELECT doc_id, media_type, width, height, n_frames, shard,
        CAST(ROW_NUMBER() OVER (PARTITION BY shard
          ORDER BY key, doc_id) AS BIGINT) AS pos
      FROM sh"""))

  // --- content-level image near-dup via dHash over REAL decoded
  // pixels: even docs carry a solid PNG (fill varies with doc_id —
  // every payload's BYTES differ, so q84's block hashes see nothing),
  // odd docs a 9×8 horizontal gradient. All solids hash to 0 (no
  // adjacent luma difference) and all gradients to −1 (all 64 bits:
  // strictly increasing columns), so the hash GROUPS by content where
  // byte-level dedup cannot — and the oracle predicts both constants
  // and the group sizes from the generation formulas; a decode,
  // resample, luma, or bit-order bug breaks the hash. Narrow generate
  // + one count-over-hash window. --------------------------------------
  private val q119 = Q("q119_image_phash",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import s.implicits._
      val hashed = graft.core.Tables(s, dir, "documents")
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val payload =
            if (id % 2 == 0)
              Multimodal.syntheticPng(9, 8, (id * 37 % 200 + 20).toInt)
            else Multimodal.syntheticGradientPng(9, 8)
          (id, Multimodal.dHash64(payload).get)
        }).toDF("doc_id", "dhash")
      val w = Window.partitionBy(col("dhash"))
      hashed.withColumn("n_same_hash", count(lit(1)).over(w))
    },
    Some("""SELECT doc_id,
        CASE WHEN doc_id % 2 = 0 THEN CAST(0 AS BIGINT)
          ELSE CAST(-1 AS BIGINT) END AS dhash,
        CASE WHEN doc_id % 2 = 0
          THEN (SELECT COUNT(*) FROM documents WHERE doc_id % 2 = 0)
          ELSE (SELECT COUNT(*) FROM documents WHERE doc_id % 2 = 1)
        END AS n_same_hash
      FROM documents"""))

  // REAL video-container metadata end-to-end: per-document synthetic
  // ISO-BMFF files (duration / dimensions / mdat length / mvhd version
  // are formulas of doc_id; movie timescale 1000) through the pure-JVM
  // box walk — ftyp/moov/mvhd/trak/tkhd/mdia/mdhd/hdlr, both mvhd
  // versions exercised on alternating docs. The oracle replays every
  // parsed value AND the total byte length (the 12-byte v1 mvhd delta
  // included), so a box-size slip, version-offset mixup, or fixed-point
  // width shift breaks the hash.
  private val q186 = Q("q186_mp4_meta",
    (s, dir) => Multimodal.decodeMp4All(Multimodal.syntheticMp4Table(s, dir))
      .toDF()
      .select(col("doc_id"), col("duration_ms"), col("timescale"),
        col("n_tracks"), col("handlers"), col("width"), col("height"),
        col("n_bytes")),
    Some("""SELECT doc_id,
        CAST(doc_id % 30000 + 1000 AS DOUBLE) * 1000.0 / 1000.0
          AS duration_ms,
        CAST(1000 AS BIGINT) AS timescale,
        CAST(2 AS INT) AS n_tracks,
        'vide,soun' AS handlers,
        CAST((doc_id % 8 + 1) * 160 AS INT) AS width,
        CAST((doc_id % 6 + 1) * 90 AS INT) AS height,
        CAST(490 + doc_id % 50
          + CASE WHEN doc_id % 2 = 0 THEN 12 ELSE 0 END AS INT)
          AS n_bytes
      FROM documents"""))

  // REAL PNG chunk-level metadata: ImageIO PNGs carrying two CRC-correct
  // tEXt provenance records (values are formulas of doc_id) through the
  // chunk walk — signature, length/type/data/CRC grammar, IHDR geometry,
  // NUL-separated tEXt decode. A CRC slip, chunk-length error, or
  // keyword-split bug breaks the hash.
  private val q200 = Q("q200_png_text",
    (s, dir) => Multimodal.decodePngMetaAll(
        Multimodal.syntheticTaggedPngTable(s, dir))
      .toDF()
      .select(col("doc_id"), col("width"), col("height"),
        col("bit_depth"), col("color_type"), col("title"), col("source"),
        col("n_text")),
    Some("""SELECT doc_id,
        CAST(doc_id % 24 + 8 AS INT) AS width,
        CAST((doc_id * 3) % 24 + 8 AS INT) AS height,
        CAST(8 AS INT) AS bit_depth,
        CAST(2 AS INT) AS color_type,
        't_' || CAST(doc_id AS VARCHAR) AS title,
        's_' || CAST(doc_id % 11 AS VARCHAR) AS source,
        CAST(2 AS INT) AS n_text
      FROM documents"""))

  // GIF container metadata through the real 87a/89a block walk:
  // logical-screen dims, frame count from image descriptors, NETSCAPE
  // loop count (−1 when the extension is absent), global-color-table
  // size, and the exact byte length — every value a doc_id formula the
  // oracle predicts (a block-grammar slip breaks the byte-length hash).
  private val q209 = Q("q209_gif_meta",
    (s, dir) => Multimodal.decodeGifAll(Multimodal.syntheticGifTable(s, dir))
      .toDF()
      .select(col("doc_id"), col("width"), col("height"),
        col("n_frames"), col("loop_count"), col("gct_entries"),
        col("n_bytes")),
    Some("""SELECT doc_id,
        CAST(doc_id % 32 + 4 AS INT) AS width,
        CAST((doc_id * 7) % 32 + 4 AS INT) AS height,
        CAST(doc_id % 4 + 1 AS INT) AS n_frames,
        CAST(CASE WHEN doc_id % 3 = 0 THEN doc_id % 7 ELSE -1 END
          AS INT) AS loop_count,
        CAST(CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 0 END AS INT)
          AS gct_entries,
        CAST(13
          + CASE WHEN doc_id % 2 = 0 THEN 6 ELSE 0 END
          + CASE WHEN doc_id % 3 = 0 THEN 19 ELSE 0 END
          + 14 * (doc_id % 4 + 1) + 1 AS INT) AS n_bytes
      FROM documents"""))

  // REAL JPEG/EXIF camera-provenance extraction: marker-segment walk,
  // APP1 TIFF parse in BOTH byte orders (alternating by id), Make
  // stored at a data offset (the > 4-byte ASCII case), Orientation/ISO
  // inline, the 0x8769 sub-IFD pointer, SOF0 coded dimensions, and the
  // exact byte length — every value a doc_id formula the oracle
  // predicts (an offset slip, endianness bug, or segment-length error
  // breaks the hash).
  private val q261 = Q("q261_exif_meta",
    (s, dir) => Multimodal.decodeExifAll(Multimodal.syntheticExifTable(s, dir))
      .toDF()
      .select(col("doc_id"), col("endian"), col("make"),
        col("orientation"), col("iso"), col("pix_x"), col("width"),
        col("height"), col("n_bytes")),
    Some("""SELECT doc_id,
        CASE WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS endian,
        'cam_' || CAST(doc_id % 7 AS VARCHAR) AS make,
        CAST(doc_id % 8 + 1 AS INT) AS orientation,
        CAST((doc_id % 5) * 100 + 100 AS INT) AS iso,
        CAST(doc_id % 640 + 16 AS BIGINT) AS pix_x,
        CAST(doc_id % 640 + 16 AS INT) AS width,
        CAST((doc_id * 3) % 480 + 8 AS INT) AS height,
        CAST(113 AS INT) AS n_bytes
      FROM documents"""))

  // REAL WebP container metadata through the RIFF walk: codec
  // detection (VP8 lossy key-frame sync + 14-bit LE dims vs VP8L
  // signature + packed minus-one dims), RIFF size accounting, exact
  // byte length — every value a doc_id formula the oracle predicts.
  private val q277 = Q("q277_webp_meta",
    (s, dir) => Multimodal.decodeWebpAll(Multimodal.syntheticWebpTable(s, dir))
      .toDF()
      .select(col("doc_id"), col("codec"), col("width"), col("height"),
        col("riff_size"), col("n_bytes")),
    Some("""SELECT doc_id,
        CASE WHEN doc_id % 2 = 1 THEN 'VP8L' ELSE 'VP8' END AS codec,
        CAST(doc_id % 320 + 16 AS INT) AS width,
        CAST((doc_id * 3) % 240 + 8 AS INT) AS height,
        CAST(28 AS BIGINT) AS riff_size,
        CAST(36 AS INT) AS n_bytes
      FROM documents"""))

  // REAL frame-level video sharding without a codec: synthetic MP4s
  // carrying true stts/stsc/stsz/stco|co64 sample tables (ISO 14496-12
  // §8.5-8.7) through the pure-JVM table resolver — one row per video
  // frame with its absolute byte offset, size, and decode timestamp.
  // Both 32-bit stco (id%3≠0) and 64-bit co64 (id%3=0) chunk tables
  // and both stsz modes (uniform on id%5=0, per-sample otherwise) are
  // exercised; the oracle replays offset = chunk_base + Σ prior sizes
  // and pts = 3000·i exactly, so a run-expansion slip, a 32/64-bit
  // offset mixup, or an off-by-one in the chunk walk breaks the hash.
  // The audio trak has no sample tables and must contribute 0 rows.
  private val q256 = Q("q256_mp4_frame_index",
    (s, dir) => Multimodal.decodeMp4FramesAll(
        Multimodal.syntheticMp4FrameTable(s, dir))
      .toDF()
      .select(col("doc_id"), col("handler"), col("frame_idx"),
        col("offset"), col("size"), col("pts"), col("timescale")),
    Some("""SELECT doc_id, 'vide' AS handler, CAST(f.i AS INT) AS frame_idx,
        CAST(4096 + doc_id % 101
          + (doc_id % 10 + 1) * 100 * f.i
          + CASE WHEN doc_id % 5 = 0 THEN 0
                 ELSE f.i * (f.i - 1) / 2 END AS BIGINT) AS offset,
        CAST((doc_id % 10 + 1) * 100
          + CASE WHEN doc_id % 5 = 0 THEN 0 ELSE f.i END AS BIGINT)
          AS size,
        CAST(3000 * f.i AS BIGINT) AS pts,
        CAST(90000 AS BIGINT) AS timescale
      FROM documents, unnest(range(0, doc_id % 7 + 2)) AS f(i)"""))

  // --- q299: FRAGMENTED-MP4 frame index (ISO 14496-12 §8.8 — the
  // moof/traf/trun layout streaming-media corpora actually ship; q256
  // covers the single-moov sample-table path). Fixtures are synthetic
  // fMP4s with fragments = id%4+1, samples/fragment K = id%3+1, size
  // base SB = (id%10+1)·64, per-sample trun sizes SB+i — every
  // resolved (offset, size, pts) is the closed-form formula of
  // Multimodal.syntheticFmp4's scaladoc (ftyp+moov header = 349 B,
  // moof = 88+8K B, mdat body = K·SB + K(K−1)/2 B per fragment),
  // replayed exactly by the oracle. Frame indices and decode times run
  // CONTINUOUSLY across fragments (tfdt rebase). ---------------------------
  private val q299 = Q("q299_fmp4_frame_index",
    (s, dir) => Multimodal.decodeMp4FramesAll(
        Multimodal.syntheticFmp4Table(s, dir))
      .toDF()
      .select(col("doc_id"), col("handler"), col("frame_idx"),
        col("offset"), col("size"), col("pts"), col("timescale")),
    Some("""SELECT doc_id, 'vide' AS handler,
        CAST(f.f * (doc_id % 3 + 1) + i.i AS INT) AS frame_idx,
        CAST(349
          + f.f * (96 + 8 * (doc_id % 3 + 1)
            + (doc_id % 3 + 1) * ((doc_id % 10 + 1) * 64)
            + (doc_id % 3 + 1) * (doc_id % 3) / 2)
          + 96 + 8 * (doc_id % 3 + 1)
          + i.i * ((doc_id % 10 + 1) * 64)
          + i.i * (i.i - 1) / 2 AS BIGINT) AS offset,
        CAST((doc_id % 10 + 1) * 64 + i.i AS BIGINT) AS size,
        CAST(3000 * (f.f * (doc_id % 3 + 1) + i.i) AS BIGINT) AS pts,
        CAST(90000 AS BIGINT) AS timescale
      FROM documents,
        unnest(range(0, doc_id % 4 + 1)) AS f(f),
        unnest(range(0, doc_id % 3 + 1)) AS i(i)"""))

  // --- q305: CAPTION ↔ FRAME alignment — the video-text training-pair
  // builder: SubRip cues parsed from real SRT bytes (Multimodal
  // .parseSrt over formula fixtures) joined to q299's fragmented-MP4
  // frame index by time-interval overlap, computed EXACTLY in 90 kHz
  // ticks (cue ms × 90 vs frame [pts, pts+3000)) so both engines
  // agree on integers. The join is doc-keyed EQUI with a range
  // residual — per-doc fan is #frames × #cues (both bounded by the
  // container, never the corpus), the q84-style pairing discipline;
  // at 100 TB this shuffles once on doc_id. -------------------------------
  private val q305 = Q("q305_caption_frame_align",
    (s, dir) => {
      val cues = Multimodal.decodeSrtAll(
        Multimodal.syntheticSrtTable(s, dir)).toDF()
      val frames = Multimodal.decodeMp4FramesAll(
          Multimodal.syntheticFmp4Table(s, dir)).toDF()
        .select(col("doc_id"), col("frame_idx"), col("pts"))
      frames.join(cues, Seq("doc_id"))
        .filter(col("pts") < col("end_ms") * 90
          && col("pts") + 3000 > col("start_ms") * 90)
        .select(col("doc_id"), col("cue_idx"), col("frame_idx"),
          col("cue_text"),
          (least(col("end_ms") * 90, col("pts") + 3000)
            - greatest(col("start_ms") * 90, col("pts")))
            .as("overlap_ticks"))
    },
    Some("""WITH frames AS (
        SELECT doc_id, CAST(f.f * (doc_id % 3 + 1) + i.i AS INT)
            AS frame_idx,
          CAST(3000 * (f.f * (doc_id % 3 + 1) + i.i) AS BIGINT) AS pts
        FROM documents,
          unnest(range(0, doc_id % 4 + 1)) AS f(f),
          unnest(range(0, doc_id % 3 + 1)) AS i(i)),
      cues AS (
        SELECT doc_id, CAST(c.i + 1 AS INT) AS cue_idx,
          CAST(1000 * c.i + (doc_id % 7) * 100 AS BIGINT) AS start_ms,
          CAST(1000 * c.i + (doc_id % 7) * 100
            + 500 + 100 * (c.i % 3) AS BIGINT) AS end_ms,
          'cue' || CAST(doc_id AS VARCHAR) || '_'
            || CAST(c.i AS VARCHAR) AS cue_text
        FROM documents, unnest(range(0, doc_id % 5 + 2)) AS c(i))
      SELECT frames.doc_id, cue_idx, frame_idx, cue_text,
        CAST(least(end_ms * 90, pts + 3000)
          - greatest(start_ms * 90, pts) AS BIGINT) AS overlap_ticks
      FROM frames JOIN cues USING (doc_id)
      WHERE pts < end_ms * 90 AND pts + 3000 > start_ms * 90"""))

  // --- q306: VOICE-ACTIVITY segmentation (the speech-pipeline chunker
  // — VAD-lite): REAL WAV PCM decode to per-10ms-window integer
  // energies (Σ s², exact), threshold at energy > 0, and gaps-and-
  // islands run-length grouping (win − row_number over active windows,
  // per doc) into speech segments with start/end window, length and
  // total energy — all BIGINT. Fixtures alternate 2 speech / 2 silence
  // windows with a doc-dependent phase and amplitude, so the oracle
  // regenerates every window energy by formula. The islands window
  // partitions by doc_id — never global. ----------------------------------
  private val q306 = Q("q306_vad_segments",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val wins = Multimodal.decodeWavWindowsAll(
        Multimodal.syntheticWavSegTable(s, dir)).toDF()
      val w = Window.partitionBy(col("doc_id")).orderBy(col("win"))
      wins.filter(col("sum_sq") > 0)
        .withColumn("grp", col("win") - row_number().over(w))
        .groupBy(col("doc_id"), col("grp"))
        .agg(min(col("win")).as("start_win"),
          max(col("win")).as("end_win"),
          count(lit(1)).as("n_win"),
          sum(col("sum_sq")).as("energy"))
        .drop("grp")
    },
    Some("""WITH wins AS (
        SELECT doc_id, CAST(w.w AS INT) AS win,
          CASE WHEN (w.w + doc_id) % 4 < 2
            THEN CAST(160 * ((doc_id % 7 + 1) * 800)
              * ((doc_id % 7 + 1) * 800) AS BIGINT)
            ELSE CAST(0 AS BIGINT) END AS sum_sq
        FROM documents, unnest(range(0, doc_id % 12 + 6)) AS w(w)),
      act AS (SELECT doc_id, win, sum_sq,
          win - row_number() OVER (PARTITION BY doc_id ORDER BY win)
            AS grp
        FROM wins WHERE sum_sq > 0)
      SELECT doc_id, CAST(MIN(win) AS INT) AS start_win,
        CAST(MAX(win) AS INT) AS end_win,
        CAST(COUNT(*) AS BIGINT) AS n_win,
        CAST(SUM(sum_sq) AS BIGINT) AS energy
      FROM act GROUP BY doc_id, grp"""))

  // --- q308: SEGMENTED fMP4 ingestion (the DASH/HLS delivery shape —
  // one init segment, then moof+mdat media segments as SEPARATE rows,
  // the form streaming-media corpora actually arrive in): per stream,
  // the init segment builds a track context (Multimodal.parseMp4Init),
  // media segments resolve against it IN ORDER with sample numbering
  // and decode time carried across segments, and segment-relative
  // offsets rebase by the cumulative byte position — so the index
  // equals parseMp4Frames on the concatenation and replays q299's
  // closed-form oracle VERBATIM. One doc_id shuffle (flatMapGroups);
  // per-group state is one context + a byte counter. ----------------------
  private val q308 = Q("q308_fmp4_segment_index",
    (s, dir) => Multimodal.segmentFrameIndex(
        Multimodal.syntheticFmp4SegmentTable(s, dir))
      .toDF()
      .select(col("doc_id"), col("handler"), col("frame_idx"),
        col("offset"), col("size"), col("pts"), col("timescale")),
    Some("""SELECT doc_id, 'vide' AS handler,
        CAST(f.f * (doc_id % 3 + 1) + i.i AS INT) AS frame_idx,
        CAST(349
          + f.f * (96 + 8 * (doc_id % 3 + 1)
            + (doc_id % 3 + 1) * ((doc_id % 10 + 1) * 64)
            + (doc_id % 3 + 1) * (doc_id % 3) / 2)
          + 96 + 8 * (doc_id % 3 + 1)
          + i.i * ((doc_id % 10 + 1) * 64)
          + i.i * (i.i - 1) / 2 AS BIGINT) AS offset,
        CAST((doc_id % 10 + 1) * 64 + i.i AS BIGINT) AS size,
        CAST(3000 * (f.f * (doc_id % 3 + 1) + i.i) AS BIGINT) AS pts,
        CAST(90000 AS BIGINT) AS timescale
      FROM documents,
        unnest(range(0, doc_id % 4 + 1)) AS f(f),
        unnest(range(0, doc_id % 3 + 1)) AS i(i)"""))

  // --- q311: INDEX-DRIVEN frame sampling — q90 samples by timestamp
  // FORMULA over container metadata; this picks ACTUAL frames from the
  // real fMP4 frame index (the step that hands byte ranges to a
  // decoder): per document, 4 representative frames EVENLY across the
  // decode-time span — slot j targets
  // t_j = j·maxPts div 3, the chosen frame minimizes |pts − t_j| with
  // frame_idx as the deterministic tie-break. Exact integer
  // arithmetic; one (doc, slot)-partitioned row_number over the ×4
  // slot fan (bounded by the container's frame count, never the
  // corpus). Short videos legitimately repeat a frame across slots. ------
  private val q311 = Q("q311_frame_sampling",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val frames = Multimodal.decodeMp4FramesAll(
          Multimodal.syntheticFmp4Table(s, dir)).toDF()
        .select(col("doc_id"), col("frame_idx"), col("offset"),
          col("size"), col("pts"))
      val spanned = frames
        .withColumn("max_pts",
          max(col("pts")).over(Window.partitionBy(col("doc_id"))))
        .select(col("*"), explode(array((0 until 4).map(j =>
          lit(j.toLong)): _*)).as("slot"))
        .withColumn("d",
          abs(col("pts") - expr("(slot * max_pts) div 3")))
      val w = Window.partitionBy(col("doc_id"), col("slot"))
        .orderBy(col("d"), col("frame_idx"))
      spanned.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("slot"), col("frame_idx"),
          col("pts"), col("offset"), col("size"))
    },
    Some("""WITH frames AS (
        SELECT doc_id, CAST(f.f * (doc_id % 3 + 1) + i.i AS INT)
            AS frame_idx,
          CAST(349
            + f.f * (96 + 8 * (doc_id % 3 + 1)
              + (doc_id % 3 + 1) * ((doc_id % 10 + 1) * 64)
              + (doc_id % 3 + 1) * (doc_id % 3) / 2)
            + 96 + 8 * (doc_id % 3 + 1)
            + i.i * ((doc_id % 10 + 1) * 64)
            + i.i * (i.i - 1) / 2 AS BIGINT) AS "offset",
          CAST((doc_id % 10 + 1) * 64 + i.i AS BIGINT) AS size,
          CAST(3000 * (f.f * (doc_id % 3 + 1) + i.i) AS BIGINT) AS pts
        FROM documents,
          unnest(range(0, doc_id % 4 + 1)) AS f(f),
          unnest(range(0, doc_id % 3 + 1)) AS i(i)),
      spanned AS (SELECT doc_id, frame_idx, "offset", size, pts,
          MAX(pts) OVER (PARTITION BY doc_id) AS max_pts
        FROM frames),
      fanned AS (SELECT *, jj.slot,
          ABS(pts - (jj.slot * max_pts) // 3) AS d
        FROM spanned, unnest(range(0, 4)) AS jj(slot)),
      ranked AS (SELECT *, row_number() OVER (
          PARTITION BY doc_id, slot ORDER BY d, frame_idx) AS rn
        FROM fanned)
      SELECT doc_id, CAST(slot AS BIGINT) AS slot, frame_idx, pts,
        "offset", size
      FROM ranked WHERE rn = 1"""))

  // --- q317: BITRATE CURVE from the container frame index alone (the
  // ABR/QoS ladder check run on media corpora before any decode): byte
  // mass per fixed decode-time window (timescale/10 ticks = 0.1 s) per
  // document, bits-per-second exact (bytes · 8 / 0.1 s = bytes · 80 —
  // all BIGINT). One frame-index scan + one (doc, win) aggregate with
  // map-side combine; windows are bounded by stream duration, never
  // data-global. The oracle replays the fMP4 trun formulas. --------------
  private val q317 = Q("q317_bitrate_curve",
    (s, dir) => {
      Multimodal.decodeMp4FramesAll(
          Multimodal.syntheticFmp4Table(s, dir)).toDF()
        .withColumn("win", expr("pts div (timescale div 10)"))
        .groupBy(col("doc_id"), col("win"))
        .agg(count(lit(1)).as("n_frames"), sum(col("size")).as("bytes"))
        .withColumn("bps", col("bytes") * 80L)
    },
    Some("""WITH frames AS (
        SELECT doc_id,
          CAST((doc_id % 10 + 1) * 64 + i.i AS BIGINT) AS size,
          CAST(3000 * (f.f * (doc_id % 3 + 1) + i.i) AS BIGINT) AS pts
        FROM documents,
          unnest(range(0, doc_id % 4 + 1)) AS f(f),
          unnest(range(0, doc_id % 3 + 1)) AS i(i))
      SELECT doc_id, pts // 9000 AS win,
        CAST(COUNT(*) AS BIGINT) AS n_frames,
        CAST(SUM(size) AS BIGINT) AS bytes,
        CAST(SUM(size) * 80 AS BIGINT) AS bps
      FROM frames GROUP BY doc_id, pts // 9000"""))

  // --- q319: GOP STRUCTURE from the stss sync-sample table (ISO
  // 14496-12 §8.6.2 — the keyframe index every I-frame-only sampling
  // strategy reads): real stss parse joined to the q256 moov frame
  // index on (doc, frame) — a doc-keyed equi join, per-doc fan bounded
  // by the container — then one per-doc rollup: frame/keyframe counts,
  // keyframe byte mass, and mean GOP length as a single division.
  // Fixtures declare every (id%3+1)-th sample sync, so the oracle
  // replays i % k = 0. --------------------------------------------------
  private val q319 = Q("q319_gop_structure",
    (s, dir) => {
      val t = Multimodal.syntheticMp4KeyframeTable(s, dir)
      val frames = Multimodal.decodeMp4FramesAll(t).toDF()
        .select(col("doc_id"),
          col("frame_idx").cast("long").as("frame_idx"), col("size"))
      val syncs = Multimodal.decodeMp4SyncAll(t).toDF()
        .withColumn("kf", lit(1L))
      frames.join(syncs, Seq("doc_id", "frame_idx"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_frames"),
          sum(coalesce(col("kf"), lit(0L))).as("n_keyframes"),
          sum(when(col("kf").isNotNull, col("size")).otherwise(0L))
            .as("kf_bytes"))
        .withColumn("mean_gop", col("n_frames").cast("double")
          / col("n_keyframes").cast("double"))
    },
    Some("""SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_frames,
        CAST(SUM(CASE WHEN i % k = 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_keyframes,
        CAST(SUM(CASE WHEN i % k = 0 THEN sz ELSE 0 END) AS BIGINT)
          AS kf_bytes,
        CAST(COUNT(*) AS DOUBLE)
          / CAST(SUM(CASE WHEN i % k = 0 THEN 1 ELSE 0 END) AS DOUBLE)
          AS mean_gop
      FROM (SELECT doc_id, f.i AS i, doc_id % 3 + 1 AS k,
          (doc_id % 10 + 1) * 100
            + CASE WHEN doc_id % 5 = 0 THEN 0 ELSE f.i END AS sz
        FROM documents, unnest(range(0, doc_id % 7 + 2)) AS f(i))
      GROUP BY doc_id"""))

  // --- q323: AUDIO LOUDNESS PROFILE from the windowed energies (the
  // EBU-R128-style momentary-vs-integrated shape on exact integers):
  // per document, integrated RMS over all samples, peak short-term
  // (10 ms window) RMS, and the crest factor — the normalization
  // decision inputs of any audio-corpus pass. All aggregates are
  // BIGINT; the only floats are two correctly-rounded sqrts and one
  // division at the end (the q283 discipline). One per-doc rollup
  // over the same decode as q306. ----------------------------------------
  private val q323 = Q("q323_audio_loudness",
    (s, dir) => {
      Multimodal.decodeWavWindowsAll(
          Multimodal.syntheticWavSegTable(s, dir)).toDF()
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_win"),
          sum(col("sum_sq")).as("energy"),
          max(col("sum_sq")).as("max_win_sq"))
        .withColumn("rms", sqrt(col("energy").cast("double")
          / (col("n_win") * 160L).cast("double")))
        .withColumn("peak_rms",
          sqrt(col("max_win_sq").cast("double") / lit(160.0)))
        .withColumn("crest", when(col("energy") > 0,
          col("peak_rms") / col("rms")))
    },
    Some("""WITH wins AS (
        SELECT doc_id, w.w AS win,
          CASE WHEN (w.w + doc_id) % 4 < 2
            THEN CAST(160 * ((doc_id % 7 + 1) * 800)
              * ((doc_id % 7 + 1) * 800) AS BIGINT)
            ELSE CAST(0 AS BIGINT) END AS sum_sq
        FROM documents, unnest(range(0, doc_id % 12 + 6)) AS w(w))
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_win,
        CAST(SUM(sum_sq) AS BIGINT) AS energy,
        CAST(MAX(sum_sq) AS BIGINT) AS max_win_sq,
        sqrt(CAST(SUM(sum_sq) AS DOUBLE)
          / CAST(COUNT(*) * 160 AS DOUBLE)) AS rms,
        sqrt(CAST(MAX(sum_sq) AS DOUBLE) / 160.0) AS peak_rms,
        CASE WHEN SUM(sum_sq) > 0 THEN
          sqrt(CAST(MAX(sum_sq) AS DOUBLE) / 160.0)
            / sqrt(CAST(SUM(sum_sq) AS DOUBLE)
              / CAST(COUNT(*) * 160 AS DOUBLE)) END AS crest
      FROM wins GROUP BY doc_id"""))

  // --- q329: CAPTION COVERAGE — fraction of the caption span covered
  // by at least one cue, with the interval-union computed by
  // gaps-and-islands over OVERLAPPING cues (the fixture makes i≡1
  // cues overlap one successor and i≡2 cues span two — the merge
  // cases that break naive duration sums): per doc, running max of
  // cue end over STRICTLY PRECEDING rows in (start, end, idx) order;
  // a new covered segment starts where start > that max; segments
  // aggregate to (min start, max end). One doc-partitioned window +
  // two keyed rollups, never global. -------------------------------------
  private val q329 = Q("q329_subtitle_coverage",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val cues = Multimodal.decodeSrtAll(
        Multimodal.syntheticSrtOverlapTable(s, dir)).toDF()
      val ord = Window.partitionBy(col("doc_id"))
        .orderBy(col("start_ms"), col("end_ms"), col("cue_idx"))
      val wPrev = ord.rowsBetween(Window.unboundedPreceding, -1)
      val wCum = ord.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)
      val seg = cues
        .withColumn("prev_max", max(col("end_ms")).over(wPrev))
        .withColumn("flag", when(col("prev_max").isNull
          || col("start_ms") > col("prev_max"), 1L).otherwise(0L))
        .withColumn("seg", sum(col("flag")).over(wCum))
        .groupBy(col("doc_id"), col("seg"))
        .agg(count(lit(1)).as("seg_cues"),
          min(col("start_ms")).as("s0"), max(col("end_ms")).as("e1"))
      seg.groupBy(col("doc_id"))
        .agg(sum(col("seg_cues")).as("n_cues"),
          count(lit(1)).as("n_segments"),
          sum(col("e1") - col("s0")).as("covered_ms"),
          max(col("e1")).as("span_ms"))
        .withColumn("coverage", col("covered_ms").cast("double")
          / col("span_ms").cast("double"))
    },
    Some("""WITH cues AS (
        SELECT doc_id, CAST(c.i + 1 AS INT) AS cue_idx,
          CAST(400 * c.i AS BIGINT) AS start_ms,
          CAST(400 * c.i + 300 + 400 * (c.i % 3) AS BIGINT) AS end_ms
        FROM documents, unnest(range(0, doc_id % 6 + 2)) AS c(i)),
      f AS (SELECT doc_id, start_ms, end_ms,
          CASE WHEN MAX(end_ms) OVER (PARTITION BY doc_id
              ORDER BY start_ms, end_ms, cue_idx
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
            IS NULL THEN 1
          WHEN start_ms > MAX(end_ms) OVER (PARTITION BY doc_id
              ORDER BY start_ms, end_ms, cue_idx
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
            THEN 1 ELSE 0 END AS flag,
          cue_idx
        FROM cues),
      g AS (SELECT doc_id, start_ms, end_ms,
          SUM(flag) OVER (PARTITION BY doc_id
            ORDER BY start_ms, end_ms, cue_idx
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg
        FROM f),
      segs AS (SELECT doc_id, seg, COUNT(*) AS seg_cues,
          MIN(start_ms) AS s0, MAX(end_ms) AS e1
        FROM g GROUP BY 1, 2)
      SELECT doc_id, CAST(SUM(seg_cues) AS BIGINT) AS n_cues,
        CAST(COUNT(*) AS BIGINT) AS n_segments,
        CAST(SUM(e1 - s0) AS BIGINT) AS covered_ms,
        CAST(MAX(e1) AS BIGINT) AS span_ms,
        CAST(SUM(e1 - s0) AS DOUBLE) / CAST(MAX(e1) AS DOUBLE)
          AS coverage
      FROM segs GROUP BY doc_id"""))

  // --- q340: REAL COMPRESSED-audio decode end-to-end — pure-JVM FLAC
  // (public spec; the JDK ships no codec), the first genuinely-decoded
  // compressed lane beside the WAV one (round-8 "What's missing #1").
  // Per-document FIXED-order-2 + Rice streams over the deterministic
  // triangle waveform; FLAC is lossless, so the oracle replays the
  // decoded PCM energy EXACTLY from (doc_id, n) — a broken Rice
  // decode, CRC walk, UTF-8 frame number, or predictor breaks the
  // hash. FlacSpec additionally pins PCM == the WAV twin's, golden
  // bytes, and truncation/bit-flip rejection. Scale: payloads decode
  // INSIDE partitions (seqApply discipline), one scan, no shuffle
  // before the final projection. ----------------------------------------
  private val q340 = Q("q340_flac_decode",
    (s, dir) => Multimodal.decodeFlacAll(
        Multimodal.syntheticFlacTable(s, dir))
      .toDF()
      .select(col("doc_id"), col("n_frames"), col("sample_rate"),
        col("channels"), col("sum_sq"), col("rms")),
    Some("""WITH p AS (SELECT doc_id,
          CAST(doc_id % 300 + 200 AS BIGINT) AS n,
          CAST(8000 + (doc_id % 3) * 4000 AS INT) AS rate
        FROM documents),
      w AS (SELECT doc_id, n, rate,
          unnest(range(0, n)) AS i
        FROM p),
      v AS (SELECT doc_id, n, rate,
          abs((doc_id * 31 + 13 * i) % 8190 - 4095) - 2048 AS x
        FROM w)
      SELECT doc_id,
        CAST(MAX(n) AS BIGINT) AS n_frames,
        CAST(MAX(rate) AS INT) AS sample_rate,
        CAST(1 AS INT) AS channels,
        CAST(SUM(x * x) AS BIGINT) AS sum_sq,
        sqrt(CAST(SUM(x * x) AS DOUBLE) / CAST(MAX(n) AS DOUBLE)) AS rms
      FROM v GROUP BY doc_id"""))

  // --- q341: VAD WINDOWING ON THE COMPRESSED LANE — 160-frame energy
  // windows over genuinely-decoded FLAC PCM (q306's VAD verb lifted
  // from WAV to FLAC), with an exact integer activity gate
  // (mean-square >= 10⁶ via integer div). The oracle re-derives every
  // window sum from the closed-form waveform — rows = docs × windows,
  // decode runs inside partitions, the only shuffle is none. ------------
  private val q341 = Q("q341_flac_vad",
    (s, dir) => Multimodal.decodeFlacWindowsAll(
        Multimodal.syntheticFlacTable(s, dir))
      .toDF()
      .select(col("doc_id"), col("win"), col("n_frames"), col("sum_sq"),
        (expr("sum_sq div n_frames") >= 1000000L).as("active")),
    Some("""WITH p AS (SELECT doc_id,
          CAST(doc_id % 300 + 200 AS BIGINT) AS n FROM documents),
      w AS (SELECT doc_id, n, unnest(range(0, n)) AS i FROM p),
      v AS (SELECT doc_id, CAST(i // 160 AS INT) AS win,
          abs((doc_id * 31 + 13 * i) % 8190 - 4095) - 2048 AS x
        FROM w)
      SELECT doc_id, win,
        CAST(COUNT(*) AS INT) AS n_frames,
        CAST(SUM(x * x) AS BIGINT) AS sum_sq,
        SUM(x * x) // COUNT(*) >= 1000000 AS active
      FROM v GROUP BY doc_id, win"""))

  // --- q342: REAL TRANSCODE — FLAC decoded by the pure-JVM codec,
  // re-encoded as RIFF/PCM WAV by the engine's PCM WAV writer, then
  // decoded AGAIN by the WAV reader (q104's lane). Losslessness is
  // transitive: the final PCM energy must replay from the closed form,
  // so a defect in EITHER codec or the re-encode byte order breaks the
  // hash. Emits the transcoded byte size too (header + 2n bytes —
  // exactly replayable). ------------------------------------------------
  private val q342 = Q("q342_flac_transcode",
    (s, dir) => {
      import s.implicits._
      Multimodal.syntheticFlacTable(s, dir)
        .mapPartitions(_.flatMap { r =>
          Multimodal.transcodeFlacToWav(r.payload).flatMap { wav =>
            Multimodal.decodeWav(wav).map { case (nf, rate, ch, sumSq) =>
              (r.doc_id, nf, rate, ch, sumSq, wav.length)
            }
          }
        })
        .toDF("doc_id", "n_frames", "sample_rate", "channels", "sum_sq",
          "n_bytes")
    },
    Some("""WITH p AS (SELECT doc_id,
          CAST(doc_id % 300 + 200 AS BIGINT) AS n,
          CAST(8000 + (doc_id % 3) * 4000 AS INT) AS rate
        FROM documents),
      w AS (SELECT doc_id, n, rate, unnest(range(0, n)) AS i FROM p),
      v AS (SELECT doc_id, n, rate,
          abs((doc_id * 31 + 13 * i) % 8190 - 4095) - 2048 AS x
        FROM w)
      SELECT doc_id,
        CAST(MAX(n) AS BIGINT) AS n_frames,
        CAST(MAX(rate) AS INT) AS sample_rate,
        CAST(1 AS INT) AS channels,
        CAST(SUM(x * x) AS BIGINT) AS sum_sq,
        CAST(44 + 2 * MAX(n) AS INT) AS n_bytes
      FROM v GROUP BY doc_id"""))

  // --- q343: INTEGER DOWNSAMPLE (decimation by 2) on decoded FLAC —
  // the sample-rate-reduction verb: keep every even-index frame, halve
  // the rate. Decimation is exact integer selection, so the oracle
  // replays the kept-sample energy with an i % 2 = 0 filter. ------------
  private val q343 = Q("q343_flac_downsample",
    (s, dir) => {
      import s.implicits._
      Multimodal.syntheticFlacTable(s, dir)
        .mapPartitions(_.flatMap { r =>
          graft.operators.Flac.decode(r.payload).map { d =>
            var sum = 0L
            var i = 0
            while (i < d.pcm.length) {
              if (i % 2 == 0) sum += d.pcm(i).toLong * d.pcm(i)
              i += 1
            }
            (r.doc_id, (d.pcm.length + 1) / 2L, d.sampleRate / 2, sum)
          }
        })
        .toDF("doc_id", "n_frames", "sample_rate", "sum_sq")
    },
    Some("""WITH p AS (SELECT doc_id,
          CAST(doc_id % 300 + 200 AS BIGINT) AS n,
          CAST(8000 + (doc_id % 3) * 4000 AS INT) AS rate
        FROM documents),
      w AS (SELECT doc_id, n, rate, unnest(range(0, n)) AS i FROM p),
      v AS (SELECT doc_id, n, rate, i,
          abs((doc_id * 31 + 13 * i) % 8190 - 4095) - 2048 AS x
        FROM w WHERE i % 2 = 0)
      SELECT doc_id,
        CAST((MAX(n) + 1) // 2 AS BIGINT) AS n_frames,
        CAST(MAX(rate) // 2 AS INT) AS sample_rate,
        CAST(SUM(x * x) AS BIGINT) AS sum_sq
      FROM v GROUP BY doc_id"""))

  // --- q349: MIXED-MEDIA CENSUS — ONE pass of the router over a
  // four-lane corpus (PNG images, PCM WAVs, FLAC, MP3 streams split by
  // doc_id % 4): every lane decodes GENUINELY (ImageIO / the WAV reader /
  // the pure-JVM FLAC codec / the MPEG header walk) and the oracle
  // replays every per-document feature from the fixture formulas — the
  // end-to-end proof the audio router's fallback chain (WAV → FLAC →
  // MP3 → stub) picks the right codec per payload. Shuffle-free. --------
  private val q349 = Q("q349_media_mix",
    (s, dir) => {
      val img = Multimodal.syntheticImageTable(s, dir)
        .filter(col("doc_id") % 4 === 0)
      val wav = Multimodal.syntheticWavTable(s, dir)
        .filter(col("doc_id") % 4 === 1)
      val flac = Multimodal.syntheticFlacTable(s, dir)
        .filter(col("doc_id") % 4 === 2)
      val mp3 = Multimodal.syntheticMp3Table(s, dir)
        .filter(col("doc_id") % 4 === 3)
      Multimodal.decodeAll(
          img.unionByName(wav).unionByName(flac).unionByName(mp3))
        .toDF()
        .select(col("doc_id"), col("media_type"), col("width"),
          col("height"), col("n_frames"), col("brightness"))
    },
    Some("""WITH fl AS (SELECT doc_id,
          sqrt(CAST(SUM(x * x) AS DOUBLE) / CAST(MAX(n) AS DOUBLE))
            AS rms
        FROM (SELECT doc_id, n,
            abs((doc_id * 31 + 13 * i) % 8190 - 4095) - 2048 AS x
          FROM (SELECT doc_id,
              CAST(doc_id % 300 + 200 AS BIGINT) AS n,
              unnest(range(0, doc_id % 300 + 200)) AS i
            FROM documents WHERE doc_id % 4 = 2))
        GROUP BY doc_id)
      SELECT d.doc_id,
        CASE WHEN d.doc_id % 4 = 0 THEN 'image' ELSE 'audio' END
          AS media_type,
        CAST(CASE d.doc_id % 4
          WHEN 0 THEN d.doc_id % 24 + 8
          WHEN 1 THEN 8000 + (d.doc_id % 3) * 4000
          WHEN 2 THEN 8000 + (d.doc_id % 3) * 4000
          ELSE ([44100, 48000, 32000])[CAST(d.doc_id % 3 AS INT) + 1]
          END AS INT) AS width,
        CAST(CASE WHEN d.doc_id % 4 = 0 THEN (d.doc_id * 3) % 24 + 8
          ELSE 1 END AS INT) AS height,
        CAST(CASE d.doc_id % 4
          WHEN 0 THEN 1
          WHEN 1 THEN d.doc_id % 400 + 100
          WHEN 2 THEN d.doc_id % 300 + 200
          ELSE d.doc_id % 200 + 40
          END AS INT) AS n_frames,
        CASE d.doc_id % 4
          WHEN 0 THEN CAST((d.doc_id * 37) % 256 AS DOUBLE)
          WHEN 1 THEN CAST(abs((d.doc_id * 31) % 2048 - 1024) AS DOUBLE)
          WHEN 2 THEN fl.rms
          ELSE CAST(([32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192,
            224, 256, 320])[CAST(d.doc_id % 14 AS INT) + 1] AS DOUBLE)
          END AS brightness
      FROM documents d LEFT JOIN fl ON fl.doc_id = d.doc_id"""))

  // --- q350: STEREO FLAC — the channel-decorrelation decode paths
  // (independent, left/side, mid/side — the encoder rotates per
  // frame, so every document exercises all three) against the exact
  // two-channel energy oracle. Lossless stereo ⇒ Σ L² + R² replays
  // from the two closed-form waveforms. ---------------------------------
  private val q350 = Q("q350_flac_stereo",
    (s, dir) => Multimodal.decodeFlacAll(
        Multimodal.syntheticFlacStereoTable(s, dir))
      .toDF()
      .select(col("doc_id"), col("n_frames"), col("sample_rate"),
        col("channels"), col("sum_sq"), col("rms")),
    Some("""WITH p AS (SELECT doc_id,
          CAST(doc_id % 250 + 150 AS BIGINT) AS n FROM documents),
      w AS (SELECT doc_id, n, unnest(range(0, n)) AS i FROM p),
      v AS (SELECT doc_id, n,
          abs((doc_id * 31 + 13 * i) % 8190 - 4095) - 2048 AS xl,
          abs(((doc_id + 7) * 31 + 13 * i) % 8190 - 4095) - 2048 AS xr
        FROM w)
      SELECT doc_id,
        CAST(MAX(n) AS BIGINT) AS n_frames,
        CAST(16000 AS INT) AS sample_rate,
        CAST(2 AS INT) AS channels,
        CAST(SUM(xl * xl + xr * xr) AS BIGINT) AS sum_sq,
        sqrt(CAST(SUM(xl * xl + xr * xr) AS DOUBLE)
          / CAST(MAX(n) * 2 AS DOUBLE)) AS rms
      FROM v GROUP BY doc_id"""))

  // --- q351: REAL LOSSY-audio decode — ITU-T G.711 µ-law expansion
  // from genuine RIFF format-7 containers. Unlike the DCT codecs the
  // JDK lacks, µ-law decode is a pure-integer closed form, so the
  // oracle replays every expanded sample: a wrong complement, exponent
  // shift, or bias breaks the hash. ------------------------------------
  private val q351 = Q("q351_ulaw_decode",
    (s, dir) => Multimodal.decodeUlawAll(
        Multimodal.syntheticUlawTable(s, dir))
      .toDF()
      .select(col("doc_id"), col("n_frames"), col("sample_rate"),
        col("sum_sq"), col("rms")),
    Some("""WITH p AS (SELECT doc_id,
          CAST(doc_id % 350 + 150 AS BIGINT) AS n FROM documents),
      w AS (SELECT doc_id, n, unnest(range(0, n)) AS i FROM p),
      v AS (SELECT doc_id, n,
          255 - ((doc_id * 13 + i * 7) % 256) AS x
        FROM w),
      e AS (SELECT doc_id, n,
          CASE WHEN x >= 128 THEN -mag ELSE mag END AS s
        FROM (SELECT doc_id, n, x,
            ((x % 16) * 8 + 132)
              * (CAST(1 AS BIGINT) << CAST((x // 16) % 8 AS INT))
              - 132 AS mag
          FROM v))
      SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_frames,
        CAST(8000 AS INT) AS sample_rate,
        CAST(SUM(s * s) AS BIGINT) AS sum_sq,
        sqrt(CAST(SUM(s * s) AS DOUBLE) / CAST(MAX(n) AS DOUBLE))
          AS rms
      FROM e GROUP BY doc_id"""))

  // --- q352: REAL VIDEO-frame PIXEL decode — RIFF/AVI containers with
  // uncompressed 24-bit DIB frames, parsed by the bounds-checked chunk
  // walk and decoded pixel-by-pixel: one row per frame with its EXACT
  // mean brightness (lossless raw video ⇒ the full per-frame pixel
  // statistic replays in SQL — the slice of "video pixels are stubbed"
  // a JVM can genuinely close). Shuffle-free. ---------------------------
  private val q352 = Q("q352_avi_frames",
    (s, dir) => Multimodal.decodeAviFramesAll(
        Multimodal.syntheticAviTable(s, dir))
      .toDF()
      .select(col("doc_id"), col("frame_idx"), col("width"),
        col("height"), col("fps_num"), col("n_frames"),
        col("brightness")),
    Some("""WITH p AS (SELECT doc_id,
          CAST((doc_id % 6) * 4 + 16 AS INT) AS w,
          CAST((doc_id % 5) * 4 + 12 AS INT) AS h,
          CAST(doc_id % 12 + 4 AS BIGINT) AS nf,
          CAST((doc_id % 3 + 1) * 10 AS INT) AS fps
        FROM documents)
      SELECT doc_id, CAST(f AS INT) AS frame_idx, w AS width,
        h AS height, fps AS fps_num, CAST(nf AS INT) AS n_frames,
        CAST((doc_id * 37 + f * 11) % 256 AS DOUBLE) AS brightness
      FROM (SELECT doc_id, w, h, nf, fps, unnest(range(0, nf)) AS f
        FROM p)"""))

  // --- q353: MOTION-JPEG census — every frame of a real MJPG AVI runs
  // through ImageIO's JPEG decoder (genuine DCT pixel decode; the
  // lossy pixel VALUES are spec-gated in AviSpec, geometry and decode
  // counts are exact and oracle-gated here). ----------------------------
  private val q353 = Q("q353_avi_mjpeg",
    (s, dir) => Multimodal.decodeMjpegAll(
        Multimodal.syntheticMjpegTable(s, dir))
      .toDF()
      .select(col("doc_id"), col("n_frames"), col("n_decoded"),
        col("width"), col("height"), col("fps_num")),
    Some("""SELECT doc_id,
        CAST(doc_id % 6 + 2 AS INT) AS n_frames,
        CAST(doc_id % 6 + 2 AS INT) AS n_decoded,
        CAST((doc_id % 4) * 8 + 16 AS INT) AS width,
        CAST((doc_id % 3) * 8 + 16 AS INT) AS height,
        CAST(24 AS INT) AS fps_num
      FROM documents"""))

  // --- q355: REAL SEQUENTIAL lossy-audio decode — IMA/DVI ADPCM (WAV
  // tag 0x11). The codec is a stateful predictive quantizer, yet every
  // step is integer arithmetic over the published 89-entry step table,
  // so the oracle replays the ENTIRE encoder/decoder state trajectory
  // with a RECURSIVE CTE from the closed-form input waveform — an
  // exact hash gate over a genuinely sequential decode (predictor
  // clamping, index walk, block-header reseeding and all). -------------
  private val q355 = Q("q355_adpcm_decode",
    (s, dir) => Multimodal.decodeAdpcmAll(
        Multimodal.syntheticAdpcmTable(s, dir))
      .toDF()
      .select(col("doc_id"), col("n_frames"), col("sample_rate"),
        col("sum_sq"), col("rms")),
    Some("""WITH RECURSIVE
      tabs AS (SELECT
        [7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31,
         34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118,
         130, 143, 157, 173, 190, 209, 230, 253, 279, 307, 337, 371,
         408, 449, 494, 544, 598, 658, 724, 796, 876, 963, 1060, 1166,
         1282, 1411, 1552, 1707, 1878, 2066, 2272, 2499, 2749, 3024,
         3327, 3660, 4026, 4428, 4871, 5358, 5894, 6484, 7132, 7845,
         8630, 9493, 10442, 11487, 12635, 13899, 15289, 16818, 18500,
         20350, 22385, 24623, 27086, 29794, 32767] AS steps,
        [-1, -1, -1, -1, 2, 4, 6, 8] AS itab),
      p AS (SELECT doc_id, CAST(doc_id % 260 + 120 AS BIGINT) AS n
        FROM documents),
      st AS (
        SELECT doc_id, n, CAST(0 AS BIGINT) AS j,
          CAST(abs((doc_id * 31) % 8190 - 4095) - 2048 AS BIGINT)
            AS pred,
          CAST(0 AS BIGINT) AS idx,
          CAST((abs((doc_id * 31) % 8190 - 4095) - 2048)
            * (abs((doc_id * 31) % 8190 - 4095) - 2048) AS BIGINT)
            AS acc
        FROM p
        UNION ALL
        SELECT doc_id, n, j + 1,
          CASE WHEN blkstart THEN x
            ELSE GREATEST(-32768, LEAST(32767,
              pred + CASE WHEN sign THEN -diff ELSE diff END)) END,
          CASE WHEN blkstart THEN idx
            ELSE GREATEST(0, LEAST(88, idx
              + itab[(CASE WHEN b4 THEN 4 ELSE 0 END
                + CASE WHEN b2 THEN 2 ELSE 0 END
                + CASE WHEN b1 THEN 1 ELSE 0 END) + 1])) END,
          acc + (CASE WHEN blkstart THEN x
            ELSE GREATEST(-32768, LEAST(32767,
              pred + CASE WHEN sign THEN -diff ELSE diff END)) END)
            * (CASE WHEN blkstart THEN x
            ELSE GREATEST(-32768, LEAST(32767,
              pred + CASE WHEN sign THEN -diff ELSE diff END)) END)
        FROM (
          SELECT doc_id, n, j, pred, idx, acc, x, blkstart, sign,
            s // 8 + CASE WHEN b4 THEN s ELSE 0 END
              + CASE WHEN b2 THEN s // 2 ELSE 0 END
              + CASE WHEN b1 THEN s // 4 ELSE 0 END AS diff,
            b4, b2, b1, itab
          FROM (
            SELECT *,
              d2 - CASE WHEN d2 >= s // 2 THEN s // 2 ELSE 0 END
                >= s // 4 AS b1,
              d2 >= s // 2 AS b2
            FROM (
              SELECT *,
                d1 - CASE WHEN d1 >= s THEN s ELSE 0 END AS d2,
                d1 >= s AS b4
              FROM (
                SELECT st.doc_id, st.n, st.j, st.pred, st.idx, st.acc,
                  x, blkstart, x - st.pred < 0 AS sign,
                  abs(x - st.pred) AS d1,
                  steps[CAST(st.idx AS INT) + 1] AS s, itab
                FROM (
                  SELECT *,
                    CAST(abs((doc_id * 31 + 13 * (j + 1)) % 8190
                      - 4095) - 2048 AS BIGINT) AS x,
                    (j + 1) % 129 = 0 AS blkstart
                  FROM st WHERE j + 1 < n) st, tabs))))),
      fin AS (SELECT doc_id, n, acc FROM st WHERE j = n - 1)
      SELECT doc_id, CAST(n AS BIGINT) AS n_frames,
        CAST(8000 AS INT) AS sample_rate,
        CAST(acc AS BIGINT) AS sum_sq,
        sqrt(CAST(acc AS DOUBLE) / CAST(n AS DOUBLE)) AS rms
      FROM fin"""))

  // --- q356: G.711 A-law decode — µ-law's closed-form sibling (WAV
  // format tag 6; ITU-T G.711 §3): x = b XOR 0x55, segment/mantissa
  // expansion, sign bit SET = positive (the µ-law-inverted
  // convention). The oracle replays every expanded sample; the
  // 256-point pin against the JDK's own ALAW converter lives in
  // MediaCodecSpec. ------------------------------------------------------
  private val q356 = Q("q356_alaw_decode",
    (s, dir) => Multimodal.decodeAlawAll(
        Multimodal.syntheticAlawTable(s, dir))
      .toDF()
      .select(col("doc_id"), col("n_frames"), col("sample_rate"),
        col("sum_sq"), col("rms")),
    Some("""WITH p AS (SELECT doc_id,
          CAST(doc_id % 330 + 140 AS BIGINT) AS n FROM documents),
      w AS (SELECT doc_id, n, unnest(range(0, n)) AS i FROM p),
      v AS (SELECT doc_id, n,
          xor((doc_id * 17 + i * 11) % 256, 85) AS x
        FROM w),
      e AS (SELECT doc_id, n,
          CASE WHEN x >= 128 THEN mag ELSE -mag END AS s
        FROM (SELECT doc_id, n, x,
            CASE WHEN (x // 16) % 8 = 0 THEN (x % 16) * 16 + 8
              ELSE ((x % 16) * 16 + 264)
                * (CAST(1 AS BIGINT)
                   << CAST((x // 16) % 8 - 1 AS INT)) END AS mag
          FROM v))
      SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_frames,
        CAST(8000 AS INT) AS sample_rate,
        CAST(SUM(s * s) AS BIGINT) AS sum_sq,
        sqrt(CAST(SUM(s * s) AS DOUBLE) / CAST(MAX(n) AS DOUBLE))
          AS rms
      FROM e GROUP BY doc_id"""))

  // --- q357: Microsoft ADPCM decode (WAV tag 0x02) — the OTHER
  // mainstream WAV-ADPCM next to IMA: 7-entry published coefficient
  // table (set 3 in the fixture, BOTH prediction taps live), 16-entry
  // delta adaptation. Same contract as q355: the DuckDB recursive CTE
  // replays the full encoder/decoder state trajectory (s1, s2, delta)
  // — an exact hash gate on a genuinely sequential two-tap decode. ------
  private val q357 = Q("q357_ms_adpcm_decode",
    (s, dir) => Multimodal.decodeMsAdpcmAll(
        Multimodal.syntheticMsAdpcmTable(s, dir))
      .toDF()
      .select(col("doc_id"), col("n_frames"), col("sample_rate"),
        col("sum_sq"), col("rms")),
    Some("""WITH RECURSIVE
      adtab AS (SELECT [230, 230, 230, 230, 307, 409, 512, 614,
        768, 614, 512, 409, 307, 230, 230, 230] AS at),
      p AS (SELECT doc_id, CAST(doc_id % 240 + 130 AS BIGINT) AS n
        FROM documents),
      st AS (
        SELECT doc_id, n, CAST(0 AS BIGINT) AS j,
          CAST(0 AS BIGINT) AS s1, CAST(0 AS BIGINT) AS s2,
          CAST(16 AS BIGINT) AS delta,
          CAST((abs((doc_id * 31) % 8190 - 4095) - 2048)
            * (abs((doc_id * 31) % 8190 - 4095) - 2048) AS BIGINT)
            AS acc
        FROM p
        UNION ALL
        SELECT doc_id, n, j + 1,
          CASE WHEN p1 = 0 THEN s1 WHEN p1 = 1 THEN x ELSE outv END,
          CASE WHEN p1 = 0 THEN s2 WHEN p1 = 1 THEN xprev ELSE s1 END,
          CASE WHEN p1 = 0 THEN delta WHEN p1 = 1 THEN 16
            ELSE GREATEST(16, (at[(CASE WHEN nib < 0 THEN nib + 16
              ELSE nib END) + 1] * delta) // 256) END,
          acc + (CASE WHEN p1 <= 1 THEN x ELSE outv END)
              * (CASE WHEN p1 <= 1 THEN x ELSE outv END)
        FROM (
          SELECT doc_id, n, j, s1, s2, delta, acc, p1, x, xprev, nib,
            GREATEST(-32768, LEAST(32767, pred + nib * delta)) AS outv,
            at
          FROM (
            SELECT *,
              GREATEST(-8, LEAST(7, CAST(trunc(
                CAST(x - pred AS DOUBLE) / delta) AS BIGINT))) AS nib
            FROM (
              SELECT st.*, at,
                (j + 1) % 128 AS p1,
                CAST(abs((doc_id * 31 + 13 * (j + 1)) % 8190 - 4095)
                  - 2048 AS BIGINT) AS x,
                CAST(abs((doc_id * 31 + 13 * j) % 8190 - 4095)
                  - 2048 AS BIGINT) AS xprev,
                CAST(floor(CAST(s1 * 192 + s2 * 64 AS DOUBLE) / 256)
                  AS BIGINT) AS pred
              FROM st, adtab at
              WHERE j + 1 < n)))),
      fin AS (SELECT doc_id, n, acc FROM st WHERE j = n - 1)
      SELECT doc_id, CAST(n AS BIGINT) AS n_frames,
        CAST(8000 AS INT) AS sample_rate,
        CAST(acc AS BIGINT) AS sum_sq,
        sqrt(CAST(acc AS DOUBLE) / CAST(n AS DOUBLE)) AS rms
      FROM fin"""))

  // --- q359: ACOUSTIC-FINGERPRINT dedup over the REAL µ-law decode —
  // the audio twin of the image dHash/block-dedup lanes: window the
  // decoded PCM, hash the energy-delta sign sequence into one BIGINT,
  // and size the duplicate clusters. Integer-exact end to end (frame
  // energies are BIGINT Σs²; bits compare BIGINTs), so the whole
  // dedup key replays in SQL through the µ-law closed form. ------------
  private val q359 = Q("q359_audio_fingerprint",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val fp = Multimodal.ulawFingerprintAll(
        Multimodal.syntheticUlawTable(s, dir), win = 32).toDF()
      fp.withColumn("cluster_size",
        count(lit(1)).over(
          Window.partitionBy(col("n_win"), col("fp"))))
        .select(col("doc_id"), col("n_win"), col("fp"),
          col("cluster_size"))
    },
    Some("""WITH p AS (SELECT doc_id,
          CAST(doc_id % 350 + 150 AS BIGINT) AS n FROM documents),
      w AS (SELECT doc_id, n, unnest(range(0, n)) AS i FROM p),
      v AS (SELECT doc_id, n, i // 32 AS k,
          255 - ((doc_id * 13 + i * 7) % 256) AS x
        FROM w WHERE i // 32 < n // 32),
      sm AS (SELECT doc_id, n, k,
          CASE WHEN x >= 128 THEN -mag ELSE mag END AS smp
        FROM (SELECT doc_id, n, k, x,
            ((x % 16) * 8 + 132)
              * (CAST(1 AS BIGINT) << CAST((x // 16) % 8 AS INT))
              - 132 AS mag
          FROM v)),
      e AS (SELECT doc_id, k, CAST(SUM(smp * smp) AS BIGINT) AS en
        FROM sm GROUP BY doc_id, k),
      b AS (SELECT doc_id, k, en,
          LEAD(en) OVER (PARTITION BY doc_id ORDER BY k) AS nxt
        FROM e),
      f AS (SELECT doc_id, CAST(MAX(k) + 1 AS INT) AS n_win,
          CAST(COALESCE(SUM(CASE WHEN nxt IS NOT NULL AND k < 63
                AND nxt > en
              THEN (CAST(1 AS BIGINT) << CAST(k AS INT))
              ELSE 0 END), 0) AS BIGINT) AS fp
        FROM b GROUP BY doc_id)
      SELECT doc_id, n_win, fp,
        CAST(COUNT(*) OVER (PARTITION BY n_win, fp) AS BIGINT)
          AS cluster_size
      FROM f"""))

  // --- q360: SCENE-CUT detection on the REAL AVI DIB pixel decode —
  // the shot-boundary primitive of a video-curation pipeline: a cut
  // is a frame whose exact mean brightness jumps ≥ 64 code values
  // from its predecessor; per-video cut count and first boundary.
  // Brightnesses are exact integers off the decoded pixels (q352's
  // lane), so the detector replays in SQL. ------------------------------
  private val q360 = Q("q360_scene_cuts",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val fr = Multimodal.decodeAviFramesAll(
        Multimodal.syntheticAviTable(s, dir)).toDF()
      val w = Window.partitionBy(col("doc_id")).orderBy(col("frame_idx"))
      val cut = col("__pb").isNotNull &&
        abs(col("brightness") - col("__pb")) >= 64
      fr.withColumn("__pb", lag(col("brightness"), 1).over(w))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_frames"),
          sum(when(cut, 1L).otherwise(0L)).as("n_cuts"),
          min(when(cut, col("frame_idx").cast("long"))).as("first_cut"))
    },
    Some("""WITH p AS (SELECT doc_id,
          CAST(doc_id % 12 + 4 AS BIGINT) AS nf FROM documents),
      fr AS (SELECT doc_id, f,
          CAST((doc_id * 37 + f * 11) % 256 AS DOUBLE) AS b
        FROM (SELECT doc_id, nf, unnest(range(0, nf)) AS f FROM p)),
      l AS (SELECT doc_id, f, b,
          LAG(b) OVER (PARTITION BY doc_id ORDER BY f) AS pb
        FROM fr)
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_frames,
        CAST(SUM(CASE WHEN pb IS NOT NULL AND abs(b - pb) >= 64
          THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
        MIN(CASE WHEN pb IS NOT NULL AND abs(b - pb) >= 64 THEN f END)
          AS first_cut
      FROM l GROUP BY doc_id"""))

  // --- q361/q362: the G.711 ENCODE direction (linear → µ-law/A-law —
  // the telephony-export surface; decode-only covered q351/q356). Per
  // document the fixture waveform is quantized and decoded back; the
  // exact quantized energy and total quantization error replay in SQL
  // through the CCITT encoder closed forms (segment CASE + truncating
  // mantissa). encode∘decode == identity on code levels is
  // MediaCodecSpec-pinned. ----------------------------------------------
  private val q361 = Q("q361_ulaw_encode",
    (s, dir) => Multimodal.g711EncodeCensus(s, dir, alaw = false)
      .toDF()
      .select(col("doc_id"), col("n"), col("sum_sq_q"), col("abs_err")),
    Some("""WITH p AS (SELECT doc_id,
          CAST(doc_id % 300 + 150 AS BIGINT) AS n FROM documents),
      w AS (SELECT doc_id, n, unnest(range(0, n)) AS i FROM p),
      xv AS (SELECT doc_id, n,
          abs((doc_id * 31 + 13 * i) % 8190 - 4095) - 2048 AS x
        FROM w),
      ev AS (SELECT doc_id, n, x,
          CASE WHEN v < 256 THEN 0 WHEN v < 512 THEN 1
            WHEN v < 1024 THEN 2 WHEN v < 2048 THEN 3
            WHEN v < 4096 THEN 4 WHEN v < 8192 THEN 5
            WHEN v < 16384 THEN 6 ELSE 7 END AS e, v
        FROM (SELECT doc_id, n, x,
            LEAST(abs(x), 32635) + 132 AS v FROM xv)),
      qv AS (SELECT doc_id, n, x,
          CASE WHEN x < 0 THEN -mag ELSE mag END AS xq
        FROM (SELECT doc_id, n, x,
            ((v // (CAST(1 AS BIGINT) << CAST(e + 3 AS INT))) % 16 * 8
              + 132) * (CAST(1 AS BIGINT) << CAST(e AS INT))
              - 132 AS mag
          FROM ev))
      SELECT doc_id, CAST(MAX(n) AS INT) AS n,
        CAST(SUM(xq * xq) AS BIGINT) AS sum_sq_q,
        CAST(SUM(abs(x - xq)) AS BIGINT) AS abs_err
      FROM qv GROUP BY doc_id"""))

  private val q362 = Q("q362_alaw_encode",
    (s, dir) => Multimodal.g711EncodeCensus(s, dir, alaw = true)
      .toDF()
      .select(col("doc_id"), col("n"), col("sum_sq_q"), col("abs_err")),
    Some("""WITH p AS (SELECT doc_id,
          CAST(doc_id % 300 + 150 AS BIGINT) AS n FROM documents),
      w AS (SELECT doc_id, n, unnest(range(0, n)) AS i FROM p),
      xv AS (SELECT doc_id, n,
          abs((doc_id * 31 + 13 * i) % 8190 - 4095) - 2048 AS x
        FROM w),
      pv AS (SELECT doc_id, n, x,
          CASE WHEN p0 >= 0 THEN p0 ELSE -p0 - 1 END AS p,
          p0 >= 0 AS pos
        FROM (SELECT doc_id, n, x,
            CAST(floor(CAST(x AS DOUBLE) / 8) AS BIGINT) AS p0
          FROM xv)),
      sv AS (SELECT doc_id, n, x, p, pos,
          CASE WHEN p <= 31 THEN 0 WHEN p <= 63 THEN 1
            WHEN p <= 127 THEN 2 WHEN p <= 255 THEN 3
            WHEN p <= 511 THEN 4 WHEN p <= 1023 THEN 5
            WHEN p <= 2047 THEN 6 ELSE 7 END AS seg
        FROM pv),
      qv AS (SELECT doc_id, n, x,
          CASE WHEN pos THEN mag ELSE -mag END AS xq
        FROM (SELECT doc_id, n, x, pos,
            CASE WHEN seg = 0 THEN mant * 16 + 8
              ELSE (mant * 16 + 264)
                * (CAST(1 AS BIGINT) << CAST(seg - 1 AS INT)) END AS mag
          FROM (SELECT doc_id, n, x, pos, seg,
              (p // (CAST(1 AS BIGINT)
                << CAST(GREATEST(1, seg) AS INT))) % 16 AS mant
            FROM sv)))
      SELECT doc_id, CAST(MAX(n) AS INT) AS n,
        CAST(SUM(xq * xq) AS BIGINT) AS sum_sq_q,
        CAST(SUM(abs(x - xq)) AS BIGINT) AS abs_err
      FROM qv GROUP BY doc_id"""))

  // --- q363: multi-depth PCM WAV decode (tag 1 at 8/16/24 bits — the
  // legacy-audio surface): 8-bit unsigned, 16/24-bit signed LE, native-
  // depth Σs² exact. ----------------------------------------------------
  private val q363 = Q("q363_pcm_depths",
    (s, dir) => Multimodal.decodePcmDepthAll(
        Multimodal.syntheticPcmDepthTable(s, dir))
      .toDF()
      .select(col("doc_id"), col("bits"), col("n_frames"),
        col("sample_rate"), col("sum_sq")),
    Some("""WITH p AS (SELECT doc_id,
          CAST(doc_id % 200 + 100 AS BIGINT) AS n,
          CAST(CASE doc_id % 3 WHEN 0 THEN 8 WHEN 1 THEN 16
            ELSE 24 END AS INT) AS bits
        FROM documents),
      w AS (SELECT doc_id, n, bits, unnest(range(0, n)) AS i FROM p),
      s AS (SELECT doc_id, n, bits,
          CASE doc_id % 3
            WHEN 0 THEN (doc_id * 7 + i * 3) % 256 - 128
            WHEN 1 THEN abs((doc_id * 31 + 13 * i) % 8190 - 4095) - 2048
            ELSE (doc_id * 131 + i * 977) % 1000000 - 500000 END AS smp
        FROM w)
      SELECT doc_id, CAST(MAX(bits) AS INT) AS bits,
        CAST(MAX(n) AS BIGINT) AS n_frames,
        CAST(16000 AS INT) AS sample_rate,
        CAST(SUM(smp * smp) AS BIGINT) AS sum_sq
      FROM s GROUP BY doc_id"""))

  // --- q364: LEGACY-image census — GIF / TIFF / BMP decoded through
  // the REAL ImageIO path (TIFF magic added to the sniff this round);
  // all three are lossless so the solid-fill brightness is exact. ------
  private val q364 = Q("q364_legacy_images",
    (s, dir) => Multimodal.decodeLegacyImagesAll(
        Multimodal.syntheticLegacyImageTable(s, dir))
      .toDF()
      .select(col("doc_id"), col("fmt"), col("width"), col("height"),
        col("brightness")),
    Some("""SELECT doc_id,
        CASE doc_id % 3 WHEN 0 THEN 'gif' WHEN 1 THEN 'tiff'
          ELSE 'bmp' END AS fmt,
        CAST((doc_id % 5) * 8 + 16 AS INT) AS width,
        CAST((doc_id % 4) * 8 + 12 AS INT) AS height,
        CAST((doc_id * 29) % 256 AS DOUBLE) AS brightness
      FROM documents"""))

  // --- q365: gzip-shard ingestion — REAL (multi-member) RFC 1952
  // streams through the verified member walk (CRC32 + ISIZE checked
  // per member); inflated length and md5 replay from `text`. ----------
  private val q365 = Q("q365_gzip_members",
    (s, dir) => Multimodal.gzipRoundTripCensus(s, dir)
      .toDF()
      .select(col("doc_id"), col("n_members"), col("orig_len"),
        col("text_md5")),
    Some("""SELECT doc_id,
        CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 2 END AS INT)
          AS n_members,
        CAST(strlen(text) AS BIGINT) AS orig_len,
        md5(text) AS text_md5
      FROM documents"""))

  // --- q366/q367: archive-shard ingestion (the WebDataset/.zip bundle
  // layouts): REAL two-member archives per document, read back through
  // the checksum-gated ustar walk (q366) and the random-access
  // central-directory + CRC32 path (q367 — sizes from the central dir,
  // data-descriptor local headers handled). -----------------------------
  private def archiveOracle = """SELECT doc_id,
        CAST(2 AS INT) AS n_members,
        CAST(strlen(text) AS BIGINT) AS txt_len,
        CAST(strlen('{"id":' || CAST(doc_id AS VARCHAR) || '}')
          AS BIGINT) AS meta_len,
        md5(text) AS txt_md5
      FROM documents"""

  private val q366 = Q("q366_tar_members",
    (s, dir) => Multimodal.archiveRoundTripCensus(s, dir, zip = false)
      .toDF()
      .select(col("doc_id"), col("n_members"), col("txt_len"),
        col("meta_len"), col("txt_md5")),
    Some(archiveOracle))

  private val q367 = Q("q367_zip_central_dir",
    (s, dir) => Multimodal.archiveRoundTripCensus(s, dir, zip = true)
      .toDF()
      .select(col("doc_id"), col("n_members"), col("txt_len"),
        col("meta_len"), col("txt_md5")),
    Some(archiveOracle))

  // --- q368: .tgz shards — the gzip and ustar walks COMPOSED (both
  // verification layers live: a flipped bit fails the gzip CRC, a bad
  // header fails the tar checksum). ------------------------------------
  private val q368 = Q("q368_tgz_shards",
    (s, dir) => Multimodal.tgzRoundTripCensus(s, dir)
      .toDF()
      .select(col("doc_id"), col("n_members"), col("txt_len"),
        col("meta_len"), col("txt_md5")),
    Some(archiveOracle))

  // --- q369: JSONL-shard ingestion — the metadata sidecar format of
  // every web corpus, parsed by Spark's NATIVE schema'd JSON reader
  // (from_json, codegen'd Jackson path — no UDF): each document's
  // deterministic JSONL line round-trips through the parser, and a
  // spliced corrupt line (every 17th) must drop on the null-struct
  // lane exactly like a real permissive-mode ingest. --------------------
  private val q369 = Q("q369_jsonl_shards",
    (s, dir) => {
      val d = graft.core.Tables(s, dir, "documents")
      val line = concat(lit("{\"id\":"),
        col("doc_id").cast("string"),
        lit(",\"lang\":\""), col("lang"),
        lit("\",\"src\":\""), col("source"),
        lit("\",\"n\":"), col("n_chars").cast("string"), lit("}"))
      val spliced = when(col("doc_id") % 17 === 0,
        concat(lit("{broken "), line)).otherwise(line)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "id BIGINT, lang STRING, src STRING, n BIGINT")
      d.select(col("doc_id"), from_json(spliced, schema).as("j"))
        .filter(col("j").isNotNull && col("j.id").isNotNull)
        .select(col("doc_id"), col("j.id").as("id"),
          col("j.lang").as("lang2"), col("j.src").as("src"),
          col("j.n").as("n"))
    },
    Some("""SELECT doc_id, CAST(doc_id AS BIGINT) AS id,
        lang AS lang2, source AS src, CAST(n_chars AS BIGINT) AS n
      FROM documents WHERE doc_id % 17 <> 0"""))

  // --- q373: MIXED-format shard walk — ONE sniff-routed
  // archiveMembersAll pass over a bucket holding tar, zip AND tgz
  // shards (doc_id % 3 picks), every layer verified (tar checksum,
  // zip CRC32, gzip CRC32+ISIZE); per-member (name, length, md5)
  // replay from text. Stateless partition map, stream==batch gated in
  // StreamingSpec. --------------------------------------------------------
  private val q373 = Q("q373_mixed_archive_walk",
    (s, dir) => Multimodal.archiveMembersAll(
        Multimodal.syntheticArchiveShardTable(s, dir))
      .toDF()
      .select(col("doc_id"), col("name"), col("n_bytes"),
        col("member_md5")),
    Some("""SELECT doc_id, 'doc.txt' AS name,
        CAST(strlen(text) AS BIGINT) AS n_bytes, md5(text) AS member_md5
      FROM documents
      UNION ALL
      SELECT doc_id, 'meta.json' AS name,
        CAST(strlen(m) AS BIGINT) AS n_bytes, md5(m) AS member_md5
      FROM (SELECT doc_id,
          '{"id":' || CAST(doc_id AS VARCHAR) || '}' AS m
        FROM documents)"""))

  // --- q374/q375: REAL MPEG-1 LAYER II decode — the 3-B.2a/b
  // allocation-class walk (published table structure), scfsi-shared
  // scalefactors, grouped 3/5/9 codewords degrouped by successive
  // division, and Table 3-B.4's requantization via its closed form
  // C = 2^nb/n, D = (2^nb − n + 1)/2^nb. The oracle replays the
  // fixture's field formulas arithmetically (grouping is a bitstream
  // concern only — the decoded VALUES are the same three residues);
  // the engine must recover them from the real bits. Decode runs
  // inside partitions; no shuffle. ---------------------------------------
  /** The Layer II fixture-replay CTE, parameterized by the id the
    * FIELD formulas derive from (`doc_id` for the per-doc lanes;
    * `doc_id - doc_id % 3` for the duplicate-group lane, q379). The
    * emitted `doc_id` column is always the real one. */
  private def mp2CteFor(gid: String): String =
    s"""p2 AS (SELECT doc_id, ($gid) AS gid,
        CAST(($gid) % 6 + 2 AS BIGINT) AS nf,
        CASE WHEN ($gid) % 2 = 0 THEN 27 ELSE 30 END AS sblimit
      FROM documents),""".stripMargin + mp2CteTail

  private lazy val mp2Cte = mp2CteFor("doc_id")

  private lazy val mp2CteTail =
    """
    f2 AS (SELECT doc_id, gid, nf, sblimit, unnest(range(0, nf)) AS fr
      FROM p2),
    s2 AS (SELECT doc_id, gid, nf, fr, unnest(range(0, sblimit)) AS sb
      FROM f2),
    a2 AS (SELECT doc_id, gid, nf, fr, sb,
        CASE WHEN sb < 11 THEN
            CASE WHEN (gid * 7 + fr * 5 + sb) % 16 < 11 THEN 0
              ELSE (gid * 7 + fr * 5 + sb) % 16 - 10 END
          WHEN sb < 23 THEN
            CASE WHEN (gid * 7 + fr * 5 + sb) % 8 < 5 THEN 0
              ELSE (gid * 7 + fr * 5 + sb) % 8 - 4 END
          ELSE
            CASE WHEN (gid * 7 + fr * 5 + sb) % 4 < 2 THEN 0
              ELSE (gid * 7 + fr * 5 + sb) % 4 - 1 END
        END AS al,
        (gid + fr * 3 + sb) % 4 AS scfsi
      FROM s2),
    n2 AS (SELECT doc_id, gid, nf, fr, sb, scfsi, CASE
          WHEN sb < 3 THEN CASE al WHEN 1 THEN 3 WHEN 2 THEN 7
            WHEN 3 THEN 15 WHEN 4 THEN 31 ELSE 63 END
          WHEN sb < 11 THEN CASE al WHEN 1 THEN 3 WHEN 2 THEN 5
            WHEN 3 THEN 7 WHEN 4 THEN 9 ELSE 15 END
          WHEN sb < 23 THEN CASE al WHEN 1 THEN 3 WHEN 2 THEN 5
            ELSE 7 END
          ELSE CASE al WHEN 1 THEN 3 ELSE 5 END END AS n
      FROM a2 WHERE al > 0)"""

  private lazy val mp2DequantTail =
    """,
    g2 AS (SELECT *, unnest(range(0, 12)) AS g FROM n2),
    k2 AS (SELECT *, unnest(range(0, 3)) AS k FROM g2),
    v2 AS (SELECT doc_id, gid, nf, fr, sb, n,
        (gid * 31 + fr * 17 + sb * 13 + g * 7 + k * 19) % n AS v,
        CASE CAST(g // 4 AS INT)
          WHEN 0 THEN (gid * 3 + fr * 11 + sb * 5) % 63
          WHEN 1 THEN CASE WHEN scfsi = 0
            THEN (gid * 5 + fr * 7 + sb * 3) % 63
            WHEN scfsi = 3 THEN (gid * 11 + fr * 13 + sb * 7) % 63
            ELSE (gid * 3 + fr * 11 + sb * 5) % 63 END
          ELSE CASE WHEN scfsi = 2
            THEN (gid * 3 + fr * 11 + sb * 5) % 63
            ELSE (gid * 11 + fr * 13 + sb * 7) % 63 END
        END AS sfi,
        CASE n WHEN 3 THEN 2 WHEN 5 THEN 3 WHEN 7 THEN 3 WHEN 9 THEN 4
          WHEN 15 THEN 4 WHEN 31 THEN 5 ELSE 6 END AS nbp
      FROM k2),
    sftab2 AS (SELECT i,
        (CASE CAST(i % 3 AS INT) WHEN 0 THEN 2.0
          WHEN 1 THEN 1.5874010519681996
          ELSE 1.2599210498948732 END)
          / CAST(1 << CAST(i // 3 AS INT) AS DOUBLE) AS sfv
      FROM (SELECT unnest(range(0, 63)) AS i)),
    dq2 AS (SELECT doc_id, gid, nf, fr, sb,
        sfv * (((CAST(v AS DOUBLE) / CAST(1 << (nbp - 1) AS DOUBLE)
            - 1.0)
          + CAST((1 << nbp) - n + 1 AS DOUBLE)
            / CAST(1 << nbp AS DOUBLE))
          * (CAST(1 << nbp AS DOUBLE) / CAST(n AS DOUBLE))) AS x
      FROM v2 JOIN sftab2 ON sftab2.i = v2.sfi)"""

  private def mp2DequantCteFor(gid: String): String =
    mp2CteFor(gid) + mp2DequantTail

  private lazy val mp2DequantCte = mp2DequantCteFor("doc_id")

  private val q374 = Q("q374_mp2_subband_decode",
    (s, dir) => graft.operators.MpegAudio.decodeMp2Bands(
        graft.operators.MpegAudio.syntheticMp2Table(s, dir))
      .toDF()
      .select(col("doc_id"), col("sb"), col("n_frames"),
        col("amp_q9"), col("eng_q12")),
    Some(s"""WITH $mp2DequantCte
      SELECT doc_id, CAST(sb AS INT) AS sb,
        CAST(COUNT(*) // 36 AS INT) AS n_frames,
        CAST(SUM(CAST(floor(1e9 * x) AS BIGINT)) AS BIGINT) AS amp_q9,
        CAST(SUM(CAST(floor(1e12 * (x * x)) AS BIGINT)) AS BIGINT)
          AS eng_q12
      FROM dq2 GROUP BY 1, 2"""))

  private val q375 = Q("q375_mp2_sf_economy",
    (s, dir) => graft.operators.MpegAudio.decodeMp2Economy(
        graft.operators.MpegAudio.syntheticMp2Table(s, dir))
      .toDF()
      .select(col("doc_id"), col("n_frames"), col("cells"),
        col("sf_tx"), col("sf_saved"), col("grouped_cells")),
    Some(s"""WITH $mp2Cte
      SELECT doc_id, CAST(MAX(nf) AS INT) AS n_frames,
        CAST(COUNT(*) AS BIGINT) AS cells,
        CAST(SUM(CASE scfsi WHEN 0 THEN 3 WHEN 2 THEN 1 ELSE 2 END)
          AS BIGINT) AS sf_tx,
        CAST(SUM(CASE scfsi WHEN 0 THEN 0 WHEN 2 THEN 2 ELSE 1 END)
          AS BIGINT) AS sf_saved,
        CAST(SUM(CASE WHEN n IN (3, 5, 9) THEN 1 ELSE 0 END)
          AS BIGINT) AS grouped_cells
      FROM n2 GROUP BY 1"""))

  // --- q380: CODEC-ROUTER census — ONE decodeAll pass over a mixed
  // WAV/FLAC/MP1/MP2/MP3 bucket; the ORACLE pins which lane handled
  // each payload and the metadata that lane must recover from the
  // bits (sample rate, channels, frame/sample count). This gates the
  // ROUTING itself — a payload sliding into the wrong lane (or the
  // stub) changes n_frames/width and fails the hash. --------------------
  private val q380 = Q("q380_codec_router_census",
    (s, dir) => Multimodal.decodeAll(
        Multimodal.syntheticMixedAudioTable(s, dir))
      .toDF()
      .select(col("doc_id"), col("width"), col("height"),
        col("n_frames")),
    Some("""SELECT doc_id,
        CAST(CASE CAST(doc_id % 5 AS INT)
          WHEN 2 THEN 32000
          WHEN 3 THEN CASE WHEN doc_id % 2 = 0 THEN 48000 ELSE 32000 END
          WHEN 4 THEN 32000
          ELSE 8000 + (doc_id % 3) * 4000 END AS INT) AS width,
        CAST(1 AS INT) AS height,
        CAST(CASE CAST(doc_id % 5 AS INT)
          WHEN 0 THEN doc_id % 400 + 100
          WHEN 1 THEN doc_id % 300 + 200
          WHEN 2 THEN 384 * (doc_id % 8 + 3)
          WHEN 3 THEN 1152 * (doc_id % 6 + 2)
          ELSE doc_id % 7 + 2 END AS INT) AS n_frames
      FROM documents"""))

  // --- q379: SPECTRAL-FINGERPRINT dedup over the REAL Layer II
  // decode — the q359 audio-dedup shape moved onto the lossy lane:
  // per doc a fingerprint = md5 of the (sb, exact quantized energy)
  // profile of the DECODED subband samples, then one fingerprint-key
  // dedup shuffle. Runs of 3 consecutive doc_ids share one payload
  // (every bitstream field derives from gid), so the dedup must
  // recover exactly the gid groups — from the bits, not the ids. ------
  private val q379 = Q("q379_mp2_fingerprint_dedup",
    (s, dir) => {
      val bands = graft.operators.MpegAudio.decodeMp2Bands(
        graft.operators.MpegAudio.syntheticMp2GroupTable(s, dir)).toDF()
      bands.groupBy(col("doc_id"))
        .agg(md5(concat_ws(",",
          transform(
            sort_array(collect_list(struct(col("sb"), col("eng_q12")))),
            t => concat(t.getField("sb").cast("string"), lit(":"),
              t.getField("eng_q12").cast("string"))))
          .cast("binary")).as("fp"))
        .groupBy(col("fp"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("first_doc"))
    },
    Some(s"""WITH ${mp2DequantCteFor("doc_id - doc_id % 3")},
      bands AS (SELECT doc_id, sb,
          CAST(SUM(CAST(floor(1e12 * (x * x)) AS BIGINT)) AS BIGINT)
            AS eng
        FROM dq2 GROUP BY 1, 2),
      fps AS (SELECT doc_id,
          md5(string_agg(CAST(sb AS VARCHAR) || ':'
            || CAST(eng AS VARCHAR), ',' ORDER BY sb)) AS fp
        FROM bands GROUP BY 1)
      SELECT fp, CAST(COUNT(*) AS BIGINT) AS n_docs,
        MIN(doc_id) AS first_doc
      FROM fps GROUP BY 1"""))

  // --- q370: REAL MPEG-1 LAYER I decode — the lossy-DCT-family stub
  // finally retired for Layer I payloads: a full ISO 11172-3 bitstream
  // decode (allocation walk, Table 3-B.1 scalefactors, MSB-sign
  // requantization) to exact dequantized SUBBAND samples, rolled up per
  // (doc, subband) as quantize-then-sum BIGINTs. Time-domain PCM needs
  // Table 3-B.3's 512 numerically-designed window coefficients
  // (unavailable offline, no closed form) — the subband domain IS the
  // closed-form decode, and the oracle replays every double
  // bit-exactly (dyadic terms + mirrored rounding order). Decode runs
  // inside partitions; no shuffle. ---------------------------------------
  private val mp1DequantCte =
    """p AS (SELECT doc_id, CAST(doc_id % 8 + 3 AS BIGINT) AS nf
        FROM documents),
      fx AS (SELECT doc_id, nf, unnest(range(0, nf)) AS fr FROM p),
      sbx AS (SELECT doc_id, nf, fr, unnest(range(0, 32)) AS sb FROM fx),
      ax AS (SELECT doc_id, nf, fr, sb,
          CAST((doc_id * 7 + fr * 5 + sb) % 7 AS INT) AS al
        FROM sbx),
      al2 AS (SELECT doc_id, nf, fr, sb, al + 1 AS nb,
          CAST((doc_id * 3 + fr * 11 + sb * 5) % 63 AS INT) AS sfi
        FROM ax WHERE al >= 2),
      sm AS (SELECT doc_id, nf, fr, sb, nb, sfi,
          unnest(range(0, 12)) AS s
        FROM al2),
      cd AS (SELECT doc_id, nf, fr, sb, nb, sfi,
          CAST((doc_id * 31 + fr * 17 + sb * 13 + s * 7)
            % ((1 << nb) - 1) AS BIGINT) AS code
        FROM sm),
      sftab AS (SELECT i,
          (CASE CAST(i % 3 AS INT) WHEN 0 THEN 2.0
            WHEN 1 THEN 1.5874010519681996
            ELSE 1.2599210498948732 END)
            / CAST(1 << CAST(i // 3 AS INT) AS DOUBLE) AS sfv
        FROM (SELECT unnest(range(0, 63)) AS i)),
      dq AS (SELECT doc_id, nf, fr, sb,
          sfv * (((CASE WHEN code // (1 << (nb - 1)) = 1
                THEN 0.0 ELSE -1.0 END
              + CAST(code % (1 << (nb - 1)) AS DOUBLE)
                / CAST(1 << (nb - 1) AS DOUBLE))
            + 1.0 / CAST(1 << (nb - 1) AS DOUBLE))
            * (CAST(1 << nb AS DOUBLE)
              / CAST((1 << nb) - 1 AS DOUBLE))) AS x
        FROM cd JOIN sftab ON sftab.i = cd.sfi)"""

  private val q370 = Q("q370_mp1_subband_decode",
    (s, dir) => graft.operators.MpegAudio.decodeMp1Bands(
        graft.operators.MpegAudio.syntheticMp1Table(s, dir))
      .toDF()
      .select(col("doc_id"), col("sb"), col("n_frames"),
        col("amp_q9"), col("eng_q12")),
    Some(s"""WITH $mp1DequantCte
      SELECT doc_id, CAST(sb AS INT) AS sb,
        CAST(COUNT(*) // 12 AS INT) AS n_frames,
        CAST(SUM(CAST(floor(1e9 * x) AS BIGINT)) AS BIGINT) AS amp_q9,
        CAST(SUM(CAST(floor(1e12 * (x * x)) AS BIGINT)) AS BIGINT)
          AS eng_q12
      FROM dq GROUP BY 1, 2"""))

  // --- q371: SPECTRAL PROFILE on the decoded Layer I lane — the
  // per-document "where does the signal live" summary (allocated
  // cells, dominant subband by exact quantized energy with a
  // lowest-subband tie-break, and its share) a spectral dedup or
  // audio-quality gate keys on. Same one-scan decode; the argmax is
  // per-doc over ≤ 32 band rows. ----------------------------------------
  private val q371 = Q("q371_mp1_spectral_profile",
    (s, dir) => graft.operators.MpegAudio.decodeMp1Profiles(
        graft.operators.MpegAudio.syntheticMp1Table(s, dir))
      .toDF()
      .select(col("doc_id"), col("n_frames"), col("n_alloc_cells"),
        col("eng_total_q12"), col("top_sb"), col("top_share")),
    Some(s"""WITH $mp1DequantCte,
      bands AS (SELECT doc_id, sb, MAX(nf) AS nf,
          CAST(COUNT(*) // 12 AS BIGINT) AS cells,
          CAST(SUM(CAST(floor(1e12 * (x * x)) AS BIGINT)) AS BIGINT)
            AS eng
        FROM dq GROUP BY 1, 2),
      ranked AS (SELECT doc_id, nf, sb, eng, cells,
          SUM(cells) OVER (PARTITION BY doc_id) AS all_cells,
          SUM(eng) OVER (PARTITION BY doc_id) AS eng_tot,
          row_number() OVER (PARTITION BY doc_id
            ORDER BY eng DESC, sb ASC) AS rk
        FROM bands)
      SELECT doc_id, CAST(nf AS INT) AS n_frames,
        CAST(all_cells AS BIGINT) AS n_alloc_cells,
        CAST(eng_tot AS BIGINT) AS eng_total_q12,
        CAST(sb AS INT) AS top_sb,
        CAST(eng AS DOUBLE) / CAST(eng_tot AS DOUBLE) AS top_share
      FROM ranked WHERE rk = 1"""))

  override def queries: Seq[Q] =
    Seq(q41, q42, q84, q90, q101, q103, q104, q119, q162, q174, q175,
      q186, q200, q209, q256, q261, q277, q299, q305, q306, q308,
      q311, q317, q319, q323, q329, q340, q341, q342, q343, q349,
      q350, q351, q352, q353, q355, q356, q357, q359, q360, q361,
      q362, q363, q364, q365, q366, q367, q368, q369, q370, q371,
      q373, q374, q375, q379, q380)
}
