package graft
package gates

import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal
import GateHelpers._

/** The `m` gates (multimodal). */
object MultimodalGates extends GateFamily("m") {
  val gates: Seq[Gate] = Seq(
    // ---- multimodal plumbing ----
    Gate("m01_media_meta", (s, d) =>
      Multimodal.asMedia(tbl(s, d, "documents"), "doc_id", "text", "text/plain")
        .select(col("media_id"), col("meta.mime").as("mime"),
          col("meta.n_bytes").as("n_bytes"), col("meta.checksum").as("checksum")),
      """SELECT doc_id AS media_id, 'text/plain' AS mime,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes, md5(text) AS checksum
        |FROM documents""".stripMargin),

    Gate("m02_media_features", (s, d) =>
      Multimodal.extractFeatures(
        Multimodal.asMedia(tbl(s, d, "documents"), "doc_id", "text", "text/plain"))
        .select(col("media_id"), col("n_bytes"),
          round(element_at(col("features"), 7), 6).as("f6")),
      """SELECT doc_id AS media_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  round(CAST(len(regexp_extract_all(text, '[`a-o]')) AS DOUBLE)
        |    / octet_length(encode(text)), 6) AS f6
        |FROM documents""".stripMargin),

    Gate("m03_frame_sample", (s, d) =>
      Multimodal.sampleFrames(
        Multimodal.asMedia(tbl(s, d, "documents"), "doc_id", "text", "text/plain"),
        n = 4, frameBytes = 64)
        .select(col("media_id"), col("frame_idx"), md5(col("frame")).as("frame_md5")),
      """WITH m AS (SELECT doc_id AS media_id, text,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS tot FROM documents),
        |st AS (SELECT *, greatest((tot - 64) // 3, 1) AS stride FROM m WHERE tot >= 64),
        |f AS (SELECT media_id, text, stride, tot, unnest([0,1,2,3]) AS frame_idx FROM st)
        |SELECT media_id, CAST(frame_idx AS BIGINT) AS frame_idx,
        |  md5(substr(text, CAST(frame_idx * stride + 1 AS INT), 64)) AS frame_md5
        |FROM f WHERE frame_idx * stride + 64 <= tot""".stripMargin),

    // REAL-codec gate: synthesized grayscale PNGs (pixel = (7x+13y+id) mod
    // 256, 32x24) are decoded with javax.imageio and histogrammed over the
    // DECODED pixels. The oracle computes the same histogram from the
    // synthesis formula in pure SQL — raw deflate bytes look nothing like
    // the pixel distribution, so only a correct decode matches.
    // PNG container metadata tier (m09's image twin): per-id-sized
    // synthesized PNGs, IHDR recovered via the real chunk walk — the
    // dimensions/pixel-format prune that runs before any pixel decode.
    Gate("m10_png_meta", (s, d) =>
      Multimodal.extractPngMeta(
        Multimodal.synthesizePngMediaDyn(
          tbl(s, d, "documents").select(col("doc_id")), "doc_id",
          lit(16) + col("doc_id") % 16, lit(12) + col("doc_id") % 8)),
      // IHDR fields are the synthesis parameters; grayscale 8-bit is PNG
      // color type 0, bit depth 8.
      """SELECT doc_id AS media_id,
        |  CAST(16 + doc_id % 16 AS BIGINT) AS width,
        |  CAST(12 + doc_id % 8 AS BIGINT) AS height,
        |  CAST(8 AS BIGINT) AS bit_depth, CAST(0 AS BIGINT) AS color_type
        |FROM documents""".stripMargin),

    // JPEG container metadata tier (m10's twin for the web's dominant
    // image format): deterministic baseline JPEGs per doc — varying
    // dims, component count, COM-segment census — recovered via the
    // REAL marker-segment walk with the SOS entropy stuffing rule.
    Gate("m15_jpeg_meta", (s, d) =>
      Multimodal.extractJpegMeta(
        Multimodal.synthesizeJpegMedia(
          tbl(s, d, "documents").select(col("doc_id")), "doc_id")),
      // Every SOF0/segment field is a pure function of the id (see
      // synthesizeJpeg): segments = APP0 + (id mod 3) COMs + DQT + SOF0 +
      // SOS. The engine only matches by really walking the marker frames.
      """SELECT doc_id AS media_id,
        |  CAST(64 + doc_id % 64 AS BIGINT) AS width,
        |  CAST(48 + doc_id % 32 AS BIGINT) AS height,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 1 END AS BIGINT) AS n_comp,
        |  CAST(8 AS BIGINT) AS precision,
        |  CAST(4 + doc_id % 3 AS BIGINT) AS n_segments
        |FROM documents""".stripMargin),

    // EXIF tier (m15's next level in): the APP1 TIFF walk — byte-order
    // detection (II for even ids, MM for odd — one scan crosses
    // endianness constantly), inline SHORT at the START of the value
    // field (the MM padding trap), RATIONAL/ASCII at offsets from the
    // TIFF origin, ExifIFD sub-IFD descent. Orientation is what decides
    // whether the decode pipeline must rotate; EXIF pixel dims catch
    // truncated re-encodes.
    Gate("m16_exif_meta", (s, d) =>
      Multimodal.extractExifMeta(
        Multimodal.synthesizeExifJpegMedia(
          tbl(s, d, "documents").select(col("doc_id")), "doc_id")),
      // Every planted EXIF field is a closed form of the id (see
      // synthesizeExifJpeg) — the engine only matches if the TIFF walk
      // actually resolves both endiannesses, the offset values, and the
      // sub-IFD pointer.
      """SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order,
        |  CAST(1 + doc_id % 8 AS BIGINT) AS orientation,
        |  CAST(72 + doc_id % 10 AS BIGINT) AS xres_num,
        |  CAST(1 AS BIGINT) AS xres_den,
        |  'sw-' || CAST(doc_id % 100 AS VARCHAR) AS software,
        |  CAST(64 + doc_id % 64 AS BIGINT) AS pixel_x,
        |  CAST(48 + doc_id % 32 AS BIGINT) AS pixel_y
        |FROM documents""".stripMargin),

    // MP4 container metadata tier: synthesize deterministic ISO BMFF
    // boxes per doc, then recover brand/timescale/duration via the REAL
    // box-tree walk (big-endian u32 sizes, moov>mvhd descent) — the
    // metadata pass a video-curation pipeline runs before any frame
    // decode is scheduled.
    Gate("m09_mp4_meta", (s, d) =>
      Multimodal.extractMp4Meta(
        Multimodal.synthesizeMp4Media(
          tbl(s, d, "documents").select(col("doc_id")), "doc_id")),
      // Every mvhd field is a pure function of the id (see synthesizeMp4),
      // so the oracle replays the box-walk's OUTPUT in closed form — the
      // engine only matches if the big-endian box parse actually recovers
      // the fields it wrote.
      """SELECT doc_id AS media_id, 'isom' AS brand, CAST(3 AS BIGINT) AS n_top_boxes,
        |  CAST(600 + (doc_id % 10) * 100 AS BIGINT) AS timescale,
        |  CAST((doc_id * 37) % 100000 + 600 AS BIGINT) AS duration,
        |  CAST(((doc_id * 37) % 100000 + 600) * 1000
        |    // (600 + (doc_id % 10) * 100) AS BIGINT) AS duration_ms
        |FROM documents""".stripMargin),

    // MP4 sample-table tier (m09's next level down): walk moov>trak>mdia>
    // minf>stbl and decode stsz/stco/stts — the per-track sample census
    // (counts, byte totals, chunk offsets, tick spans) that turns frame
    // sampling into exact preads before any codec is scheduled.
    Gate("m11_mp4_stbl", (s, d) =>
      Multimodal.extractMp4SampleTable(
        Multimodal.synthesizeMp4TrackMedia(
          tbl(s, d, "documents").select(col("doc_id")), "doc_id")),
      // Sample-table fields are pure functions of the id (synthesizeMp4Track):
      // nSamples = id%7+2 sizes (id*13+5i)%200+50, chunks id%3+1 from
      // 1000+id%100, ticks = (nSamples-1)*(id%5+1) + 100 — closed-form
      // replay; the engine only matches if the stbl walk actually decodes
      // the three big-endian tables it wrote.
      """SELECT doc_id AS media_id, CAST(1 AS BIGINT) AS track,
        |  CAST(doc_id % 7 + 2 AS BIGINT) AS sample_count,
        |  CAST(list_sum(list_transform(range(0, CAST(doc_id % 7 + 2 AS BIGINT)),
        |    i -> (doc_id * 13 + 5 * i) % 200 + 50)) AS BIGINT) AS total_sample_bytes,
        |  CAST(doc_id % 3 + 1 AS BIGINT) AS n_chunks,
        |  CAST(1000 + doc_id % 100 AS BIGINT) AS first_chunk_offset,
        |  CAST((doc_id % 7 + 1) * (doc_id % 5 + 1) + 100 AS BIGINT) AS total_ticks
        |FROM documents""".stripMargin),

    // ...and the index CASHED IN: per-sample byte extraction — seek
    // stco[0], walk the stsz prefix sums, slice and checksum each
    // sample's actual payload bytes. The containers carry REAL in-file
    // offsets; the oracle replays every byte from the synthesis formula,
    // so only a correct seek+slice matches.
    Gate("m12_mp4_samples", (s, d) =>
      Multimodal.extractMp4Samples(
        Multimodal.synthesizeMp4FramesMedia(
          tbl(s, d, "documents").select(col("doc_id")), "doc_id")),
      // Sample-extraction replay: sample i spans payload positions
      // [P_i, P_i + s_i) with P_i the stsz prefix sum; payload byte p is
      // (7p + id) mod 256 by synthesis — byte sums in closed form.
      """WITH s AS (SELECT doc_id, r.i,
        |  (doc_id * 13 + 5 * r.i) % 200 + 50 AS sz,
        |  CAST(coalesce(list_sum(list_transform(range(0, r.i),
        |    j -> (doc_id * 13 + 5 * j) % 200 + 50)), 0) AS BIGINT) AS p0
        |  FROM documents CROSS JOIN range(0, 8) r(i)
        |  WHERE r.i < doc_id % 7 + 2)
        |SELECT doc_id AS media_id, CAST(1 AS BIGINT) AS track,
        |  CAST(i AS BIGINT) AS sample, CAST(0 AS BIGINT) AS chunk,
        |  CAST(sz AS BIGINT) AS nbytes,
        |  CAST(list_sum(list_transform(range(p0, p0 + sz),
        |    p -> (7 * p + doc_id) % 256)) AS BIGINT) AS byte_sum
        |FROM s""".stripMargin),

    // Multi-chunk extraction: the same sample stream split across chunks
    // by a REAL stsc run map, with junk bytes between chunks — a reader
    // ignoring stsc/stco reads gap bytes into samples and fails the
    // oracle; only honest chunk resolution recovers the byte formula.
    Gate("m13_mp4_chunked", (s, d) =>
      Multimodal.extractMp4Samples(
        Multimodal.synthesizeMp4ChunksMedia(
          tbl(s, d, "documents").select(col("doc_id")), "doc_id")),
      // Chunked replay: sample content is chunk-layout-invariant (the
      // synthesizer lays the sample stream out chunk-by-chunk and the gaps
      // are junk), so byte sums reuse the m12 prefix-sum formula; chunk =
      // min(i div (n div nc), nc-1) replays the stsc run expansion.
      """WITH s AS (SELECT doc_id, r.i,
        |  (doc_id * 13 + 5 * r.i) % 200 + 50 AS sz,
        |  CAST(coalesce(list_sum(list_transform(range(0, r.i),
        |    j -> (doc_id * 13 + 5 * j) % 200 + 50)), 0) AS BIGINT) AS p0,
        |  doc_id % 7 + 2 AS n,
        |  least(doc_id % 3 + 1, doc_id % 7 + 2) AS nc
        |  FROM documents CROSS JOIN range(0, 8) r(i)
        |  WHERE r.i < doc_id % 7 + 2)
        |SELECT doc_id AS media_id, CAST(1 AS BIGINT) AS track,
        |  CAST(i AS BIGINT) AS sample,
        |  CAST(least(i // (n // nc), nc - 1) AS BIGINT) AS chunk,
        |  CAST(sz AS BIGINT) AS nbytes,
        |  CAST(list_sum(list_transform(range(p0, p0 + sz),
        |    p -> (7 * p + doc_id) % 256)) AS BIGINT) AS byte_sum
        |FROM s""".stripMargin),

    // REAL frame decode, end to end: the mdat samples are actual PNG
    // images (pixel(x,y) of frame i = (7x+13y+doc_id+31i) mod 256), so
    // the chain is container walk -> per-sample pread -> javax.imageio
    // decode -> pixel histogram. The stsz sizes are deflate-dependent
    // (never replayable), but the DECODED pixels are a closed-form
    // function of (id, i) — only a correct walk + pread + decode matches.
    Gate("m14_mp4_frame_decode", (s, d) =>
      Multimodal.decodeMp4Frames(
        Multimodal.synthesizeMp4PngMedia(
          tbl(s, d, "documents").select(col("doc_id")), "doc_id"))
        .select(col("media_id"), col("sample"), col("width"), col("height"),
          round(element_at(col("features"), 1), 6).as("b0"),
          round(element_at(col("features"), 8), 6).as("b7"),
          round(element_at(col("features"), 16), 6).as("b15")),
      // Frame-decode replay: frame i of doc d is a 16x12 gray PNG with
      // pixel (7x+13y+d+31i) mod 256; the oracle histograms that formula
      // directly — it never sees the PNG bytes, so agreement proves the
      // engine's container walk + pread + image decode are all correct.
      """WITH f AS (SELECT doc_id, r.i FROM documents CROSS JOIN range(0, 4) r(i)
        |  WHERE r.i < doc_id % 3 + 2),
        |px AS (SELECT doc_id, i,
        |  (gx.x * 7 + gy.y * 13 + doc_id + 31 * i) % 256 AS v
        |  FROM f, generate_series(0, 15) gx(x), generate_series(0, 11) gy(y))
        |SELECT doc_id AS media_id, CAST(i AS BIGINT) AS sample,
        |  CAST(16 AS BIGINT) AS width, CAST(12 AS BIGINT) AS height,
        |  round(CAST(sum(CASE WHEN v // 16 = 0  THEN 1 ELSE 0 END) AS DOUBLE) / 192.0, 6) AS b0,
        |  round(CAST(sum(CASE WHEN v // 16 = 7  THEN 1 ELSE 0 END) AS DOUBLE) / 192.0, 6) AS b7,
        |  round(CAST(sum(CASE WHEN v // 16 = 15 THEN 1 ELSE 0 END) AS DOUBLE) / 192.0, 6) AS b15
        |FROM px GROUP BY doc_id, i""".stripMargin),

    Gate("m04_png_decode", (s, d) =>
      Multimodal.extractFeatures(
        Multimodal.synthesizePngMedia(
          tbl(s, d, "documents").select(col("doc_id")), "doc_id", w = 32, h = 24))
        .select(col("media_id"),
          round(element_at(col("features"), 1), 6).as("b0"),
          round(element_at(col("features"), 8), 6).as("b7"),
          round(element_at(col("features"), 16), 6).as("b15")),
      // Pixel histogram of the synthesized 32x24 gray PNG, straight from the
      // synthesis formula — never touches a decoder; the engine must have
      // decoded the actual PNG bytes to agree. One IEEE division per bin
      // (no sum-order hazard), rounded like every float gate.
      """WITH px AS (
        |  SELECT d.doc_id AS media_id, (gx.x * 7 + gy.y * 13 + d.doc_id) % 256 AS v
        |  FROM documents d, generate_series(0, 31) gx(x), generate_series(0, 23) gy(y))
        |SELECT media_id,
        |  round(CAST(sum(CASE WHEN v // 16 = 0  THEN 1 ELSE 0 END) AS DOUBLE) / 768.0, 6) AS b0,
        |  round(CAST(sum(CASE WHEN v // 16 = 7  THEN 1 ELSE 0 END) AS DOUBLE) / 768.0, 6) AS b7,
        |  round(CAST(sum(CASE WHEN v // 16 = 15 THEN 1 ELSE 0 END) AS DOUBLE) / 768.0, 6) AS b15
        |FROM px GROUP BY media_id""".stripMargin),

    // Resize gate: decode -> nearest-neighbour 32x24 -> 16x12 -> re-encode
    // -> decode again for features. With exactly 2:1 strides the resampled
    // pixel (x,y) is source pixel (2x,2y) = (14x + 26y + id) mod 256, so
    // the oracle replays the whole chain from the synthesis formula.
    Gate("m05_png_resize", (s, d) =>
      Multimodal.extractFeatures(
        Multimodal.resizeImages(
          Multimodal.synthesizePngMedia(
            tbl(s, d, "documents").select(col("doc_id")), "doc_id", w = 32, h = 24),
          w = 16, h = 12))
        .select(col("media_id"),
          round(element_at(col("features"), 1), 6).as("b0"),
          round(element_at(col("features"), 8), 6).as("b7"),
          round(element_at(col("features"), 16), 6).as("b15")),
      // The resize chain replayed from the formula: 2:1 nearest-neighbour
      // keeps source pixels (2x, 2y), i.e. v = (14x + 26y + id) mod 256
      // over the 16x12 output grid (192 pixels).
      """WITH px AS (
        |  SELECT d.doc_id AS media_id, (gx.x * 14 + gy.y * 26 + d.doc_id) % 256 AS v
        |  FROM documents d, generate_series(0, 15) gx(x), generate_series(0, 11) gy(y))
        |SELECT media_id,
        |  round(CAST(sum(CASE WHEN v // 16 = 0  THEN 1 ELSE 0 END) AS DOUBLE) / 192.0, 6) AS b0,
        |  round(CAST(sum(CASE WHEN v // 16 = 7  THEN 1 ELSE 0 END) AS DOUBLE) / 192.0, 6) AS b7,
        |  round(CAST(sum(CASE WHEN v // 16 = 15 THEN 1 ELSE 0 END) AS DOUBLE) / 192.0, 6) AS b15
        |FROM px GROUP BY media_id""".stripMargin),

    // Perceptual-hash image dedup (aHash over the REAL decode): 8x8
    // nearest-neighbour downsample of the synthesized 32x24 PNGs keeps
    // source pixels (4x, 3y), i.e. v = (28x + 39y + id) mod 256 — so the
    // oracle replays hash bits in pure SQL while the engine must decode,
    // gray-convert, stride-resample and integer-threshold correctly.
    // Synthesized images repeat every 256 ids: real dup buckets.
    Gate("m07_phash", (s, d) =>
      Multimodal.perceptualHash(
        Multimodal.synthesizePngMedia(
          tbl(s, d, "documents").select(col("doc_id")), "doc_id", w = 32, h = 24)),
      // aHash bits replayed from the synthesis formula over the 8x8
      // downsample grid; threshold in integers (v*64 > sum), bit string in
      // (y, x) raster order.
      """WITH px AS (
        |  SELECT d.doc_id AS media_id, gx.x AS x, gy.y AS y,
        |    (gx.x * 28 + gy.y * 39 + d.doc_id) % 256 AS v
        |  FROM documents d, generate_series(0, 7) gx(x), generate_series(0, 7) gy(y)),
        |s AS (SELECT media_id, CAST(sum(v) AS BIGINT) AS total FROM px GROUP BY 1)
        |SELECT px.media_id,
        |  string_agg(CASE WHEN v * 64 > total THEN '1' ELSE '0' END, '' ORDER BY y, x) AS phash
        |FROM px JOIN s USING (media_id) GROUP BY px.media_id""".stripMargin),

    // ... and the bucket view: hash groups with >= 2 members are the
    // image near-dup clusters (id classes mod 256 by construction).
    Gate("m07b_phash_dups", (s, d) =>
      Multimodal.perceptualHash(
        Multimodal.synthesizePngMedia(
          tbl(s, d, "documents").select(col("doc_id")), "doc_id", w = 32, h = 24))
        .groupBy("phash")
        .agg(count(lit(1)).as("dup_cnt"), min("media_id").as("rep_id"))
        .filter(col("dup_cnt") >= 2),
      """WITH px AS (
        |  SELECT d.doc_id AS media_id, gx.x AS x, gy.y AS y,
        |    (gx.x * 28 + gy.y * 39 + d.doc_id) % 256 AS v
        |  FROM documents d, generate_series(0, 7) gx(x), generate_series(0, 7) gy(y)),
        |s AS (SELECT media_id, CAST(sum(v) AS BIGINT) AS total FROM px GROUP BY 1),
        |b AS (SELECT px.media_id,
        |  string_agg(CASE WHEN v * 64 > total THEN '1' ELSE '0' END, '' ORDER BY y, x) AS phash
        |  FROM px JOIN s USING (media_id) GROUP BY px.media_id)
        |SELECT phash, CAST(count(*) AS BIGINT) AS dup_cnt,
        |  CAST(min(media_id) AS BIGINT) AS rep_id
        |FROM b GROUP BY 1 HAVING count(*) >= 2""".stripMargin),

    // Audio-fingerprint dedup over the REAL WAV decode path: the corpus
    // plants duplicates by synthesizing each doc's audio from doc_id%100,
    // ONE decode per distinct payload; the 8-frame energy signature
    // (audio aHash, all-integer) buckets docs into equal-content groups.
    Gate("m08_wav_dedup", (s, d) => {
      val docs = tbl(s, d, "documents")
        .select(col("doc_id"), (col("doc_id") % 100).as("gid"))
      val fp = Multimodal.wavEnergyFingerprint(
        Multimodal.synthesizeWavMedia(docs.select("gid").distinct(), "gid",
          nSamples = 480), frames = 8)
        .withColumnRenamed("media_id", "gid")
      docs.join(fp, "gid")
        .groupBy("afp")
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("dup_count"))
    },
      // The synth formula + the quantized energy profile replayed in integer
      // SQL: frame(i) = (i*8)//480, digit_f = (frame-abs-sum * 4096) //
      // track total, 4-digit zero-padded.
      """WITH g AS (SELECT DISTINCT doc_id % 100 AS gid FROM documents),
        |sm AS (SELECT g.gid, gi.i, ((gi.i * 31 + g.gid * 17) % 65536) - 32768 AS s
        |  FROM g, generate_series(0, 479) gi(i)),
        |fr AS (SELECT gid, (i * 8) // 480 AS f, sum(abs(s)) AS e FROM sm GROUP BY 1, 2),
        |tot AS (SELECT gid, sum(e) AS te FROM fr GROUP BY 1),
        |fp AS (SELECT fr.gid,
        |  string_agg(lpad(CAST((e * 4096) // te AS VARCHAR), 4, '0'), '' ORDER BY f) AS afp
        |  FROM fr JOIN tot USING (gid) GROUP BY 1)
        |SELECT afp, CAST(min(d.doc_id) AS BIGINT) AS keep_id,
        |  CAST(count(*) AS BIGINT) AS dup_count
        |FROM documents d JOIN fp ON d.doc_id % 100 = fp.gid
        |GROUP BY 1""".stripMargin),

    // REAL-codec audio gate: synthesized 16-bit PCM mono WAVs (sample i =
    // (31i + 17id) mod 65536 - 32768, 480 samples) are container-parsed
    // and sample-decoded with javax.sound.sampled, then histogrammed over
    // the DECODED samples. The oracle replays the formula in pure SQL —
    // RIFF headers and little-endian packing mean only a correct parse +
    // decode matches.
    Gate("m06_wav_decode", (s, d) =>
      Multimodal.extractFeatures(
        Multimodal.synthesizeWavMedia(
          tbl(s, d, "documents").select(col("doc_id")), "doc_id", nSamples = 480))
        .select(col("media_id"),
          round(element_at(col("features"), 1), 6).as("b0"),
          round(element_at(col("features"), 8), 6).as("b7"),
          round(element_at(col("features"), 16), 6).as("b15")),
      // The WAV chain replayed from the synthesis formula: 16 histogram bins
      // over (sample + 32768) // 4096; since sample = raw - 32768 with
      // raw = (31i + 17id) mod 65536, the bin is just raw // 4096.
      """WITH sm AS (
        |  SELECT d.doc_id AS media_id, (gi.i * 31 + d.doc_id * 17) % 65536 AS raw
        |  FROM documents d, generate_series(0, 479) gi(i))
        |SELECT media_id,
        |  round(CAST(sum(CASE WHEN raw // 4096 = 0  THEN 1 ELSE 0 END) AS DOUBLE) / 480.0, 6) AS b0,
        |  round(CAST(sum(CASE WHEN raw // 4096 = 7  THEN 1 ELSE 0 END) AS DOUBLE) / 480.0, 6) AS b7,
        |  round(CAST(sum(CASE WHEN raw // 4096 = 15 THEN 1 ELSE 0 END) AS DOUBLE) / 480.0, 6) AS b15
        |FROM sm GROUP BY media_id""".stripMargin)
  )
}
