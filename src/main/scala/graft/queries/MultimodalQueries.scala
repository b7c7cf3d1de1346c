package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.{Stores, Tables}
import graft.ops._

/** Binary payloads ([[Multimodal]]): image, audio and video decode,
  * frames, perceptual fingerprints, near-dup serving, resampling and
  * multimodal sample assembly.
  */
object MultimodalQueries {
  val all: Seq[Query] = Seq(
    // multimodal plumbing: binary payload metadata (checksums computed
    // over the actual BinaryType column)
    Query("q30_multimodal_features", (s, dir) =>
      Multimodal.attachBinary(Tables.documents(s, dir), "doc_id", "text")
        .select(col("doc_id"), col("byte_len"), col("checksum")),
      Oracle(
        """SELECT doc_id, strlen(text)::BIGINT AS byte_len, md5(text) AS checksum
        |FROM documents""".stripMargin)),

    // multimodal frame sampling: every 2nd 16-byte frame per payload via
    // the partition-parallel generator (real flatMap plumbing + md5
    // checksums; byte chunking stubs the codec's frame boundaries).
    // The operator is byte-based (media payloads); the oracle's substr
    // is character-based — equivalent here because the documents corpus
    // is ASCII (DuckDB 1.0 cannot slice or md5 BLOBs)
    Query("q48_frame_sample", (s, dir) => {
      import s.implicits._
      Multimodal.frameSample(
        Multimodal.attachBinary(Tables.documents(s, dir), "doc_id", "text")
          .as[MediaRecord],
        frameBytes = 16, stride = 2).toDF()
    },
      Oracle(
        """-- char-based oracle for the byte-based operator: equal on this
        |-- ASCII corpus (DuckDB cannot slice/md5 BLOBs)
        |SELECT doc_id, i AS frame_idx,
        |       strlen(substr(text, i*16 + 1, 16))::BIGINT AS frame_len,
        |       md5(substr(text, i*16 + 1, 16)) AS frame_checksum
        |FROM (SELECT doc_id, text,
        |             unnest(generate_series(0, (strlen(text) - 1) // 16)) AS i
        |      FROM documents WHERE strlen(text) > 0)
        |WHERE i % 2 = 0""".stripMargin)),

    // REAL image decode (JDK javax.imageio): a PNG is synthesized per doc (dims + every pixel are pure
    // integer functions of doc_id), every 10th payload is "rot" (raw
    // text bytes, not an image), and the decode runs partition-parallel
    // ImageIO.read emitting exact dims/channels/pixel sums, with the
    // tagged deterministic fallback row for unreadable payloads. PNG is
    // lossless, so the oracle replays the generative pixel formula
    // relationally — the engine's decode is verified against bytes it
    // really encoded, wrote to a binary column, and re-read
    Query("q150_image_decode", (s, dir) => {
      import s.implicits._
      val d = Tables.documents(s, dir)
      val good = Multimodal.imageRecords(
        d.filter(col("doc_id") % 10 =!= 0), "doc_id")
      val rot = Multimodal.attachBinary(
        d.filter(col("doc_id") % 10 === 0), "doc_id", "text").as[MediaRecord]
      Multimodal.decodeImageFeatures(good.unionByName(rot)).toDF()
    },
      // replays Multimodal.pixelValue/synthDims relationally: width
      // 2+id%6, height 3+id%4, pixel (x,y) channel sums over one flat
      // p-loop (x = p % w, y = p // w) — PNG is lossless, so the
      // engine's encode→decode round-trip must return exactly these
      // integers; rot payloads (id % 10 = 0) take the tagged zero row
      Oracle(
        """WITH dims AS (
        |  SELECT doc_id, 2 + doc_id % 6 AS w, 3 + doc_id % 4 AS h
        |  FROM documents WHERE doc_id % 10 <> 0)
        |SELECT doc_id, true AS decoded, w::BIGINT AS width, h::BIGINT AS height,
        |       3::BIGINT AS channels,
        |       list_sum(list_transform(generate_series(0, w*h - 1), p ->
        |         (doc_id + 3*(p % w) + 5*(p // w)) % 256 +
        |         (2*doc_id + 7*(p % w) + 11*(p // w)) % 256 +
        |         (5*doc_id + 13*(p % w) + 17*(p // w)) % 256))::BIGINT AS pixel_sum
        |FROM dims
        |UNION ALL
        |SELECT doc_id, false AS decoded, 0::BIGINT AS width, 0::BIGINT AS height,
        |       0::BIGINT AS channels, 0::BIGINT AS pixel_sum
        |FROM documents WHERE doc_id % 10 = 0""".stripMargin)),

    // perceptual image hash over DECODED pixels (the multimodal dedup
    // primitive): bit p = pixel p's integer luma strictly above the
    // image mean, compared cross-multiplied so the whole hash is
    // integer-exact; computed by the REAL codec pass (decode once,
    // hash in place). The oracle replays the generative pixels — the
    // round-trip must reproduce them bit-for-bit for the hash to match
    Query("q155_image_phash", (s, dir) => {
      import s.implicits._
      Multimodal.imagePHash(
        Multimodal.imageRecords(Tables.documents(s, dir), "doc_id"))
        .toDF().select(col("doc_id"), col("width"), col("height"),
          col("phash"))
    },
      // luma list per image from the generative pixels; bit p set iff
      // luma[p]·w·h > Σluma (strict, cross-multiplied — pure integers).
      // phash bits stay ≤ 42 (max 7×6 image), far from the << overflow
      Oracle(
        """WITH dims AS (
        |  SELECT doc_id, 2 + doc_id % 6 AS w, 3 + doc_id % 4 AS h
        |  FROM documents),
        |lum AS (
        |  SELECT doc_id, w, h,
        |         list_transform(generate_series(0, w*h - 1), p ->
        |           (doc_id + 3*(p % w) + 5*(p // w)) % 256 +
        |           (2*doc_id + 7*(p % w) + 11*(p // w)) % 256 +
        |           (5*doc_id + 13*(p % w) + 17*(p // w)) % 256) AS ls
        |  FROM dims),
        |tot AS (SELECT doc_id, w, h, ls, list_sum(ls) AS t FROM lum)
        |SELECT doc_id, w::BIGINT AS width, h::BIGINT AS height,
        |       coalesce(list_sum(list_transform(generate_series(1, w*h), p ->
        |         CASE WHEN ls[p] * w * h > t THEN (1::BIGINT << (p - 1))
        |              ELSE 0::BIGINT END)), 0)::BIGINT AS phash
        |FROM tot""".stripMargin)),

    // image near-dup serving: per probe image (ids 0..9), Hamming
    // top-3 among SAME-dimension images — integer popcount(XOR) over
    // q155's hashes, the q142 binary-serving pattern applied to the
    // decoded-pixel space (dims partition the corpus, so the scored
    // set is the probe's dim class, not all-pairs)
    Query("q156_image_neardup", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // SERVED from the WRITTEN pHash table: q155's decode+DCT
      // pass ran once per process at the store build — before this the
      // join's two sides re-decoded the image corpus twice per query
      val hashes = Stores.imagePhash(s, dir)
      val probes = hashes.filter(col("doc_id") < 10)
        .select(col("doc_id").as("query_id"), col("width"), col("height"),
          col("phash").as("q_hash"))
      val scored = hashes.join(broadcast(probes), Seq("width", "height"))
        .filter(col("doc_id") =!= col("query_id"))
        .select(col("query_id"), col("doc_id").as("neighbor_id"),
          expr("bit_count(q_hash ^ phash)").cast("long").as("hamming"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("hamming").asc, col("neighbor_id").asc)
      scored.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
    },
      // q155's hash CTE + the q142 rank replay, joined within dim classes
      Oracle(
        """WITH dims AS (
        |  SELECT doc_id, 2 + doc_id % 6 AS w, 3 + doc_id % 4 AS h
        |  FROM documents),
        |lum AS (
        |  SELECT doc_id, w, h,
        |         list_transform(generate_series(0, w*h - 1), p ->
        |           (doc_id + 3*(p % w) + 5*(p // w)) % 256 +
        |           (2*doc_id + 7*(p % w) + 11*(p // w)) % 256 +
        |           (5*doc_id + 13*(p % w) + 17*(p // w)) % 256) AS ls
        |  FROM dims),
        |tot AS (SELECT doc_id, w, h, ls, list_sum(ls) AS t FROM lum),
        |ph AS (
        |  SELECT doc_id, w, h,
        |         coalesce(list_sum(list_transform(generate_series(1, w*h), p ->
        |           CASE WHEN ls[p] * w * h > t THEN (1::BIGINT << (p - 1))
        |                ELSE 0::BIGINT END)), 0)::BIGINT AS phash
        |  FROM tot),
        |sc AS (
        |  SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id,
        |         bit_count(xor(q.phash, c.phash))::BIGINT AS hamming
        |  FROM ph q JOIN ph c ON q.w = c.w AND q.h = c.h
        |                     AND c.doc_id <> q.doc_id
        |  WHERE q.doc_id < 10),
        |r AS (SELECT query_id, neighbor_id, hamming,
        |             row_number() OVER (PARTITION BY query_id
        |                                ORDER BY hamming, neighbor_id) AS rank
        |      FROM sc)
        |SELECT query_id, neighbor_id, hamming, rank FROM r WHERE rank <= 3""".stripMargin)),

    // REAL image resize: nearest-neighbor resample to 4×4 (integer
    // coordinate map — no interpolation kernels, which are platform-
    // dependent), re-encoded through the real PNG codec, then decoded
    // AGAIN by the real codec — the oracle replays the resampled
    // generative pixels, so the whole decode→resample→encode→decode
    // chain must be bit-faithful
    Query("q159_image_resize", (s, dir) => {
      import s.implicits._
      Multimodal.decodeImageFeatures(
        Multimodal.resizeImages(
          Multimodal.imageRecords(Tables.documents(s, dir), "doc_id"),
          targetW = 4, targetH = 4)).toDF()
    },
      // nearest-neighbor replay: output pixel (X, Y) = generative pixel
      // (X·w div 4, Y·h div 4); one flat p-loop, X = p % 4, Y = p // 4
      Oracle(
        """WITH dims AS (
        |  SELECT doc_id, 2 + doc_id % 6 AS w, 3 + doc_id % 4 AS h
        |  FROM documents)
        |SELECT doc_id, true AS decoded, 4::BIGINT AS width,
        |       4::BIGINT AS height, 3::BIGINT AS channels,
        |       list_sum(list_transform(generate_series(0, 15), p ->
        |         (doc_id + 3*(((p % 4) * w) // 4) + 5*(((p // 4) * h) // 4)) % 256 +
        |         (2*doc_id + 7*(((p % 4) * w) // 4) + 11*(((p // 4) * h) // 4)) % 256 +
        |         (5*doc_id + 13*(((p % 4) * w) // 4) + 17*(((p // 4) * h) // 4)) % 256))::BIGINT AS pixel_sum
        |FROM dims""".stripMargin)),

    // REAL audio decode (q150's audio twin): WAV payloads synthesized per doc (format + every 16-bit
    // sample are integer functions of doc_id) through the JDK-native
    // javax.sound.sampled encoder, every 10th doc deliberate rot (text
    // bytes, not a WAV); the decode is a real per-partition
    // AudioSystem read emitting exact format metadata + amplitude
    // sums, tagged fallback rows for rot. WAV PCM is lossless, so the
    // oracle replays the generative sample formula relationally
    Query("q165_audio_decode", (s, dir) => {
      import s.implicits._
      val d = Tables.documents(s, dir)
      val good = Multimodal.audioRecords(
        d.filter(col("doc_id") % 10 =!= 0), "doc_id")
      val rot = Multimodal.attachBinary(
        d.filter(col("doc_id") % 10 === 0), "doc_id", "text",
        modality = "audio").as[MediaRecord]
      Multimodal.decodeAudioFeatures(good.unionByName(rot)).toDF()
    },
      // replays Multimodal.sampleValue/audioParams relationally:
      // channels 1+id%2, rate 8000·(1+id%3), frames 40+id%25; sample p
      // of the interleaved stream is frame p//ch, channel p%ch — WAV PCM
      // is lossless, so the engine's encode→decode round-trip must
      // return exactly these integers; rot payloads (id % 10 = 0) take
      // the tagged zero row
      Oracle(
        """WITH par AS (
        |  SELECT doc_id, 1 + doc_id % 2 AS ch, 8000 * (1 + doc_id % 3) AS sr,
        |         40 + doc_id % 25 AS n
        |  FROM documents WHERE doc_id % 10 <> 0)
        |SELECT doc_id, true AS decoded, sr::BIGINT AS sample_rate,
        |       ch::BIGINT AS channels, n::BIGINT AS n_frames,
        |       list_sum(list_transform(generate_series(0, n*ch - 1), p ->
        |         (1237*doc_id + 40503*(p // ch) + 69427*(p % ch)) % 65536 - 32768))::BIGINT AS amp_sum,
        |       list_sum(list_transform(generate_series(0, n*ch - 1), p ->
        |         abs((1237*doc_id + 40503*(p // ch) + 69427*(p % ch)) % 65536 - 32768)))::BIGINT AS abs_sum
        |FROM par
        |UNION ALL
        |SELECT doc_id, false AS decoded, 0::BIGINT AS sample_rate,
        |       0::BIGINT AS channels, 0::BIGINT AS n_frames,
        |       0::BIGINT AS amp_sum, 0::BIGINT AS abs_sum
        |FROM documents WHERE doc_id % 10 = 0""".stripMargin)),

    // REAL audio frame extraction: sample-aligned windows over the
    // decoded PCM (frameLen=5 PCM frames, every 2nd window) — the
    // q48 byte-chunk stand-in replaced by real codec frames for the
    // audio modality; each window's sample count, exact amplitude sum,
    // AND md5 over the canonical decimal rendering of its interleaved
    // samples replay relationally (the checksum itself is oracled)
    Query("q166_audio_frames", (s, dir) => {
      import s.implicits._
      Multimodal.audioFrames(
        Multimodal.audioRecords(Tables.documents(s, dir), "doc_id"),
        frameLen = 5, stride = 2).toDF()
    },
      // window k of doc = PCM frames [5k, min(5k+5, n)), every 2nd
      // window; the md5 is over the window's interleaved samples
      // rendered as comma-joined decimal — the same canonical string
      // both engines produce, so the checksum replays too
      Oracle(
        """WITH par AS (
        |  SELECT doc_id, 1 + doc_id % 2 AS ch, 40 + doc_id % 25 AS n
        |  FROM documents),
        |wins AS (
        |  SELECT doc_id, ch, n,
        |         unnest(list_filter(generate_series(0, (n + 4) // 5 - 1),
        |                            k -> k % 2 = 0)) AS k
        |  FROM par),
        |w2 AS (
        |  SELECT doc_id, ch, k, k*5*ch AS plo, least((k+1)*5, n)*ch AS phi
        |  FROM wins)
        |SELECT doc_id, k::BIGINT AS frame_idx,
        |       (phi - plo)::BIGINT AS n_samples,
        |       list_sum(list_transform(generate_series(plo, phi - 1), p ->
        |         (1237*doc_id + 40503*(p // ch) + 69427*(p % ch)) % 65536 - 32768))::BIGINT AS amp_sum,
        |       md5(array_to_string(list_transform(generate_series(plo, phi - 1), p ->
        |         ((1237*doc_id + 40503*(p // ch) + 69427*(p % ch)) % 65536 - 32768)::VARCHAR), ',')) AS frame_md5
        |FROM w2""".stripMargin)),

    // delta-sign audio fingerprint over DECODED PCM (q155's audio
    // twin, the Chromaprint shape reduced to its oracle-checkable
    // core): mono-mix each frame, bit i = mix(i+1) > mix(i) strictly —
    // gain-invariant by construction; computed by the real codec pass
    // (decode once, fingerprint in place), rot payloads tagged zeros.
    // The generative wave is pseudo-noise (frame step 40503 wraps mod
    // 2^16), so prints genuinely differ per clip
    Query("q173_audio_fp", (s, dir) => {
      import s.implicits._
      val d = Tables.documents(s, dir)
      val good = Multimodal.audioRecords(
        d.filter(col("doc_id") % 10 =!= 0), "doc_id")
      val rot = Multimodal.attachBinary(
        d.filter(col("doc_id") % 10 === 0), "doc_id", "text",
        modality = "audio").as[MediaRecord]
      Multimodal.audioFingerprint(good.unionByName(rot)).toDF()
    },
      // mono-mix per frame from the generative samples (channel sum);
      // bit i−1 set iff mix[i+1] > mix[i] strictly, ≤ 63 bits — the
      // round-trip must reproduce every sample for the print to match
      Oracle(
        """WITH par AS (
        |  SELECT doc_id, 1 + doc_id % 2 AS ch, 40 + doc_id % 25 AS n
        |  FROM documents WHERE doc_id % 10 <> 0),
        |m AS (
        |  SELECT doc_id, ch, n,
        |    list_transform(generate_series(0, n - 1), i ->
        |      (1237*doc_id + 40503*i) % 65536 - 32768
        |      + CASE WHEN ch = 2
        |             THEN (1237*doc_id + 40503*i + 69427) % 65536 - 32768
        |             ELSE 0 END) AS mix
        |  FROM par)
        |SELECT doc_id, true AS decoded, ch::BIGINT AS channels,
        |       n::BIGINT AS n_frames, least(n - 1, 63)::BIGINT AS n_bits,
        |       coalesce(list_sum(list_transform(generate_series(1, least(n - 1, 63)), i ->
        |         CASE WHEN mix[i + 1] > mix[i] THEN (1::BIGINT << (i - 1))
        |              ELSE 0::BIGINT END)), 0)::BIGINT AS fp
        |FROM m
        |UNION ALL
        |SELECT doc_id, false AS decoded, 0::BIGINT AS channels,
        |       0::BIGINT AS n_frames, 0::BIGINT AS n_bits, 0::BIGINT AS fp
        |FROM documents WHERE doc_id % 10 = 0""".stripMargin)),

    // audio near-dup serving: per probe clip (ids 1..9 — 0 is rot),
    // Hamming top-3 among SAME-format clips (channels × frame-count
    // classes partition the corpus, the q156 dim-class rule) — integer
    // popcount(XOR) over q173's prints
    Query("q174_audio_neardup", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = Tables.documents(s, dir)
      def prints(docs: org.apache.spark.sql.DataFrame) =
        Multimodal.audioFingerprint(
          Multimodal.audioRecords(docs, "doc_id")).toDF()
      // rot ids (%10 = 0) excluded at the source — equivalent to
      // q173's decoded filter (every synthesized payload decodes), and
      // the probe branch synthesizes only ITS 9 clips: the decode is a
      // mapPartitions codec pass, so a post-hoc filter cannot prune it
      // (the full corpus would run twice)
      val fps = prints(d.filter(col("doc_id") % 10 =!= 0))
      val probes = prints(
        d.filter(col("doc_id") < 10 && col("doc_id") % 10 =!= 0))
        .select(col("doc_id").as("query_id"), col("channels"),
          col("n_frames"), col("fp").as("q_fp"))
      val scored = fps.join(broadcast(probes), Seq("channels", "n_frames"))
        .filter(col("doc_id") =!= col("query_id"))
        .select(col("query_id"), col("doc_id").as("neighbor_id"),
          expr("bit_count(q_fp ^ fp)").cast("long").as("hamming"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("hamming").asc, col("neighbor_id").asc)
      scored.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
    },
      // q173's print CTE + the q156 rank replay, joined within
      // (channels, frames) format classes
      Oracle(
        """WITH par AS (
        |  SELECT doc_id, 1 + doc_id % 2 AS ch, 40 + doc_id % 25 AS n
        |  FROM documents WHERE doc_id % 10 <> 0),
        |m AS (
        |  SELECT doc_id, ch, n,
        |    list_transform(generate_series(0, n - 1), i ->
        |      (1237*doc_id + 40503*i) % 65536 - 32768
        |      + CASE WHEN ch = 2
        |             THEN (1237*doc_id + 40503*i + 69427) % 65536 - 32768
        |             ELSE 0 END) AS mix
        |  FROM par),
        |f AS (
        |  SELECT doc_id, ch, n,
        |         coalesce(list_sum(list_transform(generate_series(1, least(n - 1, 63)), i ->
        |           CASE WHEN mix[i + 1] > mix[i] THEN (1::BIGINT << (i - 1))
        |                ELSE 0::BIGINT END)), 0)::BIGINT AS fp
        |  FROM m),
        |pr AS (SELECT doc_id AS query_id, ch, n, fp AS q_fp FROM f
        |       WHERE doc_id < 10),
        |sc AS (SELECT pr.query_id, ff.doc_id AS neighbor_id,
        |              bit_count(xor(pr.q_fp, ff.fp))::BIGINT AS hamming
        |       FROM f ff JOIN pr ON ff.ch = pr.ch AND ff.n = pr.n
        |                         AND ff.doc_id <> pr.query_id),
        |r AS (SELECT query_id, neighbor_id, hamming,
        |             row_number() OVER (PARTITION BY query_id
        |                                ORDER BY hamming ASC, neighbor_id ASC) AS rn
        |      FROM sc)
        |SELECT query_id, neighbor_id, hamming, rn::BIGINT AS rank
        |FROM r WHERE rn <= 3""".stripMargin)),

    // REAL audio resample (q159's audio twin — normalize every clip
    // to 16 kHz): nearest-neighbor rate conversion (integer coordinate
    // map, no interpolation kernels), re-encoded through the real WAV
    // codec, then decoded AGAIN by the real codec — the oracle replays
    // the resampled generative samples, so the whole
    // decode→resample→encode→decode chain must be bit-faithful
    Query("q175_audio_resample", (s, dir) => {
      import s.implicits._
      Multimodal.decodeAudioFeatures(
        Multimodal.resampleAudio(
          Multimodal.audioRecords(Tables.documents(s, dir), "doc_id"),
          targetRate = 16000)).toDF()
    },
      // nearest-neighbor rate replay: out frame j copies source frame
      // j·sr div 16000; out count = n·16000 div sr — duration preserved
      // to one frame, every sample a generative replay
      Oracle(
        """WITH par AS (
        |  SELECT doc_id, 1 + doc_id % 2 AS ch, 8000 * (1 + doc_id % 3) AS sr,
        |         40 + doc_id % 25 AS n
        |  FROM documents),
        |p2 AS (SELECT doc_id, ch, sr, (n * 16000) // sr AS outn FROM par)
        |SELECT doc_id, true AS decoded, 16000::BIGINT AS sample_rate,
        |       ch::BIGINT AS channels, outn::BIGINT AS n_frames,
        |       list_sum(list_transform(generate_series(0, outn*ch - 1), p ->
        |         (1237*doc_id + 40503*(((p // ch) * sr) // 16000) + 69427*(p % ch)) % 65536 - 32768))::BIGINT AS amp_sum,
        |       list_sum(list_transform(generate_series(0, outn*ch - 1), p ->
        |         abs((1237*doc_id + 40503*(((p // ch) * sr) // 16000) + 69427*(p % ch)) % 65536 - 32768)))::BIGINT AS abs_sum
        |FROM p2""".stripMargin)),

    // multimodal SAMPLE ASSEMBLY — the training-row join the modality
    // ops exist for: per document, text stats + the REAL image-decode
    // features (q150) + the REAL audio-decode features (q165) in one
    // row, with per-modality decode flags, a completeness flag (all
    // modalities decoded — rot in ANY modality marks the sample
    // incomplete), and the keep gate a curator applies. Equi-joins on
    // doc_id — at 100 TB each feature table is narrow (the payloads
    // never join); reusing the oracled q150/q165 entries (the q156
    // rule) keeps the assembly and its parts from drifting
    Query("q176_multimodal_assembly", (s, dir) => {
      val txt = Tables.documents(s, dir)
        .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"),
          size(split(col("text"), " ")).cast("long").as("n_words"))
      // SERVED from the per-modality decode stores: the stores
      // materialize the DECLARED q150/q165 outputs once per process
      // (the q189 scorecard posture), so the assembly joins two narrow
      // store scans instead of re-running both binary decode passes
      val img = Stores.imageDecode(s, dir)
        .select(col("doc_id"), col("decoded").as("img_ok"), col("pixel_sum"))
      val aud = Stores.audioDecode(s, dir)
        .select(col("doc_id"), col("decoded").as("aud_ok"), col("amp_sum"))
      txt.join(img, "doc_id").join(aud, "doc_id")
        .withColumn("complete", col("img_ok") && col("aud_ok"))
        .withColumn("keep", col("complete") && col("n_words") >= 5)
    },
      // the q150 + q165 oracle bodies as CTEs, joined per document with
      // trivial text stats — rot (doc_id % 10 = 0) is incomplete in both
      // modalities, so complete replays as the mod test
      Oracle(
        """WITH dims AS (
        |  SELECT doc_id, 2 + doc_id % 6 AS w, 3 + doc_id % 4 AS h
        |  FROM documents WHERE doc_id % 10 <> 0),
        |img AS (
        |  SELECT doc_id, true AS img_ok,
        |         list_sum(list_transform(generate_series(0, w*h - 1), p ->
        |           (doc_id + 3*(p % w) + 5*(p // w)) % 256 +
        |           (2*doc_id + 7*(p % w) + 11*(p // w)) % 256 +
        |           (5*doc_id + 13*(p % w) + 17*(p // w)) % 256))::BIGINT AS pixel_sum
        |  FROM dims
        |  UNION ALL
        |  SELECT doc_id, false AS img_ok, 0::BIGINT AS pixel_sum
        |  FROM documents WHERE doc_id % 10 = 0),
        |apar AS (
        |  SELECT doc_id, 1 + doc_id % 2 AS ch, 40 + doc_id % 25 AS n
        |  FROM documents WHERE doc_id % 10 <> 0),
        |aud AS (
        |  SELECT doc_id, true AS aud_ok,
        |         list_sum(list_transform(generate_series(0, n*ch - 1), p ->
        |           (1237*doc_id + 40503*(p // ch) + 69427*(p % ch)) % 65536 - 32768))::BIGINT AS amp_sum
        |  FROM apar
        |  UNION ALL
        |  SELECT doc_id, false AS aud_ok, 0::BIGINT AS amp_sum
        |  FROM documents WHERE doc_id % 10 = 0),
        |txt AS (
        |  SELECT doc_id, length(text)::BIGINT AS n_chars,
        |         len(string_split(text, ' '))::BIGINT AS n_words
        |  FROM documents)
        |SELECT t.doc_id, t.n_chars, t.n_words, i.img_ok, i.pixel_sum,
        |       a.aud_ok, a.amp_sum,
        |       i.img_ok AND a.aud_ok AS complete,
        |       i.img_ok AND a.aud_ok AND t.n_words >= 5 AS keep
        |FROM txt t
        |JOIN img i ON t.doc_id = i.doc_id
        |JOIN aud a ON t.doc_id = a.doc_id""".stripMargin)),

    // REAL video container demux — the parseable half of the video
    // modality (the box walk a pipeline runs BEFORE the codec, which
    // remains the one genuinely absent piece): ISO-BMFF-layout
    // payloads synthesized per doc (ftyp + moov + one mdat per frame,
    // sizes and payload bytes integer functions of doc_id), walked by
    // size/type headers; every box's type, size, and exact payload
    // byte sum replay relationally. Rot payloads (id % 10 = 0, text
    // bytes) fail the walk deterministically (first "size" word reads
    // ≥ 0x20202020, past the payload) → the tagged parsed=false row
    Query("q177_video_demux", (s, dir) => {
      import s.implicits._
      val d = Tables.documents(s, dir)
      val good = Multimodal.videoRecords(
        d.filter(col("doc_id") % 10 =!= 0), "doc_id")
      val rot = Multimodal.attachBinary(
        d.filter(col("doc_id") % 10 === 0), "doc_id", "text",
        modality = "video").as[MediaRecord]
      Multimodal.parseVideoBoxes(good.unionByName(rot)).toDF()
    },
      // generative container structure: ftyp(12, Σ"isom"=440), moov(12,
      // Σ big-endian n = n), then mdat j of size 8+len with
      // len = 16+(id+7j)%32 and payload byte t = (id+3j+5t)%256
      Oracle(
        """WITH par AS (
        |  SELECT doc_id, 3 + doc_id % 4 AS n
        |  FROM documents WHERE doc_id % 10 <> 0),
        |meta AS (
        |  SELECT doc_id, true AS parsed, true AS walk_complete,
        |         0::BIGINT AS box_idx,
        |         'ftyp' AS box_type, 12::BIGINT AS box_size,
        |         440::BIGINT AS byte_sum
        |  FROM par
        |  UNION ALL
        |  SELECT doc_id, true AS parsed, true AS walk_complete,
        |         1::BIGINT AS box_idx,
        |         'moov' AS box_type, 12::BIGINT AS box_size,
        |         n::BIGINT AS byte_sum
        |  FROM par),
        |md AS (
        |  SELECT doc_id, unnest(generate_series(0, n - 1)) AS j FROM par),
        |md2 AS (
        |  SELECT doc_id, j, 16 + (doc_id + 7*j) % 32 AS len FROM md),
        |mrows AS (
        |  SELECT doc_id, true AS parsed, true AS walk_complete,
        |         (2 + j)::BIGINT AS box_idx,
        |         'mdat' AS box_type, (8 + len)::BIGINT AS box_size,
        |         list_sum(list_transform(generate_series(0, len - 1), t ->
        |           (doc_id + 3*j + 5*t) % 256))::BIGINT AS byte_sum
        |  FROM md2)
        |SELECT * FROM meta
        |UNION ALL SELECT * FROM mrows
        |UNION ALL
        |SELECT doc_id, false AS parsed, false AS walk_complete,
        |       0::BIGINT AS box_idx,
        |       '' AS box_type, 0::BIGINT AS box_size, 0::BIGINT AS byte_sum
        |FROM documents WHERE doc_id % 10 = 0""".stripMargin)),

    // container-AWARE frame sampling: every 2nd mdat box — real
    // demuxed frame boundaries replacing q48's arbitrary byte chunks;
    // only decoding the payload stays stubbed. Rot ids (%10 = 0) are
    // excluded at the source like q177's, so a doc q177 reports
    // unparseable can never ship frames here (the
    // per-modality rot convention must agree across the pair)
    Query("q178_video_frames", (s, dir) => {
      import s.implicits._
      Multimodal.videoFrames(
        Multimodal.videoRecords(
          Tables.documents(s, dir).filter(col("doc_id") % 10 =!= 0),
          "doc_id"),
        stride = 2).toDF()
    },
      // every 2nd mdat: frame_idx = j, len and payload sum replayed;
      // same rot exclusion as q177
      Oracle(
        """WITH par AS (SELECT doc_id, 3 + doc_id % 4 AS n FROM documents
        |             WHERE doc_id % 10 <> 0),
        |md AS (SELECT doc_id, unnest(generate_series(0, n - 1)) AS j FROM par),
        |md2 AS (SELECT doc_id, j, 16 + (doc_id + 7*j) % 32 AS len
        |        FROM md WHERE j % 2 = 0)
        |SELECT doc_id, j::BIGINT AS frame_idx, len::BIGINT AS frame_len,
        |       list_sum(list_transform(generate_series(0, len - 1), t ->
        |         (doc_id + 3*j + 5*t) % 256))::BIGINT AS byte_sum
        |FROM md2""".stripMargin)),

    // delta-sign VIDEO fingerprint over the DEMUXED container (q173's
    // video twin — closes the multimodal decode/demux → signature →
    // near-dup matrix): the per-frame signal is each mdat payload's
    // exact byte sum (already computed while walking the box grammar —
    // dedup WITHOUT decoding), bit i = sum(i+1) > sum(i) strictly.
    // Same rot convention as q177: text payloads fail the walk → the
    // tagged parsed=false zero row
    Query("q186_video_fp", (s, dir) => {
      import s.implicits._
      val d = Tables.documents(s, dir)
      val good = Multimodal.videoRecords(
        d.filter(col("doc_id") % 10 =!= 0), "doc_id")
      val rot = Multimodal.attachBinary(
        d.filter(col("doc_id") % 10 === 0), "doc_id", "text",
        modality = "video").as[MediaRecord]
      Multimodal.videoFingerprint(good.unionByName(rot)).toDF()
    },
      // q177's generative frame byte sums gathered per clip in mdat
      // order, then the q173 delta-sign aggregation over the sum sequence
      Oracle(
        """WITH par AS (SELECT doc_id, 3 + doc_id % 4 AS n FROM documents
        |             WHERE doc_id % 10 <> 0),
        |md AS (SELECT doc_id, unnest(generate_series(0, n - 1)) AS j FROM par),
        |md2 AS (SELECT doc_id, j, 16 + (doc_id + 7*j) % 32 AS len FROM md),
        |fs AS (SELECT doc_id, j,
        |         list_sum(list_transform(generate_series(0, len - 1), t ->
        |           (doc_id + 3*j + 5*t) % 256)) AS s
        |       FROM md2),
        |agg AS (SELECT doc_id, list(s ORDER BY j) AS sums,
        |               count(*)::BIGINT AS n
        |        FROM fs GROUP BY doc_id)
        |SELECT doc_id, true AS parsed, true AS walk_complete,
        |       n AS n_frames, least(n - 1, 63)::BIGINT AS n_bits,
        |       coalesce(list_sum(list_transform(
        |         generate_series(1, least(n - 1, 63)::INT), i ->
        |           CASE WHEN sums[i + 1] > sums[i] THEN (1::BIGINT << (i - 1))
        |                ELSE 0::BIGINT END)), 0)::BIGINT AS fp
        |FROM agg
        |UNION ALL
        |SELECT doc_id, false AS parsed, false AS walk_complete,
        |       0::BIGINT AS n_frames, 0::BIGINT AS n_bits, 0::BIGINT AS fp
        |FROM documents WHERE doc_id % 10 = 0""".stripMargin)),

    // video near-dup serving (q174's video twin): per probe clip (ids
    // 1..9 — 0 is rot), Hamming top-3 among SAME-format clips (the
    // n_frames class partitions the corpus — prints of different
    // lengths aren't comparable), integer popcount(XOR) over q186's
    // prints; only clean demuxes serve (walk_complete gate — every
    // synthesized clip walks complete, so the filter is the honest
    // posture, not a result change). Rot ids excluded at the source:
    // the demux is a mapPartitions pass a post-hoc filter can't prune
    // (the q174 single-decode rule)
    Query("q187_video_neardup", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = Tables.documents(s, dir)
      def prints(docs: org.apache.spark.sql.DataFrame) =
        Multimodal.videoFingerprint(
          Multimodal.videoRecords(docs, "doc_id")).toDF()
          .filter(col("walk_complete"))
      val fps = prints(d.filter(col("doc_id") % 10 =!= 0))
      val probes = prints(
        d.filter(col("doc_id") < 10 && col("doc_id") % 10 =!= 0))
        .select(col("doc_id").as("query_id"), col("n_frames"),
          col("fp").as("q_fp"))
      val scored = fps.join(broadcast(probes), Seq("n_frames"))
        .filter(col("doc_id") =!= col("query_id"))
        .select(col("query_id"), col("doc_id").as("neighbor_id"),
          expr("bit_count(q_fp ^ fp)").cast("long").as("hamming"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("hamming").asc, col("neighbor_id").asc)
      scored.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
    },
      // q186's print CTE + the q174 rank replay, joined within n_frames
      // format classes
      Oracle(
        """WITH par AS (SELECT doc_id, 3 + doc_id % 4 AS n FROM documents
        |             WHERE doc_id % 10 <> 0),
        |md AS (SELECT doc_id, unnest(generate_series(0, n - 1)) AS j FROM par),
        |md2 AS (SELECT doc_id, j, 16 + (doc_id + 7*j) % 32 AS len FROM md),
        |fs AS (SELECT doc_id, j,
        |         list_sum(list_transform(generate_series(0, len - 1), t ->
        |           (doc_id + 3*j + 5*t) % 256)) AS s
        |       FROM md2),
        |agg AS (SELECT doc_id, list(s ORDER BY j) AS sums,
        |               count(*)::BIGINT AS n
        |        FROM fs GROUP BY doc_id),
        |f AS (SELECT doc_id, n,
        |             coalesce(list_sum(list_transform(
        |               generate_series(1, least(n - 1, 63)::INT), i ->
        |                 CASE WHEN sums[i + 1] > sums[i]
        |                      THEN (1::BIGINT << (i - 1)) ELSE 0::BIGINT END)),
        |               0)::BIGINT AS fp
        |      FROM agg),
        |pr AS (SELECT doc_id AS query_id, n, fp AS q_fp FROM f
        |       WHERE doc_id < 10),
        |sc AS (SELECT pr.query_id, ff.doc_id AS neighbor_id,
        |              bit_count(xor(pr.q_fp, ff.fp))::BIGINT AS hamming
        |       FROM f ff JOIN pr ON ff.n = pr.n AND ff.doc_id <> pr.query_id),
        |r AS (SELECT query_id, neighbor_id, hamming,
        |             row_number() OVER (PARTITION BY query_id
        |                                ORDER BY hamming ASC, neighbor_id ASC) AS rn
        |      FROM sc)
        |SELECT query_id, neighbor_id, hamming, rn::BIGINT AS rank
        |FROM r WHERE rn <= 3""".stripMargin)),

    // container-level video SUBSAMPLE (q175's video twin — completes
    // the per-modality transform row: image resize, audio resample,
    // video frame-stride): keep every 2nd mdat, rewrite the moov frame
    // count, re-emit a VALID container — then demux the OUTPUT through
    // the same box walk, so the whole demux→drop→remux→demux chain
    // must be byte-faithful. Rot payloads pass through unchanged and
    // still fail the walk into tagged rows (the q159 posture)
    Query("q192_video_subsample", (s, dir) => {
      import s.implicits._
      val d = Tables.documents(s, dir)
      val good = Multimodal.videoRecords(
        d.filter(col("doc_id") % 10 =!= 0), "doc_id")
      val rot = Multimodal.attachBinary(
        d.filter(col("doc_id") % 10 === 0), "doc_id", "text",
        modality = "video").as[MediaRecord]
      Multimodal.parseVideoBoxes(
        Multimodal.videoStrideSubsample(good.unionByName(rot), stride = 2))
        .toDF()
    },
      // the q177 generative structure after the stride-2 drop: ftyp
      // verbatim, moov byte sum = KEPT count (the rewritten 4-byte
      // payload), every even-j mdat with its original len/sum at the
      // renumbered box index 2 + j/2; rot rows tagged as in q177
      Oracle(
        """WITH par AS (SELECT doc_id, 3 + doc_id % 4 AS n FROM documents
        |             WHERE doc_id % 10 <> 0),
        |k AS (SELECT doc_id, n, (n + 1) // 2 AS kept FROM par),
        |meta AS (
        |  SELECT doc_id, true AS parsed, true AS walk_complete,
        |         0::BIGINT AS box_idx, 'ftyp' AS box_type,
        |         12::BIGINT AS box_size, 440::BIGINT AS byte_sum
        |  FROM k
        |  UNION ALL
        |  SELECT doc_id, true AS parsed, true AS walk_complete,
        |         1::BIGINT AS box_idx, 'moov' AS box_type,
        |         12::BIGINT AS box_size, kept::BIGINT AS byte_sum
        |  FROM k),
        |md AS (SELECT doc_id, unnest(generate_series(0, n - 1)) AS j FROM par),
        |md2 AS (SELECT doc_id, j, 16 + (doc_id + 7*j) % 32 AS len
        |        FROM md WHERE j % 2 = 0),
        |mrows AS (
        |  SELECT doc_id, true AS parsed, true AS walk_complete,
        |         (2 + j // 2)::BIGINT AS box_idx, 'mdat' AS box_type,
        |         (8 + len)::BIGINT AS box_size,
        |         list_sum(list_transform(generate_series(0, len - 1), t ->
        |           (doc_id + 3*j + 5*t) % 256))::BIGINT AS byte_sum
        |  FROM md2)
        |SELECT * FROM meta
        |UNION ALL SELECT * FROM mrows
        |UNION ALL
        |SELECT doc_id, false AS parsed, false AS walk_complete,
        |       0::BIGINT AS box_idx, '' AS box_type,
        |       0::BIGINT AS box_size, 0::BIGINT AS byte_sum
        |FROM documents WHERE doc_id % 10 = 0""".stripMargin)),
  )
}
