package graft.queries

import graft.operators._
import graft.streaming.MediaDedupStream

/** Binary media plumbing, perceptual dedup and the cross-modal
  * curation gates. */
object MultimodalQueries {
  val all: Seq[Query] = Seq(
    // multimodal binary plumbing
    Query("q_multimodal_features", MultimodalOps.binaryFeatures,
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           sha256(text) AS content_sha256,
           substr(hex(encode(text)), 1, 16) AS head_hex,
           CAST(octet_length(encode(text)) % 640 AS INT) AS fake_width,
           CAST(octet_length(encode(text)) % 480 AS INT) AS fake_height
         FROM documents ORDER BY doc_id"""),
    Query("q_frame_sample", (s, d) => MultimodalOps.frameSample(s, d),
      """SELECT doc_id, i AS frame_idx,
           CAST(i * (octet_length(encode(text)) - 8) // 3 AS BIGINT) AS offset,
           substr(hex(encode(text)),
             CAST(i * (octet_length(encode(text)) - 8) // 3 AS INT) * 2 + 1,
             16) AS frame_hex
         FROM documents, (SELECT unnest(range(4)) AS i)
         WHERE octet_length(encode(text)) >= 8
         ORDER BY doc_id, frame_idx"""),
    // Multimodal decode/resize run a REAL javax.imageio codec over
    // deterministic checkerboard assets; the oracle (which cannot decode
    // images) replays the generator arithmetic — dims/format/gray derive
    // from doc_id — and expects the codec round trip to recover it
    // (px_ok gates pixel fidelity Spark-side: exact for PNG, ±8 JPEG).
    Query("q_media_decode_meta", MultimodalOps.decodedMetaDF,
      """SELECT doc_id,
           CAST(16 + doc_id % 48 AS INT) AS width,
           CAST(16 + doc_id % 32 AS INT) AS height,
           CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
           TRUE AS px_ok
         FROM documents ORDER BY doc_id"""),
    Query("q_media_resize", (s, d) => MultimodalOps.resizedMetaDF(s, d),
      """SELECT doc_id,
           CAST(greatest(1, w0 * s // 1024) AS INT) AS width,
           CAST(greatest(1, h0 * s // 1024) AS INT) AS height,
           'png' AS format
         FROM (
           SELECT doc_id, w0, h0, least(32*1024 // w0, 32*1024 // h0) AS s
           FROM (SELECT doc_id, 16 + doc_id % 48 AS w0, 16 + doc_id % 32 AS h0
             FROM documents))
         ORDER BY doc_id"""),
    // Audio-style hop chunking: overlapping fixed-width windows every
    // hop bytes, offsets as data.
    Query("q_media_chunks", (s, d) => MultimodalOps.mediaChunks(s, d),
      """SELECT doc_id, i AS chunk_idx, i * 12 AS offset,
           substr(hex(encode(text)), CAST(i * 12 AS INT) * 2 + 1, 32) AS chunk_hex
         FROM documents, LATERAL (SELECT unnest(range(
           (octet_length(encode(text)) - 16) // 12 + 1)) AS i) t
         WHERE octet_length(encode(text)) >= 16
         ORDER BY doc_id, chunk_idx"""),
    // Audio twin of the image codec gate: Spark encodes REAL RIFF/WAVE
    // PCM16 bytes and decodes them back with a chunk walker; the oracle
    // re-derives every sample from the generator arithmetic
    // ((id*31 + i*17) % 2003 - 1001) via an unnest(range(n)) lateral.
    Query("q_audio_decode_meta", MultimodalOps.audioDecodedMetaDF,
      """SELECT d.doc_id, 8000 AS sample_rate,
           CAST(64 + d.doc_id % 128 AS INT) AS n_samples,
           (64 + d.doc_id % 128) * 1000000 // 8000 AS duration_us,
           CAST(x.peak AS INT) AS peak, CAST(x.energy AS BIGINT) AS energy
         FROM documents d, LATERAL (
           SELECT MAX(ABS((d.doc_id * 31 + i * 17) % 2003 - 1001)) AS peak,
             SUM(((d.doc_id * 31 + i * 17) % 2003 - 1001)
               * ((d.doc_id * 31 + i * 17) % 2003 - 1001)) AS energy
           FROM (SELECT unnest(range(64 + d.doc_id % 128)) AS i)) x
         ORDER BY d.doc_id"""),
    // codec-verified multimodal admission gate (image ∧ audio rules)
    // Multimodal admission gate: both modalities' rules replayed over
    // the generator arithmetic (px_ok expected TRUE from the codec).
    Query("q_media_curation", MultimodalOps.mediaCuration,
      """WITH img AS (SELECT doc_id,
             16 + doc_id % 48 AS w, 16 + doc_id % 32 AS h
           FROM documents),
         aud AS (SELECT d.doc_id,
             (64 + d.doc_id % 128) * 1000000 // 8000 AS duration_us,
             x.peak
           FROM documents d, LATERAL (
             SELECT MAX(ABS((d.doc_id * 31 + i * 17) % 2003 - 1001)) AS peak
             FROM (SELECT unnest(range(64 + d.doc_id % 128)) AS i)) x)
         SELECT i.doc_id,
           (i.w >= 32 AND i.h >= 24) AS img_ok,
           (a.duration_us >= 12000 AND a.peak >= 200) AS audio_ok,
           ((i.w >= 32 AND i.h >= 24)
             AND (a.duration_us >= 12000 AND a.peak >= 200)) AS keep
         FROM img i JOIN aud a ON a.doc_id = i.doc_id
         ORDER BY i.doc_id"""),
    Query("q_audio_frame_energy", (s, d) => MultimodalOps.audioFrameEnergy(s, d),
      """SELECT d.doc_id, f.f AS frame_idx,
           CAST((SELECT SUM(((d.doc_id * 31 + (f.f * 32 + j) * 17) % 2003 - 1001)
                   * ((d.doc_id * 31 + (f.f * 32 + j) * 17) % 2003 - 1001))
                 FROM (SELECT unnest(range(64)) AS j)) AS BIGINT) AS energy
         FROM documents d, LATERAL (
           SELECT unnest(range((64 + d.doc_id % 128 - 64) // 32 + 1)) AS f) f
         ORDER BY d.doc_id, frame_idx"""),
    // Video twin: Spark encodes a REAL animated GIF per doc and decodes
    // every stride-2 frame back out of the container; the oracle replays
    // the generator arithmetic with a strided unnest(range).
    Query("q_video_frames", (s, d) => MultimodalOps.videoFrames(s, d),
      """SELECT d.doc_id, f.f AS frame_idx,
           CAST(16 + d.doc_id % 16 AS INT) AS width,
           CAST(12 + d.doc_id % 12 AS INT) AS height,
           CAST(16 + (d.doc_id * 13 + f.f * 29) % 224 AS INT) AS gray
         FROM documents d, LATERAL (
           SELECT unnest(range(0, 3 + d.doc_id % 5, 2)) AS f) f
         ORDER BY d.doc_id, frame_idx"""),
    // perceptual (pixel-level) image dedup: dHash + banded Hamming LSH
    // Perceptual dHash of every PNG asset: the codec decodes real bytes,
    // box-averages onto a 9x8 grid and emits 64 gradient-sign bits; the
    // oracle replays the identical integer arithmetic over the generator
    // checkerboard (PNG is lossless, so the hash must match bit for bit;
    // bit 63 is summed as its signed value — DuckDB errors on 1<<63).
    Query("q_image_dhash", MultimodalOps.imageDHashDF,
      """WITH d AS (SELECT doc_id,
             CAST(16 + doc_id % 48 AS BIGINT) AS w,
             CAST(16 + doc_id % 32 AS BIGINT) AS h,
             CAST(28 + (doc_id * 37) % 200 AS BIGINT) AS ga
           FROM documents WHERE doc_id % 2 = 0),
         cells AS (
           SELECT d.doc_id, c.i, r.j,
             (SELECT SUM(CASE WHEN ((x // 8) + (y // 8)) % 2 = 0
                              THEN d.ga ELSE 255 - d.ga END) // COUNT(*)
              FROM (SELECT unnest(range(c.i * d.w // 9, (c.i + 1) * d.w // 9)) AS x) xs,
                   (SELECT unnest(range(r.j * d.h // 8, (r.j + 1) * d.h // 8)) AS y) ys) AS px
           FROM d,
             LATERAL (SELECT unnest(range(9)) AS i) c,
             LATERAL (SELECT unnest(range(8)) AS j) r),
         bits AS (
           SELECT a.doc_id, CAST(a.j * 8 + a.i AS INT) AS bi
           FROM cells a JOIN cells b ON b.doc_id = a.doc_id AND b.j = a.j AND b.i = a.i + 1
           WHERE a.i < 8 AND b.px > a.px)
         SELECT d.doc_id,
           COALESCE(CAST(SUM(CASE WHEN b.bi = 63 THEN -9223372036854775808
                                  ELSE CAST(1 AS BIGINT) << b.bi END) AS BIGINT), 0) AS dhash
         FROM d LEFT JOIN bits b USING (doc_id)
         GROUP BY d.doc_id ORDER BY d.doc_id"""),
    // (hot-key cap off here: the planted fixtures are degenerate-free,
    // so capped and uncapped verdicts coincide — spec-asserted)
    // Perceptual dedup recall gate: planted JPEG-transcode and
    // 3/4-downscale twins (high-contrast assets only) must surface their
    // original through the multiprobe banded-Hamming join. The oracle
    // replays the planting arithmetic; found is structurally TRUE (8
    // bands + one-bit multiprobe cover every hash within the 15-bit
    // verify radius; measured twin worst case is 13).
    Query("q_image_dedup", (s, d) => MultimodalOps.imageDedup(s, d),
      """WITH g AS (SELECT doc_id, 28 + (doc_id * 37) % 200 AS ga FROM documents)
         SELECT doc_id + 3000000 AS twin_id, doc_id AS orig_id,
           'reencode' AS kind, TRUE AS found
         FROM g WHERE doc_id % 6 = 0 AND abs(2 * ga - 255) >= 64
         UNION ALL
         SELECT doc_id + 4000000, doc_id, 'resize', TRUE
         FROM g WHERE doc_id % 6 = 3 AND abs(2 * ga - 255) >= 64
         ORDER BY twin_id"""),
    // perceptual audio dedup: loudness-profile hash + banded Hamming LSH
    // Perceptual audio fingerprint: the codec decodes real RIFF bytes
    // and hashes the magnitude-bucket histogram's gradient signs; the
    // oracle replays the identical integer arithmetic per sample
    // (WAV/PCM16 is lossless, so the hash matches bit for bit; bit 63
    // is summed as its signed value — DuckDB errors on 1<<63).
    Query("q_audio_fingerprint", MultimodalOps.audioFingerprintDF,
      """WITH d AS (SELECT doc_id, 64 + doc_id % 128 AS n FROM documents),
         sm AS (SELECT d.doc_id, ABS((d.doc_id * 31 + i.i * 17) % 2003 - 1001) AS a
           FROM d, LATERAL (SELECT unnest(range(d.n)) AS i) i),
         pk AS (SELECT doc_id, MAX(a) AS peak FROM sm GROUP BY doc_id),
         bk AS (SELECT sm.doc_id, (sm.a * 64) // pk.peak AS b
           FROM sm JOIN pk USING (doc_id)),
         cnts AS (SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS c
           FROM bk GROUP BY doc_id, b),
         grid AS (SELECT d.doc_id, g.k FROM d,
           LATERAL (SELECT unnest(range(65)) AS k) g),
         fullc AS (SELECT grid.doc_id, grid.k, COALESCE(cnts.c, 0) AS c
           FROM grid LEFT JOIN cnts
             ON cnts.doc_id = grid.doc_id AND cnts.b = grid.k),
         bits AS (SELECT a.doc_id, CAST(a.k AS INT) AS bi
           FROM fullc a JOIN fullc b ON b.doc_id = a.doc_id AND b.k = a.k + 1
           WHERE a.k < 64 AND b.c > a.c)
         SELECT d.doc_id,
           COALESCE(CAST(SUM(CASE WHEN b.bi = 63 THEN -9223372036854775808
                                  ELSE CAST(1 AS BIGINT) << b.bi END) AS BIGINT), 0) AS ahash
         FROM d LEFT JOIN bits b USING (doc_id)
         GROUP BY d.doc_id ORDER BY d.doc_id"""),
    // Perceptual audio dedup recall gate: planted 2x-volume and
    // 4-sample-silence-lead-in twins must surface their original through
    // the banded Hamming join. The oracle replays the planting
    // arithmetic; found is structurally TRUE (gain cancels exactly in
    // the integer bucket rational -> Hamming 0; padded zeros move only
    // bucket 0's count -> Hamming <= 1; either leaves >= 7 of 8 bands
    // exact, and the verify radius is 7).
    Query("q_audio_dedup", (s, d) => MultimodalOps.audioDedup(s, d),
      """SELECT doc_id + 5000000 AS twin_id, doc_id AS orig_id,
           'gain' AS kind, TRUE AS found
         FROM documents WHERE doc_id % 6 = 1
         UNION ALL
         SELECT doc_id + 6000000, doc_id, 'pad', TRUE
         FROM documents WHERE doc_id % 6 = 4
         ORDER BY twin_id"""),
    // perceptual video dedup: temporal-gradient signature, exact equi-join
    // Perceptual video fingerprint: the codec decodes real animated-GIF
    // frames and chains the collapsed frame-luminance deltas through the
    // manifest md5 fold; the oracle replays the per-frame generator
    // arithmetic (consecutive synth grays never repeat — 29 is not a
    // multiple of 224 — so the collapse is the identity on originals).
    Query("q_video_fingerprint", MultimodalOps.videoFingerprintDF,
      """WITH d AS (SELECT doc_id, 3 + doc_id % 5 AS n FROM documents),
         g AS (SELECT d.doc_id, f.f, 16 + (d.doc_id * 13 + f.f * 29) % 224 AS gray
           FROM d, LATERAL (SELECT unnest(range(d.n)) AS f) f),
         dl AS (SELECT a.doc_id, a.f, CAST(b.gray - a.gray AS VARCHAR) AS delta
           FROM g a JOIN g b ON b.doc_id = a.doc_id AND b.f = a.f + 1)
         SELECT doc_id, list_reduce(list_prepend('', list(delta ORDER BY f)),
           (acc, x) -> md5(acc || ',' || x)) AS vhash
         FROM dl GROUP BY doc_id ORDER BY doc_id"""),
    // Perceptual video dedup recall gate: planted 2x-frame-rate,
    // +8-luminance, and 2x-rescale twins must surface their original
    // through the signature equi-join. found is structurally TRUE
    // (duplicated frames collapse away, the lift cancels in the deltas,
    // the rescale leaves the solid frame's probe pixel untouched).
    Query("q_video_dedup", (s, d) => MultimodalOps.videoDedup(s, d),
      """SELECT doc_id + 7000000 AS twin_id, doc_id AS orig_id,
           'fps' AS kind, TRUE AS found
         FROM documents WHERE doc_id % 6 = 2
         UNION ALL
         SELECT doc_id + 8000000, doc_id, 'bright', TRUE
         FROM documents WHERE doc_id % 6 = 5
         UNION ALL
         SELECT doc_id + 9000000, doc_id, 'scale', TRUE
         FROM documents WHERE doc_id % 6 = 0
         ORDER BY twin_id"""),
    // streaming perceptual gate: dHash claims accrete across micro-batches
    // Streaming perceptual gate: batch 0 (4k-th PNG assets) admits
    // vacuously and seeds the claim store; batch 1 ((4k+2)-th assets +
    // re-encoded twins of batch 0's high-contrast assets) is judged
    // against exactly the batch-0 fingerprints. The banded multiprobe
    // join is recall-complete at radius 15 by pigeonhole, so the oracle
    // replays it brute-force pairwise with bit_count(xor(..)); the
    // twins' JPEG transcode is dHash-bit-identical on the DCT-aligned
    // checkerboards (spec-asserted over the full asset period).
    Query("q_image_dedup_stream", MediaDedupStream.imageDedupStreamQuery,
      """WITH d0 AS (SELECT doc_id,
             CAST(16 + doc_id % 48 AS BIGINT) AS w,
             CAST(16 + doc_id % 32 AS BIGINT) AS h,
             CAST(28 + (doc_id * 37) % 200 AS BIGINT) AS ga
           FROM documents WHERE doc_id % 2 = 0),
         cells AS (
           SELECT d0.doc_id, c.i, r.j,
             (SELECT SUM(CASE WHEN ((x // 8) + (y // 8)) % 2 = 0
                              THEN d0.ga ELSE 255 - d0.ga END) // COUNT(*)
              FROM (SELECT unnest(range(c.i * d0.w // 9, (c.i + 1) * d0.w // 9)) AS x) xs,
                   (SELECT unnest(range(r.j * d0.h // 8, (r.j + 1) * d0.h // 8)) AS y) ys) AS px
           FROM d0,
             LATERAL (SELECT unnest(range(9)) AS i) c,
             LATERAL (SELECT unnest(range(8)) AS j) r),
         bits AS (
           SELECT a.doc_id, CAST(a.j * 8 + a.i AS INT) AS bi
           FROM cells a JOIN cells b ON b.doc_id = a.doc_id AND b.j = a.j AND b.i = a.i + 1
           WHERE a.i < 8 AND b.px > a.px),
         dh AS (SELECT d0.doc_id,
             COALESCE(CAST(SUM(CASE WHEN b.bi = 63 THEN -9223372036854775808
                                    ELSE CAST(1 AS BIGINT) << b.bi END) AS BIGINT), 0) AS dhash
           FROM d0 LEFT JOIN bits b USING (doc_id) GROUP BY d0.doc_id),
         b0 AS (SELECT doc_id, dhash FROM dh WHERE doc_id % 4 = 0),
         inc AS (
           SELECT doc_id, doc_id AS orig_id, 'orig' AS kind, dhash
           FROM dh WHERE doc_id % 4 = 2
           UNION ALL
           SELECT dh.doc_id + 3000000, dh.doc_id, 'reencode', dh.dhash
           FROM dh JOIN d0 USING (doc_id)
           WHERE dh.doc_id % 4 = 0 AND dh.doc_id % 6 = 0
             AND abs(2 * d0.ga - 255) >= 64),
         m AS (SELECT inc.doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches,
             MIN(b0.doc_id) AS min_match
           FROM inc JOIN b0 ON bit_count(xor(inc.dhash, b0.dhash)) <= 15
           GROUP BY inc.doc_id)
         SELECT doc_id, doc_id AS orig_id, 'orig' AS kind, TRUE AS admitted,
           CAST(0 AS BIGINT) AS n_matches, CAST(-1 AS BIGINT) AS min_match
         FROM b0
         UNION ALL
         SELECT inc.doc_id, inc.orig_id, inc.kind, m.doc_id IS NULL AS admitted,
           COALESCE(m.n_matches, 0) AS n_matches,
           COALESCE(m.min_match, -1) AS min_match
         FROM inc LEFT JOIN m ON m.doc_id = inc.doc_id
         ORDER BY doc_id"""),
    // the audio modality through the same hash-agnostic streaming gate
    // Audio modality through the streaming gate: batch 0 = even-id
    // assets (seed the store vacuously); batch 1 = odd-id assets plus
    // 2x-gain twins of the (6k+4)-th assets, judged against exactly the
    // batch-0 loudness hashes. The hash is replayable for every asset
    // and the gain twin's hash is bit-identical, so the oracle replays
    // brute-force pairwise at the verify radius 7.
    Query("q_audio_dedup_stream", MediaDedupStream.audioDedupStreamQuery,
      """WITH d AS (SELECT doc_id, 64 + doc_id % 128 AS n FROM documents),
         sm AS (SELECT d.doc_id, ABS((d.doc_id * 31 + i.i * 17) % 2003 - 1001) AS a
           FROM d, LATERAL (SELECT unnest(range(d.n)) AS i) i),
         pk AS (SELECT doc_id, MAX(a) AS peak FROM sm GROUP BY doc_id),
         bk AS (SELECT sm.doc_id, (sm.a * 64) // pk.peak AS b
           FROM sm JOIN pk USING (doc_id)),
         cnts AS (SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS c
           FROM bk GROUP BY doc_id, b),
         grid AS (SELECT d.doc_id, g.k FROM d,
           LATERAL (SELECT unnest(range(65)) AS k) g),
         fullc AS (SELECT grid.doc_id, grid.k, COALESCE(cnts.c, 0) AS c
           FROM grid LEFT JOIN cnts
             ON cnts.doc_id = grid.doc_id AND cnts.b = grid.k),
         bits AS (SELECT a.doc_id, CAST(a.k AS INT) AS bi
           FROM fullc a JOIN fullc b ON b.doc_id = a.doc_id AND b.k = a.k + 1
           WHERE a.k < 64 AND b.c > a.c),
         ah AS (SELECT d.doc_id,
             COALESCE(CAST(SUM(CASE WHEN b.bi = 63 THEN -9223372036854775808
                                    ELSE CAST(1 AS BIGINT) << b.bi END) AS BIGINT), 0) AS ahash
           FROM d LEFT JOIN bits b USING (doc_id) GROUP BY d.doc_id),
         b0 AS (SELECT doc_id, ahash FROM ah WHERE doc_id % 2 = 0),
         inc AS (
           SELECT doc_id, doc_id AS orig_id, 'orig' AS kind, ahash
           FROM ah WHERE doc_id % 2 = 1
           UNION ALL
           SELECT doc_id + 5000000, doc_id, 'gain', ahash
           FROM ah WHERE doc_id % 6 = 4),
         m AS (SELECT inc.doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches,
             MIN(b0.doc_id) AS min_match
           FROM inc JOIN b0 ON bit_count(xor(inc.ahash, b0.ahash)) <= 7
           GROUP BY inc.doc_id)
         SELECT doc_id, doc_id AS orig_id, 'orig' AS kind, TRUE AS admitted,
           CAST(0 AS BIGINT) AS n_matches, CAST(-1 AS BIGINT) AS min_match
         FROM b0
         UNION ALL
         SELECT inc.doc_id, inc.orig_id, inc.kind, m.doc_id IS NULL AS admitted,
           COALESCE(m.n_matches, 0) AS n_matches,
           COALESCE(m.min_match, -1) AS min_match
         FROM inc LEFT JOIN m ON m.doc_id = inc.doc_id
         ORDER BY doc_id"""),
    // retention THROUGH the perceptual gate: three batches, a guardrailed
    // sweep between stream runs, twins of aged-out parents re-admitting
    // Retention through the gate: batch-1 verdicts replay pairwise
    // against the evens; the post-sweep store is exactly the batch-1
    // ADMITTED odd hashes; twin verdicts replay pairwise against that
    // surviving set (gain twins carry their parent's loudness hash).
    Query("q_audio_claim_retention", MediaDedupStream.audioClaimRetentionQuery,
      """WITH d AS (SELECT doc_id, 64 + doc_id % 128 AS n FROM documents),
         sm AS (SELECT d.doc_id, ABS((d.doc_id * 31 + i.i * 17) % 2003 - 1001) AS a
           FROM d, LATERAL (SELECT unnest(range(d.n)) AS i) i),
         pk AS (SELECT doc_id, MAX(a) AS peak FROM sm GROUP BY doc_id),
         bk AS (SELECT sm.doc_id, (sm.a * 64) // pk.peak AS b
           FROM sm JOIN pk USING (doc_id)),
         cnts AS (SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS c
           FROM bk GROUP BY doc_id, b),
         grid AS (SELECT d.doc_id, g.k FROM d,
           LATERAL (SELECT unnest(range(65)) AS k) g),
         fullc AS (SELECT grid.doc_id, grid.k, COALESCE(cnts.c, 0) AS c
           FROM grid LEFT JOIN cnts
             ON cnts.doc_id = grid.doc_id AND cnts.b = grid.k),
         bits AS (SELECT a.doc_id, CAST(a.k AS INT) AS bi
           FROM fullc a JOIN fullc b ON b.doc_id = a.doc_id AND b.k = a.k + 1
           WHERE a.k < 64 AND b.c > a.c),
         ah AS (SELECT d.doc_id,
             COALESCE(CAST(SUM(CASE WHEN b.bi = 63 THEN -9223372036854775808
                                    ELSE CAST(1 AS BIGINT) << b.bi END) AS BIGINT), 0) AS ahash
           FROM d LEFT JOIN bits b USING (doc_id) GROUP BY d.doc_id),
         b0 AS (SELECT doc_id FROM documents WHERE doc_id % 2 = 0),
         b1 AS (SELECT doc_id FROM documents WHERE doc_id % 2 = 1),
         m1 AS (SELECT o.doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches,
             MIN(e.doc_id) AS min_match
           FROM b1 o, b0 e, ah ao, ah ae
           WHERE ao.doc_id = o.doc_id AND ae.doc_id = e.doc_id
             AND bit_count(xor(ao.ahash, ae.ahash)) <= 7
           GROUP BY o.doc_id),
         b1adm AS (SELECT b1.doc_id FROM b1
           LEFT JOIN m1 ON m1.doc_id = b1.doc_id WHERE m1.doc_id IS NULL),
         t AS (SELECT doc_id + 5000000 AS doc_id, doc_id AS orig_id
             FROM documents WHERE doc_id % 6 = 4
           UNION ALL
           SELECT doc_id + 7000000, doc_id
             FROM documents WHERE doc_id % 6 = 3),
         m2 AS (SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches,
             MIN(q.doc_id) AS min_match
           FROM t, b1adm q, ah ap, ah aq
           WHERE ap.doc_id = t.orig_id AND aq.doc_id = q.doc_id
             AND bit_count(xor(ap.ahash, aq.ahash)) <= 7
           GROUP BY t.doc_id)
         SELECT doc_id, orig_id, kind, admitted, n_matches, min_match FROM (
           SELECT doc_id, doc_id AS orig_id, 'orig' AS kind, TRUE AS admitted,
             CAST(0 AS BIGINT) AS n_matches, CAST(-1 AS BIGINT) AS min_match
           FROM b0
           UNION ALL
           SELECT b1.doc_id, b1.doc_id, 'orig', m1.doc_id IS NULL,
             COALESCE(m1.n_matches, 0), COALESCE(m1.min_match, -1)
           FROM b1 LEFT JOIN m1 ON m1.doc_id = b1.doc_id
           UNION ALL
           SELECT t.doc_id, t.orig_id, 'gain', m2.doc_id IS NULL,
             COALESCE(m2.n_matches, 0), COALESCE(m2.min_match, -1)
           FROM t LEFT JOIN m2 ON m2.doc_id = t.doc_id)
         ORDER BY doc_id"""),
    // cross-modal compose: the codec-verified media gates excise
    // text-curation survivors whose image/audio asset fails
    // Cross-modal curation: the text funnel's CTE chain (quality ->
    // first-wins dedup -> decontamination) extended with all three media
    // gates replayed over the generator arithmetic (image px_ok and
    // video gray fidelity are codec-guaranteed TRUE; audio peak
    // re-derived per sample; video frames/dims from the generator).
    Query("q_curation_multimodal", MultimodalOps.curationMultimodal,
      """WITH t AS (SELECT doc_id, text,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS words
           FROM documents),
         s AS (SELECT doc_id, text, words,
             CAST(len(words) AS BIGINT) AS n_words,
             CAST(list_sum(list_transform(words, w -> len(w))) AS BIGINT) AS sum_len,
             CAST(len(list_filter(words, w -> w = '#' OR w = '...')) AS BIGINT) AS n_symbol,
             CAST(len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
             CAST(len(list_filter(['the','a','of','and','is'],
               m -> list_contains(words, m))) AS BIGINT) AS n_required
           FROM t),
         f AS (SELECT doc_id, n_words, md5(text) AS fp, words,
             (n_words >= 10 AND n_words <= 1000
               AND sum_len >= n_words * 3 AND sum_len <= n_words * 10
               AND n_symbol * 10 <= n_words
               AND n_alpha * 5 >= n_words * 4
               AND n_required >= 2) AS keep_quality
           FROM s),
         shq AS (SELECT doc_id,
             CASE WHEN len(words) < 5 THEN CAST([] AS VARCHAR[])
                  ELSE list_distinct(list_transform(range(1, len(words) - 3),
                         i -> array_to_string(words[i:i+4], ' '))) END AS sh
           FROM f WHERE keep_quality),
         ev AS (SELECT list_filter(string_split_regex(substr(text, 21, 200), '\s+'), x -> x <> '') AS toks
           FROM documents WHERE doc_id % 50 = 0),
         es AS (SELECT DISTINCT unnest(
             CASE WHEN len(toks) < 5 THEN CAST([] AS VARCHAR[])
                  ELSE list_distinct(list_transform(range(1, len(toks) - 3),
                         i -> array_to_string(toks[i:i+4], ' '))) END) AS g
           FROM ev),
         cg AS (SELECT doc_id, unnest(sh) AS g FROM shq),
         cont AS (SELECT doc_id FROM cg JOIN es USING (g)
           GROUP BY doc_id HAVING COUNT(DISTINCT g) >= 8),
         fl AS (SELECT f.doc_id, f.n_words, f.keep_quality AS r1,
             (f.keep_quality AND f.doc_id =
               MIN(CASE WHEN f.keep_quality THEN f.doc_id END)
                 OVER (PARTITION BY f.fp)) AS r2,
             (cont.doc_id IS NOT NULL) AS is_cont
           FROM f LEFT JOIN cont ON f.doc_id = cont.doc_id),
         fl2 AS (SELECT doc_id, n_words, r1, r2, (r2 AND NOT is_cont) AS r3 FROM fl),
         med AS (SELECT d.doc_id,
             (16 + d.doc_id % 48 >= 32 AND 16 + d.doc_id % 32 >= 24) AS img_ok,
             ((64 + d.doc_id % 128) * 1000000 // 8000 >= 12000
               AND x.peak >= 200) AS audio_ok,
             (3 + d.doc_id % 5 >= 4 AND 16 + d.doc_id % 16 >= 20
               AND 12 + d.doc_id % 12 >= 16) AS video_ok
           FROM documents d, LATERAL (
             SELECT MAX(ABS((d.doc_id * 31 + i * 17) % 2003 - 1001)) AS peak
             FROM (SELECT unnest(range(64 + d.doc_id % 128)) AS i)) x),
         j AS (SELECT fl2.*, med.img_ok, med.audio_ok, med.video_ok
           FROM fl2 JOIN med ON med.doc_id = fl2.doc_id),
         agg AS (SELECT
             CAST(COUNT(*) AS BIGINT) AS d0,
             CAST(SUM(n_words) AS BIGINT) AS t0,
             CAST(SUM(CASE WHEN r1 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
             CAST(SUM(CASE WHEN r1 THEN n_words ELSE 0 END) AS BIGINT) AS t1,
             CAST(SUM(CASE WHEN r2 THEN 1 ELSE 0 END) AS BIGINT) AS d2,
             CAST(SUM(CASE WHEN r2 THEN n_words ELSE 0 END) AS BIGINT) AS t2,
             CAST(SUM(CASE WHEN r3 THEN 1 ELSE 0 END) AS BIGINT) AS d3,
             CAST(SUM(CASE WHEN r3 THEN n_words ELSE 0 END) AS BIGINT) AS t3,
             CAST(SUM(CASE WHEN r3 AND img_ok THEN 1 ELSE 0 END) AS BIGINT) AS d4,
             CAST(SUM(CASE WHEN r3 AND img_ok THEN n_words ELSE 0 END) AS BIGINT) AS t4,
             CAST(SUM(CASE WHEN r3 AND img_ok AND audio_ok THEN 1 ELSE 0 END) AS BIGINT) AS d5,
             CAST(SUM(CASE WHEN r3 AND img_ok AND audio_ok THEN n_words ELSE 0 END) AS BIGINT) AS t5,
             CAST(SUM(CASE WHEN r3 AND img_ok AND audio_ok AND video_ok THEN 1 ELSE 0 END) AS BIGINT) AS d6,
             CAST(SUM(CASE WHEN r3 AND img_ok AND audio_ok AND video_ok THEN n_words ELSE 0 END) AS BIGINT) AS t6
           FROM j)
         SELECT stage, n_docs, n_tokens FROM (
           SELECT '00_ingest' AS stage, d0 AS n_docs, t0 AS n_tokens FROM agg
           UNION ALL SELECT '01_quality', d1, t1 FROM agg
           UNION ALL SELECT '02_dedup', d2, t2 FROM agg
           UNION ALL SELECT '03_decontam', d3, t3 FROM agg
           UNION ALL SELECT '04_media_image', d4, t4 FROM agg
           UNION ALL SELECT '05_media_audio', d5, t5 FROM agg
           UNION ALL SELECT '06_media_video', d6, t6 FROM agg)
         ORDER BY stage"""),
    // the multimodal corpus build product: (text AND media) survivors ->
    // training order -> sharded store -> loader manifest
    // Multimodal curated store: the cross-modal funnel's survivors
    // (text chain AND both media gates, replayed over the generator
    // arithmetic) ranked into the md5 training order and folded to the
    // 4-shard loader manifest.
    Query("q_curated_store_multimodal", (s, d) => MultimodalOps.curatedStoreMultimodal(s, d),
      """WITH t AS (SELECT doc_id, text,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS words
           FROM documents),
         s AS (SELECT doc_id, text, words,
             CAST(len(words) AS BIGINT) AS n_words,
             CAST(list_sum(list_transform(words, w -> len(w))) AS BIGINT) AS sum_len,
             CAST(len(list_filter(words, w -> w = '#' OR w = '...')) AS BIGINT) AS n_symbol,
             CAST(len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
             CAST(len(list_filter(['the','a','of','and','is'],
               m -> list_contains(words, m))) AS BIGINT) AS n_required
           FROM t),
         f AS (SELECT doc_id, n_words, md5(text) AS fp, words,
             (n_words >= 10 AND n_words <= 1000
               AND sum_len >= n_words * 3 AND sum_len <= n_words * 10
               AND n_symbol * 10 <= n_words
               AND n_alpha * 5 >= n_words * 4
               AND n_required >= 2) AS keep_quality
           FROM s),
         shq AS (SELECT doc_id,
             CASE WHEN len(words) < 5 THEN CAST([] AS VARCHAR[])
                  ELSE list_distinct(list_transform(range(1, len(words) - 3),
                         i -> array_to_string(words[i:i+4], ' '))) END AS sh
           FROM f WHERE keep_quality),
         ev AS (SELECT list_filter(string_split_regex(substr(text, 21, 200), '\s+'), x -> x <> '') AS toks
           FROM documents WHERE doc_id % 50 = 0),
         es AS (SELECT DISTINCT unnest(
             CASE WHEN len(toks) < 5 THEN CAST([] AS VARCHAR[])
                  ELSE list_distinct(list_transform(range(1, len(toks) - 3),
                         i -> array_to_string(toks[i:i+4], ' '))) END) AS g
           FROM ev),
         cg AS (SELECT doc_id, unnest(sh) AS g FROM shq),
         cont AS (SELECT doc_id FROM cg JOIN es USING (g)
           GROUP BY doc_id HAVING COUNT(DISTINCT g) >= 8),
         fl AS (SELECT f.doc_id, f.n_words,
             (f.keep_quality AND f.doc_id =
               MIN(CASE WHEN f.keep_quality THEN f.doc_id END)
                 OVER (PARTITION BY f.fp)
               AND cont.doc_id IS NULL) AS r3
           FROM f LEFT JOIN cont ON f.doc_id = cont.doc_id),
         med AS (SELECT d.doc_id,
             (16 + d.doc_id % 48 >= 32 AND 16 + d.doc_id % 32 >= 24) AS img_ok,
             ((64 + d.doc_id % 128) * 1000000 // 8000 >= 12000
               AND x.peak >= 200) AS audio_ok,
             (3 + d.doc_id % 5 >= 4 AND 16 + d.doc_id % 16 >= 20
               AND 12 + d.doc_id % 12 >= 16) AS video_ok
           FROM documents d, LATERAL (
             SELECT MAX(ABS((d.doc_id * 31 + i * 17) % 2003 - 1001)) AS peak
             FROM (SELECT unnest(range(64 + d.doc_id % 128)) AS i)) x),
         surv AS (SELECT fl.doc_id, fl.n_words,
             row_number() OVER (ORDER BY md5(CAST(fl.doc_id AS VARCHAR)), fl.doc_id) - 1 AS pos
           FROM fl JOIN med ON med.doc_id = fl.doc_id
           WHERE fl.r3 AND med.img_ok AND med.audio_ok AND med.video_ok)
         SELECT CAST(pos % 4 AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS n_tokens,
           CAST(MIN(pos) AS BIGINT) AS min_pos,
           CAST(MAX(pos) AS BIGINT) AS max_pos,
           list_reduce(list_prepend('', list(CAST(doc_id AS VARCHAR) ORDER BY pos)),
             (acc, x) -> md5(acc || ',' || x)) AS order_digest
         FROM surv GROUP BY 1 ORDER BY shard""")
  )
}
