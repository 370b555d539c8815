package graft.queries

import graft.streaming.CurationStream
import TextQueries.bpeTrainerCtes

/** The streaming curation stores: incremental, tokenized and
  * multimodal stores, and claim retention. */
object CurationQueries {
  val all: Seq[Query] = Seq(
    // streaming twin of the curation funnel: per-doc verdicts with
    // cross-batch first-wins dedup state (even docs arrive, then odd)
    // Streaming curation gate: deterministic in the fixed arrival order
    // (even doc_ids then odd), so the class winner minimizes
    // (batch index, doc_id) — encoded as parity*1e9 + doc_id.
    Query("q_curation_stream", CurationStream.curationStreamQuery,
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
         f AS (SELECT doc_id, md5(text) AS fp, words,
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
         w AS (SELECT doc_id, fp, keep_quality,
             (doc_id % 2) * 1000000000 + doc_id AS wk
           FROM f),
         fl AS (SELECT w.doc_id, w.keep_quality,
             (w.keep_quality AND w.wk <>
               MIN(CASE WHEN w.keep_quality THEN w.wk END)
                 OVER (PARTITION BY w.fp)) AS is_dup,
             (cont.doc_id IS NOT NULL) AS is_contaminated
           FROM w LEFT JOIN cont ON w.doc_id = cont.doc_id)
         SELECT doc_id, keep_quality, is_dup, is_contaminated,
           (keep_quality AND NOT is_dup AND NOT is_contaminated) AS admitted
         FROM fl ORDER BY doc_id"""),
    // incremental curated store: each micro-batch's admitted docs append
    // as shard tails; manifest read back from the on-disk store
    // Incremental curated store: the stream gate's admitted set in the
    // fixed arrival order (winner minimizes (batch, doc_id)), then the
    // two-stage tail ranking — batch-0 survivors ranked by md5 order,
    // batch-1 survivors ranked after them — folded to the same 4-shard
    // manifest fields as q_curated_store.
    Query("q_curated_store_incremental", CurationStream.curatedStoreIncrementalQuery,
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
         w AS (SELECT doc_id, n_words, fp, keep_quality,
             (doc_id % 2) * 1000000000 + doc_id AS wk
           FROM f),
         fl AS (SELECT w.doc_id, w.n_words,
             (w.keep_quality AND w.wk =
               MIN(CASE WHEN w.keep_quality THEN w.wk END)
                 OVER (PARTITION BY w.fp)
               AND cont.doc_id IS NULL) AS admitted
           FROM w LEFT JOIN cont ON w.doc_id = cont.doc_id),
         b0 AS (SELECT doc_id, n_words,
             row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS pos
           FROM fl WHERE admitted AND doc_id % 2 = 0),
         b1 AS (SELECT doc_id, n_words,
             (SELECT COUNT(*) FROM b0) +
               row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS pos
           FROM fl WHERE admitted AND doc_id % 2 = 1),
         u AS (SELECT * FROM b0 UNION ALL SELECT * FROM b1)
         SELECT CAST(pos % 4 AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS n_tokens,
           CAST(MIN(pos) AS BIGINT) AS min_pos,
           CAST(MAX(pos) AS BIGINT) AS max_pos,
           list_reduce(list_prepend('', list(CAST(doc_id AS VARCHAR) ORDER BY pos)),
             (acc, x) -> md5(acc || ',' || x)) AS order_digest
         FROM u GROUP BY 1 ORDER BY shard"""),
    // incremental TOKENIZED store: each micro-batch's admitted docs
    // BPE-encode and pack into context windows continuing the store's
    // global token offset; manifest read back from the on-disk store
    Query("q_tokenized_store_incremental", CurationStream.tokenizedStoreIncrementalQuery,
      tokenizedStoreIncrementalOracleSql),
    // the tokenizer-refresh lifecycle DEPLOYED on the production
    // incremental tokenized store: per-batch encode under the committed
    // vocab artifact, era/vocab-stamped layout, canary-gated retrain,
    // stale-era-only refresh; per-(era, shard) manifest read back
    Query("q_tokenized_store_refresh", CurationStream.tokenizedStoreRefreshQuery,
      tokenizedStoreRefreshOracleSql(6)),
    // the offline window REPACK completing the refresh lifecycle: the
    // grid re-derives from the refreshed payload's token counts, back
    // to exact ctx alignment (positions immutable)
    Query("q_tokenized_store_repack", CurationStream.tokenizedStoreRepackQuery,
      tokenizedStoreRepackOracleSql(6)),
    // streaming CROSS-MODAL gate: text funnel composed with the media
    // property gates and the accreting perceptual claim store per batch
    // per-batch stream funnel: the batch build's drop-accounting emitted
    // per micro-batch, replay-safe via tuple-max resolution
    // Streaming cross-modal gate: the text stream CTE chain composed
    // with both media property gates (generator arithmetic; px_ok is
    // codec-guaranteed) and the perceptual audio claim store replayed
    // in arrival order — batch 0 (even ids) claims every loudness hash
    // against an empty store, batch 1 (odd ids) is judged against
    // exactly those fingerprints, brute-force pairwise at radius 7.
    // Per-batch stream funnel: the mm stream chain per parity batch,
    // folded into the 8-stage drop-accounting (text chain, three media
    // property gates, perceptual novelty) — counts and token sums.
    Query("q_curation_stream_funnel", CurationStream.curationStreamFunnelQuery,
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
         d AS (SELECT doc_id, 64 + doc_id % 128 AS n FROM documents),
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
         med AS (SELECT documents.doc_id,
             (16 + documents.doc_id % 48 >= 32
               AND 16 + documents.doc_id % 32 >= 24) AS img_ok,
             ((64 + documents.doc_id % 128) * 1000000 // 8000 >= 12000
               AND pk.peak >= 200) AS audio_ok,
             (documents.doc_id % 5 >= 1 AND documents.doc_id % 16 >= 4
               AND documents.doc_id % 12 >= 4) AS video_ok
           FROM documents JOIN pk ON pk.doc_id = documents.doc_id),
         mdup AS (SELECT o.doc_id FROM ah o JOIN ah e
             ON o.doc_id % 2 = 1 AND e.doc_id % 2 = 0
               AND bit_count(xor(o.ahash, e.ahash)) <= 7
           GROUP BY o.doc_id),
         vsig AS (SELECT doc_id, array_to_string(
             list_transform(range(0, 2 + doc_id % 5),
               f -> ((doc_id * 13 + (f + 1) * 29) % 224)
                  - ((doc_id * 13 + f * 29) % 224)), ',') AS sig
           FROM documents),
         vdup AS (SELECT o.doc_id FROM vsig o JOIN vsig e
             ON o.doc_id % 2 = 1 AND e.doc_id % 2 = 0 AND o.sig = e.sig
           GROUP BY o.doc_id),
         w AS (SELECT doc_id, n_words, fp, keep_quality,
             (doc_id % 2) * 1000000000 + doc_id AS wk
           FROM f),
         fl AS (SELECT w.doc_id, w.n_words, w.keep_quality,
             (w.keep_quality AND w.wk <>
               MIN(CASE WHEN w.keep_quality THEN w.wk END)
                 OVER (PARTITION BY w.fp)) AS is_dup,
             (cont.doc_id IS NOT NULL) AS is_contaminated
           FROM w LEFT JOIN cont ON w.doc_id = cont.doc_id),
         base AS (SELECT fl.doc_id % 2 AS batch_id, fl.n_words,
             fl.keep_quality AS r1,
             (fl.keep_quality AND NOT fl.is_dup) AS r2,
             (fl.keep_quality AND NOT fl.is_dup AND NOT fl.is_contaminated) AS r3,
             med.img_ok, med.audio_ok, med.video_ok,
             (mdup.doc_id IS NOT NULL) AS media_dup,
             (vdup.doc_id IS NOT NULL) AS video_dup
           FROM fl
           JOIN med ON med.doc_id = fl.doc_id
           LEFT JOIN mdup ON mdup.doc_id = fl.doc_id
           LEFT JOIN vdup ON vdup.doc_id = fl.doc_id),
         st AS (SELECT batch_id, n_words, r1, r2, r3,
             (r3 AND img_ok) AS s4,
             (r3 AND img_ok AND audio_ok) AS s5,
             (r3 AND img_ok AND audio_ok AND video_ok) AS s6,
             (r3 AND img_ok AND audio_ok AND video_ok
               AND NOT media_dup AND NOT video_dup) AS s7
           FROM base),
         agg AS (SELECT batch_id,
             CAST(COUNT(*) AS BIGINT) AS d0, CAST(SUM(n_words) AS BIGINT) AS t0,
             CAST(SUM(CASE WHEN r1 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
             CAST(SUM(CASE WHEN r1 THEN n_words ELSE 0 END) AS BIGINT) AS t1,
             CAST(SUM(CASE WHEN r2 THEN 1 ELSE 0 END) AS BIGINT) AS d2,
             CAST(SUM(CASE WHEN r2 THEN n_words ELSE 0 END) AS BIGINT) AS t2,
             CAST(SUM(CASE WHEN r3 THEN 1 ELSE 0 END) AS BIGINT) AS d3,
             CAST(SUM(CASE WHEN r3 THEN n_words ELSE 0 END) AS BIGINT) AS t3,
             CAST(SUM(CASE WHEN s4 THEN 1 ELSE 0 END) AS BIGINT) AS d4,
             CAST(SUM(CASE WHEN s4 THEN n_words ELSE 0 END) AS BIGINT) AS t4,
             CAST(SUM(CASE WHEN s5 THEN 1 ELSE 0 END) AS BIGINT) AS d5,
             CAST(SUM(CASE WHEN s5 THEN n_words ELSE 0 END) AS BIGINT) AS t5,
             CAST(SUM(CASE WHEN s6 THEN 1 ELSE 0 END) AS BIGINT) AS d6,
             CAST(SUM(CASE WHEN s6 THEN n_words ELSE 0 END) AS BIGINT) AS t6,
             CAST(SUM(CASE WHEN s7 THEN 1 ELSE 0 END) AS BIGINT) AS d7,
             CAST(SUM(CASE WHEN s7 THEN n_words ELSE 0 END) AS BIGINT) AS t7
           FROM st GROUP BY batch_id)
         SELECT CAST(batch_id AS BIGINT) AS batch_id, stage, n_docs, n_tokens FROM (
           SELECT batch_id, '00_ingest' AS stage, d0 AS n_docs, t0 AS n_tokens FROM agg
           UNION ALL SELECT batch_id, '01_quality', d1, t1 FROM agg
           UNION ALL SELECT batch_id, '02_dedup', d2, t2 FROM agg
           UNION ALL SELECT batch_id, '03_decontam', d3, t3 FROM agg
           UNION ALL SELECT batch_id, '04_media_image', d4, t4 FROM agg
           UNION ALL SELECT batch_id, '05_media_audio', d5, t5 FROM agg
           UNION ALL SELECT batch_id, '06_media_video', d6, t6 FROM agg
           UNION ALL SELECT batch_id, '07_media_novel', d7, t7 FROM agg)
         ORDER BY batch_id, stage"""),
    // claim retention: epoch-stamped claims, guardrailed sweep at the
    // horizon — aged-out classes re-admit, in-horizon classes reject
    // Retention sweep: epoch = doc parity; the sweep keeps epoch >= 1,
    // so a class only even docs carry loses every claim (re-admits) and
    // a class any odd doc carries keeps exactly its epoch-1 claim.
    Query("q_claim_retention", CurationStream.claimRetentionQuery,
      """WITH f AS (SELECT doc_id, md5(text) AS fp FROM documents),
         agg AS (SELECT fp,
             MAX(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS has0,
             MAX(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS has1
           FROM f GROUP BY fp)
         SELECT fp, CAST(has0 + has1 AS BIGINT) AS n_claims_before,
           CAST(has1 AS BIGINT) AS n_claims_after,
           (has1 = 0) AS re_admits
         FROM agg ORDER BY fp"""),
    // retention THROUGH the text gate: two epochs, a guardrailed sweep
    // between runs, twins of aged-out classes re-admitting
    // Retention through the TEXT gate: batch 0 (evens) windows against
    // an empty store, batch 1 (odds) against the even claim set c1, the
    // sweep leaves exactly the classes batch 1 claimed (c2 = quality
    // odds whose class no quality even holds), and the twin run windows
    // against c2 alone — an aged-out class re-admits via its first twin.
    Query("q_curation_claim_retention", CurationStream.curationClaimRetentionQuery,
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
         f AS (SELECT doc_id, md5(text) AS fp, words,
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
         w0 AS (SELECT doc_id, fp, keep_quality FROM f WHERE doc_id % 2 = 0),
         v0 AS (SELECT doc_id, doc_id AS cdoc, keep_quality,
             (keep_quality AND doc_id <>
               MIN(CASE WHEN keep_quality THEN doc_id END)
                 OVER (PARTITION BY fp)) AS is_dup
           FROM w0),
         c1 AS (SELECT DISTINCT fp FROM w0 WHERE keep_quality),
         w1 AS (SELECT doc_id, fp, keep_quality FROM f WHERE doc_id % 2 = 1),
         v1 AS (SELECT w1.doc_id, w1.doc_id AS cdoc, w1.keep_quality,
             (w1.keep_quality AND (c1.fp IS NOT NULL OR w1.doc_id <>
               MIN(CASE WHEN w1.keep_quality THEN w1.doc_id END)
                 OVER (PARTITION BY w1.fp))) AS is_dup
           FROM w1 LEFT JOIN c1 ON w1.fp = c1.fp),
         c2 AS (SELECT DISTINCT w1.fp FROM w1 LEFT JOIN c1 ON w1.fp = c1.fp
           WHERE w1.keep_quality AND c1.fp IS NULL),
         tw AS (SELECT doc_id + 5000000 AS doc_id, doc_id AS parent
             FROM documents WHERE doc_id % 6 = 4
           UNION ALL
           SELECT doc_id + 7000000, doc_id
             FROM documents WHERE doc_id % 6 = 3),
         wt AS (SELECT tw.doc_id, f.fp, f.keep_quality, tw.parent
           FROM tw JOIN f ON f.doc_id = tw.parent),
         v2 AS (SELECT wt.doc_id, wt.parent AS cdoc, wt.keep_quality,
             (wt.keep_quality AND (c2.fp IS NOT NULL OR wt.doc_id <>
               MIN(CASE WHEN wt.keep_quality THEN wt.doc_id END)
                 OVER (PARTITION BY wt.fp))) AS is_dup
           FROM wt LEFT JOIN c2 ON wt.fp = c2.fp),
         base AS (SELECT * FROM v0 UNION ALL SELECT * FROM v1
           UNION ALL SELECT * FROM v2)
         SELECT base.doc_id, base.keep_quality, base.is_dup,
           (cont.doc_id IS NOT NULL) AS is_contaminated,
           (base.keep_quality AND NOT base.is_dup
             AND cont.doc_id IS NULL) AS admitted
         FROM base LEFT JOIN cont ON base.cdoc = cont.doc_id
         ORDER BY base.doc_id"""),
    Query("q_curation_multimodal_stream", CurationStream.curationMultimodalStreamQuery,
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
         f AS (SELECT doc_id, md5(text) AS fp, words,
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
         w AS (SELECT doc_id, fp, keep_quality,
             (doc_id % 2) * 1000000000 + doc_id AS wk
           FROM f),
         fl AS (SELECT w.doc_id, w.keep_quality,
             (w.keep_quality AND w.wk <>
               MIN(CASE WHEN w.keep_quality THEN w.wk END)
                 OVER (PARTITION BY w.fp)) AS is_dup,
             (cont.doc_id IS NOT NULL) AS is_contaminated
           FROM w LEFT JOIN cont ON w.doc_id = cont.doc_id),
         d AS (SELECT doc_id, 64 + doc_id % 128 AS n FROM documents),
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
         med AS (SELECT documents.doc_id,
             (16 + documents.doc_id % 48 >= 32
               AND 16 + documents.doc_id % 32 >= 24) AS img_ok,
             ((64 + documents.doc_id % 128) * 1000000 // 8000 >= 12000
               AND pk.peak >= 200) AS audio_ok,
             (documents.doc_id % 5 >= 1 AND documents.doc_id % 16 >= 4
               AND documents.doc_id % 12 >= 4) AS video_ok
           FROM documents JOIN pk ON pk.doc_id = documents.doc_id),
         mdup AS (SELECT o.doc_id FROM ah o JOIN ah e
             ON o.doc_id % 2 = 1 AND e.doc_id % 2 = 0
               AND bit_count(xor(o.ahash, e.ahash)) <= 7
           GROUP BY o.doc_id),
         vsig AS (SELECT doc_id, array_to_string(
             list_transform(range(0, 2 + doc_id % 5),
               f -> ((doc_id * 13 + (f + 1) * 29) % 224)
                  - ((doc_id * 13 + f * 29) % 224)), ',') AS sig
           FROM documents),
         vdup AS (SELECT o.doc_id FROM vsig o JOIN vsig e
             ON o.doc_id % 2 = 1 AND e.doc_id % 2 = 0 AND o.sig = e.sig
           GROUP BY o.doc_id)
         SELECT fl.doc_id, fl.keep_quality, fl.is_dup, fl.is_contaminated,
           med.img_ok, med.audio_ok,
           (mdup.doc_id IS NOT NULL) AS media_dup,
           med.video_ok,
           (vdup.doc_id IS NOT NULL) AS video_dup,
           (fl.keep_quality AND NOT fl.is_dup AND NOT fl.is_contaminated
             AND med.img_ok AND med.audio_ok
             AND mdup.doc_id IS NULL
             AND med.video_ok AND vdup.doc_id IS NULL) AS admitted
         FROM fl
         JOIN med ON med.doc_id = fl.doc_id
         LEFT JOIN mdup ON mdup.doc_id = fl.doc_id
         LEFT JOIN vdup ON vdup.doc_id = fl.doc_id
         ORDER BY fl.doc_id"""),
    // the composed gate driving the incremental curated store — the full
    // incremental multimodal pre-training loop in one artifact
    // Incremental MULTIMODAL curated store: the incremental-store chain
    // with the cross-modal stream gate composed into the admitted
    // predicate — property gates from the generator arithmetic, the
    // perceptual claim store as the brute-force odd-vs-even pairwise
    // loudness-hash join, then the two-stage tail ranking and manifest.
    Query("q_curated_store_multimodal_stream", CurationStream.curatedStoreMultimodalStreamQuery,
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
         d AS (SELECT doc_id, 64 + doc_id % 128 AS n FROM documents),
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
         med AS (SELECT documents.doc_id,
             (16 + documents.doc_id % 48 >= 32
               AND 16 + documents.doc_id % 32 >= 24) AS img_ok,
             ((64 + documents.doc_id % 128) * 1000000 // 8000 >= 12000
               AND pk.peak >= 200) AS audio_ok,
             (documents.doc_id % 5 >= 1 AND documents.doc_id % 16 >= 4
               AND documents.doc_id % 12 >= 4) AS video_ok
           FROM documents JOIN pk ON pk.doc_id = documents.doc_id),
         mdup AS (SELECT o.doc_id FROM ah o JOIN ah e
             ON o.doc_id % 2 = 1 AND e.doc_id % 2 = 0
               AND bit_count(xor(o.ahash, e.ahash)) <= 7
           GROUP BY o.doc_id),
         vsig AS (SELECT doc_id, array_to_string(
             list_transform(range(0, 2 + doc_id % 5),
               f -> ((doc_id * 13 + (f + 1) * 29) % 224)
                  - ((doc_id * 13 + f * 29) % 224)), ',') AS sig
           FROM documents),
         vdup AS (SELECT o.doc_id FROM vsig o JOIN vsig e
             ON o.doc_id % 2 = 1 AND e.doc_id % 2 = 0 AND o.sig = e.sig
           GROUP BY o.doc_id),
         w AS (SELECT doc_id, n_words, fp, keep_quality,
             (doc_id % 2) * 1000000000 + doc_id AS wk
           FROM f),
         fl AS (SELECT w.doc_id, w.n_words,
             (w.keep_quality AND w.wk =
               MIN(CASE WHEN w.keep_quality THEN w.wk END)
                 OVER (PARTITION BY w.fp)
               AND cont.doc_id IS NULL
               AND med.img_ok AND med.audio_ok
               AND mdup.doc_id IS NULL
               AND med.video_ok AND vdup.doc_id IS NULL) AS admitted
           FROM w
           JOIN med ON med.doc_id = w.doc_id
           LEFT JOIN cont ON w.doc_id = cont.doc_id
           LEFT JOIN mdup ON mdup.doc_id = w.doc_id
           LEFT JOIN vdup ON vdup.doc_id = w.doc_id),
         b0 AS (SELECT doc_id, n_words,
             row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS pos
           FROM fl WHERE admitted AND doc_id % 2 = 0),
         b1 AS (SELECT doc_id, n_words,
             (SELECT COUNT(*) FROM b0) +
               row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS pos
           FROM fl WHERE admitted AND doc_id % 2 = 1),
         u AS (SELECT * FROM b0 UNION ALL SELECT * FROM b1)
         SELECT CAST(pos % 4 AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS n_tokens,
           CAST(MIN(pos) AS BIGINT) AS min_pos,
           CAST(MAX(pos) AS BIGINT) AS max_pos,
           list_reduce(list_prepend('', list(CAST(doc_id AS VARCHAR) ORDER BY pos)),
             (acc, x) -> md5(acc || ',' || x)) AS order_digest
         FROM u GROUP BY 1 ORDER BY shard""")
  )

  /** DuckDB twin of
    * [[graft.streaming.CurationStream.tokenizedStoreRefreshQuery]] — the
    * refresh lifecycle ON the production incremental tokenized store:
    * the arrival-order curation chain decides admission per parity era;
    * the WINDOW GRID is frozen at write time (era 0 packed under the
    * pinned v0 token counts from offset 0, era 1 under the retrained
    * table's counts continuing era 0's v0 token total — the TailCounter
    * contract); the k-round trainer replays and the refreshed store's
    * END STATE carries the learned-table payload everywhere (era 0
    * re-encoded by the stale-era rewrite, era 1 born on it); manifests
    * fold per (era, shard) with the pos-ordered token digest. */
  private def tokenizedStoreRefreshOracleSql(k: Int): String = {
    val enc =
      """'  ' || array_to_string(list_transform(range(1, len(w) + 1), i -> substr(w, i, 1)), '  ') || '  '"""
    val mergedV0 = graft.operators.TextOps.BpeMergeTable.foldLeft(enc) {
      case (e, (a, b)) => s"replace($e, ' $a  $b ', ' $a$b ')"
    }
    s"""WITH ${tokenizedRefreshCommonCtes(k)},
       n0 AS (SELECT t.doc_id,
           CAST(list_sum(list_transform(t.words,
             w -> len(string_split(trim($mergedV0), '  ')))) AS BIGINT) AS n_bpe0
         FROM t WHERE t.doc_id IN (SELECT doc_id FROM adm)),
       c0 AS MATERIALIZED (SELECT r.doc_id, r.pos, n0.n_bpe0,
           SUM(n0.n_bpe0) OVER (ORDER BY r.pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         FROM r JOIN n0 USING (doc_id) WHERE r.era = 0),
       tot0 AS MATERIALIZED (SELECT COALESCE(CAST(SUM(n_bpe0) AS BIGINT), 0) AS tot FROM c0),
       wn0 AS (SELECT doc_id, (cum - n_bpe0) // 2048 AS win FROM c0),
       c1 AS (SELECT r.doc_id, r.pos, e1.n_bpe,
           SUM(e1.n_bpe) OVER (ORDER BY r.pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         FROM r JOIN e1 USING (doc_id) WHERE r.era = 1),
       wn1 AS (SELECT doc_id, ((SELECT tot FROM tot0) + cum - n_bpe) // 2048 AS win FROM c1),
       wins AS (SELECT * FROM wn0 UNION ALL SELECT * FROM wn1)
       ${tokenizedEraManifestSelect()}"""
  }

  /** The REPACK twin
    * ([[graft.streaming.CurationStream.tokenizedStoreRepackQuery]]):
    * same chain, but the window grid re-derives from the RETRAINED
    * table's token counts over ALL rows in pos order — the exact-ctx
    * realignment the offline repack restores after a payload-only
    * refresh. */
  private def tokenizedStoreRepackOracleSql(k: Int): String =
    s"""WITH ${tokenizedRefreshCommonCtes(k)},
       c AS MATERIALIZED (SELECT r.doc_id, r.pos, e1.n_bpe,
           SUM(e1.n_bpe) OVER (ORDER BY r.pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         FROM r JOIN e1 USING (doc_id)),
       wins AS (SELECT doc_id, (cum - n_bpe) // 2048 AS win FROM c)
       ${tokenizedEraManifestSelect()}"""

  /** Shared final SELECT of the refresh/repack oracles: the
    * per-(era, shard) window-grain manifest with the pos-ordered token
    * digest (expects CTEs `r`, `e1`, `wins`). */
  private def tokenizedEraManifestSelect(): String =
    """, rws AS (SELECT r.era, wins.win, wins.win % 4 AS shard, r.pos,
           e1.n_bpe, e1.tok_str
         FROM r JOIN wins USING (doc_id) JOIN e1 USING (doc_id))
       SELECT CAST(era AS BIGINT) AS era, CAST(shard AS BIGINT) AS shard,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(COUNT(DISTINCT win) AS BIGINT) AS n_windows,
         CAST(SUM(n_bpe) AS BIGINT) AS n_tokens,
         CAST(MIN(pos) AS BIGINT) AS min_pos,
         CAST(MAX(pos) AS BIGINT) AS max_pos,
         CAST(MIN(win) AS BIGINT) AS min_win,
         CAST(MAX(win) AS BIGINT) AS max_win,
         CAST(1 AS BIGINT) AS vocab,
         list_reduce(list_prepend('', list(tok_str ORDER BY pos)),
           (acc, x) -> md5(acc || ',' || x)) AS token_digest
       FROM rws GROUP BY era, shard ORDER BY era, shard"""

  /** The chain shared by the refresh and repack oracles: k-round trainer,
    * arrival-order curation (admission per parity era), the retrained-
    * table encode of every admitted doc (`e1`), and the global md5 ranks
    * (`r`). */
  private def tokenizedRefreshCommonCtes(k: Int): String =
    s"""${bpeTrainerCtes(k)},
       t AS (SELECT doc_id, text,
           list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS words
         FROM documents),
       sq AS (SELECT doc_id, text, words,
           CAST(len(words) AS BIGINT) AS n_words,
           CAST(list_sum(list_transform(words, w -> len(w))) AS BIGINT) AS sum_len,
           CAST(len(list_filter(words, w -> w = '#' OR w = '...')) AS BIGINT) AS n_symbol,
           CAST(len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
           CAST(len(list_filter(['the','a','of','and','is'],
             m -> list_contains(words, m))) AS BIGINT) AS n_required
         FROM t),
       f AS (SELECT doc_id, md5(text) AS fp, words,
           (n_words >= 10 AND n_words <= 1000
             AND sum_len >= n_words * 3 AND sum_len <= n_words * 10
             AND n_symbol * 10 <= n_words
             AND n_alpha * 5 >= n_words * 4
             AND n_required >= 2) AS keep_quality
         FROM sq),
       shq AS (SELECT doc_id,
           CASE WHEN len(words) < 5 THEN CAST([] AS VARCHAR[])
                ELSE list_distinct(list_transform(range(1, len(words) - 3),
                       i -> array_to_string(words[i:i+4], ' '))) END AS sh
         FROM f WHERE keep_quality),
       ev AS (SELECT list_filter(string_split_regex(substr(text, 21, 200), '\\s+'), x -> x <> '') AS toks
         FROM documents WHERE doc_id % 50 = 0),
       es AS (SELECT DISTINCT unnest(
           CASE WHEN len(toks) < 5 THEN CAST([] AS VARCHAR[])
                ELSE list_distinct(list_transform(range(1, len(toks) - 3),
                       i -> array_to_string(toks[i:i+4], ' '))) END) AS g
         FROM ev),
       cg AS (SELECT doc_id, unnest(sh) AS g FROM shq),
       cont AS (SELECT doc_id FROM cg JOIN es USING (g)
         GROUP BY doc_id HAVING COUNT(DISTINCT g) >= 8),
       wv AS (SELECT doc_id, fp, keep_quality,
           (doc_id % 2) * 1000000000 + doc_id AS wk
         FROM f),
       fl AS (SELECT wv.doc_id,
           (wv.keep_quality AND wv.wk =
             MIN(CASE WHEN wv.keep_quality THEN wv.wk END)
               OVER (PARTITION BY wv.fp)
             AND cont.doc_id IS NULL) AS admitted
         FROM wv LEFT JOIN cont ON wv.doc_id = cont.doc_id),
       adm AS MATERIALIZED (SELECT doc_id, doc_id % 2 AS era FROM fl WHERE admitted),
       wu AS (SELECT t.doc_id, i.i AS wi, t.words[i.i] AS w
         FROM t, LATERAL (SELECT unnest(range(1, len(t.words) + 1)) AS i) i
         WHERE len(t.words) > 0 AND t.doc_id IN (SELECT doc_id FROM adm)),
       wp AS (SELECT word, string_split(trim(s), '  ') AS pcs FROM s$k),
       pe AS (SELECT wu.doc_id, wu.wi, wp.pcs
         FROM wu JOIN wp ON wp.word = wu.w),
       de AS (SELECT doc_id, flatten(list(pcs ORDER BY wi)) AS pcs
         FROM pe GROUP BY doc_id),
       e1 AS MATERIALIZED (SELECT doc_id, CAST(len(pcs) AS BIGINT) AS n_bpe,
           array_to_string(pcs, ' ') AS tok_str FROM de),
       r AS MATERIALIZED (SELECT doc_id, era,
           row_number() OVER (ORDER BY era, md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS pos
         FROM adm)"""

  /** DuckDB twin of the INCREMENTAL tokenized store
    * ([[graft.streaming.CurationStream.tokenizedStoreIncrementalQuery]]):
    * arrival-order stream verdicts (class winner minimizes
    * (batch, doc_id)), per-batch md5 ranking concatenated batch-major,
    * the unrolled merge-table encode, and the CROSS-BATCH window prefix
    * sum — batch 1's first window continues batch 0's partial tail. */
  private def tokenizedStoreIncrementalOracleSql: String = {
    val enc =
      """'  ' || array_to_string(list_transform(range(1, len(w) + 1), i -> substr(w, i, 1)), '  ') || '  '"""
    val merged = graft.operators.TextOps.BpeMergeTable.foldLeft(enc) {
      case (e, (a, b)) => s"replace($e, ' $a  $b ', ' $a$b ')"
    }
    s"""WITH t AS (SELECT doc_id, text,
           list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS words
         FROM documents),
       s AS (SELECT doc_id, text, words,
           CAST(len(words) AS BIGINT) AS n_words,
           CAST(list_sum(list_transform(words, w -> len(w))) AS BIGINT) AS sum_len,
           CAST(len(list_filter(words, w -> w = '#' OR w = '...')) AS BIGINT) AS n_symbol,
           CAST(len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
           CAST(len(list_filter(['the','a','of','and','is'],
             m -> list_contains(words, m))) AS BIGINT) AS n_required
         FROM t),
       f AS (SELECT doc_id, md5(text) AS fp, words,
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
       ev AS (SELECT list_filter(string_split_regex(substr(text, 21, 200), '\\s+'), x -> x <> '') AS toks
         FROM documents WHERE doc_id % 50 = 0),
       es AS (SELECT DISTINCT unnest(
           CASE WHEN len(toks) < 5 THEN CAST([] AS VARCHAR[])
                ELSE list_distinct(list_transform(range(1, len(toks) - 3),
                       i -> array_to_string(toks[i:i+4], ' '))) END) AS g
         FROM ev),
       cg AS (SELECT doc_id, unnest(sh) AS g FROM shq),
       cont AS (SELECT doc_id FROM cg JOIN es USING (g)
         GROUP BY doc_id HAVING COUNT(DISTINCT g) >= 8),
       wv AS (SELECT doc_id, fp, keep_quality,
           (doc_id % 2) * 1000000000 + doc_id AS wk
         FROM f),
       fl AS (SELECT wv.doc_id,
           (wv.keep_quality AND wv.wk =
             MIN(CASE WHEN wv.keep_quality THEN wv.wk END)
               OVER (PARTITION BY wv.fp)
             AND cont.doc_id IS NULL) AS admitted
         FROM wv LEFT JOIN cont ON wv.doc_id = cont.doc_id),
       e AS (SELECT fl.doc_id, fl.doc_id % 2 AS batch,
           flatten(list_transform(t.words, w -> string_split(trim($merged), '  '))) AS pcs
         FROM fl JOIN t USING (doc_id) WHERE admitted),
       e2 AS (SELECT doc_id, batch, CAST(len(pcs) AS BIGINT) AS n_bpe,
           array_to_string(pcs, ' ') AS tok_str FROM e),
       r AS (SELECT doc_id, n_bpe, tok_str,
           row_number() OVER (ORDER BY batch, md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS pos
         FROM e2),
       c AS (SELECT pos, n_bpe, tok_str,
           SUM(n_bpe) OVER (ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         FROM r),
       wn AS (SELECT pos, n_bpe, tok_str, (cum - n_bpe) // 2048 AS win FROM c)
       SELECT CAST(win % 4 AS BIGINT) AS shard,
         CAST(COUNT(DISTINCT win) AS BIGINT) AS n_windows,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_bpe) AS BIGINT) AS n_tokens,
         CAST(MIN(win) AS BIGINT) AS min_window,
         CAST(MAX(win) AS BIGINT) AS max_window,
         list_reduce(list_prepend('', list(tok_str ORDER BY pos)),
           (acc, x) -> md5(acc || ',' || x)) AS token_digest
       FROM wn GROUP BY 1 ORDER BY shard"""
  }
}
