package graft.queries

import graft.operators._
import graft.streaming.QualityFilterStream

/** Text analysis for training data: tokens, quality, language, BPE,
  * sampling, sketches and the quality model. */
object TextQueries {
  val all: Seq[Query] = Seq(
    // text analysis (training-data pipeline)
    Query("q_text_tokens", TextOps.tokenCount,
      """WITH t AS (SELECT doc_id, length(text) AS n_chars,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks,
             list_filter(string_split_regex(text, '[^A-Za-z0-9]+'), x -> x <> '') AS pieces
           FROM documents)
         SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens,
           CAST(len(pieces) AS BIGINT) AS n_pieces
         FROM t ORDER BY doc_id"""),
    Query("q_text_quality", TextOps.qualityScore,
      """WITH t AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
           FROM documents)
         SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS type_token_ratio,
           CAST(list_sum(list_transform(toks, x -> CAST(length(x) AS BIGINT))) AS DOUBLE)
             / CAST(len(toks) AS DOUBLE) AS mean_token_len,
           len(toks) BETWEEN 10 AND 1000 AS passes_length_filter
         FROM t ORDER BY doc_id"""),
    Query("q_lang_id", TextOps.langId,
      """WITH t AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
           FROM documents),
         s AS (SELECT doc_id,
           CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','is'], x))) AS BIGINT) AS s_en,
           CAST(len(list_filter(toks, x -> list_contains(['der','die','das','und','ist'], x))) AS BIGINT) AS s_de,
           CAST(len(list_filter(toks, x -> list_contains(['el','la','de','y','es'], x))) AS BIGINT) AS s_es,
           CAST(len(list_filter(toks, x -> list_contains(['le','la','et','les','des'], x))) AS BIGINT) AS s_fr,
           CAST(len(list_filter(toks, x -> list_contains(['的','是','在'], x))) AS BIGINT) AS s_zh
           FROM t),
         g AS (SELECT *, greatest(s_en, s_de, s_es, s_fr, s_zh) AS best FROM s)
         SELECT doc_id, s_en, s_de, s_es, s_fr, s_zh,
           CASE WHEN s_en = best AND best > 0 THEN 'en'
                WHEN s_de = best AND best > 0 THEN 'de'
                WHEN s_es = best AND best > 0 THEN 'es'
                WHEN s_fr = best AND best > 0 THEN 'fr'
                WHEN s_zh = best AND best > 0 THEN 'zh'
                ELSE 'unknown' END AS predicted_lang
         FROM g ORDER BY doc_id"""),
    Query("q_doc_fingerprint", TextOps.fingerprint,
      """SELECT doc_id, md5(text) AS content_fp, md5(substr(text, 1, 64)) AS prefix_fp,
           CAST(length(text) AS BIGINT) AS n_chars
         FROM documents ORDER BY doc_id"""),
    Query("q_clean_pipeline", TextOps.cleanDecisions,
      """WITH t AS (SELECT doc_id, text,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
           FROM documents),
         s AS (SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS ttr,
             CAST(len(list_filter(toks, x ->
               list_contains(['the','a','of','and','is'], x))) AS BIGINT) AS s_en,
             min(doc_id) OVER (PARTITION BY md5(text)) AS canonical
           FROM t),
         r AS (SELECT doc_id,
             CASE WHEN n_tokens < 10 OR n_tokens > 1000 THEN 'length'
                  WHEN ttr < 0.3 THEN 'low_diversity'
                  WHEN s_en <= 0 THEN 'wrong_lang'
                  WHEN doc_id <> canonical THEN 'duplicate'
                  ELSE 'keep' END AS reason
           FROM s)
         SELECT doc_id, reason, reason = 'keep' AS keep
         FROM r ORDER BY doc_id"""),
    // Gopher-style repetition: top-1 unigram/bigram/trigram frequency
    // fraction; both engines build the n-gram lists then count the mode
    // via distinct×filter, so the doubles divide identically.
    Query("q_text_repetition", TextOps.repetitionSignals,
      """WITH t AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
           FROM documents),
         g AS (SELECT doc_id, toks,
             CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[])
                  ELSE list_transform(range(1, len(toks)),
                         i -> toks[i] || ' ' || toks[i + 1]) END AS bg,
             CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
                  ELSE list_transform(range(1, len(toks) - 1),
                         i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]) END AS tg
           FROM t)
         SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CASE WHEN len(toks) = 0 THEN NULL
                ELSE CAST(list_max(list_transform(list_distinct(toks),
                       d -> len(list_filter(toks, x -> x = d)))) AS DOUBLE)
                     / CAST(len(toks) AS DOUBLE) END AS top_token_frac,
           CASE WHEN len(bg) = 0 THEN NULL
                ELSE CAST(list_max(list_transform(list_distinct(bg),
                       d -> len(list_filter(bg, x -> x = d)))) AS DOUBLE)
                     / CAST(len(bg) AS DOUBLE) END AS top_bigram_frac,
           CASE WHEN len(tg) = 0 THEN NULL
                ELSE CAST(list_max(list_transform(list_distinct(tg),
                       d -> len(list_filter(tg, x -> x = d)))) AS DOUBLE)
                     / CAST(len(tg) AS DOUBLE) END AS top_trigram_frac
         FROM g ORDER BY doc_id"""),
    // Deterministic stratified mixing: md5(doc_id)-derived uniform vs a
    // per-language target rate over the language-ID assignment.
    Query("q_domain_mix", TextOps.domainMix,
      """WITH t AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
           FROM documents),
         s AS (SELECT doc_id,
           CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','is'], x))) AS BIGINT) AS s_en,
           CAST(len(list_filter(toks, x -> list_contains(['der','die','das','und','ist'], x))) AS BIGINT) AS s_de,
           CAST(len(list_filter(toks, x -> list_contains(['el','la','de','y','es'], x))) AS BIGINT) AS s_es,
           CAST(len(list_filter(toks, x -> list_contains(['le','la','et','les','des'], x))) AS BIGINT) AS s_fr,
           CAST(len(list_filter(toks, x -> list_contains(['的','是','在'], x))) AS BIGINT) AS s_zh
           FROM t),
         g AS (SELECT *, greatest(s_en, s_de, s_es, s_fr, s_zh) AS best FROM s),
         lang AS (SELECT doc_id,
           CASE WHEN s_en = best AND best > 0 THEN 'en'
                WHEN s_de = best AND best > 0 THEN 'de'
                WHEN s_es = best AND best > 0 THEN 'es'
                WHEN s_fr = best AND best > 0 THEN 'fr'
                WHEN s_zh = best AND best > 0 THEN 'zh'
                ELSE 'unknown' END AS predicted_lang
           FROM g),
         m AS (SELECT doc_id, predicted_lang,
           CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 1000000 AS DOUBLE)
             / 1000000.0 AS sample_u,
           CASE predicted_lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 1.0
                WHEN 'es' THEN 0.8 WHEN 'fr' THEN 0.3 WHEN 'zh' THEN 1.0
                ELSE 0.1 END AS rate
           FROM lang)
         SELECT doc_id, predicted_lang, sample_u, rate
         FROM m WHERE sample_u < rate ORDER BY doc_id"""),
    // Vocabulary build: token count + doc frequency, deterministic
    // top-k via a total order on (n DESC, token).
    Query("q_vocab_topk", (s, d) => TextOps.vocabTopK(s, d),
      """WITH x AS (SELECT doc_id,
             unnest(string_split_regex(text, '\s+')) AS token
           FROM documents)
         SELECT token, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS doc_freq
         FROM x WHERE token <> ''
         GROUP BY token ORDER BY n DESC, token LIMIT 100"""),
    // Token-budget sharding: shard = preceding-token count div budget,
    // over the doc_id-ordered prefix sum.
    Query("q_token_shards", (s, d) => TextOps.tokenShards(s, d),
      """WITH t AS (SELECT doc_id,
             CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
               AS BIGINT) AS n_tokens
           FROM documents),
         c AS (SELECT doc_id, n_tokens,
             CAST(SUM(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
           FROM t)
         SELECT CAST((cum - n_tokens) // 2000 AS BIGINT) AS shard,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
         FROM c GROUP BY 1 ORDER BY shard"""),
    // Sequence packing: segment by the same running-cumsum rule, then
    // next-fit within each segment via a per-segment recursive walk —
    // one recursion step advances every segment's next document at once.
    Query("q_pack_sequences", (s, d) => TextOps.packSequences(s, d),
      """WITH RECURSIVE t AS (SELECT doc_id,
             CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
               AS BIGINT) AS n_tokens
           FROM documents),
         c AS (SELECT doc_id, n_tokens,
             CAST(SUM(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
           FROM t),
         d AS (SELECT doc_id, n_tokens,
             CAST((cum - n_tokens) // 2048 AS BIGINT) AS seg,
             ROW_NUMBER() OVER (PARTITION BY CAST((cum - n_tokens) // 2048 AS BIGINT)
               ORDER BY doc_id) AS rn
           FROM c),
         r AS (
           SELECT seg, rn, doc_id, n_tokens, CAST(0 AS BIGINT) AS bin,
             n_tokens AS fill
           FROM d WHERE rn = 1
           UNION ALL
           SELECT nxt.seg, nxt.rn, nxt.doc_id, nxt.n_tokens,
             CASE WHEN r.fill + nxt.n_tokens <= 512 THEN r.bin ELSE r.bin + 1 END,
             CASE WHEN r.fill + nxt.n_tokens <= 512 THEN r.fill + nxt.n_tokens
                  ELSE nxt.n_tokens END
           FROM r JOIN d nxt ON nxt.seg = r.seg AND nxt.rn = r.rn + 1)
         SELECT doc_id, seg, bin, n_tokens FROM r ORDER BY doc_id"""),
    // scale-path twin of the exact quantiles: emits the exact values +
    // a within_eps rank-bracket self-check of the GK sketch, so the
    // DuckDB oracle fully gates it (no rows-only exemption)
    // Sketch twin: exact quantiles replayed relationally; within_eps is
    // Spark's own rank-bracket check of the GK sketch against the exact
    // sorted group — the oracle expects it TRUE on every row.
    Query("q_length_quantiles_approx", (s, d) => TextOps.lengthQuantilesApprox(s, d),
      """WITH q AS (
           SELECT lang, COUNT(*) AS n_docs,
             quantile_cont(n_chars, [0.25, 0.5, 0.75]) AS q
           FROM documents GROUP BY lang)
         SELECT lang, n_docs, q[1] AS p25, q[2] AS p50, q[3] AS p75,
           TRUE AS within_eps
         FROM q ORDER BY lang"""),
    // Winnowing: trigram rolling hashes (mod 2^31-1 on md5-derived token
    // hashes) then min-per-4-window; both engines compute identically.
    Query("q_doc_winnow", TextOps.winnowFingerprint,
      """WITH t AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
           FROM documents),
         h AS (SELECT doc_id,
             list_transform(toks,
               tk -> CAST('0x' || substr(md5(tk), 1, 15) AS BIGINT) % 2147483647) AS thm
           FROM t),
         r AS (SELECT doc_id,
             CASE WHEN len(thm) < 3 THEN CAST([] AS BIGINT[])
                  ELSE list_transform(range(1, len(thm) - 1),
                    i -> (thm[i] * 17161 + thm[i + 1] * 131 + thm[i + 2]) % 2147483647) END AS rh
           FROM h),
         f AS (SELECT doc_id,
             CASE WHEN len(rh) < 4 THEN rh
                  ELSE list_transform(range(1, len(rh) - 2),
                    j -> list_aggregate(rh[j:j + 3], 'min')) END AS fps
           FROM r)
         SELECT doc_id,
           CAST(len(fps) AS BIGINT) AS n_windows,
           CAST(len(list_distinct(fps)) AS BIGINT) AS n_distinct_fp,
           COALESCE(CAST(list_aggregate(fps, 'min') AS BIGINT), -1) AS min_fp,
           COALESCE(CAST(list_aggregate(fps, 'max') AS BIGINT), -1) AS max_fp
         FROM f ORDER BY doc_id"""),
    Query("q_pii_redact", TextOps.piiRedact,
      """WITH t AS (
           SELECT doc_id,
             text || ' contact user' || doc_id || '@example.com or +1-555-' ||
             lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
             CASE WHEN doc_id % 3 = 0
                  THEN ' from 10.0.' || (doc_id % 256) || '.' || ((doc_id * 7) % 256)
                  ELSE '' END AS text2
           FROM documents)
         SELECT doc_id,
           CAST(len(regexp_extract_all(text2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(text2, '\+1-555-[0-9]{4}')) AS BIGINT) AS n_phones,
           CAST(len(regexp_extract_all(text2, '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS BIGINT) AS n_ips,
           regexp_replace(regexp_replace(regexp_replace(text2,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\+1-555-[0-9]{4}', '<PHONE>', 'g'),
             '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g') AS redacted
         FROM t ORDER BY doc_id"""),
    Query("q_url_canon", TextOps.urlCanon,
      """WITH u AS (
           SELECT doc_id,
             'HTTPS://WWW.Site' || (doc_id % 7) || '.COM/Path/' || (doc_id % 3) ||
             CASE WHEN doc_id % 4 = 1 THEN '/' ELSE '' END ||
             CASE WHEN doc_id % 2 = 0
                  THEN '?utm_source=feed&id=' || (doc_id % 5) || '&utm_campaign=c'
                  ELSE '' END AS url
           FROM documents),
         q AS (
           SELECT doc_id, url,
             array_to_string(list_filter(string_split(regexp_extract(url, '\?(.*)$', 1), '&'),
               p -> p <> '' AND substring(p, 1, 4) <> 'utm_'), '&') AS q2
           FROM u),
         c AS (
           SELECT doc_id,
             lower(regexp_extract(url, '^([^:]+)://', 1)) || '://' ||
             regexp_replace(lower(regexp_extract(url, '^[^:]+://([^/?]+)', 1)), '^www\.', '') ||
             regexp_replace(regexp_extract(url, '^[^:]+://[^/?]+([^?]*)', 1), '/+$', '') ||
             CASE WHEN q2 <> '' THEN '?' || q2 ELSE '' END AS canon_url
           FROM q)
         SELECT canon_url, COUNT(*) AS n_docs
         FROM c GROUP BY canon_url ORDER BY canon_url"""),
    // corpus audit + decontamination
    // TF-IDF rank keys are integer-only (tf DESC, doc_freq ASC, token) so
    // the top-k selection is floating-point-free; the score is informational
    // and rounded to 6 dp on both sides (ln = natural log in DuckDB).
    Query("q_tfidf_topk", (s, d) => TextOps.tfidfTopK(s, d),
      """WITH x AS (SELECT doc_id, lang,
             unnest(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS token
           FROM documents),
         df AS (SELECT token, COUNT(DISTINCT doc_id) AS doc_freq FROM x GROUP BY token),
         n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
         tf AS (SELECT lang, token, COUNT(*) AS tf FROM x GROUP BY lang, token),
         s AS (SELECT lang, token, tf, doc_freq,
             ROW_NUMBER() OVER (PARTITION BY lang
               ORDER BY tf DESC, doc_freq ASC, token) AS rk
           FROM tf JOIN df USING (token))
         SELECT lang, rk, token, tf, doc_freq,
           round(CAST(tf AS DOUBLE)
             * ln(CAST(n_docs AS DOUBLE) / CAST(doc_freq AS DOUBLE)), 6) AS tfidf
         FROM s, n WHERE rk <= 5 ORDER BY lang, rk"""),
    // Exact interpolated quantiles: Spark percentile() and DuckDB
    // quantile_cont both linearly interpolate at (n-1)*q.
    Query("q_length_quantiles", TextOps.lengthQuantiles,
      """WITH q AS (
           SELECT lang, COUNT(*) AS n_docs, MIN(n_chars) AS min_chars,
             MAX(n_chars) AS max_chars,
             quantile_cont(n_chars, [0.25, 0.5, 0.75]) AS q
           FROM documents GROUP BY lang)
         SELECT lang, n_docs, min_chars, max_chars,
           q[1] AS p25, q[2] AS p50, q[3] AS p75
         FROM q ORDER BY lang"""),
    // Unigram surprisal: the per-doc sum folds in position order on both
    // engines; round(6) absorbs last-ulp ln() differences.
    Query("q_unigram_logprob", TextOps.unigramLogprob,
      """WITH t AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
           FROM documents),
         x AS (SELECT doc_id, u.p AS pos, u.tk AS token FROM (
             SELECT doc_id, unnest(list_transform(range(1, len(toks) + 1),
               i -> {'p': i, 'tk': toks[i]})) AS u
             FROM t)),
         c AS (SELECT token, COUNT(*) AS c FROM x GROUP BY token),
         n AS (SELECT COUNT(*) AS t FROM x),
         lp AS (SELECT doc_id, pos, -ln(CAST(c AS DOUBLE) / CAST(t AS DOUBLE)) AS logp
           FROM x JOIN c USING (token), n),
         g AS (SELECT doc_id, COUNT(*) AS n_tokens, list(logp ORDER BY pos) AS lps
           FROM lp GROUP BY doc_id)
         SELECT doc_id, n_tokens,
           round(list_sum(lps) / n_tokens, 6) AS mean_surprisal
         FROM g ORDER BY doc_id"""),
    // word-order-aware twin: interpolated bigram LM surprisal
    // Interpolated bigram surprisal: same position-ordered fold; the
    // 0.7/0.3 mixture is written with identical op shape both sides.
    Query("q_bigram_logprob", TextOps.bigramLogprob,
      """WITH t AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
           FROM documents),
         x AS (SELECT doc_id, u.p AS pos, u.tk AS token FROM (
             SELECT doc_id, unnest(list_transform(range(1, len(toks) + 1),
               i -> {'p': i, 'tk': toks[i]})) AS u
             FROM t)),
         xp AS (SELECT doc_id, pos, token,
             lag(token) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
           FROM x),
         c AS (SELECT token, COUNT(*) AS cu FROM x GROUP BY token),
         n AS (SELECT COUNT(*) AS t FROM x),
         b AS (SELECT prev, token, COUNT(*) AS cb FROM xp
           WHERE prev IS NOT NULL GROUP BY prev, token),
         lp AS (SELECT xp.doc_id, xp.pos,
             -ln(CASE WHEN xp.prev IS NULL
                 THEN CAST(c.cu AS DOUBLE) / CAST(n.t AS DOUBLE)
                 ELSE 0.7 * (CAST(b.cb AS DOUBLE) / CAST(cp.cu AS DOUBLE)) +
                      0.3 * (CAST(c.cu AS DOUBLE) / CAST(n.t AS DOUBLE)) END) AS logp
           FROM xp
           JOIN c ON c.token = xp.token
           LEFT JOIN c cp ON cp.token = xp.prev
           LEFT JOIN b ON b.prev = xp.prev AND b.token = xp.token, n),
         g AS (SELECT doc_id, COUNT(*) AS n_tokens,
             list(logp ORDER BY pos) AS lps
           FROM lp GROUP BY doc_id)
         SELECT doc_id, n_tokens,
           round(list_sum(lps) / n_tokens, 6) AS mean_surprisal
         FROM g ORDER BY doc_id"""),
    // Bigram add-one LM + per-lang terciles: integer counts, position-
    // ordered logp folds (round 6), integer rank → bucket.
    Query("q_lm_ppl_buckets", TextOps.lmPerplexityBuckets,
      """WITH t AS (SELECT doc_id, lang,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
           FROM documents),
         x AS (SELECT doc_id, lang, u.p AS pos, u.a AS a, u.b AS b FROM (
             SELECT doc_id, lang, unnest(list_transform(range(1, len(toks)),
               i -> {'p': i, 'a': toks[i], 'b': toks[i + 1]})) AS u
             FROM t)),
         c2 AS (SELECT a, b, COUNT(*) AS c_ab FROM x GROUP BY a, b),
         c1 AS (SELECT a, COUNT(*) AS c_a FROM (SELECT unnest(toks) AS a FROM t) GROUP BY a),
         v AS (SELECT COUNT(*) AS v FROM c1),
         lp AS (SELECT doc_id, lang, pos,
             -ln((CAST(c_ab AS DOUBLE) + 1) / (CAST(c_a AS DOUBLE) + v)) AS logp
           FROM x JOIN c2 USING (a, b) JOIN c1 USING (a), v),
         g AS (SELECT doc_id, lang, COUNT(*) AS n_bigrams,
             round(list_sum(list(logp ORDER BY pos)) / COUNT(*), 6) AS mean_nll
           FROM lp GROUP BY doc_id, lang),
         r AS (SELECT doc_id, lang, n_bigrams, mean_nll,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY mean_nll, doc_id) AS rnk,
             COUNT(*) OVER (PARTITION BY lang) AS n_lang
           FROM g)
         SELECT doc_id, lang, n_bigrams, mean_nll,
           ['head','middle','tail'][CAST((3 * (rnk - 1)) // n_lang AS INT) + 1] AS ppl_bucket
         FROM r ORDER BY doc_id"""),
    // BPE merge induction: k unrolled rounds of pair-count argmax +
    // literal-replace merge over the double-space symbol encoding —
    // integer counts, lexicographic tie-breaks, same greedy left-to-
    // right replace semantics in both engines.
    Query("q_bpe_merges", (s, d) => TextOps.bpeMerges(s, d, k = 6), bpeOracleSql(6)),
    Query("q_bpe_encode", TextOps.bpeEncode, bpeEncodeOracleSql),
    // the SCALE-PATH encode under the driver gate: a 4096-merge
    // corpus-derived vocab (prefix chains + provably-inert tail) runs
    // the partition-local encoder; the oracle replays the firing
    // merges' replace chain iteratively (list_reduce)
    Query("q_bpe_encode_scaled", (s, d) => TextOps.bpeEncodeScaled(s, d),
      bpeEncodeScaledOracleSql),
    // tokenizer-artifact interop: trained table → tokenizer.json →
    // import → encode under the IMPORTED table
    Query("q_vocab_artifact_roundtrip", (s, d) => TextOps.vocabArtifactRoundtrip(s, d),
      vocabArtifactRoundtripOracleSql(6)),
    // the interop's back half: piece→id under the artifact's derived
    // vocab map (OOV → -1), id-stream fingerprints per doc
    Query("q_bpe_encode_ids", (s, d) => TextOps.bpeEncodeIds(s, d), bpeEncodeIdsOracleSql(6)),
    // hashed-feature linear scorer: integer fixed-point weights summed
    // exactly, one double division per doc
    Query("q_quality_logit", TextOps.qualityLogit,
      """WITH t AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
           FROM documents),
         p AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
             CAST(list_sum(list_transform(toks, w ->
               ((CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) % 64)
                 * 2654435761) % 2001 - 1000)) AS BIGINT) AS logit_scaled
           FROM t WHERE len(toks) > 0)
         SELECT doc_id, n_tokens, logit_scaled,
           logit_scaled * 1000 // n_tokens AS quality_logit_ppm,
           logit_scaled > 0 AS keep
         FROM p ORDER BY doc_id"""),
    Query("q_quality_train", (s, d) => TextOps.trainQualityModel(s, d, iters = 12),
      qualityTrainOracleSql(12)),
    Query("q_quality_eval", (s, d) => TextOps.qualityTrainEval(s, d, iters = 12),
      qualityEvalOracleSql(12)),
    Query("q_quality_filter_stream", QualityFilterStream.qualityFilterStreamQuery,
      qualityFilterStreamOracleSql(12)),
    // UniMax admission: per-language running token sum over the
    // md5-shuffled order, cut at the budget
    Query("q_unimax_sample", (s, d) => TextOps.unimaxSample(s, d),
      """WITH d AS (SELECT doc_id, lang,
             CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens,
             CAST('0x' || substr(md5('unimax' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS shuffle_key
           FROM documents),
         c AS (SELECT doc_id, lang, n_tokens,
             COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY shuffle_key, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
           FROM d)
         SELECT doc_id, lang, n_tokens, CAST(cum_before AS BIGINT) AS cum_before,
           (cum_before + n_tokens <= 3000) AS kept
         FROM c ORDER BY doc_id"""),
    // the sketch is pruning-only: the exact answer is a plain
    // count-filter, which is what the oracle runs
    // relative threshold: freq·1e6 ≥ N·phiPpm (phiPpm = 5000), the
    // integer-exact corpus-proportional cut the Misra-Gries sketch is
    // sized for — same arithmetic on both engines
    Query("q_heavy_hitters", (s, d) => TextOps.heavyHitters(s, d),
      """WITH toks AS (
           SELECT unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS token
           FROM documents),
         nt AS (SELECT COUNT(*) AS n FROM toks)
         SELECT token, COUNT(*) AS freq FROM toks, nt
         GROUP BY token, nt.n HAVING COUNT(*) * 1000000 >= nt.n * 5000
         ORDER BY token"""),
    // PMI collocations: integer counts, 1e6 fixed-point integer-div
    // score — ranking by pmi_scaled IS ranking by PMI (log monotone),
    // no float anywhere.
    Query("q_pmi_bigrams", (s, d) => TextOps.pmiBigrams(s, d),
      """WITH t AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
           FROM documents),
         bg AS (SELECT u.w1 AS w1, u.w2 AS w2 FROM (
           SELECT unnest(list_transform(range(1, len(toks)),
             i -> {'w1': toks[i], 'w2': toks[i + 1]})) AS u
           FROM t WHERE len(toks) >= 2)),
         uni AS (SELECT a AS token, COUNT(*) AS n
           FROM (SELECT unnest(toks) AS a FROM t) GROUP BY a),
         tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM uni),
         ab AS (SELECT w1, w2, COUNT(*) AS n_ab FROM bg GROUP BY w1, w2
           HAVING COUNT(*) >= 5)
         SELECT ab.w1, ab.w2, CAST(ab.n_ab AS BIGINT) AS n_ab,
           CAST(ua.n AS BIGINT) AS n_a, CAST(ub.n AS BIGINT) AS n_b,
           (CAST(ab.n_ab AS BIGINT) * n_total * 1000000)
             // (CAST(ua.n AS BIGINT) * CAST(ub.n AS BIGINT)) AS pmi_scaled
         FROM ab JOIN uni ua ON ua.token = ab.w1
           JOIN uni ub ON ub.token = ab.w2, tot
         ORDER BY pmi_scaled DESC, w1, w2"""),
    // Context-window chunking: integer window arithmetic, md5 chunk ids.
    Query("q_chunk_split", (s, d) => TextOps.chunkSplit(s, d),
      """WITH t AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
           FROM documents),
         n AS (SELECT doc_id, toks,
             CASE WHEN len(toks) <= 64 THEN 1
                  ELSE (len(toks) - 64 + 47) // 48 + 1 END AS n_chunks
           FROM t WHERE len(toks) > 0),
         c AS (SELECT doc_id, u.cid AS chunk_id, u.chunk AS chunk FROM (
           SELECT doc_id, unnest(list_transform(range(0, n_chunks),
             i -> {'cid': i, 'chunk': list_slice(toks, i * 48 + 1, i * 48 + 64)})) AS u
           FROM n))
         SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
           CAST(chunk_id * 48 AS BIGINT) AS start_tok,
           CAST(len(chunk) AS BIGINT) AS n_tokens,
           md5(array_to_string(chunk, ' ')) AS chunk_hash
         FROM c ORDER BY doc_id, chunk_id"""),
    // Temperature mixing: exact integer masses, IEEE sqrt of identical
    // doubles, normalizer folded in language order on both sides.
    Query("q_temperature_mix", TextOps.temperatureMix,
      """WITH lt AS (SELECT lang,
             CAST(SUM(len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))) AS BIGINT)
               AS lang_tokens
           FROM documents GROUP BY lang),
         tot AS (SELECT CAST(SUM(lang_tokens) AS BIGINT) AS total_tokens,
             list(lang_tokens ORDER BY lang) AS ls FROM lt),
         z AS (SELECT total_tokens,
             list_sum(list_transform(ls,
               c -> sqrt(CAST(c AS DOUBLE) / CAST(total_tokens AS DOUBLE)))) AS z
           FROM tot)
         SELECT lang, lang_tokens,
           lang_tokens * 1000000 // total_tokens AS p_proportional_ppm,
           round(sqrt(CAST(lang_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE)) / z, 6)
             AS p_temperature,
           round(sqrt(CAST(lang_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE)) / z
             / (CAST(lang_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE)), 6)
             AS sampling_factor
         FROM lt, z ORDER BY lang"""),
    Query("q_bpe_fertility", TextOps.bpeFertility, bpeFertilityOracleSql),
    // DSIR importance: two ≤1024-bucket add-one models, per-doc log-ratio
    // folded in position order (same ln/fold parity as q_lm_ppl_buckets).
    Query("q_dsir_weight", TextOps.dsirWeight,
      """WITH d AS (SELECT doc_id, lang,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
           FROM documents),
         t AS (SELECT doc_id, lang, u.p AS pos, u.tok AS token FROM (
           SELECT doc_id, lang, unnest(list_transform(range(1, len(toks) + 1),
             i -> {'p': i, 'tok': toks[i]})) AS u FROM d)),
         b AS (SELECT doc_id, pos, lang,
             CAST('0x' || substr(md5(token), 1, 15) AS BIGINT) % 1024 AS bucket
           FROM t),
         tgt AS (SELECT bucket, COUNT(*) AS c_t FROM b WHERE lang = 'en' GROUP BY bucket),
         src AS (SELECT bucket, COUNT(*) AS c_s FROM b GROUP BY bucket),
         tot AS (SELECT CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
             CAST(COUNT(*) AS BIGINT) AS n_s FROM b),
         lr AS (SELECT doc_id, pos,
             ln(CAST(COALESCE(c_t, 0) + 1 AS DOUBLE) / CAST(n_t + 1024 AS DOUBLE))
           - ln(CAST(COALESCE(c_s, 0) + 1 AS DOUBLE) / CAST(n_s + 1024 AS DOUBLE)) AS lr
           FROM b LEFT JOIN tgt USING (bucket) LEFT JOIN src USING (bucket), tot),
         g AS (SELECT doc_id, COUNT(*) AS n_tokens,
             round(list_sum(list(lr ORDER BY pos)), 6) AS log_importance
           FROM lr GROUP BY doc_id)
         SELECT doc_id, n_tokens, log_importance,
           log_importance > 0.0 AS keep
         FROM g ORDER BY doc_id"""),
    // Gopher doc-level rules: planted `#` runs, integer-exact verdicts
    // (n*10 <= m forms), reported ratios as IEEE doubles of the same ints.
    Query("q_gopher_rules", TextOps.gopherRules,
      """WITH p AS (
           SELECT doc_id,
             text || CASE WHEN doc_id % 8 > 0
               THEN ' ' || rtrim(repeat('# ', CAST(doc_id % 8 AS INT)))
               ELSE '' END AS text2
           FROM documents),
         t AS (SELECT doc_id,
             list_filter(string_split_regex(text2, '\s+'), x -> x <> '') AS words
           FROM p),
         s AS (SELECT doc_id,
             CAST(len(words) AS BIGINT) AS n_words,
             CAST(list_sum(list_transform(words, w -> len(w))) AS BIGINT) AS sum_len,
             CAST(len(list_filter(words, w -> w = '#' OR w = '...')) AS BIGINT) AS n_symbol,
             CAST(len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
             CAST(len(list_filter(['the','a','of','and','is'],
               m -> list_contains(words, m))) AS BIGINT) AS n_required
           FROM t)
         SELECT doc_id, n_words,
           sum_len * 1000000 // n_words AS mean_word_len_ppm,
           n_symbol * 1000000 // n_words AS symbol_ratio_ppm,
           n_alpha * 1000000 // n_words AS frac_alpha_ppm,
           n_required,
           (n_words >= 10 AND n_words <= 1000) AS pass_word_count,
           (sum_len >= n_words * 3 AND sum_len <= n_words * 10) AS pass_word_len,
           (n_symbol * 10 <= n_words) AS pass_symbol,
           (n_alpha * 5 >= n_words * 4) AS pass_alpha,
           (n_required >= 2) AS pass_required,
           ((n_words >= 10 AND n_words <= 1000)
             AND (sum_len >= n_words * 3 AND sum_len <= n_words * 10)
             AND (n_symbol * 10 <= n_words)
             AND (n_alpha * 5 >= n_words * 4)
             AND (n_required >= 2)) AS keep
         FROM s ORDER BY doc_id"""),
    // C4 line rules over the deterministically rebuilt page: 8-token
    // slices with a (doc_id+i)%4-planted missing period + boilerplate
    // lines, first-failing doc reason, md5 of the surviving page.
    Query("q_c4_line_filter", TextOps.c4LineFilter,
      """WITH t AS (
           SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
           FROM documents),
         b AS (
           SELECT doc_id, list_transform(
               range(0, greatest(1, CAST(ceil(len(toks) / 8.0) AS BIGINT))),
               i -> array_to_string(list_slice(toks, i * 8 + 1, i * 8 + 8), ' ') ||
                    CASE WHEN (doc_id + i) % 4 = 0 THEN '' ELSE '.' END) AS base
           FROM t),
         l AS (
           SELECT doc_id,
             base ||
             CASE WHEN doc_id % 5 = 0
               THEN ['please enable javascript to view this page.']
               ELSE CAST([] AS VARCHAR[]) END ||
             CASE WHEN doc_id % 7 = 3
               THEN ['lorem ipsum dolor sit amet.']
               ELSE CAST([] AS VARCHAR[]) END ||
             CASE WHEN doc_id % 11 = 7
               THEN ['function() { return; }']
               ELSE CAST([] AS VARCHAR[]) END AS lines
           FROM b),
         k AS (
           SELECT doc_id, lines,
             list_filter(lines, x -> ends_with(x, '.')
               AND len(string_split(x, ' ')) >= 5
               AND NOT contains(x, 'javascript')) AS kept
           FROM l),
         r AS (
           SELECT doc_id, lines, kept,
             CASE
               WHEN len(list_filter(lines, x -> contains(x, 'lorem ipsum'))) > 0
                 THEN 'lorem_ipsum'
               WHEN len(list_filter(lines, x -> contains(x, '{'))) > 0 THEN 'brace'
               WHEN len(kept) < 3 THEN 'too_few_sentences'
               ELSE 'keep' END AS reason
           FROM k)
         SELECT doc_id,
           CAST(len(lines) AS BIGINT) AS n_lines,
           CAST(len(kept) AS BIGINT) AS n_kept,
           reason, reason = 'keep' AS keep,
           -- array_to_string of an empty list is NULL in DuckDB but '' in
           -- Spark's array_join: coalesce to match md5('')
           md5(COALESCE(array_to_string(kept, ' | '), '')) AS kept_fp
         FROM r ORDER BY doc_id"""),
    // Corpus drift: per-token JSD contributions of the even vs odd doc
    // slice, add-one smoothed over the joint vocab; no cross-row float
    // fold — each row is computed from integer counts (ln/round(6)
    // parity per the q_lm_ppl_buckets / q_dsir_weight precedent).
    Query("q_corpus_drift", TextOps.corpusDrift,
      """WITH t AS (
           SELECT doc_id % 2 = 0 AS in_a,
             unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS token
           FROM documents),
         c AS (SELECT token,
             CAST(SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS n_b
           FROM t GROUP BY token),
         tot AS (SELECT CAST(SUM(n_a) AS BIGINT) AS tot_a,
             CAST(SUM(n_b) AS BIGINT) AS tot_b,
             CAST(COUNT(*) AS BIGINT) AS v FROM c),
         s AS (SELECT token, n_a, n_b,
             CAST(n_a + 1 AS DOUBLE) / CAST(tot_a + v AS DOUBLE) AS p,
             CAST(n_b + 1 AS DOUBLE) / CAST(tot_b + v AS DOUBLE) AS q
           FROM c, tot)
         SELECT token, n_a, n_b,
           round((p * ln(p / ((p + q) / 2.0)) +
                  q * ln(q / ((p + q) / 2.0))) * 0.5, 6) AS jsd_contrib
         FROM s ORDER BY token"""),
    // HLL++ distinct-count sketch gated against the exact twin
    // HLL++ distinct-count sketch: exact counts replayed relationally;
    // within_eps is Spark's own 5-sigma self-check of the sketch — the
    // oracle expects TRUE on every row.
    Query("q_distinct_sketch", (s, d) => TextOps.distinctTokensSketch(s, d),
      """WITH t AS (SELECT lang,
             unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS tok
           FROM documents)
         SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct,
           TRUE AS within_eps
         FROM t GROUP BY lang ORDER BY lang"""),
    // per-shard Datasketches HLL union == direct build, bit-exact
    // Sketch merge parity: exact counts replayed relationally; the
    // merge_exact and within_eps bits are Spark's own gates (register-max
    // union == direct build; estimate within 5-sigma of truth) — the
    // oracle expects both TRUE.
    Query("q_sketch_merge", (s, d) => TextOps.sketchMergeParity(s, d),
      """WITH t AS (SELECT lang,
             unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS tok
           FROM documents)
         SELECT lang, CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct,
           TRUE AS merge_exact, TRUE AS within_eps
         FROM t GROUP BY lang ORDER BY lang"""),
    // count-min point frequencies gated by the CMS contract
    // Count-min frequency gate: exact top-30 counts replayed
    // relationally (deterministic count-desc/token-asc tie-break); the
    // two bound bits are the CMS contract — the oracle expects TRUE.
    Query("q_cms_freq", (s, d) => TextOps.cmsFrequency(s, d),
      """WITH t AS (SELECT
             unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS token
           FROM documents),
         c AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS n_exact
           FROM t GROUP BY token
           ORDER BY n_exact DESC, token ASC LIMIT 30)
         SELECT token, n_exact, TRUE AS never_undercounts, TRUE AS within_eps
         FROM c ORDER BY n_exact DESC, token ASC"""),
    // composed curation funnel: quality -> dedup -> decontam -> split
    // Composed curation funnel: gopher rules on raw text -> first-wins
    // exact dedup among survivors -> eval-excerpt decontamination ->
    // md5-derived 80/10/10 split, replayed as one relational CTE chain
    // emitting the same 7-row doc/token funnel.
    Query("q_curation_pipeline", TextOps.curationPipeline,
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
             (cont.doc_id IS NOT NULL) AS is_cont,
             CASE WHEN CAST('0x' || substr(md5(CAST(f.doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 < 80
                    THEN 'train'
                  WHEN CAST('0x' || substr(md5(CAST(f.doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 < 90
                    THEN 'val'
                  ELSE 'test' END AS split
           FROM f LEFT JOIN cont ON f.doc_id = cont.doc_id),
         fl2 AS (SELECT doc_id, n_words, r1, r2, (r2 AND NOT is_cont) AS r3, split FROM fl),
         agg AS (SELECT
             CAST(COUNT(*) AS BIGINT) AS d0,
             CAST(SUM(n_words) AS BIGINT) AS t0,
             CAST(SUM(CASE WHEN r1 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
             CAST(SUM(CASE WHEN r1 THEN n_words ELSE 0 END) AS BIGINT) AS t1,
             CAST(SUM(CASE WHEN r2 THEN 1 ELSE 0 END) AS BIGINT) AS d2,
             CAST(SUM(CASE WHEN r2 THEN n_words ELSE 0 END) AS BIGINT) AS t2,
             CAST(SUM(CASE WHEN r3 THEN 1 ELSE 0 END) AS BIGINT) AS d3,
             CAST(SUM(CASE WHEN r3 THEN n_words ELSE 0 END) AS BIGINT) AS t3,
             CAST(SUM(CASE WHEN r3 AND split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS d4,
             CAST(SUM(CASE WHEN r3 AND split = 'train' THEN n_words ELSE 0 END) AS BIGINT) AS t4,
             CAST(SUM(CASE WHEN r3 AND split = 'val' THEN 1 ELSE 0 END) AS BIGINT) AS d5,
             CAST(SUM(CASE WHEN r3 AND split = 'val' THEN n_words ELSE 0 END) AS BIGINT) AS t5,
             CAST(SUM(CASE WHEN r3 AND split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS d6,
             CAST(SUM(CASE WHEN r3 AND split = 'test' THEN n_words ELSE 0 END) AS BIGINT) AS t6
           FROM fl2)
         SELECT stage, n_docs, n_tokens FROM (
           SELECT '00_ingest' AS stage, d0 AS n_docs, t0 AS n_tokens FROM agg
           UNION ALL SELECT '01_quality', d1, t1 FROM agg
           UNION ALL SELECT '02_dedup', d2, t2 FROM agg
           UNION ALL SELECT '03_decontam', d3, t3 FROM agg
           UNION ALL SELECT '04_split_train', d4, t4 FROM agg
           UNION ALL SELECT '05_split_val', d5, t5 FROM agg
           UNION ALL SELECT '06_split_test', d6, t6 FROM agg)
         ORDER BY stage"""),
    // Split assignment: md5(doc_id)-derived uniform, 80/10/10.
    Query("q_split_assign", TextOps.splitAssign,
      """WITH s AS (SELECT lang, n_chars,
             CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 < 80
                    THEN 'train'
                  WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 < 90
                    THEN 'val'
                  ELSE 'test' END AS split
           FROM documents)
         SELECT lang, split, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
         FROM s GROUP BY lang, split ORDER BY lang, split"""),
    // Fixed-size per-source sample: md5-salted rank, first 20 per group —
    // the same draw on any engine.
    Query("q_stratified_sample", TextOps.stratifiedSample,
      """SELECT source, rank, doc_id FROM (
           SELECT source, doc_id,
             CAST(ROW_NUMBER() OVER (PARTITION BY source
               ORDER BY md5('sample:' || CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rank
           FROM documents)
         WHERE rank <= 20 ORDER BY source, rank"""),
    // PPS Poisson sample: keep iff u*W <= k*w*M, all BIGINT — exact in
    // both engines.
    Query("q_weighted_sample", TextOps.weightedPoissonSample,
      """WITH t AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
             CAST('0x' || substr(md5('pps:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
               % 1000000 + 1 AS u
           FROM documents),
         s AS (SELECT CAST(SUM(w) AS BIGINT) AS w_total FROM t)
         SELECT doc_id, w AS weight, u FROM t, s
         WHERE u * w_total <= 50 * w * 1000001
         ORDER BY doc_id"""),
    // Rollup: (lang, source), per-lang subtotal, grand total in one pass.
    Query("q_corpus_rollup", TextOps.corpusRollup,
      """SELECT COALESCE(lang, '(all)') AS lang,
           COALESCE(source, '(all)') AS source,
           COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
         FROM documents GROUP BY ROLLUP (lang, source)
         ORDER BY lang, source""")
  )

  /** The deterministic k-round BPE trainer as a CTE chain (`w0`, `s0`,
    * `p1`..`p$k`, `s1`..`s$k`) — shared by the merge-table oracle and
    * the tokenizer-refresh oracle, which also ENCODES under the learned
    * rounds. No leading WITH, so callers can prepend their own CTEs. */
  private[queries] def bpeTrainerCtes(k: Int): String = {
    val head =
      """w0 AS MATERIALIZED (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
             SELECT unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS word
             FROM documents) GROUP BY word),
         s0 AS MATERIALIZED (SELECT word, freq, '  ' || array_to_string(
             list_transform(range(1, len(word) + 1), i -> substr(word, i, 1)), '  ') || '  ' AS s
           FROM w0)"""
    val rounds = (1 to k).map { r =>
      val prev = s"s${r - 1}"
      s""",
         p$r AS MATERIALIZED (SELECT a, b, c FROM (
             SELECT pr.a AS a, pr.b AS b, CAST(SUM(freq) AS BIGINT) AS c FROM (
               SELECT freq, unnest(list_transform(range(1, len(tk)),
                 i -> {'a': tk[i], 'b': tk[i + 1]})) AS pr FROM (
                 SELECT freq, string_split(trim(s), '  ') AS tk FROM $prev))
             GROUP BY pr.a, pr.b)
           ORDER BY c DESC, a, b LIMIT 1),
         s$r AS MATERIALIZED (SELECT word, freq, replace(s,
             ' ' || (SELECT a FROM p$r) || '  ' || (SELECT b FROM p$r) || ' ',
             ' ' || (SELECT a FROM p$r) || (SELECT b FROM p$r) || ' ') AS s FROM $prev)"""
    }.mkString
    s"$head$rounds"
  }

  /** Unrolled DuckDB program for k BPE rounds: each round selects the
    * max-count pair (ties lexicographic) from the double-space symbol
    * strings, then merges it via the same literal replace the Spark side
    * applies. All counts BIGINT; the only strings are corpus symbols. */
  private def bpeOracleSql(k: Int): String = {
    val union = (1 to k).map(r =>
      s"SELECT CAST($r AS BIGINT) AS merge_rank, a AS lhs, b AS rhs, c AS pair_count FROM p$r")
      .mkString(" UNION ALL ")
    s"WITH ${bpeTrainerCtes(k)} SELECT * FROM ($union) ORDER BY merge_rank"
  }

  /** DuckDB twin of [[graft.operators.TextOps.vocabArtifactRoundtrip]]:
    * the artifact round trip is a Spark-side identity on the merge
    * table (spec-pinned: imported == trained), so the oracle replays
    * the k-round trainer and encodes every document DIRECTLY under the
    * learned table — any export/import defect that perturbs merge
    * order or symbol bytes diverges the piece fingerprints. */
  private def vocabArtifactRoundtripOracleSql(k: Int): String =
    s"""WITH ${bpeTrainerCtes(k)},
       t AS (SELECT doc_id,
           list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS words
         FROM documents),
       wu AS (SELECT doc_id, i.i AS wi, words[i.i] AS w
         FROM t, LATERAL (SELECT unnest(range(1, len(words) + 1)) AS i) i
         WHERE len(words) > 0),
       wp AS (SELECT word, string_split(trim(s), '  ') AS pcs FROM s$k),
       pe AS (SELECT wu.doc_id, wu.wi, wp.pcs
         FROM wu JOIN wp ON wp.word = wu.w),
       de AS (SELECT doc_id, flatten(list(pcs ORDER BY wi)) AS pcs
         FROM pe GROUP BY doc_id)
       SELECT t.doc_id,
         CAST(coalesce(len(de.pcs), 0) AS BIGINT) AS n_bpe,
         coalesce(md5(array_to_string(de.pcs, ' ')), md5('')) AS tok_fp
       FROM t LEFT JOIN de USING (doc_id)
       ORDER BY t.doc_id"""

  /** DuckDB twin of [[graft.operators.TextOps.bpeEncodeIds]]: replays
    * the k-round trainer, RE-DERIVES the artifact vocab exactly as
    * [[graft.operators.TokenizerArtifact.vocabOf]] does — single-code-
    * point operands in code-point order (DuckDB's binary collation IS
    * code-point order; vocabOf sorts by codePointAt to match), then
    * multi-code-point operands no merge output produces in first-use
    * order (rank-major, lhs before rhs), then merge outputs in rank
    * order deduped first-wins, ids dense from 0 — then encodes every
    * document under the learned table and fingerprints the id streams
    * (OOV → -1, counted). */
  private def bpeEncodeIdsOracleSql(k: Int): String = {
    val mergeUnion = (1 to k).map(r =>
      s"SELECT $r AS rnk, a, b FROM p$r").mkString(" UNION ALL ")
    s"""WITH ${bpeTrainerCtes(k)},
       m AS MATERIALIZED ($mergeUnion),
       ops AS (SELECT a AS s, rnk * 2 AS fu FROM m
         UNION ALL SELECT b, rnk * 2 + 1 FROM m),
       outs AS (SELECT a || b AS s, rnk FROM m),
       voc0 AS (
         SELECT s, 0 AS sec, s AS skey, 0 AS fkey
           FROM (SELECT DISTINCT s FROM ops WHERE len(s) = 1)
         UNION ALL
         SELECT s, 1, '', MIN(fu) FROM ops
           WHERE len(s) > 1 AND s NOT IN (SELECT s FROM outs) GROUP BY s
         UNION ALL
         SELECT s, 2, '', MIN(rnk) FROM outs GROUP BY s),
       vocab AS MATERIALIZED (
         SELECT s, row_number() OVER (ORDER BY sec, skey, fkey) - 1 AS id
         FROM voc0),
       t AS (SELECT doc_id,
           list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS words
         FROM documents),
       wu AS (SELECT doc_id, i.i AS wi, words[i.i] AS w
         FROM t, LATERAL (SELECT unnest(range(1, len(words) + 1)) AS i) i
         WHERE len(words) > 0),
       wp AS (SELECT word, string_split(trim(s), '  ') AS pcs FROM s$k),
       pe AS (SELECT wu.doc_id, wu.wi, wp.pcs
         FROM wu JOIN wp ON wp.word = wu.w),
       de AS (SELECT doc_id, flatten(list(pcs ORDER BY wi)) AS pcs
         FROM pe GROUP BY doc_id),
       dep AS (SELECT doc_id, unnest(pcs) AS p,
           unnest(range(1, len(pcs) + 1)) AS pi FROM de),
       idp AS (SELECT dep.doc_id, dep.pi, COALESCE(v.id, -1) AS tid
         FROM dep LEFT JOIN vocab v ON v.s = dep.p),
       agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bpe,
           CAST(SUM(CASE WHEN tid = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           md5(string_agg(CAST(tid AS VARCHAR), ' ' ORDER BY pi)) AS ids_fp
         FROM idp GROUP BY doc_id)
       SELECT t.doc_id, coalesce(agg.n_bpe, 0) AS n_bpe,
         coalesce(agg.n_oov, 0) AS n_oov,
         coalesce(agg.ids_fp, md5('')) AS ids_fp
       FROM t LEFT JOIN agg USING (doc_id)
       ORDER BY t.doc_id"""
  }

  /** DuckDB twin of [[graft.operators.TextOps.bpeEncode]]: the same char
    * split into the double-space encoding and the same pinned merge chain,
    * unrolled as nested replace() calls. */
  private def bpeEncodeOracleSql: String = {
    val enc =
      """'  ' || array_to_string(list_transform(range(1, len(w) + 1), i -> substr(w, i, 1)), '  ') || '  '"""
    val merged = graft.operators.TextOps.BpeMergeTable.foldLeft(enc) {
      case (e, (a, b)) => s"replace($e, ' $a  $b ', ' $a$b ')"
    }
    s"""WITH t AS (SELECT doc_id,
           list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
         FROM documents),
       p AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_words,
           CAST(list_sum(list_transform(toks,
             w -> len(string_split(trim($merged), '  ')))) AS BIGINT) AS n_bpe_tokens,
           CAST(list_sum(list_transform(toks, w -> len(w))) AS BIGINT) AS n_chars
         FROM t WHERE len(toks) > 0)
       SELECT doc_id, n_words, n_bpe_tokens,
         n_chars * 1000000 // n_bpe_tokens AS chars_per_token_ppm
       FROM p ORDER BY doc_id"""
  }

  /** DuckDB twin of [[graft.operators.TextOps.bpeEncodeScaled]] — the
    * scale-path encode under the oracle gate. The Spark side pads the
    * corpus-derived prefix-merge table with inert pairs (symbols
    * containing U+00A4, outside the corpus alphabet) purely to push the
    * table past the expression/partition-local threshold; an inert pair
    * can never match an adjacent symbol pair (symbols are always
    * concatenations of word characters), so the oracle replays exactly
    * the FIRING merges — iteratively via list_reduce over the
    * rank-ordered merge list (a 4096-deep nested replace() expression
    * would not parse), the same one-pass-per-merge boundary-safe
    * replace semantics as the expression chain and the encoder. */
  /** The scale-path oracle additionally REPLAYS the
    * [[graft.operators.TextOps.BpeWordLenCap]] long-word segmentation
    * (the CASE over `len(w)` in `enc`): words past the cap pre-split
    * into cap-sized segments, each encoding independently, pieces
    * concatenating — character-identical semantics to both Spark encode
    * paths. */
  private def bpeEncodeScaledOracleSql: String =
    """WITH RECURSIVE toks AS MATERIALIZED (
         SELECT doc_id,
           list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
         FROM documents),
       freq AS MATERIALIZED (
         SELECT w, count(*) AS c
         FROM (SELECT unnest(toks) AS w FROM toks) GROUP BY w),
       ranked AS MATERIALIZED (
         SELECT w, row_number() OVER (ORDER BY c DESC, w ASC) AS rnk FROM freq
         QUALIFY rnk <= 200),
       pairs AS MATERIALIZED (
         SELECT substr(w, 1, i) AS lhs, substr(w, i + 1, 1) AS rhs,
           min(rnk * 1000 + i) AS first_seen
         FROM (SELECT w, rnk, unnest(range(1, len(w))) AS i FROM ranked)
         GROUP BY lhs, rhs),
       merges AS MATERIALIZED (
         SELECT list(lhs || chr(1) || rhs ORDER BY first_seen) AS ms FROM pairs),
       enc AS MATERIALIZED (
         SELECT w, flatten(list_transform(
             CASE WHEN len(w) <= CAP THEN [w]
                  ELSE list_transform(range(0, (len(w) - 1) // CAP + 1),
                         k -> substr(w, k * CAP + 1, CAP)) END,
             s -> string_split(trim(list_reduce(
               list_prepend(
                 '  ' || array_to_string(list_transform(range(1, len(s) + 1),
                   i -> substr(s, i, 1)), '  ') || '  ',
                 ms),
               (acc, m) -> replace(acc,
                 ' ' || string_split(m, chr(1))[1] || '  ' ||
                   string_split(m, chr(1))[2] || ' ',
                 ' ' || string_split(m, chr(1))[1] ||
                   string_split(m, chr(1))[2] || ' '))), '  '))) AS pcs
         FROM (SELECT DISTINCT unnest(toks) AS w FROM toks) CROSS JOIN merges),
       dt AS (SELECT doc_id, unnest(toks) AS w,
           unnest(range(1, len(toks) + 1)) AS pos FROM toks),
       docpcs AS (
         SELECT dt.doc_id,
           CAST(sum(len(e.pcs)) AS BIGINT) AS n_bpe,
           md5(string_agg(array_to_string(e.pcs, ' '), ' ' ORDER BY dt.pos))
             AS tok_fp
         FROM dt JOIN enc e ON e.w = dt.w GROUP BY dt.doc_id)
       SELECT t.doc_id, coalesce(p.n_bpe, 0) AS n_bpe,
         coalesce(p.tok_fp, md5('')) AS tok_fp
       FROM toks t LEFT JOIN docpcs p ON p.doc_id = t.doc_id
       ORDER BY t.doc_id"""
      .replace("CAP", graft.operators.TextOps.BpeWordLenCap.toString)

  /** DuckDB twin of [[graft.operators.TextOps.bpeFertility]]: the
    * bpeEncode piece counts rolled up at the language grain. */
  private def bpeFertilityOracleSql: String = {
    val enc =
      """'  ' || array_to_string(list_transform(range(1, len(w) + 1), i -> substr(w, i, 1)), '  ') || '  '"""
    val merged = graft.operators.TextOps.BpeMergeTable.foldLeft(enc) {
      case (e, (a, b)) => s"replace($e, ' $a  $b ', ' $a$b ')"
    }
    s"""WITH t AS (SELECT lang,
           list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
         FROM documents),
       p AS (SELECT lang, CAST(len(toks) AS BIGINT) AS w_doc,
           CAST(list_sum(list_transform(toks,
             w -> len(string_split(trim($merged), '  ')))) AS BIGINT) AS b_doc
         FROM t WHERE len(toks) > 0)
       SELECT lang, CAST(SUM(w_doc) AS BIGINT) AS n_words,
         CAST(SUM(b_doc) AS BIGINT) AS n_bpe_tokens,
         (CAST(SUM(b_doc) AS BIGINT) * 1000000) // CAST(SUM(w_doc) AS BIGINT)
           AS fertility_ppm
       FROM p GROUP BY lang ORDER BY lang"""
  }

  /** The raw per-doc label + fixed-point feature extraction, DuckDB form
    * (mirrors TextOps.rawQualityFeatures), doc universe parameterized so
    * the train/eval split reuses it. */
  private def qualityRawFeatureSql(docWhere: String): String = {
    val FP = 1000000L
    s"""SELECT doc_id,
           CAST(CASE WHEN n BETWEEN 10 AND 1000 AND na * 5 >= n * 4
             AND nreq >= 2 THEN 1 ELSE 0 END AS BIGINT) AS y,
           least(n, 256) * $FP // 256 AS r_len,
           nd * $FP // n AS r_ttr,
           ns * $FP // n AS r_stop,
           na * $FP // n AS r_alpha
         FROM (
           SELECT doc_id, CAST(len(words) AS BIGINT) AS n,
             CAST(len(list_distinct(words)) AS BIGINT) AS nd,
             CAST(len(list_filter(words, w ->
               list_contains(['the','a','of','and','is'], w))) AS BIGINT) AS ns,
             CAST(len(list_filter(words, w ->
               regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS na,
             CAST(len(list_filter(['the','a','of','and','is'], m ->
               list_contains(words, m))) AS BIGINT) AS nreq
           FROM (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS words
                 FROM documents WHERE $docWhere))
         WHERE n >= 1"""
  }

  /** Held-out test-feature CTEs (testraw + testf) centered with the
    * TRAIN means — shared by the eval and streaming-filter oracles. */
  private def qualityTestfSql: String = {
    val FP = 1000000L
    s"""testraw AS MATERIALIZED (
         ${qualityRawFeatureSql("doc_id % 2 = 1")}),
       testf AS MATERIALIZED (SELECT doc_id, y, CAST($FP AS BIGINT) AS x_bias,
           r_len - (SELECT m_len FROM mm) AS x_len,
           r_ttr - (SELECT m_ttr FROM mm) AS x_ttr,
           r_stop - (SELECT m_stop FROM mm) AS x_stop,
           r_alpha - (SELECT m_alpha FROM mm) AS x_alpha
         FROM testraw)"""
  }

  /** The hard-sigmoid prediction expression under the s`iters` weights. */
  private def qualityPredSql(iters: Int): String = {
    val FP = 1000000L
    s"""CASE WHEN greatest(0, least($FP, ${FP / 2} +
         (((SELECT w_bias FROM s$iters) * x_bias +
           (SELECT w_len FROM s$iters) * x_len +
           (SELECT w_ttr FROM s$iters) * x_ttr +
           (SELECT w_stop FROM s$iters) * x_stop +
           (SELECT w_alpha FROM s$iters) * x_alpha) // $FP) // 4)) * 2 >= $FP
       THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END"""
  }

  /** Unrolled replay of the fixed-point quality-model training
    * (TextOps.trainQualityModel): per round, one aggregation computes
    * the 5 gradient sums + the accuracy of the current weights; the next
    * round's weights come from scalar subqueries over the previous CTE
    * (all CTEs MATERIALIZED — plain CTEs inline and re-evaluate
    * exponentially through the subquery chain). All arithmetic is int64
    * with toward-zero division (`//` here, `div` in Spark, `/` on Long
    * on the driver), so the whole optimization is bit-exact across
    * engines. Returns the shared WITH-body; callers append the trace
    * selects (train gate) or the held-out confusion tail (eval gate). */
  private def qualityTrainOracleCtes(iters: Int, docWhere: String): String = {
    val FP = 1000000L
    val gain = 6L
    val head =
      s"""WITH raw AS MATERIALIZED (
           ${qualityRawFeatureSql(docWhere)}),
         nn AS MATERIALIZED (SELECT greatest(COUNT(*), 1) AS n_docs FROM raw),
         mm AS MATERIALIZED (SELECT
           CAST(sum(r_len) // (SELECT n_docs FROM nn) AS BIGINT) AS m_len,
           CAST(sum(r_ttr) // (SELECT n_docs FROM nn) AS BIGINT) AS m_ttr,
           CAST(sum(r_stop) // (SELECT n_docs FROM nn) AS BIGINT) AS m_stop,
           CAST(sum(r_alpha) // (SELECT n_docs FROM nn) AS BIGINT) AS m_alpha
           FROM raw),
         f AS MATERIALIZED (SELECT y, CAST($FP AS BIGINT) AS x_bias,
             r_len - (SELECT m_len FROM mm) AS x_len,
             r_ttr - (SELECT m_ttr FROM mm) AS x_ttr,
             r_stop - (SELECT m_stop FROM mm) AS x_stop,
             r_alpha - (SELECT m_alpha FROM mm) AS x_alpha
           FROM raw),
         s0 AS MATERIALIZED (SELECT CAST(0 AS BIGINT) AS w_bias, CAST(0 AS BIGINT) AS w_len,
           CAST(0 AS BIGINT) AS w_ttr, CAST(0 AS BIGINT) AS w_stop,
           CAST(0 AS BIGINT) AS w_alpha)"""
    val rounds = (0 to iters).map { i =>
      val agg =
        s""",
         a$i AS MATERIALIZED (
           SELECT CAST(sum(err * x_bias // $FP) AS BIGINT) AS g0,
             CAST(sum(err * x_len // $FP) AS BIGINT) AS g1,
             CAST(sum(err * x_ttr // $FP) AS BIGINT) AS g2,
             CAST(sum(err * x_stop // $FP) AS BIGINT) AS g3,
             CAST(sum(err * x_alpha // $FP) AS BIGINT) AS g4,
             CAST(sum(CASE WHEN (sig * 2 >= $FP) = (y = 1) THEN 1 ELSE 0 END)
               AS BIGINT) AS correct
           FROM (
             SELECT y, x_bias, x_len, x_ttr, x_stop, x_alpha, sig,
               y * $FP - sig AS err
             FROM (
               SELECT *, greatest(0, least($FP, ${FP / 2} +
                 (((SELECT w_bias FROM s$i) * x_bias +
                   (SELECT w_len FROM s$i) * x_len +
                   (SELECT w_ttr FROM s$i) * x_ttr +
                   (SELECT w_stop FROM s$i) * x_stop +
                   (SELECT w_alpha FROM s$i) * x_alpha) // $FP) // 4)) AS sig
               FROM f)))"""
      val next = if (i < iters)
        s""",
         s${i + 1} AS MATERIALIZED (
           SELECT (SELECT w_bias FROM s$i) + (SELECT g0 FROM a$i) * $gain // (SELECT n_docs FROM nn) AS w_bias,
             (SELECT w_len FROM s$i) + (SELECT g1 FROM a$i) * $gain // (SELECT n_docs FROM nn) AS w_len,
             (SELECT w_ttr FROM s$i) + (SELECT g2 FROM a$i) * $gain // (SELECT n_docs FROM nn) AS w_ttr,
             (SELECT w_stop FROM s$i) + (SELECT g3 FROM a$i) * $gain // (SELECT n_docs FROM nn) AS w_stop,
             (SELECT w_alpha FROM s$i) + (SELECT g4 FROM a$i) * $gain // (SELECT n_docs FROM nn) AS w_alpha)"""
      else ""
      agg + next
    }.mkString
    s"$head$rounds"
  }

  private def qualityTrainOracleSql(iters: Int): String = {
    val selects = (0 to iters).map(i =>
      s"""SELECT CAST($i AS BIGINT) AS iter, w_bias, w_len, w_ttr, w_stop, w_alpha,
           (SELECT correct FROM a$i) AS n_correct FROM s$i""")
      .mkString("\nUNION ALL\n")
    s"${qualityTrainOracleCtes(iters, "TRUE")}\n$selects\nORDER BY iter"
  }

  /** Train on even doc_ids, evaluate the held-out odd half with the
    * TRAIN-set means and final weights — one confusion row. */
  private def qualityEvalOracleSql(iters: Int): String = {
    val FP = 1000000L
    s"""${qualityTrainOracleCtes(iters, "doc_id % 2 = 0")},
       $qualityTestfSql,
       evalp AS MATERIALIZED (SELECT y, ${qualityPredSql(iters)} AS p FROM testf),
       conf AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(sum(CASE WHEN p = 1 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           CAST(sum(CASE WHEN p = 1 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
           CAST(sum(CASE WHEN p = 0 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
           CAST(sum(CASE WHEN p = 0 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn
         FROM evalp)
     SELECT n_test, tp, fp, tn, fn, (tp + tn) * $FP // n_test AS accuracy_ppm FROM conf"""
  }

  /** Per-doc predictions of the streaming filter over the held-out half
    * — the stream is stateless, so the relational replay is exact. */
  private def qualityFilterStreamOracleSql(iters: Int): String =
    s"""${qualityTrainOracleCtes(iters, "doc_id % 2 = 0")},
       $qualityTestfSql
     SELECT doc_id, y, ${qualityPredSql(iters)} AS pred FROM testf ORDER BY doc_id"""
}
