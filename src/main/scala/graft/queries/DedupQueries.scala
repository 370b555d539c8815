package graft.queries

import graft.operators._

/** Exact, fuzzy and span-level deduplication and decontamination. */
object DedupQueries {
  val all: Seq[Query] = Seq(
    // dedup family
    Query("q_dedup_exact", DedupOps.exactDedup,
      """SELECT md5(text) AS content_fp, COUNT(*) AS n_copies, MIN(doc_id) AS canonical_doc_id
         FROM documents GROUP BY 1 ORDER BY canonical_doc_id"""),
    Query("q_ngram_jaccard", DedupOps.ngramJaccard,
      """WITH t AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
           FROM documents),
         s AS (SELECT doc_id,
             CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
                  ELSE list_distinct(list_transform(range(1, len(toks) - 1),
                         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) END AS sh
           FROM t)
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE) /
             CAST(len(a.sh) + len(b.sh) - len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE)
             AS jaccard
         FROM s a JOIN s b ON b.doc_id = a.doc_id + 1 ORDER BY doc_a"""),
    // Contamination: per-doc fraction of distinct trigram shingles shared
    // with any other document.
    Query("q_shared_ngrams", DedupOps.sharedNgrams,
      """WITH t AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
           FROM documents),
         s AS (SELECT doc_id,
             CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
                  ELSE list_distinct(list_transform(range(1, len(toks) - 1),
                         i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) END AS sh
           FROM t),
         x AS (SELECT doc_id, unnest(sh) AS g FROM s),
         c AS (SELECT g, COUNT(DISTINCT doc_id) AS nd FROM x GROUP BY g)
         SELECT x.doc_id,
           COUNT(*) AS n_shingles,
           CAST(SUM(CASE WHEN c.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
           CAST(SUM(CASE WHEN c.nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS shared_frac
         FROM x JOIN c USING (g) GROUP BY x.doc_id ORDER BY doc_id"""),
    Query("q_minhash_lsh", DedupOps.minhashLshPairs,
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000, substr(text, 1, length(text) - 20)
           FROM documents WHERE doc_id % 10 = 0),
         t AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
           FROM corpus),
         s AS (SELECT doc_id,
             list_distinct(list_transform(range(1, len(toks) - 1),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
           FROM t),
         p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE) AS inter,
             CAST(len(a.sh) + len(b.sh) AS DOUBLE) AS tot
           FROM s a JOIN s b ON a.doc_id < b.doc_id)
         SELECT doc_a, doc_b, inter / (tot - inter) AS jaccard
         FROM p WHERE inter / (tot - inter) >= 0.8 ORDER BY doc_a, doc_b"""),
    // Connected components over the same verified pair set: canonical =
    // min doc_id reachable, via a recursive transitive-closure CTE.
    Query("q_neardup_groups", DedupOps.nearDupGroups,
      """WITH RECURSIVE corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000, substr(text, 1, length(text) - 20)
           FROM documents WHERE doc_id % 10 = 0),
         t AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
           FROM corpus),
         s AS (SELECT doc_id,
             list_distinct(list_transform(range(1, len(toks) - 1),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
           FROM t),
         p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM s a JOIN s b ON a.doc_id < b.doc_id
           WHERE CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE)
             / (len(a.sh) + len(b.sh)
               - len(list_filter(a.sh, x -> list_contains(b.sh, x)))) >= 0.8),
         e AS (SELECT doc_a AS src, doc_b AS dst FROM p
               UNION ALL SELECT doc_b, doc_a FROM p),
         reach(doc_id, label) AS (
           SELECT src, src FROM e
           UNION
           SELECT e.dst, reach.label FROM reach JOIN e ON e.src = reach.doc_id)
         SELECT doc_id, CAST(min(label) AS BIGINT) AS canonical_id
         FROM reach GROUP BY doc_id ORDER BY doc_id"""),
    // Keep-best selection: same recursive-CTE groups, argmax quality
    // (ttr DESC, doc_id) per group.
    Query("q_neardup_keep_best", DedupOps.nearDupKeepBest,
      """WITH RECURSIVE corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000, substr(text, 1, length(text) - 20)
           FROM documents WHERE doc_id % 10 = 0),
         t AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
           FROM corpus),
         s AS (SELECT doc_id,
             list_distinct(list_transform(range(1, len(toks) - 1),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
           FROM t),
         p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM s a JOIN s b ON a.doc_id < b.doc_id
           WHERE CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE)
             / (len(a.sh) + len(b.sh)
               - len(list_filter(a.sh, x -> list_contains(b.sh, x)))) >= 0.8),
         e AS (SELECT doc_a AS src, doc_b AS dst FROM p
               UNION ALL SELECT doc_b, doc_a FROM p),
         reach(doc_id, label) AS (
           SELECT src, src FROM e
           UNION
           SELECT e.dst, reach.label FROM reach JOIN e ON e.src = reach.doc_id),
         g AS (SELECT doc_id, CAST(min(label) AS BIGINT) AS canonical_id
           FROM reach GROUP BY doc_id),
         q AS (SELECT doc_id,
             CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS ttr
           FROM t),
         r AS (SELECT g.canonical_id, g.doc_id, q.ttr,
             ROW_NUMBER() OVER (PARTITION BY g.canonical_id
               ORDER BY q.ttr DESC, g.doc_id) AS rk
           FROM g JOIN q USING (doc_id))
         SELECT canonical_id, COUNT(*) AS n_members,
           CAST(MAX(CASE WHEN rk = 1 THEN doc_id END) AS BIGINT) AS keep_doc_id,
           MAX(CASE WHEN rk = 1 THEN ttr END) AS keep_ttr
         FROM r GROUP BY canonical_id ORDER BY canonical_id"""),
    // Token hash = first 15 hex chars of md5 (60 bits) so DuckDB can
    // reproduce the bit-vote exactly; the vote is order-insensitive.
    Query("q_simhash", DedupOps.simhashBuckets,
      """WITH t AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
           FROM documents),
         h AS (SELECT doc_id,
             list_transform(list_distinct(toks),
               tk -> CAST('0x' || substr(md5(tk), 1, 15) AS BIGINT)) AS th
           FROM t),
         s AS (SELECT doc_id,
             CAST(list_sum(list_transform(range(0, 60), b ->
               CASE WHEN list_sum(list_transform(th,
                      hh -> CASE WHEN ((hh >> b) & 1) = 1 THEN 1 ELSE -1 END)) > 0
                    THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS simhash
           FROM h)
         SELECT doc_id, simhash, simhash >> 44 AS bucket FROM s ORDER BY doc_id"""),
    // Candidate generation (bucket equality) and the Hamming verify are
    // both deterministic functions computed identically by both engines
    // (md5-based token hashes), so the compare is exact by construction.
    Query("q_simhash_pairs", DedupOps.simhashPairs,
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000, substr(text, 1, length(text) - 20)
           FROM documents WHERE doc_id % 10 = 0),
         t AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
           FROM corpus),
         h AS (SELECT doc_id,
             list_transform(list_distinct(toks),
               tk -> CAST('0x' || substr(md5(tk), 1, 15) AS BIGINT)) AS th
           FROM t),
         s AS (SELECT doc_id,
             CAST(list_sum(list_transform(range(0, 60), b ->
               CASE WHEN list_sum(list_transform(th,
                      hh -> CASE WHEN ((hh >> b) & 1) = 1 THEN 1 ELSE -1 END)) > 0
                    THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS simhash
           FROM h),
         p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
           FROM s a JOIN s b
             ON (a.simhash >> 44) = (b.simhash >> 44) AND a.doc_id < b.doc_id)
         SELECT doc_a, doc_b, hamming FROM p WHERE hamming <= 10
         ORDER BY doc_a, doc_b"""),
    // Ensemble calibration: the three near-dup signals on the
    // consecutive-pair probe set with a majority vote. Every kernel
    // (Jaccard, md5 SimHash + bit_count(xor), double cosine) is computed
    // identically by both engines.
    Query("q_dedup_signals", DedupOps.dedupSignals,
      """WITH t AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
           FROM documents),
         s AS (SELECT doc_id,
             CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
                  ELSE list_distinct(list_transform(range(1, len(toks) - 1),
                         i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) END AS sh
           FROM t),
         jac AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE)
               / CAST(len(a.sh) + len(b.sh)
                   - len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE) AS jaccard
           FROM s a JOIN s b ON b.doc_id = a.doc_id + 1),
         hsh AS (SELECT doc_id,
             list_transform(list_distinct(toks),
               tk -> CAST('0x' || substr(md5(tk), 1, 15) AS BIGINT)) AS th
           FROM t),
         sim AS (SELECT doc_id,
             CAST(list_sum(list_transform(range(0, 60), b ->
               CASE WHEN list_sum(list_transform(th,
                      hh -> CASE WHEN ((hh >> b) & 1) = 1 THEN 1 ELSE -1 END)) > 0
                    THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS simhash
           FROM hsh),
         ham AS (SELECT a.doc_id AS doc_a,
             CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
           FROM sim a JOIN sim b ON b.doc_id = a.doc_id + 1),
         e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
         cosp AS (SELECT a.vec_id AS doc_a,
             list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm) AS cos
           FROM n a JOIN n b ON b.vec_id = a.vec_id + 1)
         SELECT jac.doc_a, jac.doc_b, jac.jaccard, ham.hamming, cosp.cos,
           CAST(CASE WHEN jaccard >= 0.8 THEN 1 ELSE 0 END
             + CASE WHEN hamming <= 10 THEN 1 ELSE 0 END
             + CASE WHEN cos >= 0.95 THEN 1 ELSE 0 END AS BIGINT) AS dup_votes
         FROM jac JOIN ham USING (doc_a) JOIN cosp USING (doc_a)
         ORDER BY doc_a"""),
    // Oracle is the brute-force all-pairs truth set; the Spark side is
    // MinHash+LSH banding + exact verification, which attains 100% recall
    // at jaccard>=0.8 on this (deterministic) corpus.
    // Admission gate: incoming docs vs the corpus — brute-force exact
    // Jaccard in the oracle (the LSH candidates have full recall for
    // pairs at this threshold, verified exactly, so the sets agree).
    Query("q_dedup_gate", DedupOps.dedupGate,
      """WITH incoming AS (
           SELECT doc_id + 1000000 AS doc_id, substr(text, 1, length(text) - 20) AS text
           FROM documents WHERE doc_id % 10 = 0
           UNION ALL
           SELECT doc_id + 2000000, reverse(text) FROM documents WHERE doc_id % 10 = 5),
         ti AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
           FROM incoming),
         si AS (SELECT doc_id,
             list_distinct(list_transform(range(1, len(toks) - 1),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
           FROM ti WHERE len(toks) > 2),
         tc AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
           FROM documents),
         sc AS (SELECT doc_id,
             list_distinct(list_transform(range(1, len(toks) - 1),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
           FROM tc WHERE len(toks) > 2),
         v AS (SELECT i.doc_id AS in_id, c.doc_id AS corpus_id,
             CAST(len(list_filter(i.sh, x -> list_contains(c.sh, x))) AS DOUBLE)
               / (len(i.sh) + len(c.sh)
                 - len(list_filter(i.sh, x -> list_contains(c.sh, x)))) AS jaccard
           FROM si i JOIN sc c ON TRUE),
         hits AS (SELECT * FROM v WHERE jaccard >= 0.8),
         m AS (SELECT in_id, COUNT(*) AS n_matches FROM hits GROUP BY in_id),
         b AS (SELECT in_id, corpus_id AS best_match, jaccard AS best_jaccard
           FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY in_id
               ORDER BY jaccard DESC, corpus_id ASC) AS rn FROM hits)
           WHERE rn = 1)
         SELECT i.doc_id,
           CASE WHEN m.in_id IS NULL THEN 'admit' ELSE 'reject' END AS decision,
           COALESCE(m.n_matches, 0) AS n_matches,
           COALESCE(b.best_match, 0) AS best_match,
           COALESCE(b.best_jaccard, 0.0) AS best_jaccard
         FROM incoming i
           LEFT JOIN m ON i.doc_id = m.in_id
           LEFT JOIN b ON i.doc_id = b.in_id
         ORDER BY i.doc_id"""),
    // Paragraph dedup: fixed 12-token chunks, first occurrence by
    // (doc_id, pos) survives corpus-wide, per-doc survival report.
    Query("q_paragraph_dedup", DedupOps.paragraphDedup,
      """WITH t AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
           FROM documents),
         n AS (SELECT doc_id, toks FROM t WHERE len(toks) > 0),
         p AS (SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
             array_to_string(toks[(u.i*12+1):(u.i*12+12)], ' ') AS para
           FROM n, UNNEST(range(0, CAST(ceil(len(toks)/12.0) AS BIGINT))) AS u(i)),
         r AS (SELECT doc_id, para,
             ROW_NUMBER() OVER (PARTITION BY para ORDER BY doc_id, pos) AS rn
           FROM p)
         SELECT doc_id, COUNT(*) AS n_paras,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS kept_frac
         FROM r GROUP BY doc_id ORDER BY doc_id"""),
    // Edit-distance confirmation over the same verified pair set: the
    // oracle re-derives q_minhash_lsh's brute-force pairs, then applies
    // the identical levenshtein arithmetic on just those rows.
    Query("q_editdist_verify", DedupOps.editDistVerify,
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000, substr(text, 1, length(text) - 20)
           FROM documents WHERE doc_id % 10 = 0),
         t AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
           FROM corpus),
         s AS (SELECT doc_id,
             list_distinct(list_transform(range(1, len(toks) - 1),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
           FROM t),
         p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE) AS inter,
             CAST(len(a.sh) + len(b.sh) AS DOUBLE) AS tot
           FROM s a JOIN s b ON a.doc_id < b.doc_id),
         v AS (SELECT doc_a, doc_b, inter / (tot - inter) AS jaccard
           FROM p WHERE inter / (tot - inter) >= 0.8),
         x AS (SELECT v.doc_a, v.doc_b, v.jaccard,
             CAST(levenshtein(ca.text, cb.text) AS BIGINT) AS dist,
             CAST(greatest(length(ca.text), length(cb.text)) AS BIGINT) AS mx
           FROM v JOIN corpus ca ON ca.doc_id = v.doc_a
                  JOIN corpus cb ON cb.doc_id = v.doc_b)
         SELECT doc_a, doc_b, jaccard, dist,
           (mx - dist) * 1000000 // mx AS edit_sim_ppm,
           dist * 5 <= mx AS confirmed
         FROM x ORDER BY doc_a, doc_b"""),
    // ExactSubstr dup spans: 20-token window hashes (60-bit, same conv
    // trick as elsewhere), >=2-distinct-doc filter, islands merge.
    Query("q_dup_spans", (s, d) => DedupOps.dupSpans(s, d),
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000, substr(text, 1, length(text) - 20)
           FROM documents WHERE doc_id % 10 = 0),
         t AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
           FROM corpus),
         wns AS (SELECT doc_id, u.s AS start, u.h AS h FROM (
           SELECT doc_id, unnest(list_transform(range(0, len(toks) - 20 + 1),
             i -> {'s': i,
               'h': CAST('0x' || substr(md5(array_to_string(list_slice(toks, i + 1, i + 20), ' ')), 1, 15) AS BIGINT)})) AS u
           FROM t WHERE len(toks) >= 20)),
         dh AS (SELECT h FROM wns GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
         d AS (SELECT doc_id, start FROM wns JOIN dh USING (h)),
         f AS (SELECT doc_id, start,
             CASE WHEN lag(start + 20) OVER (PARTITION BY doc_id ORDER BY start) IS NULL
                  OR start > lag(start + 20) OVER (PARTITION BY doc_id ORDER BY start)
               THEN 1 ELSE 0 END AS ni
           FROM d),
         g AS (SELECT doc_id, start,
             SUM(ni) OVER (PARTITION BY doc_id ORDER BY start ROWS UNBOUNDED PRECEDING) AS island
           FROM f)
         SELECT doc_id, CAST(island AS BIGINT) AS span_id,
           CAST(MIN(start) AS BIGINT) AS start_tok,
           CAST(MAX(start) + 20 AS BIGINT) AS end_tok,
           CAST(MAX(start) + 20 - MIN(start) AS BIGINT) AS n_dup_tokens
         FROM g GROUP BY doc_id, island ORDER BY doc_id, span_id"""),
    // intra-document repeated-span excision (self-repetition cleaning)
    // Intra-document repeated spans: every 7th doc re-appends its own
    // first 8 tokens; a window hash occurring >= 2 times within one doc
    // keeps its first occurrence and excises the rest, merged to
    // maximal spans by the islands fold.
    Query("q_selfdup_spans", (s, d) => DedupOps.selfDupSpans(s, d),
      """WITH t0 AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t0
           FROM documents),
         t AS (SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN list_concat(t0, t0[1:8]) ELSE t0 END AS toks
           FROM t0 WHERE len(t0) >= 8),
         wns AS (SELECT doc_id, u.s AS start, u.h AS h FROM (
           SELECT doc_id, unnest(list_transform(range(0, len(toks) - 8 + 1),
             i -> {'s': i,
               'h': CAST('0x' || substr(md5(array_to_string(list_slice(toks, i + 1, i + 8), ' ')), 1, 15) AS BIGINT)})) AS u
           FROM t)),
         rep AS (SELECT doc_id, start FROM (
             SELECT doc_id, start,
               COUNT(*) OVER (PARTITION BY doc_id, h) AS cnt,
               MIN(start) OVER (PARTITION BY doc_id, h) AS first_start
             FROM wns)
           WHERE cnt >= 2 AND start > first_start),
         f AS (SELECT doc_id, start,
             CASE WHEN lag(start + 8) OVER (PARTITION BY doc_id ORDER BY start) IS NULL
                  OR start > lag(start + 8) OVER (PARTITION BY doc_id ORDER BY start)
               THEN 1 ELSE 0 END AS ni
           FROM rep),
         g AS (SELECT doc_id, start,
             SUM(ni) OVER (PARTITION BY doc_id ORDER BY start ROWS UNBOUNDED PRECEDING) AS island
           FROM f)
         SELECT doc_id, CAST(island AS BIGINT) AS span_id,
           CAST(MIN(start) AS BIGINT) AS start_tok,
           CAST(MAX(start) + 8 AS BIGINT) AS end_tok,
           CAST(MAX(start) + 8 - MIN(start) AS BIGINT) AS n_dup_tokens
         FROM g GROUP BY doc_id, island ORDER BY doc_id, span_id"""),
    // Bloom gate: the verdict is EXACT membership (the bloom only prunes
    // the fast path and its false positives die in the verify semi-join),
    // so the oracle is a plain IN-subquery.
    Query("q_exact_gate_bloom", DedupOps.exactGateBloom,
      """WITH inc AS (
           SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
           UNION ALL
           SELECT doc_id + 2000000, reverse(text) FROM documents WHERE doc_id % 10 = 5)
         SELECT doc_id,
           CAST(CASE WHEN text IN (SELECT text FROM documents) THEN 1 ELSE 0 END AS BIGINT) AS is_dup
         FROM inc ORDER BY doc_id"""),
    // Decontamination: the eval set is a 200-char excerpt of every 50th
    // document, so both engines rebuild it deterministically; overlap is
    // counted on distinct word 5-grams.
    Query("q_decontaminate", DedupOps.decontaminate,
      """WITH t AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
           FROM documents),
         s AS (SELECT doc_id,
             CASE WHEN len(toks) < 5 THEN CAST([] AS VARCHAR[])
                  ELSE list_distinct(list_transform(range(1, len(toks) - 3),
                         i -> array_to_string(toks[i:i+4], ' '))) END AS sh
           FROM t),
         ev AS (SELECT doc_id + 2000000 AS eval_id,
             list_filter(string_split_regex(substr(text, 21, 200), '\s+'), x -> x <> '') AS toks
           FROM documents WHERE doc_id % 50 = 0),
         es AS (SELECT eval_id, unnest(
             CASE WHEN len(toks) < 5 THEN CAST([] AS VARCHAR[])
                  ELSE list_distinct(list_transform(range(1, len(toks) - 3),
                         i -> array_to_string(toks[i:i+4], ' '))) END) AS g
           FROM ev),
         cg AS (SELECT doc_id, unnest(sh) AS g FROM s),
         hits AS (SELECT doc_id, COUNT(DISTINCT g) AS n_overlap,
             COUNT(DISTINCT eval_id) AS n_eval_docs
           FROM cg JOIN es USING (g) GROUP BY doc_id)
         SELECT s.doc_id, CAST(len(sh) AS BIGINT) AS n_shingles,
           COALESCE(n_overlap, 0) AS n_overlap,
           COALESCE(n_eval_docs, 0) AS n_eval_docs,
           CAST(COALESCE(n_overlap, 0) AS DOUBLE) / CAST(len(sh) AS DOUBLE) AS overlap_frac,
           COALESCE(n_overlap, 0) >= 8 AS contaminated
         FROM s LEFT JOIN hits USING (doc_id)
         WHERE len(sh) > 0
         ORDER BY doc_id"""),
    // bloom-prefiltered twin: same verdicts, corpus shingles gated by a
    // might_contain pass before the exact verify join
    // Bloom-prefiltered decontamination twin: the bloom is only a
    // prefilter (exact join verifies), so the oracle is the exact
    // relational recomputation restricted to docs with >=1 hit.
    Query("q_decontaminate_bloom", DedupOps.decontaminateBloom,
      """WITH t AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
           FROM documents),
         s AS (SELECT doc_id,
             CASE WHEN len(toks) < 5 THEN CAST([] AS VARCHAR[])
                  ELSE list_distinct(list_transform(range(1, len(toks) - 3),
                         i -> array_to_string(toks[i:i+4], ' '))) END AS sh
           FROM t),
         ev AS (SELECT list_filter(string_split_regex(substr(text, 21, 200), '\s+'), x -> x <> '') AS toks
           FROM documents WHERE doc_id % 50 = 0),
         es AS (SELECT DISTINCT unnest(
             CASE WHEN len(toks) < 5 THEN CAST([] AS VARCHAR[])
                  ELSE list_distinct(list_transform(range(1, len(toks) - 3),
                         i -> array_to_string(toks[i:i+4], ' '))) END) AS g
           FROM ev),
         cg AS (SELECT doc_id, unnest(sh) AS g FROM s)
         SELECT doc_id, CAST(COUNT(DISTINCT cg.g) AS BIGINT) AS n_overlap,
           COUNT(DISTINCT cg.g) >= 8 AS contaminated
         FROM cg JOIN es USING (g) GROUP BY doc_id ORDER BY doc_id"""),
    // asymmetric containment (short-inside-long) on shingle-key candidates
    // Asymmetric containment dedup: distinct-5-gram containment of the
    // token-aligned fragment (tokens 5..44 of every 10th doc) in each
    // candidate source, exact integer ppm. Shingles in more than 256
    // source docs are dropped before the join (the DF hot-key cap) —
    // replayed here so the gate covers the capped semantics.
    Query("q_containment_dedup", (s, d) => DedupOps.containmentDedup(s, d),
      """WITH t AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
           FROM documents),
         cs AS (SELECT doc_id AS src_id,
             CASE WHEN len(toks) < 5 THEN CAST([] AS VARCHAR[])
                  ELSE list_distinct(list_transform(range(1, len(toks) - 3),
                         i -> array_to_string(toks[i:i+4], ' '))) END AS sh
           FROM t),
         fr AS (SELECT doc_id + 3000000 AS frag_id, toks[5:44] AS toks
           FROM t WHERE doc_id % 10 = 0),
         fs AS (SELECT frag_id,
             CASE WHEN len(toks) < 5 THEN CAST([] AS VARCHAR[])
                  ELSE list_distinct(list_transform(range(1, len(toks) - 3),
                         i -> array_to_string(toks[i:i+4], ' '))) END AS sh
           FROM fr),
         fg AS (SELECT frag_id, CAST(len(sh) AS BIGINT) AS n_frag, unnest(sh) AS g FROM fs),
         cg AS (SELECT src_id, unnest(sh) AS g FROM cs),
         cold AS (SELECT src_id, g FROM cg
           WHERE g NOT IN (SELECT g FROM cg GROUP BY g HAVING COUNT(*) > 256)),
         p AS (SELECT frag_id, n_frag, src_id,
             CAST(COUNT(DISTINCT g) AS BIGINT) AS n_shared
           FROM fg JOIN cold USING (g) GROUP BY frag_id, n_frag, src_id)
         SELECT frag_id, src_id, n_shared, n_frag,
           n_shared * 1000000 // n_frag AS containment_ppm,
           (n_shared * 1000000 // n_frag) >= 600000 AS contained
         FROM p WHERE n_shared >= 3 ORDER BY frag_id, src_id"""),
    // surgical decontamination: merged token-range excision spans
    // Surgical decontamination: positional 5-gram hits merged into
    // maximal excision spans by the gaps-and-islands fold.
    Query("q_decontaminate_spans", DedupOps.decontaminateSpans,
      """WITH t AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
           FROM documents),
         p AS (SELECT doc_id, i - 1 AS i,
             array_to_string(toks[i:i+4], ' ') AS g
           FROM t, LATERAL (SELECT unnest(range(1, len(toks) - 3)) AS i)
           WHERE len(toks) >= 5),
         ev AS (SELECT list_filter(string_split_regex(substr(text, 21, 200), '\s+'), x -> x <> '') AS toks
           FROM documents WHERE doc_id % 50 = 0),
         es AS (SELECT DISTINCT unnest(
             CASE WHEN len(toks) < 5 THEN CAST([] AS VARCHAR[])
                  ELSE list_distinct(list_transform(range(1, len(toks) - 3),
                         i -> array_to_string(toks[i:i+4], ' '))) END) AS g
           FROM ev),
         h AS (SELECT DISTINCT doc_id, i FROM p JOIN es USING (g)),
         w AS (SELECT doc_id, i,
             MAX(i + 4) OVER (PARTITION BY doc_id ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
           FROM h),
         f AS (SELECT doc_id, i,
             CASE WHEN prev_end IS NULL OR i > prev_end + 1 THEN 1 ELSE 0 END AS flag
           FROM w),
         isl AS (SELECT doc_id, i,
             SUM(flag) OVER (PARTITION BY doc_id ORDER BY i
               ROWS UNBOUNDED PRECEDING) AS island
           FROM f)
         SELECT doc_id, CAST(MIN(i) AS BIGINT) AS span_start,
           CAST(MAX(i) + 4 AS BIGINT) AS span_end,
           CAST(MAX(i) + 4 - MIN(i) + 1 AS BIGINT) AS n_tokens_removed
         FROM isl GROUP BY doc_id, island ORDER BY doc_id, span_start""")
  )
}
