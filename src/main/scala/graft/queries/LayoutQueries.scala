package graft.queries

import graft.operators._
import TextQueries.bpeTrainerCtes

/** Training-corpus layout: shuffles, shard stores, windows, epochs and
  * the tokenizer refresh. */
object LayoutQueries {
  val all: Seq[Query] = Seq(
    // tokenizer refresh lifecycle: retrain merges on the accreted corpus
    // into a versioned artifact, re-encode ONLY stale-vocab eras via the
    // touched-partition overwrite, manifest the refreshed store
    Query("q_bpe_refresh", (s, d) => LayoutOps.bpeRefreshStore(s, d), bpeRefreshOracleSql(6)),
    Query("q_zorder_stats", LayoutOps.zorderStats, zorderOracleSql),
    // deterministic global training-order shuffle + round-robin shards
    // Deterministic global training-order shuffle: rank of md5(doc_id)
    // with doc_id tiebreak; shard = pos mod 8 (round-robin).
    Query("q_corpus_shuffle", (s, d) => LayoutOps.corpusShuffle(s, d),
      """WITH t AS (SELECT doc_id,
             row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS pos
           FROM documents)
         SELECT doc_id, CAST(pos AS BIGINT) AS pos,
           CAST(pos % 8 AS BIGINT) AS shard
         FROM t ORDER BY doc_id"""),
    // epoch re-shuffle contract: per-epoch deterministic permutations
    // served as manifests over the immutable store (epoch 0 = the store
    // order itself; no shard is ever rewritten)
    // Epoch re-shuffle manifests: shard = store order (pos % 4); within
    // a shard epoch e visits docs by md5(doc_id || ':' || e) (epoch 0 =
    // md5(doc_id), the store's own order); digest = the md5 chain.
    Query("q_epoch_order", (s, d) => LayoutOps.epochOrderManifest(s, d),
      """WITH r AS (SELECT doc_id,
             row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS pos
           FROM documents),
         e AS (SELECT unnest(range(3)) AS epoch),
         k AS (SELECT r.doc_id, r.pos % 4 AS shard, e.epoch,
             md5(CAST(r.doc_id AS VARCHAR) ||
               CASE WHEN e.epoch = 0 THEN ''
                    ELSE ':' || CAST(e.epoch AS VARCHAR) END) AS ek
           FROM r, e)
         SELECT CAST(epoch AS BIGINT) AS epoch, CAST(shard AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           list_reduce(list_prepend('', list(CAST(doc_id AS VARCHAR) ORDER BY ek, doc_id)),
             (acc, x) -> md5(acc || ',' || x)) AS order_digest
         FROM k GROUP BY 1, 2 ORDER BY epoch, shard"""),
    // the same contract at the WINDOW grain — the dataloader's unit
    Query("q_epoch_windows", (s, d) => LayoutOps.epochWindowManifest(s, d),
      epochWindowOracleSql),
    // its write-side lifecycle: shard-partitioned pos-sorted store,
    // read back and folded to an order-digest manifest
    // Shard-store manifest: every field recomputed from the raw corpus —
    // the order_digest (an md5 CHAIN over the pos-ordered doc ids, O(1)
    // fold state on the Spark side) gates the store's doc sequence.
    Query("q_shard_store", (s, d) => LayoutOps.corpusShuffleStore(s, d),
      """WITH t AS (SELECT doc_id,
             row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS pos
           FROM documents)
         SELECT CAST(pos % 8 AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(pos) AS BIGINT) AS min_pos,
           CAST(MAX(pos) AS BIGINT) AS max_pos,
           list_reduce(list_prepend('', list(CAST(doc_id AS VARCHAR) ORDER BY pos)),
             (acc, x) -> md5(acc || ',' || x)) AS order_digest
         FROM t GROUP BY 1 ORDER BY shard"""),
    // incremental extension: old positions immutable, arrivals rank
    // into the tail and interleave across shards
    // Incremental shuffle extension: existing docs keep their standalone
    // ranks; arrivals rank among themselves offset by the old count.
    Query("q_shard_upsert", (s, d) => LayoutOps.corpusShuffleUpsert(s, d),
      """WITH old AS (SELECT doc_id,
             row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS pos
           FROM documents WHERE doc_id % 5 <> 0),
         n AS (SELECT COUNT(*) AS n_old FROM documents WHERE doc_id % 5 <> 0),
         nw AS (SELECT doc_id,
             (SELECT n_old FROM n) +
               row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS pos
           FROM documents WHERE doc_id % 5 = 0),
         u AS (SELECT doc_id, pos, FALSE AS is_new FROM old
           UNION ALL SELECT doc_id, pos, TRUE AS is_new FROM nw)
         SELECT doc_id, CAST(pos AS BIGINT) AS pos,
           CAST(pos % 8 AS BIGINT) AS shard, is_new
         FROM u ORDER BY doc_id"""),
    // the end-to-end product: curation survivors -> training order ->
    // sharded store -> loader manifest, one composed query
    // Curated-store manifest: the full composition replayed — curation
    // CTEs -> survivor ranking by md5(doc_id) -> pos%4 shards -> every
    // manifest field including the order digest.
    Query("q_curated_store", (s, d) => LayoutOps.curatedStore(s, d),
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
         surv AS (SELECT doc_id, n_words,
             row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS pos
           FROM fl WHERE r3),
         sh2 AS (SELECT doc_id, n_words, pos, pos % 4 AS shard FROM surv)
         SELECT CAST(shard AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS n_tokens,
           CAST(MIN(pos) AS BIGINT) AS min_pos,
           CAST(MAX(pos) AS BIGINT) AS max_pos,
           list_reduce(list_prepend('', list(CAST(doc_id AS VARCHAR) ORDER BY pos)),
             (acc, x) -> md5(acc || ',' || x)) AS order_digest
         FROM sh2 GROUP BY shard ORDER BY shard"""),
    // curriculum data ordering: survivors laid out quality-descending
    // Curriculum store: the same survivors laid out QUALITY-DESCENDING
    // (hashed-feature logit replayed in integer ppm, doc_id tie-break)
    // instead of md5-shuffled, folded to the same manifest fields.
    Query("q_curriculum_store", (s, d) => LayoutOps.curriculumStore(s, d),
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
         q AS (SELECT t.doc_id,
             CAST(list_sum(list_transform(t.words, w ->
               ((CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) % 64)
                 * 2654435761) % 2001 - 1000)) AS BIGINT) AS logit_scaled,
             CAST(len(t.words) AS BIGINT) AS n_toks
           FROM t WHERE len(t.words) > 0),
         surv AS (SELECT fl.doc_id, fl.n_words,
             row_number() OVER (
               ORDER BY -(q.logit_scaled * 1000 // q.n_toks), fl.doc_id) - 1 AS pos
           FROM fl JOIN q ON q.doc_id = fl.doc_id WHERE fl.r3)
         SELECT CAST(pos % 4 AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS n_tokens,
           CAST(MIN(pos) AS BIGINT) AS min_pos,
           CAST(MAX(pos) AS BIGINT) AS max_pos,
           list_reduce(list_prepend('', list(CAST(doc_id AS VARCHAR) ORDER BY pos)),
             (acc, x) -> md5(acc || ',' || x)) AS order_digest
         FROM surv GROUP BY 1 ORDER BY shard"""),
    // data mixing composed into the corpus build: curation survivors
    // downsampled to per-language target rates, then ordered + sharded
    // Mixed curated store: the curation chain's survivors further
    // downsampled by the deterministic md5-uniform language-target
    // admission (the q_domain_mix arithmetic), then the md5 training
    // order and the 4-shard manifest.
    Query("q_curated_store_mixed", (s, d) => LayoutOps.curatedStoreMixed(s, d),
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
         ls AS (SELECT doc_id,
           CAST(len(list_filter(words, x -> list_contains(['the','a','of','and','is'], x))) AS BIGINT) AS s_en,
           CAST(len(list_filter(words, x -> list_contains(['der','die','das','und','ist'], x))) AS BIGINT) AS s_de,
           CAST(len(list_filter(words, x -> list_contains(['el','la','de','y','es'], x))) AS BIGINT) AS s_es,
           CAST(len(list_filter(words, x -> list_contains(['le','la','et','les','des'], x))) AS BIGINT) AS s_fr,
           CAST(len(list_filter(words, x -> list_contains(['的','是','在'], x))) AS BIGINT) AS s_zh
           FROM t),
         lg AS (SELECT *, greatest(s_en, s_de, s_es, s_fr, s_zh) AS best FROM ls),
         lang AS (SELECT doc_id,
           CASE WHEN s_en = best AND best > 0 THEN 'en'
                WHEN s_de = best AND best > 0 THEN 'de'
                WHEN s_es = best AND best > 0 THEN 'es'
                WHEN s_fr = best AND best > 0 THEN 'fr'
                WHEN s_zh = best AND best > 0 THEN 'zh'
                ELSE 'unknown' END AS predicted_lang
           FROM lg),
         mix AS (SELECT doc_id FROM (
             SELECT doc_id,
               CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 1000000 AS DOUBLE)
                 / 1000000.0 AS sample_u,
               CASE predicted_lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 1.0
                    WHEN 'es' THEN 0.8 WHEN 'fr' THEN 0.3 WHEN 'zh' THEN 1.0
                    ELSE 0.1 END AS rate
             FROM lang)
           WHERE sample_u < rate),
         surv AS (SELECT fl.doc_id, fl.n_words,
             row_number() OVER (ORDER BY md5(CAST(fl.doc_id AS VARCHAR)), fl.doc_id) - 1 AS pos
           FROM fl JOIN mix ON mix.doc_id = fl.doc_id
           WHERE fl.r3)
         SELECT CAST(pos % 4 AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS n_tokens,
           CAST(MIN(pos) AS BIGINT) AS min_pos,
           CAST(MAX(pos) AS BIGINT) AS max_pos,
           list_reduce(list_prepend('', list(CAST(doc_id AS VARCHAR) ORDER BY pos)),
             (acc, x) -> md5(acc || ',' || x)) AS order_digest
         FROM surv GROUP BY 1 ORDER BY shard"""),
    // survivors BPE-encoded, packed into fixed context windows, written
    // as window-grain shards with a token-stream digest manifest
    Query("q_tokenized_shards", (s, d) => LayoutOps.tokenizedShardStore(s, d),
      tokenizedShardsOracleSql),
    // the dataloader contract: exact ctx-token window slices of the
    // packed stream, split mid-document where the boundary falls
    Query("q_window_slices", (s, d) => LayoutOps.windowSlices(s, d), windowSlicesOracleSql)
  )

  /** DuckDB twin of [[graft.operators.LayoutOps.bpeRefreshStore]]: the
    * k-round trainer replayed, then EVERY document encoded under the
    * learned table (the refreshed store's end state — stale eras were
    * re-encoded, fresh eras were born on it), per-era md5 ranks with the
    * odd era offset by the even era's row count, and the per-(era,shard)
    * manifest with the pos-ordered token digest chain. */
  private def bpeRefreshOracleSql(k: Int): String =
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
         FROM pe GROUP BY doc_id),
       encd AS (SELECT doc_id, CAST(len(pcs) AS BIGINT) AS n_bpe,
           array_to_string(pcs, ' ') AS tok_str FROM de),
       r0 AS (SELECT doc_id,
           row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS pos
         FROM t WHERE doc_id % 2 = 0 AND len(words) > 0),
       n0 AS (SELECT COUNT(*) AS c FROM r0),
       r1 AS (SELECT doc_id, (SELECT c FROM n0) +
           row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS pos
         FROM t WHERE doc_id % 2 = 1 AND len(words) > 0),
       u AS (SELECT doc_id, pos, 0 AS era FROM r0
         UNION ALL SELECT doc_id, pos, 1 FROM r1),
       rws AS (SELECT u.era, u.pos % 4 AS shard, u.pos, encd.n_bpe, encd.tok_str
         FROM u JOIN encd USING (doc_id))
       SELECT CAST(era AS BIGINT) AS era, CAST(shard AS BIGINT) AS shard,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_bpe) AS BIGINT) AS n_tokens,
         CAST(MIN(pos) AS BIGINT) AS min_pos,
         CAST(MAX(pos) AS BIGINT) AS max_pos,
         CAST(1 AS BIGINT) AS vocab,
         list_reduce(list_prepend('', list(tok_str ORDER BY pos)),
           (acc, x) -> md5(acc || ',' || x)) AS token_digest
       FROM rws GROUP BY era, shard ORDER BY era, shard"""

  /** DuckDB twin of [[graft.operators.LayoutOps.tokenizedShardStore]]:
    * the curation CTE chain, the md5 survivor ranking, the unrolled
    * merge-table encode, the windowed token prefix sum, and every
    * manifest field — the token digest chains over the piece-sequence
    * payload in pos order exactly as the partition-local fold does. */
  private def tokenizedShardsOracleSql: String = {
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
       fl AS (SELECT f.doc_id,
           (f.keep_quality AND f.doc_id =
             MIN(CASE WHEN f.keep_quality THEN f.doc_id END)
               OVER (PARTITION BY f.fp)
             AND cont.doc_id IS NULL) AS r3
         FROM f LEFT JOIN cont ON f.doc_id = cont.doc_id),
       surv AS (SELECT doc_id,
           row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS pos
         FROM fl WHERE r3),
       e AS (SELECT surv.doc_id, surv.pos,
           flatten(list_transform(t.words, w -> string_split(trim($merged), '  '))) AS pcs
         FROM surv JOIN t USING (doc_id)),
       e2 AS (SELECT doc_id, pos, CAST(len(pcs) AS BIGINT) AS n_bpe,
           array_to_string(pcs, ' ') AS tok_str FROM e),
       c AS (SELECT doc_id, pos, n_bpe, tok_str,
           SUM(n_bpe) OVER (ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         FROM e2),
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

  /** DuckDB twin of [[graft.operators.LayoutOps.windowSlices]]: the
    * curation chain, the md5 survivor ranking, the unrolled merge-table
    * encode, the GLOBAL TOKEN INDEX (running token sum + in-doc
    * position), and the per-window exact-slice aggregation — the window
    * digest string_aggs the pieces in token order, exactly the
    * sort_array(collect_list) fold Spark performs per ctx-bounded
    * window. */
  private def windowSlicesOracleSql: String = {
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
       fl AS (SELECT f.doc_id,
           (f.keep_quality AND f.doc_id =
             MIN(CASE WHEN f.keep_quality THEN f.doc_id END)
               OVER (PARTITION BY f.fp)
             AND cont.doc_id IS NULL) AS r3
         FROM f LEFT JOIN cont ON f.doc_id = cont.doc_id),
       surv AS (SELECT doc_id,
           row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS pos
         FROM fl WHERE r3),
       e AS (SELECT surv.doc_id, surv.pos,
           flatten(list_transform(t.words, w -> string_split(trim($merged), '  '))) AS pcs
         FROM surv JOIN t USING (doc_id)),
       c AS (SELECT doc_id, pos, pcs, CAST(len(pcs) AS BIGINT) AS n_bpe,
           SUM(CAST(len(pcs) AS BIGINT)) OVER (ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         FROM e),
       tok AS (SELECT c.doc_id,
           CAST(c.cum - c.n_bpe + u.i AS BIGINT) AS idx,
           c.pcs[CAST(u.i AS INT) + 1] AS piece
         FROM c, LATERAL (SELECT unnest(range(len(c.pcs))) AS i) u)
       SELECT CAST(idx // 2048 AS BIGINT) AS win,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(MIN(idx) AS BIGINT) AS first_idx,
         CAST(MAX(idx) AS BIGINT) AS last_idx,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
         md5(string_agg(piece, ' ' ORDER BY idx)) AS window_digest
       FROM tok GROUP BY 1 ORDER BY win"""
  }

  /** DuckDB twin of the WINDOW-grain epoch manifests: the window-id
    * universe derives from the survivors' total encoded token count
    * (the windowSlices CTE chain through the running sum), then each
    * epoch orders every shard's windows by its salted key — epoch 0 by
    * the window id itself (storage order, via a fixed-width pad so the
    * lexicographic ORDER BY equals the numeric order), epoch e ≥ 1 by
    * md5(win:e). */
  private def epochWindowOracleSql: String = {
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
       fl AS (SELECT f.doc_id,
           (f.keep_quality AND f.doc_id =
             MIN(CASE WHEN f.keep_quality THEN f.doc_id END)
               OVER (PARTITION BY f.fp)
             AND cont.doc_id IS NULL) AS r3
         FROM f LEFT JOIN cont ON f.doc_id = cont.doc_id),
       surv AS (SELECT doc_id FROM fl WHERE r3),
       e AS (SELECT surv.doc_id,
           flatten(list_transform(t.words, w -> string_split(trim($merged), '  '))) AS pcs
         FROM surv JOIN t USING (doc_id)),
       tot AS (SELECT COALESCE(CAST(SUM(len(pcs)) AS BIGINT), 0) AS n FROM e),
       w2 AS (SELECT unnest(range((n + 2047) // 2048)) AS win FROM tot),
       ep AS (SELECT unnest(range(3)) AS epoch),
       k AS (SELECT w2.win, w2.win % 4 AS shard, ep.epoch,
           CASE WHEN ep.epoch = 0 THEN lpad(CAST(w2.win AS VARCHAR), 20, '0')
                ELSE md5(CAST(w2.win AS VARCHAR) || ':' || CAST(ep.epoch AS VARCHAR)) END AS ek
         FROM w2, ep)
       SELECT CAST(epoch AS BIGINT) AS epoch, CAST(shard AS BIGINT) AS shard,
         CAST(COUNT(*) AS BIGINT) AS n_windows,
         list_reduce(list_prepend('', list(CAST(win AS VARCHAR) ORDER BY ek, win)),
           (acc, x) -> md5(acc || ',' || x)) AS order_digest
       FROM k GROUP BY 1, 2 ORDER BY epoch, shard"""
  }

  /** DuckDB twin of [[graft.operators.LayoutOps.zorderStats]]: the same
    * exact integer normalization and the same unrolled bit interleave. */
  private def zorderOracleSql: String = {
    val z = (0 until 10).map { i =>
      s"((((xs >> $i) & 1) << ${2 * i}) + (((ys >> $i) & 1) << ${2 * i + 1}))"
    }.mkString(" + ")
    s"""WITH m AS (SELECT CAST(MAX(n_chars) AS BIGINT) AS max_x,
           CAST(MAX(doc_id) AS BIGINT) AS max_y FROM documents),
       s AS (SELECT doc_id, n_chars,
           (n_chars * 1024) // (max_x + 1) AS xs,
           (doc_id * 1024) // (max_y + 1) AS ys
         FROM documents, m),
       z AS (SELECT doc_id, n_chars, ($z) AS zval FROM s)
       SELECT (zval >> 16) AS bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(MIN(n_chars) AS BIGINT) AS min_chars,
         CAST(MAX(n_chars) AS BIGINT) AS max_chars,
         CAST(MIN(doc_id) AS BIGINT) AS min_id,
         CAST(MAX(doc_id) AS BIGINT) AS max_id
       FROM z GROUP BY bucket ORDER BY bucket"""
  }
}
