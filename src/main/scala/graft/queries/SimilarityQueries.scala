package graft.queries

import graft.operators._
import graft.streaming.EmbedDedupStream

/** Embedding similarity search: norms, ANN indexes, quantization,
  * clustering and the streaming embedding gate. */
object SimilarityQueries {
  val all: Seq[Query] = Seq(
    // int8 twin of q_ann_topk: the affine quantize/dequantize is exact
    // double arithmetic, so it carries a full DuckDB oracle
    // int8 twin: quantize = floor((x - vmin)/scale + 0.5) with
    // scale = (vmax - vmin)/255, dequantize = code*scale + vmin — exact
    // affine double arithmetic both engines reproduce bit-for-bit, then
    // the same brute-force cosine ranking as q_ann_topk over the
    // dequantized vectors.
    Query("q_ann_topk_quantized", SimilarityOps.annBruteForceQuantized,
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         qd AS (SELECT vec_id, v, list_min(v) AS vmin,
             CASE WHEN list_max(v) > list_min(v)
                  THEN (list_max(v) - list_min(v)) / 255.0 ELSE 1.0 END AS scale
           FROM e),
         d AS (SELECT vec_id,
             list_transform(v,
               x -> CAST(floor((x - vmin) / scale + 0.5) AS BIGINT) * scale + vmin) AS dv
           FROM qd),
         n AS (SELECT vec_id, dv, sqrt(list_sum(list_transform(dv, x -> x * x))) AS nrm FROM d),
         s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_sum(list_transform(range(1, 65), i -> q.dv[i] * c.dv[i])) / (q.nrm * c.nrm) AS cos
           FROM n q, n c WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id)
         SELECT query_id, rank, neighbor_id, cos FROM (
           SELECT query_id, neighbor_id, cos,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
           FROM s) WHERE rank <= 5
         ORDER BY query_id, rank"""),
    // Two-stage serving: the quantized CTE ranks the 20-candidate
    // shortlist, full-precision cosine re-ranks it — both passes exact
    // arithmetic with integer tie-breaks.
    Query("q_ann_topk_rerank", SimilarityOps.annTopKRerank,
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         qd AS (SELECT vec_id, v, list_min(v) AS vmin,
             CASE WHEN list_max(v) > list_min(v)
                  THEN (list_max(v) - list_min(v)) / 255.0 ELSE 1.0 END AS scale
           FROM e),
         d AS (SELECT vec_id,
             list_transform(v,
               x -> CAST(floor((x - vmin) / scale + 0.5) AS BIGINT) * scale + vmin) AS dv
           FROM qd),
         n AS (SELECT vec_id, dv, sqrt(list_sum(list_transform(dv, x -> x * x))) AS nrm FROM d),
         s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_sum(list_transform(range(1, 65), i -> q.dv[i] * c.dv[i])) / (q.nrm * c.nrm) AS qcos
           FROM n q, n c WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id),
         short AS (SELECT query_id, neighbor_id FROM (
             SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY qcos DESC, neighbor_id) AS srank
             FROM s) WHERE srank <= 20),
         f AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
         r AS (SELECT short.query_id, short.neighbor_id,
             list_sum(list_transform(range(1, 65), i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm) AS cos
           FROM short JOIN f q ON short.query_id = q.vec_id
                      JOIN f c ON short.neighbor_id = c.vec_id)
         SELECT query_id, rank, neighbor_id, cos FROM (
           SELECT query_id, neighbor_id, cos,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
           FROM r) WHERE rank <= 5
         ORDER BY query_id, rank"""),
    // similarity search
    Query("q_embed_norm", SimilarityOps.norms,
      """SELECT vec_id,
           sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm
         FROM embeddings ORDER BY vec_id"""),
    Query("q_embed_pair_cosine", SimilarityOps.pairCosine,
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e)
         SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm) AS cos
         FROM n a JOIN n b ON b.vec_id = a.vec_id + 1 ORDER BY id_a"""),
    Query("q_ann_topk", SimilarityOps.annBruteForce,
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
         s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_sum(list_transform(range(1, 65), i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm) AS cos
           FROM n q, n c WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id)
         SELECT query_id, rank, neighbor_id, cos FROM (
           SELECT query_id, neighbor_id, cos,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
           FROM s) WHERE rank <= 5
         ORDER BY query_id, rank"""),
    // Oracle is the brute-force all-pairs truth; the Spark side is LSH
    // bucket-join candidates + exact cosine verify. Twins are scaled x2
    // copies, so hyperplane signs match the parent exactly and LSH recall
    // is 1.0 by construction (not probabilistically).
    Query("q_ann_lsh_pairs", SimilarityOps.annLshPairs,
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         c AS (SELECT vec_id, v FROM e
               UNION ALL
               SELECT vec_id + 1000000, list_transform(v, x -> x * 2)
               FROM e WHERE vec_id % 10 = 0),
         n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM c),
         p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm) AS cos
           FROM n a JOIN n b ON a.vec_id < b.vec_id)
         SELECT id_a, id_b, cos FROM p WHERE cos >= 0.99 ORDER BY id_a, id_b"""),
    Query("q_ann_ivf_pairs", SimilarityOps.annIvfPairs,
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         c AS (SELECT vec_id, v FROM e
               UNION ALL
               SELECT vec_id + 1000000, list_transform(v, x -> x * 2)
               FROM e WHERE vec_id % 10 = 0),
         n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM c),
         p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm) AS cos
           FROM n a JOIN n b ON a.vec_id < b.vec_id)
         SELECT id_a, id_b, cos FROM p WHERE cos >= 0.99 ORDER BY id_a, id_b"""),
    // Recall 1.0 by construction (scaled twins), so the brute-force pair
    // set IS the LSH-verified pair set, and the components over it match.
    Query("q_embed_neardup_groups", SimilarityOps.embedNearDupGroups,
      """WITH RECURSIVE e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         c AS (SELECT vec_id, v FROM e
               UNION ALL
               SELECT vec_id + 1000000, list_transform(v, x -> x * 2)
               FROM e WHERE vec_id % 10 = 0),
         n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM c),
         p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
           FROM n a JOIN n b ON a.vec_id < b.vec_id
           WHERE list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm) >= 0.99),
         ed AS (SELECT id_a AS src, id_b AS dst FROM p
                UNION ALL SELECT id_b, id_a FROM p),
         reach(vec_id, label) AS (
           SELECT src, src FROM ed
           UNION
           SELECT ed.dst, reach.label FROM reach JOIN ed ON ed.src = reach.vec_id)
         SELECT vec_id, CAST(min(label) AS BIGINT) AS canonical_id
         FROM reach GROUP BY vec_id ORDER BY vec_id"""),
    // Quantization: per-vector affine map to 0..255; floor(x+0.5)
    // rounding and list_sum reconstruction error match Spark's
    // left-to-right aggregate bit-for-bit on exact doubles.
    Query("q_embed_quantize", SimilarityOps.quantize,
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         m AS (SELECT vec_id, v,
             list_aggregate(v, 'min') AS vmin, list_aggregate(v, 'max') AS vmax
           FROM e),
         s AS (SELECT *, CASE WHEN vmax > vmin THEN (vmax - vmin) / 255.0
                              ELSE 1.0 END AS scale FROM m),
         q AS (SELECT vec_id, v, vmin, vmax, scale,
             list_transform(v, x -> CAST(floor((x - vmin) / scale + 0.5) AS BIGINT)) AS qv
           FROM s)
         SELECT vec_id, vmin, vmax, qv[1] AS q0,
           CAST(list_aggregate(qv, 'max') AS BIGINT) AS qmax,
           list_sum(list_transform(range(1, len(v) + 1),
             i -> abs(v[i] - (vmin + qv[i] * scale)))) / len(v) AS mae
         FROM q ORDER BY vec_id"""),
    // per-label centroid cosine between snapshot slices, fixed-point sums
    // Embedding drift: centroid sums in 1e3 fixed point (exact BIGINT),
    // one double cosine at the end; round(6) absorbs last-ulp sqrt.
    Query("q_embed_drift", SimilarityOps.embedDrift,
      """WITH p AS (SELECT label, vec_id % 2 AS slice, i,
             CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000 + 0.5) AS BIGINT) AS xq
           FROM embeddings, LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i)),
         s AS (SELECT label, slice, i, CAST(SUM(xq) AS BIGINT) AS sv
           FROM p GROUP BY label, slice, i),
         d AS (SELECT label, i,
             CAST(SUM(CASE WHEN slice = 0 THEN sv END) AS BIGINT) AS sa,
             CAST(SUM(CASE WHEN slice = 1 THEN sv END) AS BIGINT) AS sb
           FROM s GROUP BY label, i),
         g AS (SELECT label,
             CAST(SUM(sa * sb) AS BIGINT) AS dot,
             CAST(SUM(sa * sa) AS BIGINT) AS na,
             CAST(SUM(sb * sb) AS BIGINT) AS nb
           FROM d GROUP BY label),
         c AS (SELECT label,
             CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
           FROM embeddings GROUP BY label)
         SELECT g.label, n_a, n_b,
           CASE WHEN na > 0 AND nb > 0
             THEN round(CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))), 6)
           END AS cos_centroid
         FROM g JOIN c ON g.label = c.label ORDER BY g.label"""),
    // SemDeDup: brute-force truth for the within-cell pair set (twins
    // share their parent's cell), the same recursive-CTE components, the
    // argmax cell assignment mirroring the kernel's dot/cnrm scan, and
    // the lexicographic (cell_cos, vec_id) keeper election.
    Query("q_semantic_dedup", SimilarityOps.semanticDedup,
      """WITH RECURSIVE e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         c AS (SELECT vec_id, v FROM e
               UNION ALL
               SELECT vec_id + 1000000, list_transform(v, x -> x * 2)
               FROM e WHERE vec_id % 10 = 0),
         n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM c),
         cen AS (SELECT vec_id AS cell, v AS cv, sqrt(list_sum(list_transform(v, x -> x * x))) AS cnrm
                 FROM e WHERE vec_id < 64),
         asg AS (SELECT vec_id, cell, cell_dot / (nrm * cnrm) AS cell_cos FROM (
             SELECT n.vec_id, cen.cell, n.nrm, cen.cnrm,
               list_sum(list_transform(range(1, 65), i -> n.v[i] * cen.cv[i])) AS cell_dot,
               ROW_NUMBER() OVER (PARTITION BY n.vec_id
                 ORDER BY list_sum(list_transform(range(1, 65), i -> n.v[i] * cen.cv[i])) / cen.cnrm DESC,
                   cen.cell ASC) AS rk
             FROM n, cen) WHERE rk = 1),
         p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
           FROM n a JOIN n b ON a.vec_id < b.vec_id
           WHERE list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm) >= 0.99),
         ed AS (SELECT id_a AS src, id_b AS dst FROM p
                UNION ALL SELECT id_b, id_a FROM p),
         reach(vec_id, label) AS (
           SELECT src, src FROM ed
           UNION
           SELECT ed.dst, reach.label FROM reach JOIN ed ON ed.src = reach.vec_id),
         grp AS (SELECT vec_id, min(label) AS group_id FROM reach GROUP BY vec_id),
         vb AS (SELECT asg.vec_id,
             CAST(COALESCE(grp.group_id, asg.vec_id) AS BIGINT) AS group_id,
             CAST(asg.cell AS BIGINT) AS cell, asg.cell_cos
           FROM asg LEFT JOIN grp ON asg.vec_id = grp.vec_id)
         SELECT vec_id, group_id, cell, cell_cos,
           CAST(CASE WHEN ROW_NUMBER() OVER (PARTITION BY group_id
             ORDER BY cell_cos, vec_id) = 1 THEN 1 ELSE 0 END AS BIGINT) AS keep
         FROM vb ORDER BY vec_id"""),
    // IVF cell assignment is deterministic (first-64 centroids, lowest-id
    // tie-break), so DuckDB recomputes the buckets and the bucketed top-k
    // search compares bit-for-bit.
    Query("q_ann_ivf_topk", SimilarityOps.annIvfTopK,
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         cen AS (SELECT vec_id AS c_id, v AS cv,
             sqrt(list_sum(list_transform(v, x -> x * x))) AS cnrm FROM e WHERE vec_id < 64),
         cellscore AS (SELECT e.vec_id, e.v, cen.c_id,
             list_sum(list_transform(range(1, 65), i -> cv[i] * v[i])) / cnrm AS score
           FROM e CROSS JOIN cen),
         cell AS (SELECT vec_id, v, c_id AS cell FROM (
             SELECT vec_id, v, c_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score DESC, c_id) AS rn
             FROM cellscore) WHERE rn = 1),
         n AS (SELECT vec_id, v, cell,
             sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM cell),
         s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_sum(list_transform(range(1, 65), i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm) AS cos
           FROM n q JOIN n c ON q.cell = c.cell AND q.vec_id < 20 AND c.vec_id <> q.vec_id)
         SELECT query_id, rank, neighbor_id, cos FROM (
           SELECT query_id, neighbor_id, cos,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
           FROM s) WHERE rank <= 5
         ORDER BY query_id, rank"""),
    // Per-query recall of the IVF search vs the brute-force truth: both
    // top-k sets are deterministic, so the fraction is exact.
    Query("q_ann_ivf_recall", SimilarityOps.annIvfRecall,
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
         sb AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_sum(list_transform(range(1, 65), i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm) AS cos
           FROM n q, n c WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id),
         bf AS (SELECT query_id, neighbor_id FROM (
             SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
             FROM sb) WHERE rank <= 5),
         cen AS (SELECT vec_id AS c_id, v AS cv,
             sqrt(list_sum(list_transform(v, x -> x * x))) AS cnrm FROM e WHERE vec_id < 64),
         cellscore AS (SELECT e.vec_id, e.v, cen.c_id,
             list_sum(list_transform(range(1, 65), i -> cv[i] * v[i])) / cnrm AS score
           FROM e CROSS JOIN cen),
         cell AS (SELECT vec_id, v, c_id AS cell FROM (
             SELECT vec_id, v, c_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score DESC, c_id) AS rn
             FROM cellscore) WHERE rn = 1),
         nc AS (SELECT vec_id, v, cell,
             sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM cell),
         si AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_sum(list_transform(range(1, 65), i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm) AS cos
           FROM nc q JOIN nc c ON q.cell = c.cell AND q.vec_id < 20 AND c.vec_id <> q.vec_id),
         ivf AS (SELECT query_id, neighbor_id FROM (
             SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
             FROM si) WHERE rank <= 5),
         h AS (SELECT bf.query_id, COUNT(ivf.neighbor_id) AS hits
           FROM bf LEFT JOIN ivf
             ON bf.query_id = ivf.query_id AND bf.neighbor_id = ivf.neighbor_id
           GROUP BY bf.query_id)
         SELECT query_id, CAST(hits AS BIGINT) AS hits, hits / 5.0 AS recall
         FROM h ORDER BY query_id"""),
    // Quantized IVF: full-precision cell assignment (index-time artifact)
    // + int8 dequantized ranking inside the cell join — both deterministic,
    // so the combined search is exactly reproducible.
    Query("q_ann_ivf_topk_quantized", SimilarityOps.annIvfTopKQuantized,
      annIvfTopKQuantizedOracleSql),
    // build→persist→serve lifecycle: index staged as cell-partitioned
    // parquet, search reads only the staged store (same oracle — lossless)
    // The staged serving store (parquet int8 codes + affine params,
    // partitioned by cell) round-trips losslessly, so the staged twin
    // shares the in-memory twin's oracle.
    Query("q_ann_ivf_topk_staged", SimilarityOps.annIvfTopKStaged,
      annIvfTopKQuantizedOracleSql),
    // Upsert gate: post-upsert store == full corpus, centroids pinned to
    // the BUILD corpus (base ids only) — replacements carry identical
    // vectors so the relational recomputation is exact.
    Query("q_ann_ivf_upsert", SimilarityOps.annIvfUpsert,
      annIvfTopKQuantizedOracleSqlWith("vec_id < 64 AND vec_id % 10 <> 0")),
    // centroid lifecycle: drift canary -> one Lloyd update -> migrate
    // only the vectors whose cell changes (touched-cell overwrite)
    // Recluster gate: pinned assignment -> per-cell 1e-6 fixed-point
    // means (one Lloyd update; empty cells keep the pinned centroid) ->
    // max-cosine re-assignment -> migration counts. n_after is counted
    // from the REFRESHED on-disk store on the Spark side, so it must
    // equal the relational re-assignment here; mu0_micros uses the
    // truncating integer division that replays exactly in all engines.
    Query("q_ann_recluster", SimilarityOps.annRecluster,
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         cen AS (SELECT vec_id AS c_id, v AS cv,
             sqrt(list_sum(list_transform(v, x -> x * x))) AS cnrm FROM e WHERE vec_id < 64),
         sc0 AS (SELECT e.vec_id, cen.c_id,
             list_sum(list_transform(range(1, 65), i -> cv[i] * v[i])) / cnrm AS score
           FROM e CROSS JOIN cen),
         c0 AS (SELECT vec_id, c_id AS cell FROM (
             SELECT vec_id, c_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score DESC, c_id) AS rn
             FROM sc0) WHERE rn = 1),
         q AS (SELECT c0.cell, i.i AS dim,
             CAST(floor(v[i.i] * 1000000 + 0.5) AS BIGINT) AS qx
           FROM c0 JOIN e USING (vec_id), (SELECT unnest(range(1, 65)) AS i) i),
         s AS (SELECT cell, dim, CAST(SUM(qx) AS BIGINT) AS sq, COUNT(*) AS n
           FROM q GROUP BY cell, dim),
         m AS (SELECT cell, dim,
             CAST(sq AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE) AS mu FROM s),
         arrs AS (SELECT cell, list(mu ORDER BY dim) AS mus FROM m GROUP BY cell),
         nc AS (SELECT cen.c_id, COALESCE(arrs.mus, cen.cv) AS cv
           FROM cen LEFT JOIN arrs ON cen.c_id = arrs.cell),
         nc2 AS (SELECT c_id, cv,
             sqrt(list_sum(list_transform(cv, x -> x * x))) AS cnrm FROM nc),
         sc1 AS (SELECT e.vec_id, nc2.c_id,
             list_sum(list_transform(range(1, 65), i -> cv[i] * v[i])) / cnrm AS score
           FROM e CROSS JOIN nc2),
         c1 AS (SELECT vec_id, c_id AS cell FROM (
             SELECT vec_id, c_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score DESC, c_id) AS rn
             FROM sc1) WHERE rn = 1),
         mig AS (SELECT c0.vec_id, c0.cell AS old_cell, c1.cell AS new_cell
           FROM c0 JOIN c1 USING (vec_id) WHERE c0.cell <> c1.cell),
         nb AS (SELECT cell, COUNT(*) AS n_before FROM c0 GROUP BY cell),
         na AS (SELECT cell, COUNT(*) AS n_after FROM c1 GROUP BY cell),
         mo AS (SELECT old_cell AS cell, COUNT(*) AS n_out FROM mig GROUP BY old_cell),
         mi AS (SELECT new_cell AS cell, COUNT(*) AS n_in FROM mig GROUP BY new_cell),
         sh AS (SELECT arrs.cell, sqrt(list_sum(list_transform(range(1, 65),
               i -> (mus[i] - cv[i]) * (mus[i] - cv[i])))) AS shift
           FROM arrs JOIN cen ON arrs.cell = cen.c_id),
         mz AS (SELECT cell, sq // n AS mu0_micros FROM s WHERE dim = 1)
         SELECT CAST(cen.c_id AS BIGINT) AS cell,
           CAST(COALESCE(nb.n_before, 0) AS BIGINT) AS n_before,
           CAST(COALESCE(mo.n_out, 0) AS BIGINT) AS n_out,
           CAST(COALESCE(mi.n_in, 0) AS BIGINT) AS n_in,
           CAST(COALESCE(na.n_after, 0) AS BIGINT) AS n_after,
           CAST(mz.mu0_micros AS BIGINT) AS mu0_micros,
           sh.shift AS shift
         FROM cen
         LEFT JOIN nb ON nb.cell = cen.c_id
         LEFT JOIN mo ON mo.cell = cen.c_id
         LEFT JOIN mi ON mi.cell = cen.c_id
         LEFT JOIN na ON na.cell = cen.c_id
         LEFT JOIN mz ON mz.cell = cen.c_id
         LEFT JOIN sh ON sh.cell = cen.c_id
         ORDER BY cell"""),
    // tombstone path: ids-only delete, touched-cell anti-join rewrite
    // Delete gate: post-delete store == corpus minus the % 9 == 4 cohort
    // on BOTH query and neighbor sides; centroids stay pinned to the full
    // build corpus (a removed source vector does not move the cells).
    Query("q_ann_ivf_delete", SimilarityOps.annIvfDelete,
      annIvfTopKQuantizedOracleSqlWith("vec_id < 64",
        "cell.vec_id % 9 <> 4")),
    // Product quantization: codebook = first-128 sub-vectors, encode =
    // per-subspace L2 argmin (ties lowest code id), search = cosine of
    // query vs reconstruction — all exact double arithmetic, same
    // accumulation order both engines.
    Query("q_ann_pq_topk", SimilarityOps.annPqTopK,
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         cb AS (SELECT t.m AS m, e.vec_id AS cid,
             list_transform(range(1, 9), i -> v[t.m * 8 + i]) AS cw
           FROM e, range(0, 8) t(m) WHERE e.vec_id < 128),
         d AS (SELECT e.vec_id, cb.m, cb.cid,
             list_sum(list_transform(range(1, 9),
               i -> (e.v[cb.m * 8 + i] - cb.cw[i]) * (e.v[cb.m * 8 + i] - cb.cw[i]))) AS d2
           FROM e, cb),
         codes AS (SELECT vec_id, m, cid FROM (
             SELECT vec_id, m, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, cid) AS rn FROM d)
           WHERE rn = 1),
         recon AS (SELECT c.vec_id, flatten(list(cb.cw ORDER BY c.m)) AS rv
           FROM codes c JOIN cb ON cb.m = c.m AND cb.cid = c.cid GROUP BY c.vec_id),
         n AS (SELECT vec_id, rv, sqrt(list_sum(list_transform(rv, x -> x * x))) AS nrm FROM recon),
         q AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS qn FROM e WHERE vec_id < 20),
         s AS (SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
             list_sum(list_transform(range(1, 65), i -> q.v[i] * n.rv[i])) / (q.qn * n.nrm) AS cos
           FROM q, n WHERE n.vec_id <> q.vec_id)
         SELECT query_id, rank, neighbor_id, cos FROM (
           SELECT query_id, neighbor_id, cos,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
           FROM s) WHERE rank <= 5
         ORDER BY query_id, rank"""),
    // the EMBEDDING modality: streaming vector admission over the
    // cell-pruned accreting claim store (the IVF serving layout)
    // IVF cell assignment is cosine-based, so a scaled twin shares its
    // parent's cell — recall 1.0 against the same brute-force truth.
    // Streaming embedding gate: batch 0 = even orig vectors (claim
    // vacuously); batch 1 = odd origs + 2x-rescaled twins of the
    // (10k)-th vectors, judged against exactly the batch-0 claims. The
    // oracle replays brute-force pairwise with the position-ordered
    // double cosine; cell scoping is an implementation detail exactly
    // where q_ann_ivf_pairs proves cell-scoped = brute force here.
    Query("q_embed_dedup_stream", EmbedDedupStream.embedDedupStreamQuery,
      embedDedupStreamOracleSql),
    // centroid lifecycle consumed by the stream: gate -> Lloyd refresh +
    // claim migration -> gate under the new artifact, verdicts unchanged
    // Same verdict semantics after the refresh+migration (same-cell
    // probe, exact cosine at the threshold) — a migration hole or a
    // wrong-artifact probe breaks the pairwise replay.
    Query("q_embed_recluster_stream", EmbedDedupStream.embedReclusterStreamQuery,
      embedDedupStreamOracleSql),
    // retention THROUGH the embedding gate: epoch-stamped int8 claims,
    // sweep between runs, rescaled twins of aged parents re-admitting
    Query("q_embed_claim_retention", EmbedDedupStream.embedClaimRetentionQuery,
      embedClaimRetentionOracleSql),
    // distributed clustering (IVF index build step)
    // One Lloyd iteration: assignment = argmin squared L2 (lowest-id
    // tie-break); the centroid update accumulates 1e-6 fixed-point
    // integers (exact + associative), so both engines produce the same
    // means bit-for-bit; norms/shifts fold per-dimension in dim order.
    Query("q_kmeans_iter", (s, d) => SimilarityOps.kmeansIterate(s, d),
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         cen AS (SELECT vec_id AS cluster, v AS cv FROM e WHERE vec_id < 8),
         d AS (SELECT e.vec_id, cen.cluster,
             list_sum(list_transform(range(1, 65),
               i -> (v[i] - cv[i]) * (v[i] - cv[i]))) AS dist
           FROM e CROSS JOIN cen),
         a AS (SELECT vec_id, cluster FROM (
             SELECT vec_id, cluster,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
             FROM d) WHERE rn = 1),
         q AS (SELECT a.cluster, i.i AS dim,
             CAST(floor(v[i.i] * 1000000 + 0.5) AS BIGINT) AS qx
           FROM a JOIN e USING (vec_id), (SELECT unnest(range(1, 65)) AS i) i),
         s AS (SELECT cluster, dim, CAST(SUM(qx) AS BIGINT) AS sq, COUNT(*) AS n
           FROM q GROUP BY cluster, dim),
         m AS (SELECT cluster, dim,
             CAST(sq AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE) AS mu, n
           FROM s),
         arrs AS (SELECT cluster, MAX(n) AS n_members, list(mu ORDER BY dim) AS mus
           FROM m GROUP BY cluster),
         j AS (SELECT arrs.cluster, n_members, mus, cv
           FROM arrs JOIN cen ON arrs.cluster = cen.cluster)
         SELECT cluster, n_members, mus[1] AS mu0,
           sqrt(list_sum(list_transform(mus, x -> x * x))) AS new_norm,
           sqrt(list_sum(list_transform(range(1, 65),
             i -> (mus[i] - cv[i]) * (mus[i] - cv[i])))) AS shift
         FROM j ORDER BY cluster""")
  )

  /** Brute-force pairwise replay of the embedding stream gate's
    * two-batch arrival — shared by the pinned-artifact gate and the
    * recluster lifecycle (verdict semantics are artifact-independent:
    * same-cell probe + exact cosine at the threshold, with cell-scoped
    * recall equal to brute force on this corpus — the q_ann_ivf_pairs
    * contract). */
  private def embedDedupStreamOracleSql: String =
    """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       c AS (SELECT vec_id, vec_id AS orig_id, 'orig' AS kind, v,
               CAST(vec_id % 2 AS INT) AS b
             FROM e
             UNION ALL
             SELECT vec_id + 1000000, vec_id, 'scale',
               list_transform(v, x -> x * 2), 1
             FROM e WHERE vec_id % 10 = 0),
       n AS (SELECT vec_id, orig_id, kind, b, v,
               sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM c),
       b0 AS (SELECT * FROM n WHERE b = 0),
       inc AS (SELECT * FROM n WHERE b = 1),
       m AS (SELECT inc.vec_id, CAST(COUNT(*) AS BIGINT) AS n_matches,
               MIN(b0.vec_id) AS min_match
             FROM inc JOIN b0
               ON list_sum(list_transform(range(1, 65), i -> inc.v[i] * b0.v[i]))
                  / (inc.nrm * b0.nrm) >= 0.99
             GROUP BY inc.vec_id)
       SELECT vec_id, orig_id, kind, TRUE AS admitted,
         CAST(0 AS BIGINT) AS n_matches, CAST(-1 AS BIGINT) AS min_match
       FROM b0
       UNION ALL
       SELECT inc.vec_id, inc.orig_id, inc.kind, m.vec_id IS NULL AS admitted,
         COALESCE(m.n_matches, 0) AS n_matches,
         COALESCE(m.min_match, -1) AS min_match
       FROM inc LEFT JOIN m ON m.vec_id = inc.vec_id
       ORDER BY vec_id"""

  /** Retention through the embedding gate: batch-1 (odd) verdicts replay
    * pairwise against the evens; the post-sweep store is exactly the
    * batch-1 ADMITTED odd vectors; the twin batch (2×-rescaled copies of
    * (10k)-th even/aged and (10k+5)-th odd/in-horizon parents) replays
    * pairwise against that surviving set. */
  private def embedClaimRetentionOracleSql: String =
    """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       n AS (SELECT vec_id, v,
               sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
       b0 AS (SELECT * FROM n WHERE vec_id % 2 = 0),
       b1 AS (SELECT * FROM n WHERE vec_id % 2 = 1),
       tw AS (SELECT vec_id + 1000000 AS vec_id, vec_id AS orig_id,
                 'scale' AS kind, list_transform(v, x -> x * 2) AS v,
                 nrm * 2 AS nrm
               FROM n WHERE vec_id % 10 = 0
             UNION ALL
             SELECT vec_id + 2000000, vec_id, 'scale2',
                 list_transform(v, x -> x * 2), nrm * 2
               FROM n WHERE vec_id % 10 = 5),
       m1 AS (SELECT b1.vec_id, CAST(COUNT(*) AS BIGINT) AS n_matches,
               MIN(b0.vec_id) AS min_match
             FROM b1 JOIN b0
               ON list_sum(list_transform(range(1, 65), i -> b1.v[i] * b0.v[i]))
                  / (b1.nrm * b0.nrm) >= 0.99
             GROUP BY b1.vec_id),
       adm1 AS (SELECT b1.* FROM b1
           LEFT JOIN m1 ON m1.vec_id = b1.vec_id WHERE m1.vec_id IS NULL),
       m2 AS (SELECT tw.vec_id, CAST(COUNT(*) AS BIGINT) AS n_matches,
               MIN(q.vec_id) AS min_match
             FROM tw JOIN adm1 q
               ON list_sum(list_transform(range(1, 65), i -> tw.v[i] * q.v[i]))
                  / (tw.nrm * q.nrm) >= 0.99
             GROUP BY tw.vec_id)
       SELECT vec_id, orig_id, kind, admitted, n_matches, min_match FROM (
         SELECT vec_id, vec_id AS orig_id, 'orig' AS kind, TRUE AS admitted,
           CAST(0 AS BIGINT) AS n_matches, CAST(-1 AS BIGINT) AS min_match
         FROM b0
         UNION ALL
         SELECT b1.vec_id, b1.vec_id, 'orig', m1.vec_id IS NULL,
           COALESCE(m1.n_matches, 0), COALESCE(m1.min_match, -1)
         FROM b1 LEFT JOIN m1 ON m1.vec_id = b1.vec_id
         UNION ALL
         SELECT tw.vec_id, tw.orig_id, tw.kind, m2.vec_id IS NULL,
           COALESCE(m2.n_matches, 0), COALESCE(m2.min_match, -1)
         FROM tw LEFT JOIN m2 ON m2.vec_id = tw.vec_id)
       ORDER BY vec_id"""

  /** Quantized IVF search oracle: full-precision cell assignment (the
    * index-time artifact) + int8 dequantized ranking inside the cell
    * join — both deterministic, so the combined search is exactly
    * reproducible. Shared by the in-memory twin (q_ann_ivf_topk_quantized)
    * and the staged serving twin (q_ann_ivf_topk_staged), whose parquet
    * round trip is lossless. */
  private def annIvfTopKQuantizedOracleSql: String =
    annIvfTopKQuantizedOracleSqlWith("vec_id < 64")

  /** Same search, centroid universe parameterized — the upsert gate pins
    * centroids to the BUILD corpus (base ids only) — and the serving
    * corpus parameterized — the delete gate excludes the removed cohort
    * from BOTH query and neighbor sides. */
  private def annIvfTopKQuantizedOracleSqlWith(centroidWhere: String,
      corpusWhere: String = "TRUE"): String =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       cen AS (SELECT vec_id AS c_id, v AS cv,
           sqrt(list_sum(list_transform(v, x -> x * x))) AS cnrm FROM e WHERE $centroidWhere),
       cellscore AS (SELECT e.vec_id, e.v, cen.c_id,
           list_sum(list_transform(range(1, 65), i -> cv[i] * v[i])) / cnrm AS score
         FROM e CROSS JOIN cen),
       cell AS (SELECT vec_id, c_id AS cell FROM (
           SELECT vec_id, c_id,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score DESC, c_id) AS rn
           FROM cellscore) WHERE rn = 1),
       qd AS (SELECT vec_id, v, list_min(v) AS vmin,
           CASE WHEN list_max(v) > list_min(v)
                THEN (list_max(v) - list_min(v)) / 255.0 ELSE 1.0 END AS scale
         FROM e),
       d AS (SELECT vec_id,
           list_transform(v,
             x -> CAST(floor((x - vmin) / scale + 0.5) AS BIGINT) * scale + vmin) AS dv
         FROM qd),
       n AS (SELECT cell.vec_id, dv, cell,
           sqrt(list_sum(list_transform(dv, x -> x * x))) AS nrm
         FROM cell JOIN d ON cell.vec_id = d.vec_id
         WHERE $corpusWhere),
       s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           list_sum(list_transform(range(1, 65), i -> q.dv[i] * c.dv[i])) / (q.nrm * c.nrm) AS cos
         FROM n q JOIN n c ON q.cell = c.cell AND q.vec_id < 20 AND c.vec_id <> q.vec_id)
       SELECT query_id, rank, neighbor_id, cos FROM (
         SELECT query_id, neighbor_id, cos,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
         FROM s) WHERE rank <= 5
       ORDER BY query_id, rank"""
}
