package graft.queries

import graft.operators._
import graft.streaming.StreamPublish

/** Publishing: upserts, deletes, stale sweeps, snapshot diffs and the
  * streamed MERGE fold. */
object PublishQueries {
  val all: Seq[Query] = Seq(
    // §2.7 publisher + staleness
    Query("q_publish_upsert", Publish.upsertQuery,
      """WITH existing AS (
           SELECT c_custkey AS key, c_name AS name, c_mktsegment AS segment
           FROM customer WHERE c_custkey % 3 <> 0),
         incoming AS (
           SELECT c_custkey AS key, c_name AS name, lower(c_mktsegment) AS segment
           FROM customer WHERE c_custkey % 2 = 0)
         SELECT COALESCE(i.key, e.key) AS key, COALESCE(i.name, e.name) AS name,
           COALESCE(i.segment, e.segment) AS segment,
           CASE WHEN i.key IS NOT NULL THEN 'tag_2' ELSE '' END AS published_tag,
           CAST(CASE WHEN i.key IS NOT NULL THEN 2000 ELSE 0 END AS BIGINT) AS publisher_last_updated_epoch_ms
         FROM existing e FULL OUTER JOIN incoming i ON e.key = i.key ORDER BY key"""),
    Query("q_publish_lww", Publish.lwwUpsertQuery,
      """WITH existing AS (
           SELECT c_custkey AS key, c_name AS name, c_mktsegment AS segment
           FROM customer WHERE c_custkey % 3 <> 0),
         batch AS (
           SELECT o_custkey AS key, o_orderstatus AS name, o_orderpriority AS segment,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
           FROM orders),
         incoming AS (SELECT key, name, segment FROM batch WHERE rn = 1)
         SELECT COALESCE(i.key, e.key) AS key, COALESCE(i.name, e.name) AS name,
           COALESCE(i.segment, e.segment) AS segment,
           CASE WHEN i.key IS NOT NULL THEN 'tag_3' ELSE '' END AS published_tag,
           CAST(CASE WHEN i.key IS NOT NULL THEN 3000 ELSE 0 END AS BIGINT) AS publisher_last_updated_epoch_ms
         FROM existing e FULL OUTER JOIN incoming i ON e.key = i.key ORDER BY key"""),
    Query("q_publish_create_only", Publish.createOnlyUpsertQuery,
      """WITH existing AS (
           SELECT c_custkey AS key, c_name AS name, c_mktsegment AS segment
           FROM customer WHERE c_custkey % 3 <> 0),
         incoming AS (
           SELECT c_custkey AS key, c_name AS name, lower(c_mktsegment) AS segment
           FROM customer WHERE c_custkey % 2 = 0)
         SELECT COALESCE(i.key, e.key) AS key,
           CASE WHEN e.key IS NOT NULL THEN e.name ELSE i.name END AS name,
           CASE WHEN e.key IS NOT NULL THEN e.segment ELSE i.segment END AS segment,
           CASE WHEN e.key IS NULL AND i.key IS NOT NULL THEN 'tag_2' ELSE '' END AS published_tag,
           CAST(CASE WHEN e.key IS NULL AND i.key IS NOT NULL THEN 2000 ELSE 0 END AS BIGINT) AS publisher_last_updated_epoch_ms
         FROM existing e FULL OUTER JOIN incoming i ON e.key = i.key ORDER BY key"""),
    Query("q_publish_empty_attr", Publish.emptyAttrUpsertQuery,
      """WITH existing AS (
           SELECT c_custkey AS key, c_name AS name, c_mktsegment AS segment
           FROM customer WHERE c_custkey % 3 <> 0),
         incoming AS (
           SELECT c_custkey AS key, c_name AS name,
             CASE WHEN c_custkey % 4 = 0 THEN '' ELSE lower(c_mktsegment) END AS segment
           FROM customer WHERE c_custkey % 2 = 0)
         SELECT COALESCE(i.key, e.key) AS key,
           COALESCE(NULLIF(i.name, ''), e.name) AS name,
           COALESCE(NULLIF(i.segment, ''), e.segment) AS segment,
           CASE WHEN i.key IS NOT NULL THEN 'tag_2' ELSE '' END AS published_tag,
           CAST(CASE WHEN i.key IS NOT NULL THEN 2000 ELSE 0 END AS BIGINT) AS publisher_last_updated_epoch_ms
         FROM existing e FULL OUTER JOIN incoming i ON e.key = i.key ORDER BY key"""),
    Query("q_delete_relation", Publish.deleteRelationQuery,
      """WITH cur AS (SELECT DISTINCT l_orderkey AS start_key, l_suppkey AS end_key FROM lineitem),
         del AS (SELECT DISTINCT l_orderkey AS start_key, l_suppkey AS end_key
                 FROM lineitem WHERE l_returnflag = 'R')
         SELECT c.start_key, c.end_key FROM cur c
         WHERE NOT EXISTS (SELECT 1 FROM del d
           WHERE d.start_key = c.start_key AND d.end_key = c.end_key)
         ORDER BY start_key, end_key"""),
    Query("q_edge_endpoint_check", Publish.endpointCheckQuery,
      """SELECT 'c' || o_custkey AS start_key, 'o' || o_orderkey AS end_key
         FROM orders WHERE o_custkey % 5 <> 0
         ORDER BY start_key, end_key"""),
    Query("q_stale_sweep", Publish.staleSweepQuery,
      """WITH nodes AS (
           SELECT o_orderkey AS key, o_orderpriority AS label, o_orderstatus AS status FROM orders),
         r AS (
           SELECT label, SUM(CASE WHEN status = 'F' THEN 1 ELSE 0 END) * 1.0 / COUNT(*) AS ratio
           FROM nodes GROUP BY label)
         SELECT n.label AS label, COUNT(*) AS n_kept
         FROM nodes n JOIN r ON n.label = r.label
         WHERE status <> 'F' OR ratio >= 0.40
         GROUP BY n.label ORDER BY label"""),
    // Composed lifecycle: publish(tag_1) → churn publish(tag_2, tag
    // retention on untouched rows) → guardrailed sweep → re-publish
    // (tag_3). Full-outer-join merge semantics replayed as CTE chain.
    Query("q_publish_lifecycle", Publish.publishLifecycleQuery,
      """WITH a AS MATERIALIZED (
           SELECT c_custkey AS key, c_name AS name, c_mktsegment AS seg
           FROM customer WHERE c_custkey % 3 <> 0),
         b AS MATERIALIZED (
           SELECT c_custkey AS key, upper(c_name) AS name, c_mktsegment AS seg
           FROM customer WHERE c_mktsegment <> 'FURNITURE' AND (c_custkey * 7) % 10 < 6),
         cur2 AS MATERIALIZED (
           SELECT coalesce(b.key, a.key) AS key,
             coalesce(b.name, a.name) AS name,
             coalesce(b.seg, a.seg) AS seg,
             CASE WHEN b.key IS NOT NULL THEN 'tag_2' ELSE 'tag_1' END AS tag,
             CASE WHEN b.key IS NOT NULL THEN 2000 ELSE 1000 END AS epoch
           FROM a FULL OUTER JOIN b ON a.key = b.key),
         ratios AS MATERIALIZED (
           SELECT seg, SUM(CASE WHEN tag <> 'tag_2' THEN 1 ELSE 0 END) * 1.0 / COUNT(*) AS r
           FROM cur2 GROUP BY seg),
         cur3 AS MATERIALIZED (
           SELECT cur2.* FROM cur2 JOIN ratios USING (seg)
           WHERE tag = 'tag_2' OR r >= 0.5),
         c AS MATERIALIZED (
           SELECT c_custkey AS key, c_name AS name, c_mktsegment AS seg
           FROM customer WHERE c_custkey % 5 = 0),
         cur4 AS MATERIALIZED (
           SELECT coalesce(c.key, cur3.key) AS key,
             coalesce(c.name, cur3.name) AS name,
             coalesce(c.seg, cur3.seg) AS seg,
             CASE WHEN c.key IS NOT NULL THEN 'tag_3' ELSE cur3.tag END AS tag,
             CASE WHEN c.key IS NOT NULL THEN 3000 ELSE cur3.epoch END AS epoch
           FROM cur3 FULL OUTER JOIN c ON cur3.key = c.key)
         SELECT seg AS label, tag AS published_tag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN name = upper(name) THEN 1 ELSE 0 END) AS BIGINT) AS n_upper,
           CAST(MIN(epoch) AS BIGINT) AS min_epoch,
           CAST(MAX(epoch) AS BIGINT) AS max_epoch
         FROM cur4 GROUP BY 1, 2 ORDER BY 1, 2"""),
    Query("q_rds_stale_sweep", Publish.rdsStaleSweepQuery,
      """WITH recs AS (
           SELECT 'orders_rec' AS rds_table, o_orderdate AS d FROM orders
           UNION ALL SELECT 'lineitem_rec', l_shipdate FROM lineitem)
         SELECT rds_table, COUNT(*) AS n_kept FROM recs
         WHERE d >= TIMESTAMP '1995-01-01'
         GROUP BY rds_table ORDER BY rds_table"""),
    Query("q_neptune_stale_sweep", Publish.neptuneStaleSweepQuery,
      """WITH edges AS (
           SELECT l_returnflag AS label,
             CASE WHEN l_linenumber % 4 = 0 THEN 'user' ELSE 'job' END AS ct,
             l_shipdate AS d FROM lineitem),
         r AS (
           SELECT label,
             SUM(CASE WHEN ct = 'job' AND d < TIMESTAMP '1996-01-01' THEN 1 ELSE 0 END)
               * 1.0 / COUNT(*) AS ratio
           FROM edges GROUP BY label)
         SELECT e.label AS label, COUNT(*) AS n_kept
         FROM edges e JOIN r ON e.label = r.label
         WHERE NOT (ct = 'job' AND d < TIMESTAMP '1996-01-01') OR ratio >= 0.75
         GROUP BY e.label ORDER BY label"""),
    // publish snapshot diff (CDC audit of a publish tag)
    // Snapshot diff: before = custkey % 3 != 0, after = custkey % 2 == 0
    // with the segment lowercased for every 4th key, and the segment
    // NULLED for every 8th key — a nullable-attr case. IS DISTINCT FROM
    // is the comparison the fingerprint's NULL-sentinel encoding
    // implements (NULL vs value and NULL vs '' are both 'changed'); a
    // bare <> would NULL-propagate those rows to 'unchanged'.
    Query("q_snapshot_diff", Publish.snapshotDiffQuery,
      """WITH before AS (
           SELECT c_custkey AS key, c_name AS name, c_mktsegment AS segment
           FROM customer WHERE c_custkey % 3 <> 0),
         after AS (
           SELECT c_custkey AS key, c_name AS name,
             CASE WHEN c_custkey % 8 = 0 THEN NULL
                  WHEN c_custkey % 4 = 0 THEN lower(c_mktsegment)
                  ELSE c_mktsegment END AS segment
           FROM customer WHERE c_custkey % 2 = 0)
         SELECT COALESCE(b.key, a.key) AS key,
           CASE WHEN b.key IS NULL THEN 'added'
                WHEN a.key IS NULL THEN 'removed'
                WHEN b.name IS DISTINCT FROM a.name
                  OR b.segment IS DISTINCT FROM a.segment THEN 'changed'
                ELSE 'unchanged' END AS status
         FROM before b FULL OUTER JOIN after a ON b.key = a.key
         ORDER BY key"""),
    // continuous MERGE publishing: streamed micro-batch fold vs the
    // batch LWW oracle (disjoint per-batch key cohorts → order-free)
    // the streamed fold over disjoint cohorts equals the global per-user
    // last write (ts desc, event_id desc)
    Query("q_stream_publish_fold", StreamPublish.streamPublishFoldQuery,
      """SELECT key, event_type, eid FROM (
           SELECT CAST(user_id AS VARCHAR) AS key, event_type,
             CAST(event_id AS VARCHAR) AS eid,
             ROW_NUMBER() OVER (PARTITION BY user_id
               ORDER BY ts DESC, event_id DESC) AS rn
           FROM events)
         WHERE rn = 1 ORDER BY key""")
  )
}
