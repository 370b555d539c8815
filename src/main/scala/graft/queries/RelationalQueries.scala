package graft.queries

import graft.operators._

/** Relational building blocks: scans, filters, joins, aggregations,
  * set ops, event windows and the scalar transformers. */
object RelationalQueries {
  val all: Seq[Query] = Seq(
    // §2.1 sources + §2.2 projections/filters
    Query("q_scan_filter_project", Relational.scanFilterProject,
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
         FROM lineitem WHERE l_quantity > 45
         ORDER BY l_orderkey, l_linenumber"""),
    Query("q_csv_table_column", CsvIngest.csvTableColumn,
      """SELECT 'tpch' AS database, r_name AS cluster, n_name AS "schema", c_name AS name,
           c_mktsegment || ',seg' AS description,
           o_orderkey AS sort_order,
           CASE WHEN o_orderkey IS NULL THEN NULL
                ELSE 'o' || lpad(CAST(o_orderkey AS VARCHAR), 8, '0') END AS col_name,
           o_orderstatus AS col_type,
           o_orderpriority AS col_description
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         LEFT JOIN orders ON o_custkey = c_custkey
         ORDER BY cluster, "schema", name, sort_order"""),
    Query("q_csv_badges", CsvIngest.csvTableBadges,
      """SELECT 'tpch' AS database, r_name AS cluster, n_name AS "schema", c_name AS name,
           COALESCE(array_to_string(list_sort(list(DISTINCT 'st_' || lower(o_orderstatus))
             FILTER (WHERE o_orderstatus IS NOT NULL)), ','), '') AS badges,
           COUNT(DISTINCT o_orderstatus) AS n_badges
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         LEFT JOIN orders ON o_custkey = c_custkey
         GROUP BY 1, 2, 3, 4
         ORDER BY cluster, "schema", name"""),
    // §2.4 aggregations
    Query("q1_agg", Relational.groupAgg,
      """SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
           COUNT(*) AS count_order,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
         GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"""),
    Query("q_count_group", Relational.countGroup,
      """SELECT event_type, COUNT(*) AS n, COUNT(DISTINCT user_id) AS unique_users,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         FROM events GROUP BY event_type ORDER BY event_type"""),
    Query("q_usage_email_filter", Relational.usageEmailFilter,
      """SELECT 's' || l_suppkey AS email, COUNT(*) AS read_count
         FROM lineitem
         WHERE regexp_matches('s' || l_suppkey, '^s[0-9]*[02468]$')
         GROUP BY 1 ORDER BY email"""),
    // Column stats melt: min/max/sum/count per numeric column, keyed
    // `{column}/{stat}/` like the reference Stat nodes.
    Query("q_column_stats", Relational.columnStats,
      """WITH a AS (SELECT
             MIN(l_quantity) AS q_min, MAX(l_quantity) AS q_max,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS q_sum,
             CAST(COUNT(l_quantity) AS DOUBLE) AS q_cnt,
             MIN(l_extendedprice) AS e_min, MAX(l_extendedprice) AS e_max,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS e_sum,
             CAST(COUNT(l_extendedprice) AS DOUBLE) AS e_cnt
           FROM lineitem),
         m AS (
           SELECT 'l_quantity' AS col_name, 'count' AS stat_type, q_cnt AS stat_val FROM a
           UNION ALL SELECT 'l_quantity', 'max', q_max FROM a
           UNION ALL SELECT 'l_quantity', 'min', q_min FROM a
           UNION ALL SELECT 'l_quantity', 'sum', q_sum FROM a
           UNION ALL SELECT 'l_extendedprice', 'count', e_cnt FROM a
           UNION ALL SELECT 'l_extendedprice', 'max', e_max FROM a
           UNION ALL SELECT 'l_extendedprice', 'min', e_min FROM a
           UNION ALL SELECT 'l_extendedprice', 'sum', e_sum FROM a)
         SELECT col_name, stat_type, stat_val,
           'hive://gold.tpch/lineitem/' || col_name || '/' || stat_type || '/' AS stat_key
         FROM m ORDER BY col_name, stat_type"""),
    Query("q_max_group", Relational.maxGroup,
      """SELECT o_custkey, MAX(o_orderdate) AS last_order, MIN(o_orderdate) AS first_order,
           COUNT(*) AS n_orders
         FROM orders GROUP BY o_custkey ORDER BY o_custkey"""),
    Query("q_collect_agg", Relational.collectAgg,
      """SELECT c_nationkey, array_to_string(list_sort(list(DISTINCT c_mktsegment)), ',') AS segments,
           COUNT(*) AS n_customers
         FROM customer GROUP BY c_nationkey ORDER BY c_nationkey"""),
    // §2.3 joins
    Query("q_broadcast_join", Relational.broadcastJoin,
      """SELECT r_name, COUNT(*) AS n_nations,
           array_to_string(list_sort(list(n_name)), ',') AS nations
         FROM nation JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name ORDER BY r_name"""),
    Query("q_multiway_join", Relational.multiwayJoin,
      """SELECT r_name, n_name,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_orders
         FROM orders JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
         WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'
         GROUP BY r_name, n_name ORDER BY r_name, n_name"""),
    Query("q_left_join_agg", Relational.leftJoinAgg,
      """SELECT c_custkey, c_name, COUNT(o_orderkey) AS n_orders,
           COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 0.0) AS total_spent
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         GROUP BY c_custkey, c_name ORDER BY c_custkey"""),
    Query("q_anti_join", Relational.antiJoin,
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
         ORDER BY c_custkey"""),
    Query("q_semi_join", Relational.semiJoin,
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
         ORDER BY c_custkey"""),
    // The bucketed write is lossless, so the co-located join's oracle is
    // the plain join-aggregate.
    Query("q_bucketed_join", (s, d) => Relational.bucketedJoin(s, d),
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_items,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderstatus, o_orderpriority
         ORDER BY o_orderstatus, o_orderpriority"""),
    // §2.4 set ops / dedup / sort-limit
    Query("q_union_dedup", Relational.unionDedup,
      """SELECT custkey FROM (
           SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 400000
           UNION
           SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING')
         ORDER BY custkey"""),
    Query("q_dedup_rows", Relational.dedupRows,
      """SELECT DISTINCT l_partkey, l_suppkey FROM lineitem ORDER BY l_partkey, l_suppkey"""),
    Query("q_sort_limit", Relational.sortLimit,
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 100"""),
    Query("q_topk_per_group", Relational.topkPerGroup,
      """SELECT o_orderpriority, rank, o_orderkey, o_totalprice FROM (
           SELECT o_orderpriority,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS rank,
             o_orderkey, o_totalprice
           FROM orders) WHERE rank <= 3
         ORDER BY o_orderpriority, rank"""),
    // events / streaming-equivalent
    Query("q_windowed_events", Events.windowedAgg,
      """SELECT date_trunc('hour', ts) AS window_start, event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         FROM events GROUP BY 1, 2 ORDER BY window_start, event_type"""),
    // SUM(BIGINT) is HUGEINT in DuckDB — cast back so the driver's
    // hash-compare sees int64 on both sides (round-1 hash_match failure).
    Query("q_json_props", Events.jsonProps,
      """SELECT event_type,
           CAST(SUM(TRY_CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
           COUNT(TRY_CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT)) AS n_k
         FROM events GROUP BY event_type ORDER BY event_type"""),
    // Bad-records channel: every 7th event's props gains a doubled
    // opening brace; good = parseable JSON on both engines.
    Query("q_bad_records", Events.badRecords,
      """WITH r AS (SELECT event_type, event_id,
             CASE WHEN event_id % 7 = 0 THEN '{' || props ELSE props END AS raw
           FROM events)
         SELECT event_type,
           COUNT(CASE WHEN COALESCE(json_valid(raw), false) THEN 1 END) AS n_good,
           COUNT(CASE WHEN NOT COALESCE(json_valid(raw), false) THEN 1 END) AS n_bad,
           CAST(SUM(CASE WHEN json_valid(raw)
             THEN TRY_CAST(regexp_extract(raw, '"k": (\d+)', 1) AS BIGINT)
             END) AS BIGINT) AS sum_k_good
         FROM r GROUP BY event_type ORDER BY event_type"""),
    Query("q_sessionize", Events.sessionize,
      """WITH b AS (
           SELECT user_id, ts, event_id, value,
             CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
                  THEN 1 ELSE 0 END AS boundary
           FROM events),
         s AS (
           SELECT user_id, value,
             CAST(SUM(boundary) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
           FROM b)
         SELECT user_id, MAX(session_id) AS n_sessions, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         FROM s GROUP BY user_id ORDER BY user_id"""),
    // As-of attribution: DuckDB's native ASOF LEFT JOIN is the oracle for
    // the Spark sorted-window re-expression; both compare epoch micros.
    Query("q_asof_join", Events.asofAttribution,
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS us FROM events),
         c AS (SELECT * FROM e WHERE event_type = 'click'),
         v AS (SELECT * FROM e WHERE event_type = 'view')
         SELECT c.event_id, c.user_id, c.us AS click_us,
           v.event_id AS view_event_id, v.us AS view_us,
           c.us - v.us AS lag_us
         FROM c ASOF LEFT JOIN v
           ON c.user_id = v.user_id AND v.us <= c.us
         ORDER BY c.event_id"""),
    // §2.2/§2.5 scalar transformers
    Query("q_timestamp_epoch", Transforms.timestampToEpoch,
      """SELECT event_id,
           CASE WHEN event_id % 2 = 0 THEN strftime(ts, '%Y-%m-%dT%H:%M:%S')
                ELSE 'not-a-timestamp' END AS ts_string,
           COALESCE(CAST(epoch(try_strptime(
             CASE WHEN event_id % 2 = 0 THEN strftime(ts, '%Y-%m-%dT%H:%M:%S')
                  ELSE 'not-a-timestamp' END, '%Y-%m-%dT%H:%M:%S')) AS BIGINT), 0) AS epoch
         FROM events ORDER BY event_id"""),
    Query("q_str_replace", Transforms.strReplace,
      """SELECT doc_id, md5(replace(replace(text, ' ', '_'), 'a', '@')) AS fingerprint
         FROM documents ORDER BY doc_id"""),
    Query("q_key_format", Transforms.keyFormat,
      """SELECT c_custkey, 'tpch://' || r_name || '.' || n_name || '/' || c_name AS key
         FROM customer JOIN nation ON c_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
         ORDER BY c_custkey"""),
    Query("q_base64_json", Transforms.base64Json,
      """SELECT event_id, to_base64(encode(props)) AS encoded,
           TRY_CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) AS k
         FROM events WHERE event_id < 1000 ORDER BY event_id"""),
    // Glue positional column fan-out; positions continue across the
    // columns ∪ partition-keys concat.
    Query("q_posexplode_columns", Transforms.glueColumns,
      """SELECT p_partkey, CAST(x.pos AS INT) AS pos, x.col_name FROM (
           SELECT p_partkey, unnest(list_transform(range(1, len(arr) + 1),
               i -> {'pos': i - 1, 'col_name': arr[i]})) AS x
           FROM (SELECT p_partkey,
                   [p_name, p_brand, p_type, CAST(p_size AS VARCHAR)] AS arr
                 FROM part))
         ORDER BY p_partkey, pos"""),
    // skew-safe salted join (identical results to the plain join)
    // The oracle computes the PLAIN join: identical results prove the
    // salting rewrite (spread hot keys over sub-keys, replicate the
    // small side) is semantics-preserving.
    Query("q_salted_join", Relational.saltedJoinQuery,
      """SELECT c_mktsegment, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment"""),
    // ChainedTransformer composition through the Pipeline abstraction
    // ChainedTransformer: template key -> literal replace -> None-drop ->
    // per-tag fan-out -> field removal, composed as DefaultTask would.
    Query("q_transform_chain", Transforms.transformChain,
      """WITH base AS (
           SELECT c_custkey, c_name,
             replace(c_mktsegment, 'MACHINERY', 'MACHINES') AS segment,
             'tpch://' || r_name || '.' || n_name || '/' || c_name AS key
           FROM customer JOIN nation ON c_nationkey = n_nationkey
             JOIN region ON n_regionkey = r_regionkey),
         f AS (SELECT * FROM base WHERE segment <> 'FURNITURE')
         SELECT c_custkey, c_name, segment, key,
           unnest([lower(segment), 'default']) AS tag
         FROM f ORDER BY c_custkey, tag""")
  )
}
