package graft.queries

import graft.operators._
import graft.sources.{Jdbc, NeptuneBulkLoad, Stage}

/** The metadata model: graph, dashboard and RDS builds, search
  * documents, extractors and the source round trips. */
object CatalogQueries {
  val all: Seq[Query] = Seq(
    // graph model pipeline (§1, §2.7 serializer fan-out + dedup)
    Query("q_graph_node_counts", GraphBuild.nodeCounts,
      """SELECT label, n FROM (
           SELECT 'Table' AS label, (SELECT COUNT(*) FROM customer) AS n
           UNION ALL SELECT 'Description',
             (SELECT COUNT(*) FROM customer) + (SELECT COUNT(*) FROM orders)
           UNION ALL SELECT 'Column', (SELECT COUNT(*) FROM orders)
           UNION ALL SELECT 'Tag', (SELECT COUNT(DISTINCT lower(c_mktsegment)) FROM customer)
           UNION ALL SELECT 'Database', CAST(1 AS BIGINT)
           UNION ALL SELECT 'Cluster',
             (SELECT COUNT(DISTINCT r_name) FROM customer
              JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey)
           UNION ALL SELECT 'Schema',
             (SELECT COUNT(DISTINCT n_name) FROM customer JOIN nation ON c_nationkey = n_nationkey)
         ) ORDER BY label"""),
    Query("q_graph_edge_counts", GraphBuild.edgeCounts,
      """SELECT rel_type, n FROM (
           SELECT 'CLUSTER' AS rel_type,
             (SELECT COUNT(DISTINCT r_name) FROM customer
              JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey) AS n
           UNION ALL SELECT 'SCHEMA',
             (SELECT COUNT(DISTINCT n_name) FROM customer JOIN nation ON c_nationkey = n_nationkey)
           UNION ALL SELECT 'TABLE', (SELECT COUNT(*) FROM customer)
           UNION ALL SELECT 'DESCRIPTION',
             (SELECT COUNT(*) FROM customer) + (SELECT COUNT(*) FROM orders)
           UNION ALL SELECT 'TAGGED_BY', (SELECT COUNT(*) FROM customer)
           UNION ALL SELECT 'COLUMN', (SELECT COUNT(*) FROM orders)
         ) ORDER BY rel_type"""),
    Query("q_graph_table_nodes", GraphBuild.tableNodes,
      """SELECT 'tpch://' || r_name || '.' || n_name || '/' || c_name AS key,
           c_name AS name, 'false' AS is_view
         FROM customer JOIN nation ON c_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
         ORDER BY key"""),
    Query("q_table_lineage", GraphBuild.lineageEdges,
      """SELECT DISTINCT 'tpch://part/' || l_partkey AS source_key,
           'tpch://sup/' || l_suppkey AS target_key,
           'HAS_DOWNSTREAM' AS rel_type, 'HAS_UPSTREAM' AS reverse_type
         FROM lineitem ORDER BY source_key, target_key"""),
    Query("q_column_lineage", GraphBuild.columnLineageEdges,
      """SELECT DISTINCT 'tpch://part/' || l_partkey || '/retailprice' AS source_key,
           'tpch://sup/' || l_suppkey || '/acctbal' AS target_key,
           'HAS_DOWNSTREAM' AS rel_type, 'HAS_UPSTREAM' AS reverse_type
         FROM lineitem ORDER BY source_key, target_key"""),
    // dashboard model family graph build
    Query("q_dashboard_graph_nodes", DashboardBuild.nodeCounts,
      """SELECT label, n FROM (
           SELECT 'Badge' AS label,
             (SELECT CASE WHEN COUNT(*) > 0 THEN 1 ELSE 0 END
              FROM part WHERE p_partkey % 5 = 0) AS n
           -- MERGE semantics: chart nodes are key-unique; the synthetic
           -- lineitem data contains duplicate full tuples
           UNION ALL SELECT 'Chart',
             (SELECT COUNT(DISTINCT l_partkey || '_' || l_suppkey || '_'
                || l_orderkey || '_' || l_linenumber) FROM lineitem)
           UNION ALL SELECT 'Cluster', CAST(1 AS BIGINT)
           UNION ALL SELECT 'Dashboard', (SELECT COUNT(*) FROM part)
           UNION ALL SELECT 'Dashboardgroup', (SELECT COUNT(DISTINCT p_brand) FROM part)
           UNION ALL SELECT 'Description', (SELECT COUNT(*) FROM part)
           UNION ALL SELECT 'Execution', (SELECT COUNT(DISTINCT l_partkey) FROM lineitem)
           UNION ALL SELECT 'Query',
             (SELECT COUNT(DISTINCT l_partkey || '_' || l_suppkey) FROM lineitem)
           UNION ALL SELECT 'Tag', (SELECT COUNT(DISTINCT lower(p_brand)) FROM part)
         ) WHERE n > 0 ORDER BY label"""),
    // staged-facts twin: identical result by construction, same oracle
    Query("q_dashboard_graph_nodes_staged", DashboardBuild.nodeCountsStaged,
      """SELECT label, n FROM (
           SELECT 'Badge' AS label,
             (SELECT CASE WHEN COUNT(*) > 0 THEN 1 ELSE 0 END
              FROM part WHERE p_partkey % 5 = 0) AS n
           UNION ALL SELECT 'Chart',
             (SELECT COUNT(DISTINCT l_partkey || '_' || l_suppkey || '_'
                || l_orderkey || '_' || l_linenumber) FROM lineitem)
           UNION ALL SELECT 'Cluster', CAST(1 AS BIGINT)
           UNION ALL SELECT 'Dashboard', (SELECT COUNT(*) FROM part)
           UNION ALL SELECT 'Dashboardgroup', (SELECT COUNT(DISTINCT p_brand) FROM part)
           UNION ALL SELECT 'Description', (SELECT COUNT(*) FROM part)
           UNION ALL SELECT 'Execution', (SELECT COUNT(DISTINCT l_partkey) FROM lineitem)
           UNION ALL SELECT 'Query',
             (SELECT COUNT(DISTINCT l_partkey || '_' || l_suppkey) FROM lineitem)
           UNION ALL SELECT 'Tag', (SELECT COUNT(DISTINCT lower(p_brand)) FROM part)
         ) WHERE n > 0 ORDER BY label"""),
    // §2.6 search-document queries
    Query("q_table_search_doc", SearchDocs.tableDocs,
      """WITH colagg AS (
           SELECT o_custkey,
             array_to_string(list_sort(list('o' || lpad(CAST(o_orderkey AS VARCHAR), 8, '0'))), ',') AS column_names,
             array_to_string(list_sort(list(o_orderpriority)), ',') AS column_descriptions,
             CAST(epoch(MAX(o_orderdate)) AS BIGINT) AS last_updated_timestamp
           FROM orders GROUP BY o_custkey),
         usage_agg AS (
           SELECT o_custkey, COUNT(*) AS total_usage, COUNT(DISTINCT l_suppkey) AS unique_usage
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey GROUP BY o_custkey)
         SELECT 'tpch' AS "database", r_name AS cluster, n_name AS "schema", c_name AS name,
           n_name || '.' || c_name AS display_name,
           'tpch://' || r_name || '.' || n_name || '/' || c_name AS key,
           c_mktsegment AS description, lower(c_mktsegment) AS tags,
           'schema ' || lower(n_name) AS schema_description,
           'tier ' || CAST(c_custkey % 3 AS VARCHAR) AS programmatic_descriptions,
           CASE WHEN c_acctbal >= 0 THEN 'active' ELSE 'delinquent' END AS badges,
           COALESCE(column_names, '') AS column_names,
           COALESCE(column_descriptions, '') AS column_descriptions,
           COALESCE(last_updated_timestamp, 0) AS last_updated_timestamp,
           COALESCE(total_usage, 0) AS total_usage,
           COALESCE(unique_usage, 0) AS unique_usage
         FROM customer JOIN nation ON c_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
           LEFT JOIN colagg ON c_custkey = colagg.o_custkey
           LEFT JOIN usage_agg ON c_custkey = usage_agg.o_custkey
         ORDER BY name"""),
    // The staged round trip is lossless, so the oracle is the same query.
    Query("q_staged_table_search_doc", SearchDocs.tableDocsStaged,
      """WITH colagg AS (
           SELECT o_custkey,
             array_to_string(list_sort(list('o' || lpad(CAST(o_orderkey AS VARCHAR), 8, '0'))), ',') AS column_names,
             array_to_string(list_sort(list(o_orderpriority)), ',') AS column_descriptions,
             CAST(epoch(MAX(o_orderdate)) AS BIGINT) AS last_updated_timestamp
           FROM orders GROUP BY o_custkey),
         usage_agg AS (
           SELECT o_custkey, COUNT(*) AS total_usage, COUNT(DISTINCT l_suppkey) AS unique_usage
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey GROUP BY o_custkey)
         SELECT 'tpch' AS "database", r_name AS cluster, n_name AS "schema", c_name AS name,
           n_name || '.' || c_name AS display_name,
           'tpch://' || r_name || '.' || n_name || '/' || c_name AS key,
           c_mktsegment AS description, lower(c_mktsegment) AS tags,
           'schema ' || lower(n_name) AS schema_description,
           'tier ' || CAST(c_custkey % 3 AS VARCHAR) AS programmatic_descriptions,
           CASE WHEN c_acctbal >= 0 THEN 'active' ELSE 'delinquent' END AS badges,
           COALESCE(column_names, '') AS column_names,
           COALESCE(column_descriptions, '') AS column_descriptions,
           COALESCE(last_updated_timestamp, 0) AS last_updated_timestamp,
           COALESCE(total_usage, 0) AS total_usage,
           COALESCE(unique_usage, 0) AS unique_usage
         FROM customer JOIN nation ON c_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
           LEFT JOIN colagg ON c_custkey = colagg.o_custkey
           LEFT JOIN usage_agg ON c_custkey = usage_agg.o_custkey
         ORDER BY name"""),
    Query("q_user_search_doc", SearchDocs.userDocs,
      """WITH r AS (
           SELECT l_suppkey, COUNT(*) AS total_read, COUNT(DISTINCT l_partkey) AS total_own,
             COUNT(DISTINCT l_orderkey) AS total_follow
           FROM lineitem GROUP BY l_suppkey)
         SELECT 's' || s_suppkey AS email,
           string_split(s_name, '#')[1] AS first_name,
           string_split(s_name, '#')[2] AS last_name,
           s_name AS full_name, n_name AS team_name,
           's' || ((s_suppkey + 1) % 10) AS manager_email,
           'true' AS is_active,
           'gh_s' || s_suppkey AS github_username,
           '@s' || s_suppkey AS slack_id,
           CASE WHEN s_suppkey % 2 = 0 THEN 'eng' ELSE 'analyst' END AS role_name,
           'fte' AS employee_type,
           COALESCE(total_read, 0) AS total_read,
           COALESCE(total_own, 0) AS total_own,
           COALESCE(total_follow, 0) AS total_follow
         FROM supplier JOIN nation ON s_nationkey = n_nationkey
           LEFT JOIN r ON s_suppkey = l_suppkey
         WHERE s_name IS NOT NULL ORDER BY email"""),
    // Oracle recomputes what the dashboard graph encodes: dashboards are
    // parts ('d'+partkey under the brand group), charts are lineitems, the
    // last-successful execution is the max ship date.
    Query("q_dashboard_search_doc", SearchDocs.dashboardDocs,
      """WITH u AS (
           SELECT l_partkey,
             -- chart paths after MERGE dedup: distinct (query, chart) keys
             COUNT(DISTINCT l_suppkey || '_' || l_orderkey || '_' || l_linenumber)
               AS total_usage,
             CAST(epoch(MAX(l_shipdate)) AS BIGINT) AS last_successful_run_timestamp,
             array_to_string(list_sort(list(DISTINCT 'supplier ' || l_suppkey)), ',') AS query_names,
             array_to_string(list_sort(list(DISTINCT l_returnflag)), ',') AS chart_names
           FROM lineitem GROUP BY l_partkey)
         SELECT p_brand AS group_name, 'd' || p_partkey AS name,
           'gold' AS cluster,
           COALESCE(p_type, '') AS description,
           '' AS group_description,
           'https://mode.example/' || p_brand AS group_url,
           'https://mode.example/' || p_brand || '/d' || p_partkey AS url,
           'mode_dashboard://gold.' || p_brand || '/d' || p_partkey AS uri,
           'mode' AS product,
           COALESCE(last_successful_run_timestamp, 0) AS last_successful_run_timestamp,
           COALESCE(query_names, '') AS query_names,
           COALESCE(chart_names, '') AS chart_names,
           COALESCE(total_usage, 0) AS total_usage,
           lower(p_brand) AS tags,
           CASE WHEN p_partkey % 5 = 0 THEN 'certified' ELSE '' END AS badges
         FROM part LEFT JOIN u ON p_partkey = l_partkey
         ORDER BY group_name, name"""),
    // The staged round trips are lossless, so the oracles are the same
    // queries as the in-memory user/dashboard variants.
    Query("q_staged_user_search_doc", SearchDocs.userDocsStaged,
      """WITH r AS (
           SELECT l_suppkey, COUNT(*) AS total_read, COUNT(DISTINCT l_partkey) AS total_own,
             COUNT(DISTINCT l_orderkey) AS total_follow
           FROM lineitem GROUP BY l_suppkey)
         SELECT 's' || s_suppkey AS email,
           string_split(s_name, '#')[1] AS first_name,
           string_split(s_name, '#')[2] AS last_name,
           s_name AS full_name, n_name AS team_name,
           's' || ((s_suppkey + 1) % 10) AS manager_email,
           'true' AS is_active,
           'gh_s' || s_suppkey AS github_username,
           '@s' || s_suppkey AS slack_id,
           CASE WHEN s_suppkey % 2 = 0 THEN 'eng' ELSE 'analyst' END AS role_name,
           'fte' AS employee_type,
           COALESCE(total_read, 0) AS total_read,
           COALESCE(total_own, 0) AS total_own,
           COALESCE(total_follow, 0) AS total_follow
         FROM supplier JOIN nation ON s_nationkey = n_nationkey
           LEFT JOIN r ON s_suppkey = l_suppkey
         WHERE s_name IS NOT NULL ORDER BY email"""),
    Query("q_staged_dashboard_search_doc", SearchDocs.dashboardDocsStaged,
      """WITH u AS (
           SELECT l_partkey,
             COUNT(DISTINCT l_suppkey || '_' || l_orderkey || '_' || l_linenumber)
               AS total_usage,
             CAST(epoch(MAX(l_shipdate)) AS BIGINT) AS last_successful_run_timestamp,
             array_to_string(list_sort(list(DISTINCT 'supplier ' || l_suppkey)), ',') AS query_names,
             array_to_string(list_sort(list(DISTINCT l_returnflag)), ',') AS chart_names
           FROM lineitem GROUP BY l_partkey)
         SELECT p_brand AS group_name, 'd' || p_partkey AS name,
           'gold' AS cluster,
           COALESCE(p_type, '') AS description,
           '' AS group_description,
           'https://mode.example/' || p_brand AS group_url,
           'https://mode.example/' || p_brand || '/d' || p_partkey AS url,
           'mode_dashboard://gold.' || p_brand || '/d' || p_partkey AS uri,
           'mode' AS product,
           COALESCE(last_successful_run_timestamp, 0) AS last_successful_run_timestamp,
           COALESCE(query_names, '') AS query_names,
           COALESCE(chart_names, '') AS chart_names,
           COALESCE(total_usage, 0) AS total_usage,
           lower(p_brand) AS tags,
           CASE WHEN p_partkey % 5 = 0 THEN 'certified' ELSE '' END AS badges
         FROM part LEFT JOIN u ON p_partkey = l_partkey
         ORDER BY group_name, name"""),
    // Tag-scoped extraction: the second publish stamped the tier-0
    // (c_custkey % 3 = 0) tables' nodes batch_2, so the filtered query is
    // the table-doc oracle restricted to those customers.
    Query("q_table_search_doc_tagged", SearchDocs.tableDocsTagged,
      """WITH colagg AS (
           SELECT o_custkey,
             array_to_string(list_sort(list('o' || lpad(CAST(o_orderkey AS VARCHAR), 8, '0'))), ',') AS column_names,
             array_to_string(list_sort(list(o_orderpriority)), ',') AS column_descriptions,
             CAST(epoch(MAX(o_orderdate)) AS BIGINT) AS last_updated_timestamp
           FROM orders GROUP BY o_custkey),
         usage_agg AS (
           SELECT o_custkey, COUNT(*) AS total_usage, COUNT(DISTINCT l_suppkey) AS unique_usage
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey GROUP BY o_custkey)
         SELECT 'tpch' AS "database", r_name AS cluster, n_name AS "schema", c_name AS name,
           n_name || '.' || c_name AS display_name,
           'tpch://' || r_name || '.' || n_name || '/' || c_name AS key,
           c_mktsegment AS description, lower(c_mktsegment) AS tags,
           'schema ' || lower(n_name) AS schema_description,
           'tier ' || CAST(c_custkey % 3 AS VARCHAR) AS programmatic_descriptions,
           CASE WHEN c_acctbal >= 0 THEN 'active' ELSE 'delinquent' END AS badges,
           COALESCE(column_names, '') AS column_names,
           COALESCE(column_descriptions, '') AS column_descriptions,
           COALESCE(last_updated_timestamp, 0) AS last_updated_timestamp,
           COALESCE(total_usage, 0) AS total_usage,
           COALESCE(unique_usage, 0) AS unique_usage
         FROM customer JOIN nation ON c_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
           LEFT JOIN colagg ON c_custkey = colagg.o_custkey
           LEFT JOIN usage_agg ON c_custkey = usage_agg.o_custkey
         WHERE c_custkey % 3 = 0
         ORDER BY name"""),
    // Tag-scoped USER extraction: the second publish stamped every third
    // user's node batch_2; the WHERE binds only the primary `user`
    // variable, so the manager ring still resolves against the full set.
    Query("q_user_search_doc_tagged", SearchDocs.userDocsTagged,
      """WITH r AS (
           SELECT l_suppkey, COUNT(*) AS total_read, COUNT(DISTINCT l_partkey) AS total_own,
             COUNT(DISTINCT l_orderkey) AS total_follow
           FROM lineitem GROUP BY l_suppkey)
         SELECT 's' || s_suppkey AS email,
           string_split(s_name, '#')[1] AS first_name,
           string_split(s_name, '#')[2] AS last_name,
           s_name AS full_name, n_name AS team_name,
           's' || ((s_suppkey + 1) % 10) AS manager_email,
           'true' AS is_active,
           'gh_s' || s_suppkey AS github_username,
           '@s' || s_suppkey AS slack_id,
           CASE WHEN s_suppkey % 2 = 0 THEN 'eng' ELSE 'analyst' END AS role_name,
           'fte' AS employee_type,
           COALESCE(total_read, 0) AS total_read,
           COALESCE(total_own, 0) AS total_own,
           COALESCE(total_follow, 0) AS total_follow
         FROM supplier JOIN nation ON s_nationkey = n_nationkey
           LEFT JOIN r ON s_suppkey = l_suppkey
         WHERE s_name IS NOT NULL AND s_suppkey % 3 = 0 ORDER BY email"""),
    // Tag-scoped DASHBOARD extraction: every third dashboard re-published
    // batch_2 — the dashboard-doc oracle restricted to those parts.
    Query("q_dashboard_search_doc_tagged", SearchDocs.dashboardDocsTagged,
      """WITH u AS (
           SELECT l_partkey,
             COUNT(DISTINCT l_suppkey || '_' || l_orderkey || '_' || l_linenumber)
               AS total_usage,
             CAST(epoch(MAX(l_shipdate)) AS BIGINT) AS last_successful_run_timestamp,
             array_to_string(list_sort(list(DISTINCT 'supplier ' || l_suppkey)), ',') AS query_names,
             array_to_string(list_sort(list(DISTINCT l_returnflag)), ',') AS chart_names
           FROM lineitem GROUP BY l_partkey)
         SELECT p_brand AS group_name, 'd' || p_partkey AS name,
           'gold' AS cluster,
           COALESCE(p_type, '') AS description,
           '' AS group_description,
           'https://mode.example/' || p_brand AS group_url,
           'https://mode.example/' || p_brand || '/d' || p_partkey AS url,
           'mode_dashboard://gold.' || p_brand || '/d' || p_partkey AS uri,
           'mode' AS product,
           COALESCE(last_successful_run_timestamp, 0) AS last_successful_run_timestamp,
           COALESCE(query_names, '') AS query_names,
           COALESCE(chart_names, '') AS chart_names,
           COALESCE(total_usage, 0) AS total_usage,
           lower(p_brand) AS tags,
           CASE WHEN p_partkey % 5 = 0 THEN 'certified' ELSE '' END AS badges
         FROM part LEFT JOIN u ON p_partkey = l_partkey
         WHERE p_partkey % 3 = 0
         ORDER BY group_name, name"""),
    // The ES NDJSON publish round trip is lossless (string/long fields
    // only), so the oracle is the table-document query.
    Query("q_es_published_table_docs", SearchDocs.tableDocsEsPublished,
      """WITH colagg AS (
           SELECT o_custkey,
             array_to_string(list_sort(list('o' || lpad(CAST(o_orderkey AS VARCHAR), 8, '0'))), ',') AS column_names,
             array_to_string(list_sort(list(o_orderpriority)), ',') AS column_descriptions,
             CAST(epoch(MAX(o_orderdate)) AS BIGINT) AS last_updated_timestamp
           FROM orders GROUP BY o_custkey),
         usage_agg AS (
           SELECT o_custkey, COUNT(*) AS total_usage, COUNT(DISTINCT l_suppkey) AS unique_usage
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey GROUP BY o_custkey)
         SELECT 'tpch' AS "database", r_name AS cluster, n_name AS "schema", c_name AS name,
           n_name || '.' || c_name AS display_name,
           'tpch://' || r_name || '.' || n_name || '/' || c_name AS key,
           c_mktsegment AS description, lower(c_mktsegment) AS tags,
           'schema ' || lower(n_name) AS schema_description,
           'tier ' || CAST(c_custkey % 3 AS VARCHAR) AS programmatic_descriptions,
           CASE WHEN c_acctbal >= 0 THEN 'active' ELSE 'delinquent' END AS badges,
           COALESCE(column_names, '') AS column_names,
           COALESCE(column_descriptions, '') AS column_descriptions,
           COALESCE(last_updated_timestamp, 0) AS last_updated_timestamp,
           COALESCE(total_usage, 0) AS total_usage,
           COALESCE(unique_usage, 0) AS unique_usage
         FROM customer JOIN nation ON c_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
           LEFT JOIN colagg ON c_custkey = colagg.o_custkey
           LEFT JOIN usage_agg ON c_custkey = usage_agg.o_custkey
         ORDER BY name"""),
    // JDBC write -> partitioned read over embedded Derby is lossless, so
    // the oracle is the plain source query.
    Query("q_jdbc_roundtrip", Jdbc.jdbcRoundTrip,
      """SELECT c_custkey AS id, c_name AS name, c_mktsegment AS segment
         FROM customer WHERE c_custkey % 7 = 0 ORDER BY id"""),
    // Loader round trips are lossless -> plain source oracles.
    Query("q_csv_loader_roundtrip", Stage.csvLoaderRoundTrip,
      """SELECT o_orderkey AS order_id, o_orderstatus AS status,
           CAST(o_totalprice AS DOUBLE) AS total
         FROM orders WHERE o_orderkey % 50 = 0 ORDER BY order_id"""),
    Query("q_neptune_csv_roundtrip", Stage.neptuneCsvRoundTrip,
      """SELECT o_orderkey AS order_id, o_orderstatus AS status,
           CAST(o_totalprice AS DOUBLE) AS total,
           CAST(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS BIGINT) AS urgent
         FROM orders WHERE o_orderkey % 50 = 0 ORDER BY order_id"""),
    // The bulk-publish lifecycle stages typed CSVs, uploads them through
    // the object-store seam, and completes a deterministic in-process
    // load — lossless end to end, so the oracle is the source query with
    // the terminal status as a literal.
    Query("q_neptune_bulk_publish", NeptuneBulkLoad.bulkPublishRoundTrip,
      """SELECT CAST(s_suppkey AS BIGINT) AS supplier_id, s_name AS name,
           CAST(s_acctbal AS DOUBLE) AS acctbal,
           CAST(CASE WHEN s_nationkey < 12 THEN 1 ELSE 0 END AS BIGINT) AS western,
           'LOAD_COMPLETED' AS load_status
         FROM supplier WHERE s_suppkey % 20 = 0 ORDER BY supplier_id"""),
    // Compaction is lossless and the 64-shard fragmentation collapses to
    // one well-sized file at gate volume — both pinned as literals.
    Query("q_compact_files", Stage.compactionRoundTrip,
      """SELECT CAST(o_orderkey AS BIGINT) AS order_id, o_orderstatus AS status,
           CAST(o_totalprice AS DOUBLE) AS total,
           CAST(64 AS BIGINT) AS in_files, CAST(1 AS BIGINT) AS out_files
         FROM orders WHERE o_orderkey % 10 = 0 ORDER BY order_id"""),
    // §2.7 RDS relational-record universe
    Query("q_rds_records", RdsBuild.rdsRecordCounts,
      """SELECT rds_table, n FROM (
           SELECT 'database' AS rds_table, CAST(1 AS BIGINT) AS n
           UNION ALL SELECT 'cluster',
             (SELECT COUNT(DISTINCT r_name) FROM customer
              JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey)
           UNION ALL SELECT 'schema',
             (SELECT COUNT(DISTINCT n_name) FROM customer JOIN nation ON c_nationkey = n_nationkey)
           UNION ALL SELECT 'table', (SELECT COUNT(*) FROM customer)
           UNION ALL SELECT 'table_description', (SELECT COUNT(*) FROM customer)
           UNION ALL SELECT 'tag', (SELECT COUNT(DISTINCT lower(c_mktsegment)) FROM customer)
           UNION ALL SELECT 'table_tag', (SELECT COUNT(*) FROM customer)
           UNION ALL SELECT 'column', (SELECT COUNT(*) FROM orders)
           UNION ALL SELECT 'column_description', (SELECT COUNT(*) FROM orders)
         ) ORDER BY rds_table"""),
    // Pins the FK-ordered publish sequence (mysql_csv_publisher.py:94-103):
    // seq_pos = application order, fk_rank = topological depth in the
    // _rk-derived FK DAG. Values are the publisher's contract, so the
    // oracle states them literally.
    Query("q_rds_fk_order", RdsBuild.fkOrder,
      """SELECT * FROM (VALUES
           ('database', CAST(1 AS BIGINT), CAST(0 AS BIGINT)),
           ('cluster', 2, 1),
           ('schema', 3, 2),
           ('table', 4, 3),
           ('table_description', 5, 4),
           ('tag', 6, 0),
           ('table_tag', 7, 4),
           ('column', 8, 4),
           ('column_description', 9, 5)
         ) AS t(rds_table, seq_pos, fk_rank)
         ORDER BY seq_pos"""),
    // §2.3 REST-join framework (rest_api_query.py analog)
    // REST-join framework: values round-trip through a JSON payload on the
    // Spark side (JSONPath extract + zip + explode); the oracle joins the
    // base tables directly — identical values prove the join semantics.
    Query("q_rest_join_inner", RestJoin.restJoinInner,
      """SELECT c_custkey, c_name, CAST(o_orderkey AS BIGINT) AS order_id,
           o_orderstatus AS order_status
         FROM customer JOIN orders ON o_custkey = c_custkey
         ORDER BY c_custkey, order_id"""),
    Query("q_rest_join_outer", RestJoin.restJoinOuter,
      """SELECT c_custkey, c_name, COALESCE(CAST(o_orderkey AS BIGINT), 0) AS order_id,
           COALESCE(o_orderstatus, '') AS order_status
         FROM customer LEFT JOIN orders ON o_custkey = c_custkey
         ORDER BY c_custkey, order_id"""),
    // §2.1 dialect metastore pipeline (join ∪ union → fold)
    Query("q_hive_metastore_fold", Metastore.hiveMetastoreFold,
      """WITH tbls AS (SELECT c_custkey AS tbl_id, c_nationkey AS db_id, c_name AS name,
             CASE WHEN c_custkey % 20 = 0 THEN 'VIRTUAL_VIEW' ELSE 'MANAGED_TABLE' END AS tbl_type,
             c_mktsegment AS description
           FROM customer),
         dbs AS (SELECT n_nationkey AS db_id, n_name AS schema_name FROM nation),
         cols AS (SELECT o_custkey AS tbl_id, 'c' || o_orderkey AS col_name,
             o_orderpriority AS col_type, o_orderkey AS col_sort_order,
             CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END AS is_partition_col
           FROM orders),
         folded AS (
           SELECT t.tbl_id, d.schema_name, t.name, t.description,
             t.tbl_type = 'VIRTUAL_VIEW' AS is_view,
             COUNT(*) AS n_cols,
             string_agg(c.col_name || ':' || c.col_type || ':' ||
                 CASE WHEN c.is_partition_col = 1 THEN 'partition column' ELSE '' END, ','
               ORDER BY (1 - c.is_partition_col), c.col_sort_order) AS columns
           FROM tbls t JOIN dbs d ON t.db_id = d.db_id JOIN cols c ON t.tbl_id = c.tbl_id
           GROUP BY 1, 2, 3, 4, 5)
         SELECT 'hive://gold.' || schema_name || '/' || name AS key,
           schema_name, name, description, is_view, n_cols, columns
         FROM folded ORDER BY key"""),
    // payload-registry extractors (Feast feature registry, BambooHR XML)
    Query("q_feast_features", RegistryIngest.feastFeatureTables,
      """SELECT 'feast' AS database_name, 'main' AS cluster, project,
           feature_table, col_name, col_type, sort_order
         FROM (
           SELECT r_name AS project, 'ft_' || lower(n_name) AS feature_table,
             lower(n_name) || '_id' AS col_name, 'INT64' AS col_type,
             CAST(0 AS BIGINT) AS sort_order
           FROM nation JOIN region ON n_regionkey = r_regionkey
           UNION ALL
           SELECT r_name, 'ft_' || lower(n_name), 'f_s' || s_suppkey, 'DOUBLE',
             CAST(ROW_NUMBER() OVER (PARTITION BY s_nationkey ORDER BY s_suppkey)
               AS BIGINT)
           FROM supplier
             JOIN nation ON s_nationkey = n_nationkey
             JOIN region ON n_regionkey = r_regionkey
         ) ORDER BY project, feature_table, sort_order"""),
    Query("q_xml_users", RegistryIngest.bamboohrUsers,
      """SELECT 's' || s_suppkey || '@corp' AS email,
           'F' || s_suppkey AS first_name, 'L' || s_suppkey AS last_name,
           s_name AS name, n_name AS team_name,
           CASE WHEN s_suppkey % 2 = 0 THEN 'supplier' ELSE '' END AS role_name
         FROM supplier JOIN nation ON s_nationkey = n_nationkey
         ORDER BY email"""),
    // fetch-configured extractor gates (fixture clients from the star
    // schema drive the REAL pagination/parse/transform chains)
    // Fetch-configured extractor gates: the fixture payloads are built
    // from the same key expressions these oracles recompute (the planted
    // bad timestamp at key % 97 = 0 exercises 0-on-parse-failure).
    Query("q_mode_dashboards", ExtractorOracles.modeDashboardMetadata,
      """WITH c AS (
           SELECT c_custkey AS ck, c_name, c_mktsegment, n_regionkey AS rk
           FROM customer JOIN nation ON c_nationkey = n_nationkey
           WHERE c_custkey % 5 = 0)
         SELECT r_name AS dashboard_group, c_name AS dashboard_name,
           c_mktsegment AS description, 'gold' AS cluster, 'mode' AS product,
           'space ' || r_name AS dashboard_group_description,
           CASE WHEN ck % 97 = 0 THEN CAST(0 AS BIGINT)
             ELSE epoch(make_timestamp(2023, 1 + ck % 12, 1 + ck % 28,
               ck % 24, ck % 60, (ck * 7) % 60))::BIGINT END AS created_timestamp,
           'https://app.mode.com/graft/reports/rep' || ck AS dashboard_url,
           'https://app.mode.com/graft/spaces/sp' || rk AS group_url
         FROM c JOIN region ON rk = r_regionkey
         ORDER BY dashboard_url"""),
    Query("q_redash_dashboards", ExtractorOracles.redashDashboards,
      """SELECT 'Redash' AS dashboard_group, 'redash' AS dashboard_group_id,
           'https://redash.example' AS dashboard_group_url,
           CAST(n_nationkey AS VARCHAR) AS dashboard_id,
           n_name AS dashboard_name,
           'https://redash.example/dashboards/' || n_nationkey AS dashboard_url,
           CASE WHEN n_nationkey % 97 = 0 THEN CAST(0 AS BIGINT)
             ELSE epoch(make_timestamp(2023, 1 + n_nationkey % 12, 1 + n_nationkey % 28,
               n_nationkey % 24, n_nationkey % 60, (n_nationkey * 7) % 60))::BIGINT
             END AS created_timestamp,
           CASE WHEN (n_nationkey + 7) % 97 = 0 THEN CAST(0 AS BIGINT)
             ELSE epoch(make_timestamp(2023, 1 + (n_nationkey + 7) % 12,
               1 + (n_nationkey + 7) % 28, (n_nationkey + 7) % 24,
               (n_nationkey + 7) % 60, ((n_nationkey + 7) * 7) % 60))::BIGINT
             END AS last_modified_timestamp,
           'u' || n_nationkey || '@corp' AS owner_email,
           'prod' AS cluster, 'redash' AS product
         FROM nation
         WHERE NOT (n_nationkey % 5 = 0 OR n_nationkey % 7 = 0)
         ORDER BY dashboard_id"""),
    Query("q_tableau_dashboards", ExtractorOracles.tableauDashboards,
      """SELECT n_name AS dashboard_group,
           'W' || s_name || 's' AS dashboard_name,
           'wb ' || s_name AS description,
           'gold' AS cluster, 'tableau' AS product,
           CASE WHEN s_suppkey % 97 = 0 THEN CAST(0 AS BIGINT)
             ELSE epoch(make_timestamp(2023, 1 + s_suppkey % 12, 1 + s_suppkey % 28,
               s_suppkey % 24, s_suppkey % 60, (s_suppkey * 7) % 60))::BIGINT
             END AS created_timestamp,
           'https://tableau.example/#/site/graft/workbooks/v' || s_suppkey
             || '/views' AS dashboard_url,
           'https://tableau.example/#/site/graft/projects/p' || n_nationkey AS group_url
         FROM supplier JOIN nation ON s_nationkey = n_nationkey
         WHERE s_suppkey % 11 <> 0
           AND n_name NOT IN (SELECT n_name FROM nation WHERE n_regionkey = 0)
         ORDER BY dashboard_url"""),
    Query("q_atlas_table_docs", ExtractorOracles.atlasTableDocs,
      """WITH colagg AS (
           SELECT s_nationkey AS nk,
             string_agg('col_' || s_suppkey, '|' ORDER BY 'col_' || s_suppkey)
               FILTER (WHERE s_suppkey % 3 <> 0 AND s_suppkey % 13 <> 0) AS cn,
             string_agg('dc ' || s_suppkey, '|' ORDER BY 'dc ' || s_suppkey)
               FILTER (WHERE s_suppkey % 3 <> 0 AND s_suppkey % 13 <> 0
                 AND s_suppkey % 4 <> 0) AS cd
           FROM supplier GROUP BY s_nationkey)
         SELECT 'Table' AS database,
           'cl' || n_regionkey AS cluster,
           r_name AS "schema",
           n_name AS name,
           'db_' || lower(n_name) || '@cl' || n_regionkey AS key,
           'nation ' || n_name AS description,
           CAST(n_nationkey * 1000 AS BIGINT) AS last_updated_timestamp,
           CAST(n_nationkey AS BIGINT) AS total_usage,
           CAST(CASE WHEN n_nationkey % 6 = 0 THEN 1
             ELSE n_nationkey * 2 END AS BIGINT) AS unique_usage,
           coalesce(c.cn, '') AS column_names,
           coalesce(c.cd, '') AS column_descriptions,
           'tag' || n_nationkey || 'a' AS tags,
           CASE WHEN n_nationkey % 2 = 0 THEN 'pii' ELSE '' END AS badges,
           'db_' || lower(n_name) AS display_name,
           'src ' || n_name AS schema_description,
           'note ' || n_nationkey || '|src ' || n_name AS programmatic_descriptions
         FROM nation JOIN region ON n_regionkey = r_regionkey
         LEFT JOIN colagg c ON n_nationkey = c.nk
         ORDER BY key"""),
    // catalog sources (Spark-catalog walk, DESCRIBE-detail seam,
    // GenericExtractor, EsLastUpdated)
    // Catalog sources: the view/table fixtures are derived from `region`
    // and `orders`, so the catalog walk's output is relationally checkable.
    Query("q_catalog_tables", ExtractorOracles.catalogTables,
      """SELECT 'session' AS table_schema,
           'gcat_' || regexp_replace(lower(r_name), '[^a-z0-9]', '_', 'g') AS table_name,
           true AS is_view, c.col_name, c.col_type, c.sort_order
         FROM region, (VALUES
           ('nation_id', 'bigint', CAST(0 AS BIGINT)),
           ('nation_name', 'string', CAST(1 AS BIGINT))) AS c(col_name, col_type, sort_order)
         ORDER BY table_name, sort_order"""),
    Query("q_catalog_last_updated", ExtractorOracles.catalogLastUpdated,
      """SELECT 'spark://local.default/gcatlu_' ||
           CASE WHEN o_orderkey % 2 = 0 THEN 'even' ELSE 'odd' END AS table_key,
           epoch(date_trunc('day', max(o_orderdate)))::BIGINT AS last_updated
         FROM orders GROUP BY 1 ORDER BY 1"""),
    Query("q_es_last_updated", ExtractorOracles.esLastUpdated,
      """SELECT epoch(date_trunc('day', max(o_orderdate)))::BIGINT AS "timestamp"
         FROM orders"""),
    Query("q_generic_records", ExtractorOracles.genericRecords,
      """SELECT CAST(r_regionkey AS BIGINT) AS region_id, r_name AS region_name
         FROM region ORDER BY region_id"""),
    // REST fetch plumbing (driver pagination/retry/skip loop; executor-
    // distributed per-partition fetch) + full pipeline launch lifecycle
    // REST fetch loop: pages of 3 per region; region 4 is the planted
    // permanent 404 the skip handler drops; page = position within the
    // region's nations ordered by key.
    Query("q_rest_fetch_pages", ExtractorOracles.restFetchPages,
      """SELECT CAST(n_regionkey AS BIGINT) AS r_regionkey,
           CAST(((ROW_NUMBER() OVER (PARTITION BY n_regionkey ORDER BY n_nationkey)
             - 1) // 3) + 1 AS INT) AS page,
           CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name
         FROM nation WHERE n_regionkey <> 4
         ORDER BY n_nationkey"""),
    // Distributed fetch: nk % 7 = 0 is the permanent 404 (null payload);
    // the nk % 5 = 3 transient 503 must have been retried to 200.
    Query("q_rest_fetch_distributed", ExtractorOracles.restFetchDistributed,
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
           CASE WHEN n_nationkey % 7 = 0 THEN 404 ELSE 200 END AS status,
           CASE WHEN n_nationkey % 7 = 0 THEN NULL ELSE n_name END AS fetched_name
         FROM nation ORDER BY n_nationkey"""),
    // Pipeline launch: None-drop filter, template key, per-role fan-out,
    // field removal — read back from the published CURRENT generation.
    Query("q_pipeline_e2e", ExtractorOracles.pipelineE2E,
      """SELECT CAST(c_custkey AS BIGINT) AS c_custkey,
           'tpch://' || n_name || '/' || c_name AS key, role, c_acctbal
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         CROSS JOIN (SELECT 'owner' AS role UNION ALL SELECT 'reader') roles
         WHERE c_acctbal >= 0
         ORDER BY c_custkey, role"""),
    // watermark model fan-out (part_name parse)
    // Watermark model: low/high partition bounds per table, part_name
    // "col=value" parsed back into partition key/value (watermark.py:43-49).
    Query("q_watermark_parse", GraphBuild.watermarkNodes,
      """WITH b AS (
           SELECT o_custkey, strftime(MIN(o_orderdate), '%Y-%m-%d') AS lo,
             strftime(MAX(o_orderdate), '%Y-%m-%d') AS hi
           FROM orders GROUP BY o_custkey),
         p AS (
           SELECT c_custkey, r_name AS cluster, n_name AS sch, c_name AS tbl
           FROM customer JOIN nation ON c_nationkey = n_nationkey
             JOIN region ON n_regionkey = r_regionkey),
         w AS (
           SELECT cluster, sch, tbl, 'low_watermark' AS pt, lo AS v
           FROM b JOIN p ON o_custkey = c_custkey
           UNION ALL
           SELECT cluster, sch, tbl, 'high_watermark', hi
           FROM b JOIN p ON o_custkey = c_custkey)
         SELECT 'tpch://' || cluster || '.' || sch || '/' || tbl || '/' || pt || '/' AS key,
           'o_orderdate' AS partition_key, v AS partition_value, v AS create_time
         FROM w ORDER BY key"""),
    // lineage-graph analytics (exact fixed-point PageRank)
    Query("q_pagerank_lineage", (s, d) => GraphBuild.pageRankLineage(s, d, iters = 3),
      pagerankOracleSql(3))
  )

  /** Unrolled DuckDB program for k fixed-point PageRank rounds — the same
    * integer contribution (rank·85) // (100·outdeg) and integer fold as
    * [[graft.operators.GraphBuild.pageRankLineage]]. */
  private def pagerankOracleSql(iters: Int): String = {
    val head =
      """WITH e AS (SELECT DISTINCT 'tpch://part/' || l_partkey AS src,
             'tpch://sup/' || l_suppkey AS dst FROM lineitem),
         dg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg FROM e GROUP BY src),
         n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS pr FROM n)"""
    val rounds = (1 to iters).map { r =>
      s""",
         c$r AS (SELECT e.dst AS node,
             CAST(SUM((r.pr * 85) // (100 * dg.outdeg)) AS BIGINT) AS in_mass
           FROM e JOIN dg ON e.src = dg.src JOIN r${r - 1} r ON r.node = e.src
           GROUP BY e.dst),
         r$r AS (SELECT n.node, CAST(150000000 + COALESCE(c.in_mass, 0) AS BIGINT) AS pr
           FROM n LEFT JOIN c$r c ON n.node = c.node)"""
    }.mkString
    s"""$head$rounds
       SELECT node AS node_key, pr AS rank_scaled,
         round(CAST(pr AS DOUBLE) / 1000000000.0, 9) AS pagerank
       FROM r$iters ORDER BY rank_scaled DESC, node_key"""
  }
}
