package graft.oracle

/** DuckDB oracle SQL for [[graft.queries.Relational]]'s queries. */
object Relational {
  /** Revenue per nation over the five-table join — one answer whatever
    * physical layout (plain or bucketed) the engine read.
    */
  private val multijoinSql = """
      SELECT n_name,
             sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000) AS BIGINT)) / 10000.0 AS revenue
      FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON o_orderkey = l_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY n_name"""

  val oracle: Map[String, String] = Map(
    "s3_scan_prune" ->
      "SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem WHERE l_extendedprice > 3000.0",
    "s11_partition_pruned_scan" ->
      "SELECT user_id, CAST(count(*) AS BIGINT) AS n_events FROM events WHERE event_type = 'view' GROUP BY user_id",
    // the pruned manifest-selected read must equal the plain full-scan
    // predicate — file skipping changes I/O, never answers
    "s14_zonemap_scan" -> """
      SELECT event_type, count(*) AS n,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
      FROM events
      WHERE value >= 100.0 AND value <= 150.0
      GROUP BY 1""",
    "s12_zorder_scan" -> """
      WITH b AS (SELECT min(user_id) AS umin, max(user_id) AS umax,
                        min(epoch_us(CAST(ts AS TIMESTAMP))) AS tmin,
                        max(epoch_us(CAST(ts AS TIMESTAMP))) AS tmax
                 FROM events)
      SELECT event_type, count(*) AS n,
             sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS value_sum
      FROM events, b
      WHERE user_id BETWEEN umin + (umax - umin) * 25 // 100
                        AND umin + (umax - umin) * 50 // 100
        AND epoch_us(CAST(ts AS TIMESTAMP))
              BETWEEN tmin + (tmax - tmin) * 25 // 100
                  AND tmin + (tmax - tmin) * 50 // 100
      GROUP BY event_type""",
    "p1_isin_filter" ->
      "SELECT l_orderkey, l_linenumber FROM lineitem WHERE l_linenumber IN (1, 2)",
    "p2_threshold_filter" ->
      "SELECT l_orderkey, l_linenumber, l_discount FROM lineitem WHERE l_discount < 0.05",
    "p6_nonblank_filter" ->
      "SELECT event_id FROM events WHERE props IS NOT NULL AND trim(props) <> ''",
    "p12_literal_columns" ->
      "SELECT o_orderkey, 'NA' AS fragment_ion, 0 AS product_charge, 'L' AS isotope_label FROM orders",
    "q1_agg" -> """
      SELECT l_returnflag, l_linestatus,
             sum(CAST(round(l_quantity * 100) AS BIGINT)) / 100.0 AS sum_qty,
             sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 AS sum_base,
             sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000) AS BIGINT)) / 10000.0 AS sum_disc_price,
             round(sum(CAST(round(l_quantity * 100) AS BIGINT)) / count(*) / 100.0, 6) AS avg_qty,
             count(*) AS n
      FROM lineitem GROUP BY l_returnflag, l_linestatus""",
    "j1_broadcast_inner" -> """
      SELECT c_mktsegment, count(*) AS n,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS total
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment""",
    "j2_left_m2one" -> """
      SELECT coalesce(o_orderpriority, 'UNMATCHED') AS priority, count(*) AS n
      FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1""",
    "j4_anti_join" ->
      "SELECT c_custkey FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)",
    "j5_semi_join" ->
      "SELECT s_suppkey FROM supplier WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey)",
    "j7_range_join" -> """
      WITH bands AS (
        SELECT s_nationkey, min(s_acctbal) AS lo, max(s_acctbal) AS hi
        FROM supplier GROUP BY s_nationkey)
      SELECT s_nationkey AS nationkey, count(*) AS n_in_band
      FROM customer JOIN bands
        ON c_nationkey = s_nationkey AND c_acctbal BETWEEN lo AND hi
      GROUP BY s_nationkey""",
    "j7b_interval_join" -> """
      WITH bands AS (
        SELECT s_nationkey, min(s_acctbal) AS lo, max(s_acctbal) AS hi
        FROM supplier GROUP BY s_nationkey)
      SELECT s_nationkey AS nationkey, count(*) AS n_in_band
      FROM customer JOIN bands ON c_acctbal BETWEEN lo AND hi
      GROUP BY s_nationkey""",
    "j2s_salted_skew_join" -> """
      SELECT o_orderpriority, count(*) AS n,
             sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 AS sum_price
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderpriority""",
    "j6_asof_last_prev" -> """
      SELECT event_id, prev_view_value FROM (
        SELECT event_id, event_type,
               last_value(CASE WHEN event_type = 'view' THEN value END IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_view_value
        FROM events) WHERE event_type <> 'view'""",
    "w2_prefix_sum_excl" -> """
      SELECT event_id,
             coalesce(sum(CAST(round(value * 100) AS BIGINT))
               OVER (PARTITION BY user_id ORDER BY event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 100.0 AS running_value
      FROM events""",
    "a6_count_distinct" ->
      "SELECT event_type, count(DISTINCT user_id) AS n_users FROM events GROUP BY event_type",
    "a7_drop_duplicates" ->
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    "a8_fd_violations" -> """
      SELECT o_custkey, count(DISTINCT o_orderpriority) AS n_variants
      FROM orders GROUP BY o_custkey HAVING count(DISTINCT o_orderpriority) > 1""",
    "a9_sorted_set_concat" -> """
      SELECT l_returnflag, string_agg(DISTINCT l_linestatus, '' ORDER BY l_linestatus) AS statuses
      FROM lineitem GROUP BY l_returnflag""",
    "a10_ratio_agg" -> """
      SELECT l_orderkey,
             round(sum(CAST(round(CASE WHEN l_returnflag = 'R'
                         THEN l_extendedprice * (1.0 - l_discount) END * 10000) AS BIGINT))
               / sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000) AS BIGINT)), 6) AS purity
      FROM lineitem GROUP BY l_orderkey""",
    "a11_validation_errors" ->
      "SELECT c_custkey, 'negative_acctbal' AS error FROM customer WHERE c_acctbal < 0",
    "o1_sort_desc_rank" -> """
      SELECT p_partkey, p_retailprice,
             CAST(row_number() OVER (ORDER BY p_retailprice DESC, p_partkey) AS BIGINT) AS rank
      FROM part""",
    "o2_first_per_group" -> """
      SELECT l_orderkey, l_partkey AS first_partkey FROM lineitem
      QUALIFY row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey) = 1""",
    "o3_topk" -> """
      SELECT * FROM (
        SELECT l_orderkey, l_linenumber, l_extendedprice,
               CAST(row_number() OVER (ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS INTEGER) AS rank
        FROM lineitem) WHERE rank <= 100""",
    "o4_ntile_quartiles" -> """
      WITH w AS (
        SELECT l_returnflag, l_extendedprice,
               CAST(ntile(4) OVER win AS INTEGER) AS q,
               percent_rank() OVER win AS pr
        FROM lineitem
        WINDOW win AS (PARTITION BY l_returnflag
                       ORDER BY l_extendedprice, l_orderkey, l_linenumber))
      SELECT l_returnflag, q, count(*) AS n,
             min(l_extendedprice) AS min_price,
             max(l_extendedprice) AS max_price,
             round(max(pr), 6) AS max_pr
      FROM w GROUP BY l_returnflag, q""",
    "p13_pivot_wide" -> """
      SELECT l_returnflag,
             coalesce(sum(CAST(round(l_quantity * 100) AS BIGINT))
               FILTER (WHERE l_linestatus = 'F'), 0) / 100.0 AS qty_f,
             coalesce(sum(CAST(round(l_quantity * 100) AS BIGINT))
               FILTER (WHERE l_linestatus = 'O'), 0) / 100.0 AS qty_o,
             coalesce(sum(CAST(round(l_quantity * 100) AS BIGINT))
               FILTER (WHERE l_linestatus = 'P'), 0) / 100.0 AS qty_p
      FROM lineitem GROUP BY l_returnflag""",
    "f1_regex_extract" -> """
      SELECT event_id, CAST(regexp_extract(props, '"k": (\d+)', 1) AS INTEGER) AS k FROM events""",
    "f4_true_stem" -> """
      WITH p AS (
        SELECT doc_id,
               's3://runs/' || source || '/doc_' || doc_id ||
               (CASE WHEN doc_id % 3 = 0 THEN '.d.zip' ELSE '.mzML' END) AS path
        FROM documents),
      b AS (SELECT doc_id, regexp_extract(path, '([^/]+)$', 1) AS base FROM p)
      SELECT doc_id,
             CASE WHEN base LIKE '%.d.zip' THEN regexp_replace(base, '\.d\.zip$', '')
                  ELSE regexp_replace(base, '\.[^.]*$', '') END AS run
      FROM b""",
    "f18_url_parse" -> """
      WITH u AS (
        SELECT doc_id,
               'https://' || source || '.example.' ||
               (['com', 'org', 'net'])[CAST(doc_id % 3 + 1 AS INTEGER)] ||
               '/p/' || doc_id || '?ref=' || lang AS url
        FROM documents)
      SELECT doc_id,
             regexp_extract(url, '^https?://([^/?#]+)', 1) AS host,
             regexp_extract(url, '^https?://[^/?#]+([^?#]*)', 1) AS path,
             regexp_extract(url, '[?&]ref=([^&#]*)', 1) AS ref
      FROM u""",
    "f5_regex_replace" ->
      "SELECT p_partkey, regexp_replace(p_name, '[aeiou]', '', 'g') AS consonants FROM part",
    "f7_label_map" -> """
      SELECT o_orderkey,
             CASE o_orderpriority WHEN '1-URGENT' THEN 1 WHEN '2-HIGH' THEN 2
                  WHEN '3-MEDIUM' THEN 3 WHEN '4-NOT SPECIFIED' THEN 4 ELSE 5 END AS priority_code
      FROM orders""",
    "f10_round_cast" -> """
      SELECT l_orderkey, l_linenumber,
             round(l_extendedprice * l_discount, 4) AS disc_amount,
             CAST(floor(l_quantity) AS INTEGER) AS qty_floor
      FROM lineitem""",
    "f13_conditional_shape" -> """
      SELECT event_id,
             CASE WHEN event_type = 'purchase' THEN value END AS purchase_value,
             CASE WHEN event_type = 'purchase' THEN user_id END AS buyer_id
      FROM events""",
    "f14_score_dispatch" -> """
      SELECT event_id,
             (CASE WHEN event_type = 'purchase' THEN 'Purchase:amount:'
                   WHEN event_type = 'error' THEN 'Error:code:'
                   ELSE 'Other:score:' END) ||
             CAST(CAST(floor(value) AS BIGINT) AS VARCHAR) AS score_label
      FROM events""",
    "q3_topk_join" -> """
      WITH agg AS (
        SELECT l_orderkey, o_orderdate, o_orderpriority,
               sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000) AS BIGINT)) / 10000.0 AS revenue
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-06-01'
          AND l_shipdate > TIMESTAMP '1998-06-01'
        GROUP BY 1, 2, 3)
      SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
             o_orderpriority, revenue,
             CAST(row_number() OVER (ORDER BY revenue DESC, l_orderkey) AS INTEGER) AS rank
      FROM agg
      QUALIFY row_number() OVER (ORDER BY revenue DESC, l_orderkey) <= 10""",
    "q3b_bucketed_topk" -> """
      WITH agg AS (
        SELECT c_custkey,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS revenue,
               CAST(count(*) AS BIGINT) AS n_orders
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
        GROUP BY 1)
      SELECT c_custkey, revenue, n_orders,
             CAST(row_number() OVER (ORDER BY revenue DESC, c_custkey) AS INTEGER) AS rank
      FROM agg
      QUALIFY row_number() OVER (ORDER BY revenue DESC, c_custkey) <= 10""",
    "q17_small_qty_revenue" -> """
      WITH l AS (SELECT l_partkey,
                        CAST(round(l_quantity * 100) AS BIGINT) AS qc,
                        CAST(round(l_extendedprice * 100) AS BIGINT) AS pc
                 FROM lineitem),
      st AS (SELECT l_partkey, sum(qc) AS sq, count(*) AS n FROM l GROUP BY 1)
      SELECT round(CAST(sum(pc) AS DOUBLE) / 100.0 / 7.0, 6) AS avg_yearly
      FROM l JOIN st USING (l_partkey)
      WHERE qc * 5 * n < sq""",

    "q13_custdist" -> """
      SELECT c_count, count(*) AS custdist
      FROM (SELECT c.c_custkey, count(o.o_custkey) AS c_count
            FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
            GROUP BY 1)
      GROUP BY 1""",

    "q5_multijoin" -> multijoinSql,
    // identical answer through the bucketed layout — the oracle doesn't
    // (and shouldn't) know which physical layout produced it
    "q5b_bucketed_multijoin" -> multijoinSql,

    // S1B: the mzML source itself isn't DuckDB-readable, but the synthetic
    // runs are closed-form deterministic — the expected per-run stats table
    // is computed from the SAME arithmetic the generator uses
    // (MzmlSynth.expectedRunStats) and emitted as a VALUES literal, which
    // upgrades the query from a rows-only check to a full hash-matched
    // oracle: the scan, base64+zlib decode, ms_level parse, and the
    // per-run aggregation all have to reproduce the closed form exactly.
    "s1b_mzml_many_runs" -> {
      val rows = graft.sources.mzml.MzmlSynth.expectedRunStats(32, 96, 128)
        .map { case (f, ns, n1, tic) => s"('$f', $ns, $n1, $tic)" }
        .mkString(",\n        ")
      s"""
      SELECT file_name, CAST(n_spectra AS BIGINT) AS n_spectra,
             CAST(n_ms1 AS BIGINT) AS n_ms1, CAST(tic_units AS BIGINT) AS tic_units
      FROM (VALUES
        $rows) t(file_name, n_spectra, n_ms1, tic_units)"""
    },

    "diag_snapshot_diff" -> """
      WITH st AS (
        SELECT doc_id, CASE WHEN doc_id % 17 = 0 THEN 'removed'
                            WHEN doc_id % 13 = 0 THEN 'changed'
                            ELSE 'same' END AS status
        FROM documents
        UNION ALL
        SELECT doc_id + 10000000, 'added' FROM documents WHERE doc_id % 19 = 0)
      SELECT status, count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS id_sum
      FROM st GROUP BY 1""",

    "s13_schema_merge" -> """
      SELECT event_type, count(*) AS n,
             CAST(sum(CASE WHEN event_id % 2 = 1 AND props IS NOT NULL
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_with_props,
             CAST(sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_old_schema
      FROM events GROUP BY 1""",

    // S2B: same VALUES-literal discipline for the idXML source — the
    // expected PSM rows come from IdXmlSynth.expectedPsms, the closed form
    // of the generator's own arithmetic.
    "s2b_idxml_many_runs" -> {
      def d(o: Option[Double]) = o.map(_.toString).getOrElse("NULL")
      val rows = graft.sources.idxml.IdXmlSynth.expectedPsms(12, 8, 2)
        .map { p =>
          s"('${p.file_name}', ${p.scan_number}, '${p.sequence}', " +
            s"'${p.peptidoform}', ${p.charge}, ${p.retention_time}, " +
            s"${p.exp_mass_to_charge}, ${p.is_decoy}, ${d(p.global_qvalue)}, " +
            s"${d(p.consensus_support)}, '${p.reference_file_name}', " +
            s"'${p.engines}', '${p.scores}', '${p.proteins}')"
        }
        .mkString(",\n        ")
      s"""
      SELECT file_name, CAST(scan_number AS INTEGER) AS scan_number, sequence,
             peptidoform, CAST(charge AS INTEGER) AS charge,
             CAST(retention_time AS DOUBLE) AS retention_time,
             CAST(exp_mass_to_charge AS DOUBLE) AS exp_mass_to_charge,
             CAST(is_decoy AS INTEGER) AS is_decoy,
             CAST(global_qvalue AS DOUBLE) AS global_qvalue,
             CAST(consensus_support AS DOUBLE) AS consensus_support,
             reference_file_name, engines, scores, proteins
      FROM (VALUES
        $rows) t(file_name, scan_number, sequence, peptidoform, charge,
                 retention_time, exp_mass_to_charge, is_decoy, global_qvalue,
                 consensus_support, reference_file_name, engines, scores,
                 proteins)"""
    },
  )
}
