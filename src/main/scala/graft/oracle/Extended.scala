package graft.oracle

/** DuckDB oracle SQL for [[graft.queries.Extended]]'s queries. */
object Extended {
  /** Shared VALUES oracle of the media fixture corpus's decoded table
    * (closed form of MediaSynth's arithmetic — see mm_decode_meta).
    */
  private lazy val decodeMetaOracle: String = {
    def oi(o: Option[Int]) = o.map(_.toString).getOrElse("NULL")
    def ol(o: Option[Long]) = o.map(_.toString).getOrElse("NULL")
    val rows = (0L until 120L).map { id =>
      val m = graft.ops.MediaSynth.expected(id)
      s"($id, '${m.kind}', ${oi(m.width)}, ${oi(m.height)}, ${m.channels}, " +
        s"${oi(m.nSamples)}, ${oi(m.sampleRate)}, ${ol(m.durationUs)}, ${m.checksum})"
    }.mkString(",\n        ")
    s"""
      SELECT CAST(media_id AS BIGINT) AS media_id, kind,
             CAST(width AS INTEGER) AS width, CAST(height AS INTEGER) AS height,
             CAST(channels AS INTEGER) AS channels,
             CAST(n_samples AS INTEGER) AS n_samples,
             CAST(sample_rate AS INTEGER) AS sample_rate,
             CAST(duration_us AS BIGINT) AS duration_us,
             CAST(checksum AS BIGINT) AS checksum
      FROM (VALUES
        $rows) t(media_id, kind, width, height, channels, n_samples,
                 sample_rate, duration_us, checksum)"""
  }

  /** The depth-4 BFS replay over an `edges(src, dst)` CTE from a
    * `seeds(node)` CTE: set-semantics recursive expansion, each node at its
    * minimum depth, counted per depth (the readout ends FROM md GROUP BY 1).
    */
  private lazy val bfsDepthsSql: String = """
      walk(node, depth) AS (
        SELECT node, 0 FROM seeds
        UNION
        SELECT e.dst, w.depth + 1
        FROM walk w JOIN edges e ON e.src = w.node
        WHERE w.depth < 4),
      md AS (SELECT node, min(depth) AS depth FROM walk GROUP BY 1)
      SELECT CAST(depth AS INTEGER) AS depth,
             CAST(count(*) AS BIGINT) AS n_nodes,
             CAST(sum(node) AS BIGINT) AS sum_doc_id"""

  /** The select list of the grouping-set oracles: line count and quantity
    * total per (returnflag, linestatus) group, a rolled-up key reading ALL.
    */
  private lazy val lineitemRollupSelect: String = """
      SELECT coalesce(l_returnflag, 'ALL') AS flag,
             coalesce(l_linestatus, 'ALL') AS status,
             count(*) AS n,
             sum(CAST(round(l_quantity * 100) AS BIGINT)) / 100.0 AS sum_qty"""

  /** The head of the correlation and regression oracles: quantity (qx) and
    * price (px) in integer cents per line, and per return flag the count and
    * the first sums of their moments, continued by each caller.
    */
  private lazy val lineitemMomentsHead: String = """
      WITH cents AS (
        SELECT l_returnflag,
               CAST(round(l_quantity * 100) AS BIGINT) AS qx,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS px
        FROM lineitem),
      m AS (
        SELECT l_returnflag, count(*) AS n,
               sum(qx) AS sx, sum(px) AS sy,
               sum(CAST(qx AS HUGEINT) * px) AS sxy"""

  val oracle: Map[String, String] = Map(
    "diag_expectations" -> """
      WITH li AS (
        SELECT CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT) AS qty,
               CAST(sum(CASE WHEN l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0 END) AS BIGINT) AS flag
        FROM lineitem),
      doc AS (
        SELECT CAST(sum(CASE WHEN text IS NULL OR trim(text) = '' THEN 1 ELSE 0 END) AS BIGINT) AS blank,
               CAST(sum(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END) AS BIGINT) AS len,
               CAST(sum(CASE WHEN n_chars < 60 THEN 1 ELSE 0 END) AS BIGINT) AS floor60,
               CAST(sum(CASE WHEN n_chars < 100 THEN 1 ELSE 0 END) AS BIGINT) AS floor100
        FROM documents),
      dup AS (
        SELECT CAST(coalesce(sum(CASE WHEN n > 1 THEN n - 1 END), 0) AS BIGINT) AS v
        FROM (SELECT count(*) AS n FROM orders GROUP BY o_orderkey)),
      orph AS (
        SELECT CAST(count(*) AS BIGINT) AS v FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)),
      ev AS (
        SELECT CAST(sum(CASE WHEN value IS NULL OR value > 450.0 THEN 1 ELSE 0 END) AS BIGINT) AS v
        FROM events),
      u AS (
        SELECT 'l_quantity_in_1_50' AS check_name, 'lineitem' AS tbl,
               'error' AS severity, qty AS n_violations FROM li
        UNION ALL SELECT 'l_returnflag_accepted', 'lineitem', 'error', flag FROM li
        UNION ALL SELECT 'text_nonblank', 'documents', 'error', blank FROM doc
        UNION ALL SELECT 'n_chars_consistent', 'documents', 'error', len FROM doc
        UNION ALL SELECT 'text_len_ge_60', 'documents', 'error', floor60 FROM doc
        UNION ALL SELECT 'text_len_ge_100', 'documents', 'warn', floor100 FROM doc
        UNION ALL SELECT 'o_orderkey_unique', 'orders', 'error', v FROM dup
        UNION ALL SELECT 'o_custkey_refs_customer', 'orders', 'error', v FROM orph
        UNION ALL SELECT 'value_le_450', 'events', 'warn', v FROM ev)
      SELECT check_name, tbl, severity, n_violations, n_violations = 0 AS pass FROM u""",
    "diag_quarantine" -> """
      WITH q AS (
        SELECT 'lineitem' AS tbl,
               l_orderkey::VARCHAR || '-' || l_linenumber::VARCHAR AS row_key,
               'l_quantity_in_1_50' AS check_name, 'error' AS severity
        FROM lineitem WHERE l_quantity < 1 OR l_quantity > 50
        UNION ALL
        SELECT 'lineitem', l_orderkey::VARCHAR || '-' || l_linenumber::VARCHAR,
               'l_returnflag_accepted', 'error'
        FROM lineitem WHERE l_returnflag NOT IN ('A','N','R')
        UNION ALL
        SELECT 'documents', doc_id::VARCHAR, 'text_nonblank', 'error'
        FROM documents WHERE text IS NULL OR trim(text) = ''
        UNION ALL
        SELECT 'documents', doc_id::VARCHAR, 'n_chars_consistent', 'error'
        FROM documents WHERE n_chars <> length(text)
        UNION ALL
        SELECT 'documents', doc_id::VARCHAR, 'text_len_ge_60', 'error'
        FROM documents WHERE n_chars < 60
        UNION ALL
        SELECT 'documents', doc_id::VARCHAR, 'text_len_ge_100', 'warn'
        FROM documents WHERE n_chars < 100
        UNION ALL
        SELECT 'events', event_id::VARCHAR, 'value_le_450', 'warn'
        FROM events WHERE value IS NULL OR value > 450.0
        UNION ALL
        SELECT 'orders', o_orderkey::VARCHAR, 'o_orderkey_unique', 'error'
        FROM (SELECT o_orderkey,
                     count(*) OVER (PARTITION BY o_orderkey) AS kn FROM orders)
        WHERE kn > 1
        UNION ALL
        SELECT 'orders', o_orderkey::VARCHAR, 'o_custkey_refs_customer', 'error'
        FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
      SELECT tbl, check_name, severity, CAST(count(*) AS BIGINT) AS n_rows,
             min(row_key) AS min_key, max(row_key) AS max_key
      FROM q GROUP BY 1, 2, 3""",
    "diag_expectations_trend" -> """
      WITH doc AS (
        SELECT CAST(sum(CASE WHEN doc_id % 2 = 0 AND (text IS NULL OR trim(text) = '') THEN 1 ELSE 0 END) AS BIGINT) AS a0,
               CAST(sum(CASE WHEN doc_id % 2 = 1 AND (text IS NULL OR trim(text) = '') THEN 1 ELSE 0 END) AS BIGINT) AS b0,
               CAST(sum(CASE WHEN doc_id % 2 = 0 AND n_chars <> length(text) THEN 1 ELSE 0 END) AS BIGINT) AS a1,
               CAST(sum(CASE WHEN doc_id % 2 = 1 AND n_chars <> length(text) THEN 1 ELSE 0 END) AS BIGINT) AS b1,
               CAST(sum(CASE WHEN doc_id % 2 = 0 AND n_chars < 60 THEN 1 ELSE 0 END) AS BIGINT) AS a2,
               CAST(sum(CASE WHEN doc_id % 2 = 1 AND n_chars < 60 THEN 1 ELSE 0 END) AS BIGINT) AS b2,
               CAST(sum(CASE WHEN doc_id % 2 = 0 AND n_chars < 100 THEN 1 ELSE 0 END) AS BIGINT) AS a3,
               CAST(sum(CASE WHEN doc_id % 2 = 1 AND n_chars < 100 THEN 1 ELSE 0 END) AS BIGINT) AS b3
        FROM documents),
      ev AS (
        SELECT CAST(sum(CASE WHEN event_id % 2 = 0 AND (value IS NULL OR value > 450.0) THEN 1 ELSE 0 END) AS BIGINT) AS a0,
               CAST(sum(CASE WHEN event_id % 2 = 1 AND (value IS NULL OR value > 450.0) THEN 1 ELSE 0 END) AS BIGINT) AS b0
        FROM events),
      u AS (
        SELECT 'documents' AS tbl, 'text_nonblank' AS check_name,
               'error' AS severity, a0 AS n_load0, b0 AS n_load1 FROM doc
        UNION ALL SELECT 'documents', 'n_chars_consistent', 'error', a1, b1 FROM doc
        UNION ALL SELECT 'documents', 'text_len_ge_60', 'error', a2, b2 FROM doc
        UNION ALL SELECT 'documents', 'text_len_ge_100', 'warn', a3, b3 FROM doc
        UNION ALL SELECT 'events', 'value_le_450', 'warn', a0, b0 FROM ev)
      SELECT tbl, check_name, severity, n_load0, n_load1,
             n_load1 - n_load0 AS delta,
             abs(n_load1 - n_load0) * 2 > greatest(n_load0, 1) AS drifted
      FROM u""",
    "a12_rollup" -> s"""
      $lineitemRollupSelect
      FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""",
    "a12b_cube" -> s"""
      $lineitemRollupSelect
      FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""",
    "a22_grouping_sets" -> s"""
      $lineitemRollupSelect
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))""",
    "a17_histogram" -> """
      WITH x AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS pc FROM lineitem),
      b AS (SELECT min(pc) AS lo, max(pc) AS hi FROM x)
      SELECT CAST(((pc - lo) * 20) // (hi - lo + 1) AS INTEGER) AS bucket,
             count(*) AS n,
             min(pc) / 100.0 AS min_price,
             max(pc) / 100.0 AS max_price
      FROM x, b GROUP BY 1""",
    "a13_percentile" -> """
      SELECT l_returnflag,
             round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
             round(quantile_cont(l_extendedprice, 0.95), 4) AS p95
      FROM lineitem GROUP BY l_returnflag""",
    "a13b_percentile_approx" -> """
      SELECT l_returnflag, true AS p50_within, true AS p95_within
      FROM lineitem GROUP BY l_returnflag""",
    "a6b_count_distinct_approx" -> """
      SELECT l_returnflag, true AS within_5pct
      FROM lineitem GROUP BY l_returnflag""",
    // the merge law and the micro-unit estimates replay exactly (integer
    // counters + BIGINT floor division); only the 2W contract touches
    // floats, with 2W of slack against ulp noise
    "a13c_quantile_merge" -> """
      WITH x AS (SELECT l_returnflag, l_extendedprice,
                        CAST(floor(l_extendedprice / 256) AS BIGINT) AS b,
                        l_orderkey % 3 AS slice
                 FROM lineitem),
      ps AS (SELECT l_returnflag, slice, b, count(*) AS c FROM x GROUP BY 1, 2, 3),
      m AS (SELECT l_returnflag, b, CAST(sum(c) AS BIGINT) AS c FROM ps GROUP BY 1, 2),
      o AS (SELECT l_returnflag, b, count(*) AS c1 FROM x GROUP BY 1, 2),
      eq AS (SELECT l_returnflag,
                    bool_and(coalesce(m.c = o.c1, false)) AS merged_eq_onepass
             FROM m FULL OUTER JOIN o USING (l_returnflag, b) GROUP BY 1),
      cm AS (SELECT l_returnflag, b, c,
                    CAST(sum(c) OVER (PARTITION BY l_returnflag ORDER BY b) AS BIGINT) AS cum,
                    CAST(sum(c) OVER (PARTITION BY l_returnflag) AS BIGINT) AS n
             FROM m),
      rk AS (SELECT *, (n + 1) // 2 AS r50, (19 * n + 19) // 20 AS r95 FROM cm),
      est AS (SELECT l_returnflag,
                     CAST(min(CASE WHEN cum >= r50 AND cum - c < r50
                       THEN b * 256000000 + (256000000 * (r50 - (cum - c))) // c END)
                       AS BIGINT) AS p50_micro,
                     CAST(min(CASE WHEN cum >= r95 AND cum - c < r95
                       THEN b * 256000000 + (256000000 * (r95 - (cum - c))) // c END)
                       AS BIGINT) AS p95_micro
              FROM rk GROUP BY 1),
      ex AS (SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS x50,
                    quantile_cont(l_extendedprice, 0.95) AS x95
             FROM x GROUP BY 1)
      SELECT eq.l_returnflag, merged_eq_onepass, p50_micro, p95_micro,
             abs(p50_micro / 1000000.0 - x50) <= 512 AS p50_within_2w,
             abs(p95_micro / 1000000.0 - x95) <= 512 AS p95_within_2w
      FROM eq JOIN est USING (l_returnflag) JOIN ex USING (l_returnflag)""",
    "f17_json_field" -> """
      SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k, count(*) AS n
      FROM events GROUP BY 1""",
    "a14_mode" -> """
      SELECT l_returnflag, l_linenumber AS mode_linenumber, n_occurrences
      FROM (
        SELECT l_returnflag, l_linenumber, count(*) AS n_occurrences,
               row_number() OVER (PARTITION BY l_returnflag
                 ORDER BY count(*) DESC, l_linenumber) AS rn
        FROM lineitem GROUP BY 1, 2)
      WHERE rn = 1""",
    "f16_date_parts" -> """
      SELECT CAST(year(o_orderdate) AS INTEGER) AS y,
             CAST(month(o_orderdate) AS INTEGER) AS m,
             count(*) AS n,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS total
      FROM orders GROUP BY 1, 2""",
    "set_except" -> """
      SELECT c_nationkey AS nationkey FROM customer
      EXCEPT SELECT s_nationkey FROM supplier""",
    "set_intersect" -> """
      SELECT c_nationkey AS nationkey FROM customer
      INTERSECT SELECT s_nationkey FROM supplier""",
    // the edge set IS dedup_minhash_lsh's oracle — referenced, not copied,
    // so the hash scheme has exactly one SQL definition
    "dedup_cluster_cc" -> s"""
      WITH RECURSIVE pairs AS (${TextOps.minhashPairsSql}),${TextOps.reachCtes("")}
      SELECT node AS doc_id, min(lbl) AS cluster_id
      FROM reach GROUP BY node""",
    // the oracle re-derives BOTH clusterings from scratch (full graph and
    // base-base restriction) and the touched set from the base clustering:
    // hash-matching proves the engine's incremental fold — untouched
    // components kept verbatim, touched components + delta re-iterated —
    // equals the full recompute exactly, flags included
    "dedup_cluster_cc_incremental" -> {
      def isB(c: String) =
        s"('0x' || substr(md5('inc' || $c::VARCHAR), 1, 15))::BIGINT % 8 = 0"
      s"""${TextOps.minhashComponentsSql},
      bpairs AS (SELECT da, db FROM pairs
                 WHERE NOT ${isB("da")} AND NOT ${isB("db")}),${TextOps.componentsCtes("b")},
      ddocs AS (SELECT DISTINCT doc_id FROM (
                  SELECT da AS doc_id FROM pairs WHERE ${isB("da")} OR ${isB("db")}
                  UNION ALL
                  SELECT db FROM pairs WHERE ${isB("da")} OR ${isB("db")})),
      touched AS (SELECT DISTINCT b.cluster_id
                  FROM bcc b JOIN ddocs dd ON b.doc_id = dd.doc_id)
      SELECT cc.doc_id, cc.cluster_id,
             (t.cluster_id IS NOT NULL OR dd.doc_id IS NOT NULL) AS recomputed
      FROM cc
      LEFT JOIN bcc b ON cc.doc_id = b.doc_id
      LEFT JOIN touched t ON b.cluster_id = t.cluster_id
      LEFT JOIN ddocs dd ON cc.doc_id = dd.doc_id"""
    },
    // cluster labels re-derived recursively; both split assignments replay
    // the identical md5('split' || id) scheme, so cluster_straddle_pairs=0
    // is PROVEN against an independent engine, not asserted
    "pipeline_split_leakage_safe" -> s"""${TextOps.minhashComponentsSql},
      a AS (SELECT d.doc_id, coalesce(cc.cluster_id, d.doc_id) AS cluster_id
            FROM documents d LEFT JOIN cc ON d.doc_id = cc.doc_id),
      w AS (SELECT doc_id, cluster_id,
                   CASE WHEN cb < 8 THEN 'train' WHEN cb = 8 THEN 'val'
                        ELSE 'test' END AS split,
                   CASE WHEN dbk < 8 THEN 'train' WHEN dbk = 8 THEN 'val'
                        ELSE 'test' END AS doc_split
            FROM (SELECT doc_id, cluster_id,
                    ('0x' || substr(md5('split' || cluster_id::VARCHAR), 1, 15))::BIGINT
                      % 10 AS cb,
                    ('0x' || substr(md5('split' || doc_id::VARCHAR), 1, 15))::BIGINT
                      % 10 AS dbk
                  FROM a)),
      st AS (SELECT
               CAST(sum(CASE WHEN wa.split <> wb.split THEN 1 ELSE 0 END) AS BIGINT)
                 AS cluster_straddle_pairs,
               CAST(sum(CASE WHEN wa.doc_split <> wb.doc_split THEN 1 ELSE 0 END) AS BIGINT)
                 AS doc_straddle_pairs
             FROM pairs p JOIN w wa ON p.da = wa.doc_id
                          JOIN w wb ON p.db = wb.doc_id)
      SELECT split, count(*) AS n_docs,
             CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
             cluster_straddle_pairs, doc_straddle_pairs
      FROM w, st GROUP BY 1, 4, 5""",
    "graph_triangles" -> s"""
      WITH pairs AS (${TextOps.minhashPairsSql}),
      tri AS (SELECT p1.da AS a, p1.db AS b, p2.db AS c
              FROM pairs p1
              JOIN pairs p2 ON p2.da = p1.db
              JOIN pairs p3 ON p3.da = p1.da AND p3.db = p2.db),
      m AS (SELECT a AS doc_id FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri)
      SELECT doc_id, count(*) AS n_tri FROM m GROUP BY doc_id""",
    "dedup_canonical" -> s"""${TextOps.minhashComponentsSql},
      lab AS (SELECT d.doc_id, coalesce(cc.cluster_id, d.doc_id) AS cluster_id, d.n_chars
              FROM documents d LEFT JOIN cc ON d.doc_id = cc.doc_id),
      canon AS (SELECT cluster_id, doc_id AS canonical_id FROM (
                  SELECT cluster_id, doc_id,
                         row_number() OVER (PARTITION BY cluster_id
                           ORDER BY n_chars DESC, doc_id) AS rn
                  FROM lab) WHERE rn = 1)
      SELECT l.doc_id, l.cluster_id, c.canonical_id,
             l.doc_id = c.canonical_id AS keep
      FROM lab l JOIN canon c ON l.cluster_id = c.cluster_id""",
    "diag_key_skew" -> """
      WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id),
      t AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM c),
      top AS (SELECT user_id, n,
                     CAST(row_number() OVER (ORDER BY n DESC, user_id) AS INTEGER) AS rank
              FROM c
              QUALIFY row_number() OVER (ORDER BY n DESC, user_id) <= 10)
      SELECT top.rank, top.user_id, top.n,
             round(top.n / CAST(t.tot AS DOUBLE), 6) AS share
      FROM top CROSS JOIN t""",
    "pack_sequences" -> """
      WITH doc AS (
        SELECT doc_id, source,
               CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n,
               md5(doc_id::VARCHAR) AS ord
        FROM documents),
      placed AS (
        SELECT source, n,
               CAST(coalesce(sum(n) OVER (PARTITION BY source ORDER BY ord, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start
        FROM doc)
      SELECT source, start // 512 AS bin, count(*) AS n_docs,
             CAST(sum(n) AS BIGINT) AS n_tokens,
             CAST(sum(CASE WHEN (start + n - 1) // 512 > start // 512
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_crossing
      FROM placed GROUP BY 1, 2""",
    "a15_corr" -> s"""
      $lineitemMomentsHead,
               sum(CAST(qx AS HUGEINT) * qx) AS sxx,
               sum(CAST(px AS HUGEINT) * px) AS syy
        FROM cents GROUP BY l_returnflag)
      SELECT l_returnflag, n,
             round(CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE) /
                   (sqrt(CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)) *
                    sqrt(CAST(n * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE))), 6)
               AS corr_qty_price
      FROM m""",
    "sample_length_buckets" -> """
      WITH b AS (
        SELECT doc_id, CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n,
               CAST(CASE WHEN len(regexp_split_to_array(trim(text), '\s+')) <= 16 THEN 16
                         WHEN len(regexp_split_to_array(trim(text), '\s+')) <= 32 THEN 32
                         WHEN len(regexp_split_to_array(trim(text), '\s+')) <= 64 THEN 64
                         WHEN len(regexp_split_to_array(trim(text), '\s+')) <= 128 THEN 128
                         WHEN len(regexp_split_to_array(trim(text), '\s+')) <= 256 THEN 256
                         ELSE 512 END AS BIGINT) AS bucket
        FROM documents)
      SELECT bucket, count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS total_tokens,
             CAST(sum(bucket - n) AS BIGINT) AS padding_waste
      FROM b GROUP BY bucket""",
    "sample_mix_weights" -> """
      WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
      t AS (SELECT lang, n_docs,
                   CAST(least(10000, (10000 * CAST(sum(n_docs) OVER () AS BIGINT))
                                     // (count(*) OVER () * n_docs)) AS BIGINT) AS thr
            FROM c)
      SELECT t.lang, t.n_docs, t.thr,
             CAST(sum(CASE WHEN ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 15))::BIGINT
                                % 10000 < t.thr
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      FROM documents d JOIN t ON d.lang = t.lang
      GROUP BY 1, 2, 3""",
    // 3 LPA rounds unrolled; every CTE MATERIALIZED (the BPE-chain
    // lesson: DuckDB inlines per reference).
    "graph_label_propagation" -> {
      val rounds = (1 to 3).map { i =>
        s"""v$i AS MATERIALIZED (SELECT e.dst, l.lbl, count(*) AS cnt
           |            FROM edges e JOIN l${i - 1} l ON e.src = l.node GROUP BY 1, 2),
           |      l$i AS MATERIALIZED (SELECT dst AS node, lbl FROM v$i
           |            QUALIFY row_number() OVER (PARTITION BY dst
           |              ORDER BY cnt DESC, lbl) = 1)""".stripMargin
      }.mkString(",\n      ")
      s"""
      WITH pairs AS MATERIALIZED (${TextOps.minhashPairsSql}),
      edges AS MATERIALIZED (SELECT da AS src, db AS dst FROM pairs
                UNION SELECT db, da FROM pairs),
      l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS lbl FROM edges),
      $rounds
      SELECT node AS doc_id, lbl AS community FROM l3"""
    },

    "sample_balanced_pairs" -> """
      WITH r AS (SELECT doc_id, source,
                        row_number() OVER (PARTITION BY source
                          ORDER BY md5(doc_id::VARCHAR), doc_id) AS rk
                 FROM documents),
      sz AS (SELECT source, max(rk) AS sz FROM r GROUP BY 1),
      idx AS (SELECT source, sz,
                     row_number() OVER (ORDER BY source) AS si,
                     count(*) OVER () AS k
              FROM sz),
      wn AS (SELECT a.source, a.sz, b.source AS neg_source, b.sz AS neg_sz
             FROM idx a JOIN idx b ON b.si = a.si % a.k + 1),
      an AS (SELECT r.doc_id, r.source, r.rk, w.sz, w.neg_source, w.neg_sz
             FROM r JOIN wn w USING (source)
             WHERE r.doc_id % 10 = 0 AND w.sz > 1)
      SELECT an.doc_id AS anchor_id, an.source AS anchor_source,
             p.doc_id AS positive_id, n.doc_id AS negative_id,
             an.neg_source AS negative_source
      FROM an
      JOIN r p ON p.source = an.source AND p.rk = an.rk % an.sz + 1
      JOIN r n ON n.source = an.neg_source AND n.rk = (an.rk - 1) % an.neg_sz + 1""",
    "sample_mix_schedule" -> """
      WITH bs AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
      t AS (SELECT sum(n_docs) AS total, count(*) AS n_sources FROM bs),
      sh AS (SELECT bs.source, bs.n_docs,
                    (bs.n_docs * 1000000) // t.total AS share_ppm,
                    1000000 // t.n_sources AS uniform_ppm
             FROM bs, t),
      e AS (SELECT unnest(range(0, 4)) AS epoch)
      SELECT CAST(e.epoch AS INTEGER) AS epoch, sh.source,
             CAST(sh.n_docs AS BIGINT) AS n_docs,
             CAST((sh.share_ppm * (3 - e.epoch) + sh.uniform_ppm * e.epoch) // 3
               AS BIGINT) AS weight_ppm
      FROM sh, e""",

    // the recursive replay: set-semantics expansion to depth 4, min(depth)
    // per node IS the BFS depth the frontier algorithm assigns
    "graph_bfs_depths" -> s"""
      WITH RECURSIVE pairs AS (${TextOps.minhashPairsSql}),
      edges AS (SELECT da AS src, db AS dst FROM pairs
                UNION ALL SELECT db, da FROM pairs),
      nodes AS (SELECT DISTINCT src AS node FROM edges),
      seeds AS (SELECT node FROM nodes
                WHERE ('0x' || substr(md5('bfs' || node::VARCHAR), 1, 15))::BIGINT
                      % 10 = 0),
      $bfsDepthsSql
      FROM md GROUP BY 1""",
    // the weighted power iteration unrolled over the exact-Jaccard pair
    // frame — contributions r·w // Σw in integer micro-units, so the SQL
    // matches the engine bit for bit at any parallelism
    "graph_pagerank_weighted" -> s"""
      WITH nd AS (${TextOps.ngramJaccardSql}),
      wp AS (SELECT da, db, CAST(round(jaccard * 1000000) AS BIGINT) AS w FROM nd),
      edges AS (SELECT da AS src, db AS dst, w FROM wp
                UNION ALL SELECT db, da, w FROM wp),
      sw AS (SELECT src, CAST(sum(w) AS BIGINT) AS sw FROM edges GROUP BY src),
      r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS r FROM sw),
      it1 AS (SELECT e.dst AS node,
                     CAST(150000 + (85 * sum((r.r * e.w) // s.sw)) // 100 AS BIGINT) AS r
              FROM edges e JOIN sw s ON e.src = s.src JOIN r0 r ON r.node = e.src
              GROUP BY e.dst),
      it2 AS (SELECT e.dst AS node,
                     CAST(150000 + (85 * sum((r.r * e.w) // s.sw)) // 100 AS BIGINT) AS r
              FROM edges e JOIN sw s ON e.src = s.src JOIN it1 r ON r.node = e.src
              GROUP BY e.dst),
      it3 AS (SELECT e.dst AS node,
                     CAST(150000 + (85 * sum((r.r * e.w) // s.sw)) // 100 AS BIGINT) AS r
              FROM edges e JOIN sw s ON e.src = s.src JOIN it2 r ON r.node = e.src
              GROUP BY e.dst)
      SELECT node AS doc_id, round(CAST(r AS DOUBLE) / 1000000, 6) AS pagerank
      FROM it3""",
    // the recursive replay over ONLY the strong (jaccard ≥ 0.85) edges
    "graph_bfs_weighted" -> s"""
      WITH RECURSIVE nd AS (${TextOps.ngramJaccardSql}),
      wp AS (SELECT da, db, CAST(round(jaccard * 1000000) AS BIGINT) AS w FROM nd),
      edges AS (SELECT da AS src, db AS dst FROM wp WHERE w >= 850000
                UNION ALL SELECT db, da FROM wp WHERE w >= 850000),
      nodes AS (SELECT DISTINCT src AS node FROM edges),
      seeds AS (SELECT node FROM nodes
                WHERE ('0x' || substr(md5('bfsw' || node::VARCHAR), 1, 15))::BIGINT
                      % 10 = 0),
      $bfsDepthsSql
      FROM md GROUP BY 1""",
    "graph_pagerank" -> s"""
      WITH pairs AS (${TextOps.minhashPairsSql}),
      edges AS (SELECT da AS src, db AS dst FROM pairs
                UNION ALL SELECT db, da FROM pairs),
      deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
      r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS r FROM deg),
      it1 AS (SELECT e.dst AS node,
                     CAST(150000 + (85 * sum(r.r // d.deg)) // 100 AS BIGINT) AS r
              FROM edges e JOIN deg d ON e.src = d.src JOIN r0 r ON r.node = e.src
              GROUP BY e.dst),
      it2 AS (SELECT e.dst AS node,
                     CAST(150000 + (85 * sum(r.r // d.deg)) // 100 AS BIGINT) AS r
              FROM edges e JOIN deg d ON e.src = d.src JOIN it1 r ON r.node = e.src
              GROUP BY e.dst),
      it3 AS (SELECT e.dst AS node,
                     CAST(150000 + (85 * sum(r.r // d.deg)) // 100 AS BIGINT) AS r
              FROM edges e JOIN deg d ON e.src = d.src JOIN it2 r ON r.node = e.src
              GROUP BY e.dst)
      SELECT node AS doc_id, round(CAST(r AS DOUBLE) / 1000000, 6) AS pagerank
      FROM it3""",
    "sample_temperature" -> """
      WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
      t AS (SELECT lang, n_docs,
                   CAST(round(sqrt(n_docs) * 1000000) AS BIGINT) AS su,
                   CAST(sum(n_docs) OVER () AS BIGINT) AS n_total,
                   sum(CAST(round(sqrt(n_docs) * 1000000) AS BIGINT)) OVER () AS su_total
            FROM c)
      SELECT lang, n_docs,
             round(CAST(n_docs AS DOUBLE) / n_total, 6) AS natural_share,
             round(CAST(su AS DOUBLE) / su_total, 6) AS temp_share,
             round((CAST(su AS DOUBLE) / su_total)
                   / (CAST(n_docs AS DOUBLE) / n_total), 6) AS boost
      FROM t""",
    "stream_dedup" ->
      "SELECT DISTINCT user_id, event_type FROM events",
    "j8b_interpolate_per_series" -> """
      WITH curve AS (
        SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, min(value) AS v
        FROM events WHERE event_type = 'view' GROUP BY 1, 2),
      probes AS (
        SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
        FROM events WHERE event_type = 'purchase'),
      br AS (
        SELECT p.event_id, p.user_id, p.us,
               (SELECT max(c.us) FROM curve c
                WHERE c.user_id = p.user_id AND c.us <= p.us) AS pus,
               (SELECT min(c.us) FROM curve c
                WHERE c.user_id = p.user_id AND c.us > p.us) AS nus
        FROM probes p)
      SELECT b.event_id,
             round(CASE WHEN pus IS NULL THEN nv.v
                        WHEN nus IS NULL THEN pv.v
                        ELSE pv.v + (nv.v - pv.v) * (b.us - pus) / (nus - pus)
                   END, 6) AS interp_value
      FROM br b
      LEFT JOIN curve pv ON b.user_id = pv.user_id AND b.pus = pv.us
      LEFT JOIN curve nv ON b.user_id = nv.user_id AND b.nus = nv.us""",
    "mm_frame_sample" -> """
      SELECT doc_id, n_frames, unnest(range(0, n_frames, 10)) AS frame_idx
      FROM (SELECT doc_id,
                   1 + (octet_length(CAST(text AS BLOB)) % 240) AS n_frames
            FROM documents)""",
    // mm_decode_meta / mm_decode_scan: DuckDB has no PNG/BMP/WAV codec —
    // the oracle is the payload generator's closed form
    // (MediaSynth.expected), which either pipeline can only match by
    // really decoding every payload. The scan variant reads the same ids
    // from the staged binary-column table, so the two share one oracle.
    "mm_decode_meta" -> decodeMetaOracle,
    "mm_decode_scan" -> decodeMetaOracle,
    // mm_phash_dedup: the closed-form DCT pHash per fixture id (planted
    // duplicate uploads re-use their base id's hash) + the banding /
    // exact-Hamming pairing replayed in SQL — matching requires really
    // decoding and hashing every staged image
    "mm_phash_dedup" -> {
      val ids = (0L until 120L) ++
        (0L until 120L).filter(_ % 10 == 0).map(_ + 1000L)
      val rows = ids.flatMap { mid =>
        val base = if (mid >= 1000L) mid - 1000L else mid
        graft.ops.MediaSynth.expectedPHash(base).map(h => s"($mid, $h)")
      }.mkString(",\n        ")
      s"""
      WITH h(media_id, phash) AS (VALUES
        $rows),
      b AS (SELECT media_id, phash, j, (phash >> (j * 16)) & 65535 AS bv
            FROM h, (SELECT unnest([0, 1, 2, 3]) AS j) js),
      p AS (SELECT DISTINCT x.media_id AS id_a, y.media_id AS id_b,
                   x.phash AS ha, y.phash AS hb
            FROM b x JOIN b y ON x.j = y.j AND x.bv = y.bv
                 AND x.media_id < y.media_id)
      SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
             CAST(bit_count(xor(ha, hb)) AS INTEGER) AS hamming
      FROM p WHERE bit_count(xor(ha, hb)) <= 6"""
    },
    // mm_audio_dedup: the closed-form fingerprint per audio-corpus id
    // (planted shift/requant re-uploads replayed through the shared
    // sample-arithmetic fold) + the same banding / exact-Hamming replay
    // as mm_phash_dedup
    "mm_audio_dedup" -> {
      val ids = (0L until 120L)
        .filter(graft.ops.MediaSynth.kindOf(_) == "wav") ++
        graft.ops.MediaSynth.audioDupIds(120)
      val rows = ids.flatMap { mid =>
        graft.ops.MediaSynth.expectedAudioFp(mid).map(h => s"($mid, $h)")
      }.mkString(",\n        ")
      s"""
      WITH h(media_id, afp) AS (VALUES
        $rows),
      b AS (SELECT media_id, afp, j, (afp >> (j * 16)) & 65535 AS bv
            FROM h, (SELECT unnest([0, 1, 2, 3]) AS j) js),
      p AS (SELECT DISTINCT x.media_id AS id_a, y.media_id AS id_b,
                   x.afp AS ha, y.afp AS hb
            FROM b x JOIN b y ON x.j = y.j AND x.bv = y.bv
                 AND x.media_id < y.media_id)
      SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
             CAST(bit_count(xor(ha, hb)) AS INTEGER) AS hamming
      FROM p WHERE bit_count(xor(ha, hb)) <= 6"""
    },
    // mm_contam_gate: closed-form fingerprints for the whole arriving
    // corpus + the eval set's packed band literal, banding and verdicts
    // replayed relationally — band-collision false positives reproduced,
    // never approximated
    "mm_contam_gate" -> {
      import graft.ops.MediaSynth
      val ids = (0L until 120L) ++ MediaSynth.audioDupIds(120)
      def fpOf(mid: Long): Long = MediaSynth.expectedAudioFp(mid)
        .getOrElse(MediaSynth.expectedPHashTex(mid))
      val rows = ids.map(mid =>
        s"($mid, '${MediaSynth.audioCorpusKind(mid)}', ${fpOf(mid)})")
        .mkString(",\n        ")
      val evRows = graft.streaming.MediaContamGate.evalIds(120).flatMap { id =>
        val fp = fpOf(id)
        (0 until 4).map(j => (j.toLong << 16) | ((fp >> (j * 16)) & 0xffffL))
      }.distinct.sorted.map(v => s"($v)").mkString(", ")
      s"""
      WITH h(media_id, kind, fp) AS (VALUES
        $rows),
      ev(pb) AS (VALUES $evRows),
      b AS (SELECT media_id,
                   (CAST(j AS BIGINT) << 16) | ((fp >> CAST(j * 16 AS INTEGER)) & 65535) AS pb
            FROM h, (SELECT unnest(range(0, 4)) AS j) js),
      flag AS (SELECT media_id FROM b JOIN ev ON b.pb = ev.pb
               GROUP BY media_id HAVING count(*) >= 2),
      v AS (SELECT h.media_id, h.kind,
                   CASE WHEN f.media_id IS NOT NULL THEN 'contam'
                        ELSE 'clean' END AS verdict
            FROM h LEFT JOIN flag f ON h.media_id = f.media_id)
      SELECT kind, verdict, CAST(count(*) AS BIGINT) AS n_media,
             CAST(min(media_id) AS BIGINT) AS min_id,
             CAST(max(media_id) AS BIGINT) AS max_id,
             CAST(sum(media_id) AS BIGINT) AS id_sum
      FROM v GROUP BY 1, 2"""
    },
    // mm_hash_scheme_audit: all three schemes' closed-form hashes on both
    // corpora through the same banding/Hamming replay — the 6-row audit
    "mm_hash_scheme_audit" -> {
      val rampIds = (0L until 120L) ++
        (0L until 120L).filter(_ % 10 == 0).map(_ + 1000L)
      def rampValues(fn: Long => Option[Long]) = rampIds.flatMap { mid =>
        val base = if (mid >= 1000L) mid - 1000L else mid
        fn(base).map(h => s"($mid, $h)")
      }.mkString(",\n        ")
      def texValues(fn: Long => Long) = rampIds.map { mid =>
        val base = if (mid >= 1000L) mid - 1000L else mid
        s"($mid, ${fn(base)})"
      }.mkString(",\n        ")
      def chain(sfx: String, vals: String) = s"""
      h_$sfx(media_id, hv) AS (VALUES
        $vals),
      b_$sfx AS (SELECT media_id, hv, j, (hv >> (j * 16)) & 65535 AS bv
                 FROM h_$sfx, (SELECT unnest([0, 1, 2, 3]) AS j) js),
      p_$sfx AS (SELECT DISTINCT x.media_id AS id_a, y.media_id AS id_b,
                        x.hv AS ha, y.hv AS hb
                 FROM b_$sfx x JOIN b_$sfx y ON x.j = y.j AND x.bv = y.bv
                      AND x.media_id < y.media_id),
      f_$sfx AS (SELECT id_a, id_b, bit_count(xor(ha, hb)) AS hamming
                 FROM p_$sfx WHERE bit_count(xor(ha, hb)) <= 6)"""
      def outRow(corpus: String, scheme: String, sfx: String) = s"""
      SELECT '$corpus' AS corpus, '$scheme' AS scheme,
             CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(coalesce(sum(CASE WHEN hamming = 0 THEN 1 END), 0)
               AS BIGINT) AS n_hamming0,
             CAST(coalesce(sum(CASE WHEN hamming = 0 AND id_b = id_a + 1000
               THEN 1 END), 0) AS BIGINT) AS n_planted
      FROM f_$sfx"""
      import graft.ops.MediaSynth._
      s"""
      WITH ${chain("ra", rampValues(expectedAHash))},${chain("rd", rampValues(expectedDHash))},${chain("rp", rampValues(expectedPHash))},${chain("ta", texValues(expectedAHashTex))},${chain("td", texValues(expectedDHashTex))},${chain("tp", texValues(expectedPHashTex))}
      ${outRow("ramp", "ahash", "ra")}
      UNION ALL${outRow("ramp", "dhash", "rd")}
      UNION ALL${outRow("ramp", "phash", "rp")}
      UNION ALL${outRow("textured", "ahash", "ta")}
      UNION ALL${outRow("textured", "dhash", "td")}
      UNION ALL${outRow("textured", "phash", "tp")}"""
    },
    "mm_image_resize" -> {
      val rows = (0L until 120L).flatMap { id =>
        graft.ops.MediaSynth.expectedResized(id, 12, 8)
          .map(m => s"($id, '${m.kind}', ${m.checksum})")
      }.mkString(",\n        ")
      s"""
      SELECT CAST(media_id AS BIGINT) AS media_id, kind,
             CAST(12 AS INTEGER) AS out_w, CAST(8 AS INTEGER) AS out_h,
             CAST(checksum AS BIGINT) AS checksum
      FROM (VALUES
        $rows) t(media_id, kind, checksum)"""
    },
    "mm_audio_features" -> {
      val rows = (0L until 120L).flatMap { id =>
        graft.ops.MediaSynth.expectedAudio(id, 80).map(a =>
          s"($id, ${a.nFrames}, ${a.zeroCrossings}, ${a.energy}, ${a.maxFrameEnergy})")
      }.mkString(",\n        ")
      s"""
      SELECT CAST(media_id AS BIGINT) AS media_id,
             CAST(n_frames AS INTEGER) AS n_frames,
             CAST(zero_crossings AS INTEGER) AS zero_crossings,
             CAST(energy AS BIGINT) AS energy,
             CAST(max_frame_energy AS BIGINT) AS max_frame_energy
      FROM (VALUES
        $rows) t(media_id, n_frames, zero_crossings, energy, max_frame_energy)"""
    },
    "sample_stratified" -> """
      SELECT source, count(*) AS n_sampled, min(doc_id) AS min_doc
      FROM documents
      WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 100 < 10
      GROUP BY source""",
    "sample_reservoir" -> """
      SELECT doc_id, lang, CAST(rk AS INTEGER) AS rk
      FROM (SELECT doc_id, lang,
                   row_number() OVER (PARTITION BY lang
                                      ORDER BY md5(doc_id::VARCHAR), doc_id) AS rk
            FROM documents)
      WHERE rk <= 100""",
    "sample_split" -> """
      SELECT source,
             CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val' ELSE 'test' END AS split,
             count(*) AS n
      FROM (SELECT source,
                   ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 10 AS b
            FROM documents)
      GROUP BY 1, 2""",
    "stream_join" -> """
      WITH e AS (SELECT user_id, event_id, event_type, value,
                        epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events)
      SELECT p.event_id, v.us AS view_us, v.value AS v_value
      FROM e p JOIN e v
        ON p.event_type = 'purchase' AND v.event_type = 'view'
       AND p.user_id = v.user_id
       AND v.us BETWEEN p.us - 30 * 60 * 1000000 AND p.us""",
    "a18_winsorize" -> """
      WITH x AS (SELECT l_returnflag,
                        CAST(round(l_extendedprice * 100) AS BIGINT) AS pc
                 FROM lineitem),
      b AS (SELECT l_returnflag,
                   CAST(round(quantile_cont(pc, 0.05)) AS BIGINT) AS lo_c,
                   CAST(round(quantile_cont(pc, 0.95)) AS BIGINT) AS hi_c
            FROM x GROUP BY 1),
      w AS (SELECT x.l_returnflag, lo_c, hi_c, pc,
                   greatest(lo_c, least(hi_c, pc)) AS wc
            FROM x JOIN b USING (l_returnflag))
      SELECT l_returnflag, max(lo_c) / 100.0 AS p05, max(hi_c) / 100.0 AS p95,
             count(*) AS n,
             round(sum(pc) / 100.0 / count(*), 4) AS raw_mean,
             round(sum(wc) / 100.0 / count(*), 4) AS winsor_mean
      FROM w GROUP BY 1""",
    "a19_mad_outliers" -> """
      WITH m AS (SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS med
                 FROM lineitem GROUP BY 1),
      dv AS (SELECT l.l_returnflag, m.med,
                    abs(l.l_extendedprice - m.med) AS adev
             FROM lineitem l JOIN m USING (l_returnflag)),
      md AS (SELECT l_returnflag, max(med) AS med,
                    quantile_cont(adev, 0.5) AS mad
             FROM dv GROUP BY 1)
      SELECT dv.l_returnflag, round(max(md.med), 4) AS median,
             round(max(md.mad), 4) AS mad, count(*) AS n,
             CAST(sum(CASE WHEN dv.adev > 3.0 * md.mad THEN 1 ELSE 0 END) AS BIGINT)
               AS n_outliers
      FROM dv JOIN md ON dv.l_returnflag = md.l_returnflag
      GROUP BY 1""",
    // same strict-domination scan as the Spark side: sorted by
    // (price desc, date desc, key), a row survives iff every preceding
    // row's date is strictly smaller — equal-(price,date) duplicates keep
    // the lowest key (the one-phase scan is the semantic definition; the
    // Spark plan adds the bucket-local pre-filter, which provably drops
    // only dominated rows, so the results coincide)
    "o5_pareto" -> """
      WITH o AS (SELECT o_orderkey,
                        CAST(round(o_totalprice * 100) AS BIGINT) AS pc,
                        epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS dt
                 FROM orders),
      w AS (SELECT o_orderkey, pc, dt,
                   max(dt) OVER (ORDER BY pc DESC, dt DESC, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mx
            FROM o)
      SELECT o_orderkey, pc / 100.0 AS o_totalprice, dt AS order_micros
      FROM w WHERE mx IS NULL OR mx < dt""",
    "sample_weighted" -> """
      SELECT doc_id, lang, n_chars, CAST(rk AS INTEGER) AS rk
      FROM (SELECT doc_id, lang, n_chars,
                   row_number() OVER (PARTITION BY lang
                     ORDER BY ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT
                              // n_chars, doc_id) AS rk
            FROM documents)
      WHERE rk <= 25""",
    "a20_linreg" -> s"""
      $lineitemMomentsHead,
               sum(CAST(qx AS HUGEINT) * qx) AS sxx
        FROM cents GROUP BY l_returnflag),
      s AS (
        SELECT l_returnflag, n, sx, sy,
               CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE) /
                 CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE) AS slope
        FROM m)
      SELECT l_returnflag, n, round(slope, 6) AS slope,
             round((sy / n - slope * (sx / n)) / 100.0, 4) AS intercept
      FROM s""",
    "graph_degree_stats" -> s"""
      WITH pairs AS (${TextOps.minhashPairsSql}),
      e AS (SELECT da AS node FROM pairs UNION ALL SELECT db FROM pairs),
      deg AS (SELECT node, count(*) AS degree FROM e GROUP BY node)
      SELECT degree, count(*) AS n_nodes, min(node) AS min_node
      FROM deg GROUP BY degree""",
    "diag_k_anonymity" -> """
      WITH g AS (SELECT lang, source, n_chars // 500 AS len_bucket,
                        count(*) AS n
                 FROM documents GROUP BY 1, 2, 3),
      t AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM g)
      SELECT lang, source, len_bucket, CAST(n AS BIGINT) AS n,
             n >= 5 AS k_anonymous,
             round(n / CAST(n_total AS DOUBLE), 6) AS share
      FROM g, t""",
    "diag_l_diversity" -> """
      WITH cls AS (SELECT source, n_chars // 500 AS len_bucket, lang,
                          CAST(count(*) AS BIGINT) AS nv
                   FROM documents GROUP BY 1, 2, 3),
      rk AS (SELECT *,
                    row_number() OVER (PARTITION BY source, len_bucket
                      ORDER BY nv DESC, lang) AS rk
             FROM cls)
      SELECT source, len_bucket,
             CAST(sum(nv) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS l_distinct,
             max(CASE WHEN rk = 1 THEN lang END) AS top_lang,
             max(CASE WHEN rk = 1 THEN nv END) AS top_n,
             round(max(CASE WHEN rk = 1 THEN nv END) / CAST(sum(nv) AS DOUBLE), 6)
               AS top_share,
             count(*) >= 3 AS l_diverse
      FROM rk GROUP BY 1, 2""",
    // per-bin PSI terms in identical double arithmetic, rounded to integer
    // nano-units and summed as BIGINTs — addition-order-free, so the PSI
    // and the >0.1 verdict hash-match exactly
    "diag_psi_drift" -> """
      WITH ev AS (SELECT event_type, event_id % 2 AS grp,
                         CASE WHEN event_id % 2 = 1 AND event_type = 'purchase'
                              THEN value * 1.5 ELSE value END AS v
                  FROM events),
      eb AS (SELECT event_type, grp,
                    least(19, CAST(floor(v / 25) AS BIGINT)) AS b FROM ev),
      counts AS (SELECT event_type, b,
                        CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
                        CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
                 FROM eb GROUP BY 1, 2),
      tot AS (SELECT event_type,
                     CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
                     CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb
              FROM eb GROUP BY 1),
      spine AS (SELECT event_type, na, nb, x.b
                FROM tot, LATERAL (SELECT unnest(range(0, 20)) AS b) x),
      terms AS (SELECT s.event_type, s.na, s.nb,
                       (coalesce(ca, 0) + 1) / CAST(s.na + 20 AS DOUBLE) AS p,
                       (coalesce(cb, 0) + 1) / CAST(s.nb + 20 AS DOUBLE) AS q
                FROM spine s LEFT JOIN counts c
                  ON s.event_type = c.event_type AND s.b = c.b),
      tn AS (SELECT event_type, na, nb,
                    CAST(round((p - q) * ln(p / q) * 1000000000) AS BIGINT) AS term_nano
             FROM terms)
      SELECT event_type, max(na) AS n_a, max(nb) AS n_b,
             round(CAST(sum(term_nano) AS DOUBLE) / 1000000000, 6) AS psi,
             CAST(sum(term_nano) AS BIGINT) > 100000000 AS drifted
      FROM tn GROUP BY 1""",
    "diag_column_profile" -> """
      WITH u AS (
        SELECT 'o_orderkey' AS col_name, CAST(o_orderkey AS VARCHAR) AS val FROM orders
        UNION ALL
        SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
        UNION ALL
        SELECT 'o_orderstatus', o_orderstatus FROM orders
        UNION ALL
        SELECT 'o_totalprice', CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR)
        FROM orders
        UNION ALL
        SELECT 'o_orderdate', CAST(epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS VARCHAR)
        FROM orders
        UNION ALL
        SELECT 'o_orderpriority', o_orderpriority FROM orders)
      SELECT col_name, count(*) AS n,
             CAST(sum(CASE WHEN val IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
             CAST(sum(CASE WHEN trim(coalesce(val, '')) = '' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_blank,
             count(DISTINCT val) AS n_distinct,
             CAST(min(length(val)) AS INTEGER) AS min_len,
             CAST(max(length(val)) AS INTEGER) AS max_len
      FROM u GROUP BY col_name""",
    "a21_hll_partial_merge" -> """
      WITH ev AS (SELECT user_id,
                         (CAST(CAST(ts AS TIMESTAMP) AS DATE)
                            - DATE '1970-01-01') // 7 AS week,
                         CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
                  FROM events)
      SELECT CAST(week AS BIGINT) AS week, count(DISTINCT day) AS n_days,
             true AS within_5pct
      FROM ev GROUP BY week""",
    "sample_shard_assign" -> """
      WITH ranked AS (
        SELECT doc_id, lang, n_chars,
               row_number() OVER (PARTITION BY lang
                 ORDER BY n_chars DESC, doc_id) AS r
        FROM documents)
      SELECT CAST((r - 1) % 8 AS INTEGER) AS shard,
             count(*) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS total_chars,
             count(DISTINCT lang) AS n_langs,
             min(doc_id) AS min_doc
      FROM ranked GROUP BY 1""",
    "sample_epoch_order" -> """
      WITH e AS (SELECT unnest(range(0, 3)) AS epoch),
      k AS (SELECT d.doc_id, e.epoch,
                   md5(e.epoch::VARCHAR || '_' || d.doc_id::VARCHAR) AS k
            FROM documents d, e),
      r AS (SELECT doc_id, epoch, k,
                   row_number() OVER (PARTITION BY epoch ORDER BY k, doc_id) AS r
            FROM k),
      hd AS (SELECT epoch, string_agg(doc_id::VARCHAR, ',' ORDER BY r) AS head_docs
             FROM r WHERE r <= 5 GROUP BY 1),
      fp AS (SELECT epoch, count(*) AS n_docs,
                    bit_xor(('0x' || substr(k, 1, 6))::BIGINT *
                            (doc_id & ((1::BIGINT << 38) - 1))) AS order_fp
             FROM k GROUP BY 1)
      SELECT CAST(fp.epoch AS INTEGER) AS epoch, fp.n_docs, fp.order_fp, hd.head_docs
      FROM fp JOIN hd ON fp.epoch = hd.epoch""",
  )
}
