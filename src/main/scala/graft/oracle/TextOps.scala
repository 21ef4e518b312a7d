package graft.oracle

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.queries.TextOps.{BpeTrainRounds, HotShingleDfCap, SimhashHammingMax,
  pavPools, qualityBins}

/** DuckDB oracle SQL for [[graft.queries.TextOps]]'s queries. */
object TextOps {
  /** The DuckDB CTE chain replaying [[graft.queries.TextOps.bpeTrainLoop]]: w0 (spaced symbol
    * corpus) then per round i a pair count (p_i), the 1-row argmax (t_i),
    * and the merged corpus (w_i). `withFinalCorpus` controls whether the
    * final merge's w_k is emitted (the apply oracle reads it; the train
    * oracle stops at t_k).
    *
    * Every CTE is `AS MATERIALIZED`: DuckDB inlines plain CTEs per
    * REFERENCE, and each w_i reads t_i twice (the pair and its joined
    * form), so an inlined chain re-evaluates the whole prefix 2^k times —
    * measured 424 s at k=8 vs seconds at k=3. Materialization pins the
    * oracle to the same once-per-round evaluation the Spark loop's
    * persist discipline gives.
    */
  private def bpeOracleCtes(withFinalCorpus: Boolean): String = {
    val k = BpeTrainRounds
    def pairs(i: Int) =
      s"""p$i AS MATERIALIZED (SELECT sy[i] || ' ' || sy[i+1] AS pair
         |             FROM (SELECT regexp_split_to_array(trim(sw), ' ') AS sy FROM w${i - 1}) t,
         |                  LATERAL (SELECT unnest(range(1, len(sy))) AS i) r)""".stripMargin
    def top(i: Int) =
      s"t$i AS MATERIALIZED (SELECT pair, count(*) AS n FROM p$i GROUP BY 1 ORDER BY n DESC, pair LIMIT 1)"
    def merged(i: Int) =
      s"""w$i AS MATERIALIZED (SELECT replace(sw, ' ' || (SELECT pair FROM t$i) || ' ',
         |                            ' ' || replace((SELECT pair FROM t$i), ' ', '') || ' ') AS sw
         |             FROM w${i - 1})""".stripMargin
    val w0 =
      s"""w0 AS MATERIALIZED (SELECT ' ' || regexp_replace(lower(w), '(.)', '\\1 ', 'g') AS sw
         |                  FROM (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
         |                        FROM documents) t
         |                  WHERE length(w) >= 2)""".stripMargin
    val ctes = w0 +: (1 to k).flatMap(i =>
      Seq(pairs(i), top(i)) ++
        (if (i < k || withFinalCorpus) Seq(merged(i)) else Nil))
    ctes.mkString(",\n      ")
  }

  /** Per non-empty document: the fixed linear quality logit in micro-units
    * (`logit_u`, from its letter, digit, space and capital shares) and the
    * English label `y` — the scorer the quality oracles calibrate.
    */
  private val qualityLogitSql = """CAST(-900000
                 + 2 * (length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1000000 // length(text))
                 - 4 * (length(regexp_replace(text, '[^0-9]', '', 'g')) * 1000000 // length(text))
                 +     (length(regexp_replace(text, '[^ ]', '', 'g')) * 1000000 // length(text))
                 - 3 * (length(regexp_replace(text, '[^A-Z]', '', 'g')) * 1000000 // length(text))
                 AS BIGINT) AS logit_u,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        FROM documents WHERE length(text) > 0"""

  /** DuckDB SQL for text_quality_isotonic, generated at Verify time: the
    * binning re-derived in SQL, the driver-fitted pools embedded as
    * VALUES literals (the emb_pca_topk literal-kernel discipline).
    */
  def isotonicOracleSql(s: SparkSession, d: String): String = {
    val collected = qualityBins(s, d).select(col("bin"), col("n"), col("n_pos"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val values = pavPools(collected).flatMap { case (members, _, _, iso) =>
      members.map(b => s"($b, ${iso}, ${members.min})")
    }.mkString(", ")
    s"""
      WITH f AS (
        SELECT $qualityLogitSql),
      g AS (SELECT CAST(floor(logit_u / 10000.0) AS BIGINT) AS bin,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(y) AS BIGINT) AS n_pos
            FROM f GROUP BY 1),
      iso AS (SELECT * FROM (VALUES $values) v(bin, iso_u, pool_lo))
      SELECT g.bin, g.n, g.n_pos,
             CAST(round(ln((g.n_pos + 1) / CAST(g.n - g.n_pos + 1 AS DOUBLE))
                        * 1000000) AS BIGINT) AS emp_u,
             CAST(iso_u AS BIGINT) AS iso_u,
             CAST(pool_lo AS BIGINT) AS pool_lo
      FROM g JOIN iso ON iso.bin = g.bin"""
  }

  /** The 4-gram shingle Jaccard chain over a `toks(doc_id, t)` CTE: distinct
    * md5-hashed shingles per doc, hot shingles (document frequency over the
    * cap) dropped, shared-shingle counts per doc pair and shingle counts per
    * doc.
    */
  private lazy val shingleJaccardCtes: String = s"""
      sh0 AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+3], ' ') AS s
              FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 2)) AS i) r),
      sh_all AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h FROM sh0),
      sh AS (SELECT * FROM sh_all
             WHERE h NOT IN (SELECT h FROM sh_all GROUP BY h
                             HAVING count(*) > $HotShingleDfCap)),
      pairs AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
                FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id GROUP BY 1, 2),
      sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)"""

  /** Canonical DuckDB SQL for the n-gram Jaccard pairs — the single source
    * for dedup_ngram_jaccard AND the near-dup stage of
    * pipeline_filter_dedup, so a change to the shingle/hash scheme cannot
    * leave a stale copy behind.
    */
  private[oracle] val ngramJaccardSql: String = s"""
      WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents),
      $shingleJaccardCtes
      SELECT da, db, round(inter / (x.n + y.n - inter), 6) AS jaccard
      FROM pairs JOIN sizes x ON da = x.doc_id JOIN sizes y ON db = y.doc_id
      WHERE inter / (x.n + y.n - inter) > 0.8"""

  /** Canonical DuckDB SQL for the lexical shingle k-NN — single source for
    * text_shingle_knn AND the lexical leg of Similarity.sim_rrf_fusion.
    */
  private[oracle] val shingleKnnSql: String = """
      WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
      sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+3], ' ') AS s
             FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 2)) AS i) r),
      sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      probes AS (SELECT doc_id AS q_doc, s FROM sh WHERE doc_id < 10),
      inter AS (SELECT p.q_doc, c.doc_id, count(*) AS inter
                FROM sh c JOIN probes p ON c.s = p.s AND c.doc_id <> p.q_doc
                GROUP BY 1, 2),
      scored AS (SELECT q_doc, inter.doc_id AS doc_id,
                        round(inter / (qs.n + cs.n - inter), 6) AS jaccard
                 FROM inter JOIN sizes qs ON q_doc = qs.doc_id
                            JOIN sizes cs ON inter.doc_id = cs.doc_id)
      SELECT q_doc, doc_id, jaccard,
             CAST(row_number() OVER (PARTITION BY q_doc
               ORDER BY jaccard DESC, doc_id) AS INTEGER) AS rank
      FROM scored
      QUALIFY row_number() OVER (PARTITION BY q_doc
        ORDER BY jaccard DESC, doc_id) <= 5"""

  /** Canonical DuckDB SQL for the MinHash-LSH candidate pairs — the single
    * source for dedup_minhash_lsh AND the edge set of
    * Extended.dedup_cluster_cc's oracle.
    */
  /** The CTE chain ending in `bands(doc_id, band, bk)` — shared by the
    * pairs oracle and the incremental-dedup oracle.
    */
  private val minhashBandCtes: String = {
    val m55 = 1L << 55
    val m60 = 1L << 60
    val mins = (0 until 16)
      .map(i => s"min((h1 + $i * h2) % $m60) AS h$i").mkString(", ")
    val bands = (0 until 4)
      .map(b => s"SELECT doc_id, $b AS band, h${b * 4}::VARCHAR || '|' || h${b * 4 + 1}::VARCHAR || '|' || h${b * 4 + 2}::VARCHAR || '|' || h${b * 4 + 3}::VARCHAR AS bk FROM sig")
      .mkString(" UNION ALL ")
    s"""toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents),
      sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+3], ' ') AS s
             FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 2)) AS i) r),
      hs0 AS (SELECT doc_id,
                     ('0x' || substr(md5(s), 1, 15))::BIGINT AS h1,
                     ('0x' || substr(md5(s), 17, 15))::BIGINT % $m55 AS h2
              FROM sh),
      hs AS (SELECT * FROM hs0
             WHERE h1 NOT IN (SELECT h1 FROM hs0 GROUP BY h1
                              HAVING count(*) > $HotShingleDfCap)),
      sig AS (SELECT doc_id, $mins FROM hs GROUP BY doc_id),
      bands AS ($bands)"""
  }

  private[oracle] val minhashPairsSql: String = s"""
      WITH $minhashBandCtes
      SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id"""

  /** Reachability over a `<p>pairs(da, db)` CTE: `<p>edges` holds both
    * directions of every pair and `<p>reach(node, lbl)` every node with
    * each node it reaches (recursive, set semantics), so min(lbl) per node
    * is its connected-component label. Needs `WITH RECURSIVE`.
    */
  private[oracle] def reachCtes(p: String): String = s"""
      ${p}edges AS (SELECT da AS src, db AS dst FROM ${p}pairs
                UNION SELECT db, da FROM ${p}pairs),
      ${p}reach(node, lbl) AS (
        SELECT src, src FROM ${p}edges
        UNION
        SELECT e.dst, r.lbl FROM ${p}reach r JOIN ${p}edges e ON e.src = r.node)"""

  /** [[reachCtes]] plus `<p>cc(doc_id, cluster_id)`: every paired doc with
    * its component label, the smallest doc_id it reaches.
    */
  private[oracle] def componentsCtes(p: String): String = reachCtes(p) + s""",
      ${p}cc AS (SELECT node AS doc_id, min(lbl) AS cluster_id
             FROM ${p}reach GROUP BY node)"""

  /** The minhash components chain: the near-dup pairs of
    * [[minhashPairsSql]] and their connected components `cc`.
    */
  private[oracle] val minhashComponentsSql: String =
    s"""
      WITH RECURSIVE pairs AS ($minhashPairsSql),${componentsCtes("")}"""

  /** The robust-winnowing selection CTE chain ending in
    * `picked(doc_id, k)` (k = packed 36-bit-hash × 2²⁴ + reversed
    * position) plus `toksq` — shared by the per-doc fingerprint oracle and
    * the MOSS pair oracle. range() is half-open, hence the +1 on the
    * window-start upper bound.
    */
  private val winnowingCtes: String = """toksq AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
                     FROM documents),
      kg AS (SELECT doc_id, len(t) - 3 AS m, i AS p,
                    ('0x' || substr(md5(array_to_string(t[i:i+3], ' ')), 1, 9))::BIGINT
                      * 16777216 + (16777215 - i) AS key
             FROM toksq, LATERAL (SELECT unnest(range(1, len(t) - 2)) AS i) r
             WHERE len(t) >= 7),
      sel AS (SELECT doc_id, key, w.ws
              FROM kg, LATERAL (SELECT unnest(range(greatest(p - 3, 1),
                                               least(p, m - 3) + 1)) AS ws) w),
      picked0 AS (SELECT doc_id, ws, min(key) AS k FROM sel GROUP BY 1, 2),
      picked AS (SELECT DISTINCT doc_id, k FROM picked0)"""

  /** Estimator audit: the banded pairs joined back to the signature and
    * capped-shingle CTEs of the same chain — agreement count, 1/16-quantized
    * estimate, exact Jaccard, signed error.
    */
  private val minhashEstimateSql: String = {
    val agree = (0 until 16)
      .map(i => s"(CASE WHEN x.h$i = y.h$i THEN 1 ELSE 0 END)").mkString(" + ")
    s"""
      WITH $minhashBandCtes,
      prs AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
              FROM bands a JOIN bands b
                ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id),
      agree AS (SELECT p.da, p.db, $agree AS n_agree
                FROM prs p JOIN sig x ON p.da = x.doc_id
                           JOIN sig y ON p.db = y.doc_id),
      szs AS (SELECT doc_id, count(*) AS n FROM hs GROUP BY 1),
      itr AS (SELECT p.da, p.db, count(*) AS inter
              FROM prs p JOIN hs a ON a.doc_id = p.da
                         JOIN hs b ON b.doc_id = p.db AND b.h1 = a.h1
              GROUP BY 1, 2)
      SELECT g.da, g.db, g.n_agree,
             round(g.n_agree / 16.0, 6) AS est_jaccard,
             round(coalesce(i.inter, 0) / (x.n + y.n - coalesce(i.inter, 0)), 6)
               AS exact_jaccard,
             round(g.n_agree / 16.0 -
               coalesce(i.inter, 0) / (x.n + y.n - coalesce(i.inter, 0)), 6) AS err
      FROM agree g
      LEFT JOIN itr i ON g.da = i.da AND g.db = i.db
      JOIN szs x ON g.da = x.doc_id
      JOIN szs y ON g.db = y.doc_id"""
  }

  /** The cross-corpus LSH probe oracle: the train chain is
    * [[minhashBandCtes]] VERBATIM; the eval corpus is re-derived by the
    * staged table's churn rule, signed under the TRAIN hot list (the
    * index-metadata semantics the Spark side implements), banded the same
    * way, and candidates are the (band, bk) equi-join of the two band
    * frames.
    */
  private val crossMinhashSql: String = {
    val m55 = 1L << 55
    val m60 = 1L << 60
    val mins = (0 until 16)
      .map(i => s"min((h1 + $i * h2) % $m60) AS h$i").mkString(", ")
    val ebands = (0 until 4)
      .map(b => s"SELECT eval_id, $b AS band, h${b * 4}::VARCHAR || '|' || h${b * 4 + 1}::VARCHAR || '|' || h${b * 4 + 2}::VARCHAR || '|' || h${b * 4 + 3}::VARCHAR AS bk FROM esig")
      .mkString(" UNION ALL ")
    val agree = (0 until 16)
      .map(i => s"(CASE WHEN e.h$i = t.h$i THEN 1 ELSE 0 END)").mkString(" + ")
    s"""
      WITH $minhashBandCtes,
      $evalCorpusCtes,
      esh AS (SELECT DISTINCT eval_id, array_to_string(t[i:i+3], ' ') AS s
              FROM etoks, LATERAL (SELECT unnest(range(1, len(t) - 2)) AS i) r),
      ehs0 AS (SELECT eval_id,
                      ('0x' || substr(md5(s), 1, 15))::BIGINT AS h1,
                      ('0x' || substr(md5(s), 17, 15))::BIGINT % $m55 AS h2
               FROM esh),
      ehs AS (SELECT * FROM ehs0
              WHERE h1 NOT IN (SELECT h1 FROM hs0 GROUP BY h1
                               HAVING count(*) > $HotShingleDfCap)),
      esig AS (SELECT eval_id, $mins FROM ehs GROUP BY eval_id),
      ebands AS ($ebands),
      cand AS (SELECT DISTINCT e.eval_id, b.doc_id
               FROM ebands e JOIN bands b ON e.band = b.band AND e.bk = b.bk)
      SELECT c.eval_id, c.doc_id, $agree AS n_agree,
             round(($agree) / 16.0, 6) AS est_jaccard,
             c.doc_id = c.eval_id - 10000000 AS is_source
      FROM cand c JOIN esig e ON c.eval_id = e.eval_id
                  JOIN sig t ON c.doc_id = t.doc_id"""
  }

  /** The document filters both mix oracles apply: the letter-share quality
    * cut, the LangId English cut, and no near-duplicate (keep), with each
    * document's token count (stok). Expects a neardup CTE in scope.
    */
  private lazy val mixKeepCtes: String = s"""
      quality AS (SELECT doc_id FROM documents
                  WHERE round(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                          / CAST(length(text) AS DOUBLE), 6) >= 0.81),
      english AS (SELECT doc_id
                  FROM (${graft.functions.LangId.langIdSql})
                  WHERE lang_pred = 'en'),
      keep AS (SELECT q.doc_id FROM quality q
               JOIN english e ON q.doc_id = e.doc_id
               WHERE NOT EXISTS (SELECT 1 FROM neardup n WHERE n.db = q.doc_id)),
      stok AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS toks
               FROM (SELECT doc_id,
                            unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
                     FROM documents) u
               WHERE length(t) > 0 GROUP BY doc_id)"""

  /** The full-recompute mix oracle, shared verbatim by pipeline_train_mix
    * and its incremental twin — one SQL definition of the mix.
    */
  private lazy val trainMixSql: String = s"""
      WITH neardup AS (SELECT DISTINCT db FROM ($ngramJaccardSql)),
      $mixKeepCtes,
      surv AS (SELECT d.doc_id, d.source, coalesce(s.toks, 0) AS toks
               FROM documents d JOIN keep k ON d.doc_id = k.doc_id
               LEFT JOIN stok s ON d.doc_id = s.doc_id),
      c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(toks) AS BIGINT) AS n_tokens
            FROM surv GROUP BY source),
      t AS (SELECT source, n_docs, n_tokens,
                   CAST(least(10000, (10000 * CAST(sum(n_docs) OVER () AS BIGINT))
                                     // (count(*) OVER () * n_docs)) AS BIGINT) AS thr
            FROM c)
      SELECT t.source, t.n_docs, t.n_tokens, t.thr,
             CAST(sum(CASE WHEN ('0x' || substr(md5(s.doc_id::VARCHAR), 1, 15))::BIGINT
                                % 10000 < t.thr
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      FROM surv s JOIN t ON s.source = t.source
      GROUP BY 1, 2, 3, 4"""

  /** The gated-mix selection chain — near-dup/quality/langid keep set,
    * severity-gated survivors, per-source counts, and the mix thresholds
    * — shared verbatim by `pipeline_train_mix_gated` and
    * `pipeline_mix_packing`, so "the training set under the mix" has
    * exactly one SQL definition.
    */
  private lazy val gatedMixCtes: String = s"""
      neardup AS (SELECT DISTINCT db FROM ($ngramJaccardSql)),
      $mixKeepCtes,
      surv AS (SELECT d.doc_id, d.source, coalesce(s.toks, 0) AS toks,
                      CASE WHEN d.n_chars < 100 THEN 1 ELSE 0 END AS warned
               FROM documents d JOIN keep k ON d.doc_id = k.doc_id
               LEFT JOIN stok s ON d.doc_id = s.doc_id
               WHERE d.n_chars >= 60),
      c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(toks) AS BIGINT) AS n_tokens,
                   CAST(sum(warned) AS BIGINT) AS n_warn
            FROM surv GROUP BY source),
      t AS (SELECT source, n_docs, n_tokens, n_warn,
                   CAST(least(10000, (10000 * CAST(sum(n_docs) OVER () AS BIGINT))
                                     // (count(*) OVER () * n_docs)) AS BIGINT) AS thr
            FROM c)"""

  /** The per-bucket posting inventory re-derived from raw text — shared
    * verbatim by `text_postings_compaction` and
    * `text_postings_recompaction`: the write→read round trip AND the
    * append→fragment→merge loop must both land on this one logical table.
    */
  private val postingsCompactionSql: String = """
      WITH tk AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
                  FROM documents),
      tok AS (SELECT doc_id, term FROM tk WHERE length(term) > 0),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
      pb AS (SELECT term, tf,
                    ('0x' || substr(md5(term), 1, 15))::BIGINT % 16 AS bucket
             FROM tf)
      SELECT CAST(bucket AS INTEGER) AS bucket,
             CAST(count(DISTINCT term) AS BIGINT) AS n_terms,
             CAST(count(*) AS BIGINT) AS n_postings,
             CAST(sum(tf) AS BIGINT) AS n_tokens
      FROM pb GROUP BY 1"""

  private val incrementalSql: String = s"""
      WITH $minhashBandCtes,
      fp AS (SELECT doc_id, md5(text) AS fp,
                    ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 100 < 10 AS b
             FROM documents),
      bb AS (SELECT bands.*,
                    ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 100 < 10 AS b
             FROM bands),
      exact AS (SELECT DISTINCT f.doc_id FROM fp f
                WHERE f.b AND EXISTS (SELECT 1 FROM fp c WHERE NOT c.b AND c.fp = f.fp)),
      near AS (SELECT DISTINCT x.doc_id FROM bb x
               WHERE x.b AND EXISTS (SELECT 1 FROM bb c
                                     WHERE NOT c.b AND c.band = x.band AND c.bk = x.bk)),
      u AS (SELECT doc_id, 1 AS k FROM exact UNION ALL SELECT doc_id, 0 AS k FROM near)
      SELECT doc_id,
             sum(CASE WHEN k = 1 THEN 1 ELSE 0 END) > 0 AS exact_dup,
             sum(CASE WHEN k = 0 THEN 1 ELSE 0 END) > 0 AS near_dup
      FROM u GROUP BY doc_id"""

  /** DuckDB replica of the 60-bit SimHash: same md5-top-60 token hash, same
    * ±1 bit votes, same count>0 sign rule — the signature must match the
    * custom expression bit-for-bit. One CTE chain, shared by the signature
    * oracle and the banded-pair oracle (single source, like minhashPairsSql).
    */
  private val simhashCtes: String = {
    val bits = (0 until 60).map(j =>
      s"(CASE WHEN sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) > 0 " +
        s"THEN 1::BIGINT << $j ELSE 0 END)").mkString(" + ")
    s"""toks AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
                 FROM documents),
      hs AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks),
      sig AS (SELECT doc_id, $bits AS simhash FROM hs GROUP BY doc_id)"""
  }

  private val simhashSql: String =
    s"WITH $simhashCtes SELECT doc_id, simhash FROM sig"

  private val simhashPairsSql: String = s"""
      WITH $simhashCtes,
      bands AS (SELECT doc_id, simhash, band, (simhash >> (15 * band)) & 32767 AS bk
                FROM sig, LATERAL (SELECT unnest(range(0, 4)) AS band) r)
      SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
             CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
      FROM bands a JOIN bands b ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= $SimhashHammingMax"""

  /** Shared by text_unigram_logprob (verbatim) and text_ppl_bucket (as the
    * score subquery the tercile cutoffs are computed over).
    */
  private val unigramScoreSql: String = """
      WITH tk AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
                  FROM documents),
      tk2 AS (SELECT doc_id, tok FROM tk WHERE length(tok) > 0),
      lm AS (SELECT tok,
                    CAST(round(ln(count(*) / CAST(sum(count(*)) OVER () AS DOUBLE))
                               * 1000000) AS BIGINT) AS lpu
             FROM tk2 GROUP BY tok),
      sc AS (SELECT doc_id, count(*) AS n_tokens, CAST(sum(lpu) AS BIGINT) AS slp
             FROM tk2 JOIN lm USING (tok) GROUP BY doc_id)
      SELECT doc_id, n_tokens,
             round(CAST(-slp AS DOUBLE) / 1000000.0 / n_tokens, 6) AS avg_neg_logprob
      FROM sc"""

  /** The MOSS match step over the winnowing selections: distinct per-doc
    * fingerprints (fps), document-frequency-capped postings (fpc), pairs
    * sharing at least 2 fingerprints (shared), and per-doc fingerprint counts
    * (szs).
    */
  private lazy val winnowPairCtes: String = s"""
      WITH $winnowingCtes,
      fps AS (SELECT DISTINCT doc_id, k // 16777216 AS h FROM picked),
      keepable AS (SELECT h FROM fps GROUP BY h
                   HAVING count(*) <= $HotShingleDfCap),
      fpc AS (SELECT f.doc_id, f.h FROM fps f JOIN keepable kp ON f.h = kp.h),
      shared AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS n_shared
                 FROM fpc a JOIN fpc b ON a.h = b.h AND a.doc_id < b.doc_id
                 GROUP BY 1, 2
                 HAVING count(*) >= 2),
      szs AS (SELECT doc_id, count(*) AS n FROM fpc GROUP BY 1)"""

  /** The span locator head: the winnowing selections with positions (fpos),
    * the df-capped postings with and without positions (fpc2, fpc), and pairs
    * sharing at least 2 fingerprints (shared).
    */
  private lazy val winnowSpanCtes: String = s"""
      WITH $winnowingCtes,
      fpos AS (SELECT doc_id, k // 16777216 AS h,
                      16777215 - (k % 16777216) AS p FROM picked),
      fps AS (SELECT DISTINCT doc_id, h FROM fpos),
      keepable AS (SELECT h FROM fps GROUP BY h
                   HAVING count(*) <= $HotShingleDfCap),
      fpc AS (SELECT f.doc_id, f.h FROM fps f JOIN keepable kp ON f.h = kp.h),
      fpc2 AS (SELECT f.doc_id, f.h, f.p FROM fpos f JOIN keepable kp ON f.h = kp.h),
      shared AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS n_shared
                 FROM fpc a JOIN fpc b ON a.h = b.h AND a.doc_id < b.doc_id
                 GROUP BY 1, 2
                 HAVING count(*) >= 2)"""

  /** The eval corpus the contamination oracles re-derive by the staged churn
    * rule: 10% of documents verbatim and 10% upper-cased, under eval ids
    * offset by 10M and 20M, tokenized (etoks).
    */
  private lazy val evalCorpusCtes: String = s"""
      evm AS (SELECT doc_id, text,
                     ('0x' || substr(md5('ev' || doc_id::VARCHAR), 1, 15))::BIGINT
                       % 100 AS m
              FROM documents),
      ev AS (SELECT doc_id + 10000000 AS eval_id, text FROM evm WHERE m < 10
             UNION ALL
             SELECT doc_id + 20000000, upper(text) FROM evm WHERE m >= 10 AND m < 20),
      etoks AS (SELECT eval_id, regexp_split_to_array(trim(text), '\\s+') AS t
                FROM ev)"""

  val oracle: Map[String, String] = Map(
    "text_quality_lr" -> """
      WITH f AS (SELECT doc_id,
                        length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1000000 // length(text) AS alpha_u,
                        length(regexp_replace(text, '[^0-9]', '', 'g')) * 1000000 // length(text) AS digit_u,
                        length(regexp_replace(text, '[^ ]', '', 'g')) * 1000000 // length(text) AS ws_u,
                        length(regexp_replace(text, '[^A-Z]', '', 'g')) * 1000000 // length(text) AS upper_u
                 FROM documents)
      SELECT doc_id,
             CAST(-900000 + 2 * alpha_u - 4 * digit_u + ws_u - 3 * upper_u AS BIGINT)
               AS logit_u,
             (-900000 + 2 * alpha_u - 4 * digit_u + ws_u - 3 * upper_u) > 0 AS keep
      FROM f""",
    // Generated k-round CTE chain (k = BpeTrainRounds) — the same
    // count-argmax-replace loop the Spark side runs, unrolled into SQL by
    // construction so the two can never drift on round count.
    "text_bpe_train" -> {
      val union = (1 to BpeTrainRounds).map {
        case 1 => "SELECT CAST(1 AS INTEGER) AS round, pair, CAST(n AS BIGINT) AS n FROM t1"
        case i => s"SELECT $i, pair, n FROM t$i"
      }.mkString("\n      UNION ALL ")
      s"""
      WITH ${bpeOracleCtes(withFinalCorpus = false)}
      $union"""
    },

    // BPE apply: the same generated chain carried one merge further to
    // the final corpus w_k, then the tokenized-shape aggregate.
    "text_bpe_apply" -> s"""
      WITH ${bpeOracleCtes(withFinalCorpus = true)},
      tok AS MATERIALIZED (SELECT regexp_split_to_array(trim(sw), ' ') AS sy
              FROM w$BpeTrainRounds)
      SELECT CAST(count(*) AS BIGINT) AS n_words,
             CAST(sum(len(sy)) AS BIGINT) AS total_pieces,
             (SELECT CAST(count(DISTINCT p) AS BIGINT)
              FROM (SELECT unnest(sy) AS p FROM tok)) AS distinct_pieces,
             round(CAST(sum(len(sy)) AS DOUBLE) / count(*), 6) AS avg_pieces
      FROM tok""",
    "text_bpe_pairs" -> """
      WITH w0 AS (SELECT lower(unnest(regexp_split_to_array(trim(text), '\s+'))) AS w
                  FROM documents),
      p AS (SELECT substr(t.w, i, 2) AS pair
            FROM (SELECT w FROM w0 WHERE length(w) >= 2) t,
                 LATERAL (SELECT unnest(range(1, length(t.w))) AS i) r),
      c AS (SELECT pair, count(*) AS n FROM p GROUP BY pair)
      SELECT pair, n, CAST(row_number() OVER (ORDER BY n DESC, pair) AS INTEGER) AS rk
      FROM c QUALIFY rk <= 30""",
    "text_token_count" -> """
      SELECT doc_id, CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INTEGER) AS n_tokens,
             CAST(length(text) AS INTEGER) AS len_chars
      FROM documents""",
    "text_chunk_windows" -> """
      WITH tk AS (SELECT doc_id,
                         list_filter(regexp_split_to_array(trim(text), '\s+'),
                                     x -> length(x) > 0) AS t
                  FROM documents),
      st AS (SELECT doc_id, t, unnest(range(0, len(t), 64)) AS s
             FROM tk WHERE len(t) > 0)
      SELECT doc_id,
             CAST(s // 64 AS INTEGER) AS chunk_idx,
             CAST(least(128, len(t) - s) AS INTEGER) AS n_tokens,
             ('0x' || substr(md5(array_to_string(t[s+1:s+128], ' ')), 1, 15))::BIGINT
               AS chunk_hash
      FROM st""",
    "text_bpe_fertility" -> """
      SELECT lang, count(*) AS n_docs,
             CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))) AS BIGINT)
               AS n_pieces,
             CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS n_words,
             round(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')))
                   / CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS DOUBLE), 6)
               AS fertility
      FROM documents GROUP BY 1""",
    "text_token_count_bpe" -> """
      SELECT doc_id,
             CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS INTEGER)
               AS n_bpe_pieces,
             CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INTEGER) AS n_ws_tokens,
             round(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))
                   / CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE), 6)
               AS pieces_per_word
      FROM documents""",
    "text_gopher_rules" -> """
      WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
                  FROM documents),
      m AS (SELECT doc_id,
                   CAST(len(t) AS INTEGER) AS n_words,
                   CAST(list_sum(list_transform(t, w -> length(w))) AS BIGINT)
                     AS total_wlen,
                   CAST(len(list_filter(t, w -> regexp_matches(w, '[A-Za-z]')))
                     AS INTEGER) AS n_alpha_words,
                   CAST(len(list_filter(
                     ['the','be','to','of','and','that','have','with'],
                     sw -> list_contains(list_transform(t, w -> lower(w)), sw)))
                     AS INTEGER) AS n_stopwords
            FROM tk)
      SELECT doc_id, n_words, total_wlen, n_alpha_words, n_stopwords,
             (n_words >= 50 AND n_words <= 100000
              AND total_wlen >= n_words * 3 AND total_wlen <= n_words * 10
              AND n_alpha_words * 5 >= n_words * 4
              AND n_stopwords >= 2) AS keep
      FROM m""",
    "text_quality" -> """
      SELECT doc_id,
             round(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / CAST(length(text) AS DOUBLE), 6) AS alpha_ratio,
             round(length(regexp_replace(text, '[^0-9]', '', 'g')) / CAST(length(text) AS DOUBLE), 6) AS digit_ratio,
             round(length(regexp_replace(text, '[^ ]', '', 'g')) / CAST(length(text) AS DOUBLE), 6) AS ws_ratio,
             round((length(text) - length(regexp_replace(text, '[^ ]', '', 'g')))
                   / CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE), 6) AS avg_token_len
      FROM documents""",
    "text_lang_id" -> graft.functions.LangId.langIdSql,
    "text_langid_confusion" -> s"""
      SELECT d.lang AS true_lang, p.lang_pred AS pred_lang, count(*) AS n
      FROM (${graft.functions.LangId.langIdSql}) p
      JOIN documents d USING (doc_id)
      GROUP BY 1, 2""",
    // Same toks/sh0/sh_all shingle-hash chain as ngramJaccardSql, WITHOUT
    // the df-cap: novelty counts every shingle (see the query's comment).
    "text_ngram_novelty" -> """
      WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
      sh0 AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+3], ' ') AS s
              FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 2)) AS i) r),
      sh AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h FROM sh0),
      dfs AS (SELECT h, count(*) AS df, min(doc_id) AS only_doc FROM sh GROUP BY h),
      novel AS (SELECT only_doc AS doc_id, count(*) AS n_novel
                FROM dfs WHERE df = 1 GROUP BY 1),
      tot AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id)
      SELECT t.doc_id, t.n_shingles,
             coalesce(n.n_novel, 0) AS n_novel,
             round(coalesce(n.n_novel, 0) / t.n_shingles, 6) AS novelty
      FROM tot t LEFT JOIN novel n ON t.doc_id = n.doc_id""",
    // winnowing: same packed-key argmin (36-bit md5 prefix, reversed
    // 24-bit position) over the same w=4 windows (CTE chain shared with
    // the pair oracle — [[winnowingCtes]]).
    "text_winnowing" -> s"""
      WITH $winnowingCtes,
      per AS (SELECT doc_id, count(*) AS n_fp,
                     bit_xor(k // 16777216) AS fp_xor
              FROM picked GROUP BY 1),
      tot AS (SELECT doc_id, CAST(greatest(len(t) - 3, 0) AS BIGINT) AS n_kgrams
              FROM toksq)
      SELECT t.doc_id, t.n_kgrams,
             coalesce(p.n_fp, 0) AS n_fp,
             coalesce(p.fp_xor, 0) AS fp_xor,
             round(coalesce(p.n_fp, 0) / greatest(t.n_kgrams, 1), 6) AS density
      FROM tot t LEFT JOIN per p ON t.doc_id = p.doc_id""",
    // the MOSS match step over the same selections: distinct per-doc
    // fingerprints, df-capped postings, shared-count ≥ 2 pairs with
    // containment and Jaccard.
    "dedup_winnowing_pairs" -> s"""
      $winnowPairCtes
      SELECT s.da, s.db, s.n_shared,
             round(s.n_shared / least(x.n, y.n), 6) AS containment,
             round(s.n_shared / (x.n + y.n - s.n_shared), 6) AS jaccard
      FROM shared s JOIN szs x ON s.da = x.doc_id JOIN szs y ON s.db = y.doc_id""",
    // the winnowing append path re-derived from scratch: matching proves
    // the base-rows ∪ slice-built-selections union equals the rebuild,
    // origin tags included
    "dedup_winnowing_append" -> {
      def isB(c: String) =
        s"('0x' || substr(md5('inc' || $c::VARCHAR), 1, 15))::BIGINT % 8 = 0"
      s"""
      $winnowPairCtes
      SELECT s.da, s.db,
             CASE WHEN ${isB("s.da")} AND ${isB("s.db")} THEN 'batch_batch'
                  WHEN ${isB("s.da")} OR ${isB("s.db")} THEN 'base_batch'
                  ELSE 'base_base' END AS origin,
             s.n_shared,
             round(s.n_shared / least(x.n, y.n), 6) AS containment,
             round(s.n_shared / (x.n + y.n - s.n_shared), 6) AS jaccard
      FROM shared s JOIN szs x ON s.da = x.doc_id JOIN szs y ON s.db = y.doc_id"""
    },
    // span locator: the pair chain extended with positions — anchors on a
    // shared (pa − pb) diagonal roll up into located spans.
    "dedup_winnowing_spans" -> s"""
      $winnowSpanCtes,
      anch AS (SELECT s.da, s.db, a.p AS pa, b.p AS pb
               FROM shared s
               JOIN fpc2 a ON a.doc_id = s.da
               JOIN fpc2 b ON b.doc_id = s.db AND b.h = a.h)
      SELECT da, db, CAST(pa - pb AS BIGINT) AS diag,
             count(*) AS n_anchors,
             CAST(min(pa) AS BIGINT) AS a_start,
             CAST(max(pa) + 3 AS BIGINT) AS a_end,
             CAST(min(pb) AS BIGINT) AS b_start
      FROM anch GROUP BY 1, 2, 3
      HAVING count(*) >= 2""",
    // w-sweep: the same packed-key argmin swept over window sizes, each
    // k-gram exploded to its (w, window-start) memberships.
    "text_winnowing_sweep" -> s"""
      WITH toksq AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
                     FROM documents),
      kg AS (SELECT doc_id, len(t) - 3 AS m, i AS p,
                    ('0x' || substr(md5(array_to_string(t[i:i+3], ' ')), 1, 9))::BIGINT
                      * 16777216 + (16777215 - i) AS key
             FROM toksq, LATERAL (SELECT unnest(range(1, len(t) - 2)) AS i) r
             WHERE len(t) >= 4),
      sel AS (SELECT doc_id, key, wv.w, wsv.ws
              FROM kg,
              LATERAL (SELECT unnest([2, 4, 8]) AS w) wv,
              LATERAL (SELECT unnest(range(greatest(p - wv.w + 1, 1),
                                           least(p, m - wv.w + 1) + 1)) AS ws) wsv
              WHERE m >= wv.w),
      picked0 AS (SELECT w, doc_id, ws, min(key) AS k FROM sel GROUP BY 1, 2, 3),
      picked AS (SELECT DISTINCT w, doc_id, k FROM picked0),
      tot AS (SELECT CAST(sum(greatest(len(t) - 3, 0)) AS BIGINT) AS n_kgrams
              FROM toksq),
      per AS (SELECT w, count(*) AS n_fp FROM picked GROUP BY 1)
      SELECT CAST(p.w AS INTEGER) AS w, CAST(p.w + 3 AS INTEGER) AS t_guarantee,
             t.n_kgrams, p.n_fp,
             round(p.n_fp / t.n_kgrams, 6) AS density
      FROM per p, tot t""",
    // island segmentation: the span chain plus the lag + running
    // break-flag-sum gaps-and-islands split (gap > 2w = 8 breaks a run).
    "dedup_winnowing_islands" -> s"""
      $winnowSpanCtes,
      anch AS (SELECT s.da, s.db, a.p - b.p AS diag, a.p AS pa
               FROM shared s
               JOIN fpc2 a ON a.doc_id = s.da
               JOIN fpc2 b ON b.doc_id = s.db AND b.h = a.h),
      flg AS (SELECT da, db, diag, pa,
                     CASE WHEN lag(pa) OVER (PARTITION BY da, db, diag
                       ORDER BY pa) IS NULL
                       OR pa - lag(pa) OVER (PARTITION BY da, db, diag
                         ORDER BY pa) > 8 THEN 1 ELSE 0 END AS brk
              FROM anch),
      isl AS (SELECT da, db, diag, pa,
                     sum(brk) OVER (PARTITION BY da, db, diag ORDER BY pa
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
              FROM flg)
      SELECT da, db, CAST(diag AS BIGINT) AS diag, CAST(island AS BIGINT) AS island,
             count(*) AS n_anchors,
             CAST(min(pa) AS BIGINT) AS a_start,
             CAST(max(pa) + 3 AS BIGINT) AS a_end,
             CAST(min(pa) - diag AS BIGINT) AS b_start
      FROM isl GROUP BY da, db, diag, island
      HAVING count(*) >= 2""",
    "text_fingerprint" -> """
      SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
      FROM documents""",
    "dedup_exact" -> """
      SELECT md5(text) AS fp, min(doc_id) AS keep_id, count(*) AS n_dupes
      FROM documents GROUP BY md5(text)""",
    "dedup_ngram_jaccard" -> ngramJaccardSql,
    // same shingle/df-cap chain as the Jaccard oracle; the containment
    // predicates and the relation CASE evaluate the identical unrounded
    // ratios in both engines
    "dedup_containment" -> s"""
      WITH docs AS (SELECT doc_id, text FROM documents
                    UNION ALL
                    SELECT doc_id + 20000000, text || ' ' || upper(text)
                    FROM documents WHERE doc_id % 41 = 0),
      toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM docs),
      $shingleJaccardCtes
      SELECT da, db,
             round(inter / (x.n + y.n - inter), 6) AS jaccard,
             round(inter / x.n, 6) AS c_a,
             round(inter / y.n, 6) AS c_b,
             CASE WHEN inter / (x.n + y.n - inter) > 0.8 THEN 'near_duplicate'
                  WHEN inter / x.n > 0.8 AND NOT (inter / y.n > 0.8) THEN 'a_in_b'
                  WHEN inter / y.n > 0.8 AND NOT (inter / x.n > 0.8) THEN 'b_in_a'
                  ELSE 'mutual_overlap' END AS relation
      FROM pairs JOIN sizes x ON da = x.doc_id JOIN sizes y ON db = y.doc_id
      WHERE inter / x.n > 0.8 OR inter / y.n > 0.8""",
    "dedup_minhash_lsh" -> minhashPairsSql,
    // the append path re-derived from scratch (full corpus, full cap):
    // matching proves the engine's base-rows ∪ slice-built-rows union
    // equals the rebuild exactly, origins included
    "dedup_minhash_append" -> {
      def isB(c: String) =
        s"('0x' || substr(md5('inc' || $c::VARCHAR), 1, 15))::BIGINT % 8 = 0"
      s"""
      WITH $minhashBandCtes,
      prs AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
              FROM bands a JOIN bands b
                ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id)
      SELECT da, db,
             CASE WHEN ${isB("da")} AND ${isB("db")} THEN 'batch_batch'
                  WHEN ${isB("da")} OR ${isB("db")} THEN 'base_batch'
                  ELSE 'base_base' END AS origin
      FROM prs"""
    },
    "dedup_minhash_estimate" -> minhashEstimateSql,
    "text_domain_stats" -> """
      SELECT source || '.example.' ||
               (['com', 'org', 'net'])[CAST(doc_id % 3 + 1 AS INTEGER)] AS host,
             count(*) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS total_chars,
             count(DISTINCT lang) AS n_langs,
             min(doc_id) AS min_doc
      FROM documents GROUP BY 1""",
    "text_shingle_knn" -> shingleKnnSql,
    "text_quality_probe" -> """
      WITH f AS (SELECT source,
                        length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1000
                          // length(text) AS x1,
                        length(text) * 1000
                          // len(regexp_split_to_array(trim(text), '\s+')) AS x2,
                        CASE WHEN lang = 'en' THEN 1000 ELSE 0 END AS y
                 FROM documents),
      m AS (SELECT source, count(*) AS n,
                   sum(CAST(x1 AS HUGEINT)) AS s1, sum(CAST(x2 AS HUGEINT)) AS s2,
                   sum(CAST(y AS HUGEINT)) AS sy,
                   sum(CAST(x1 AS HUGEINT) * x1) AS s11,
                   sum(CAST(x1 AS HUGEINT) * x2) AS s12,
                   sum(CAST(x2 AS HUGEINT) * x2) AS s22,
                   sum(CAST(x1 AS HUGEINT) * y) AS s1y,
                   sum(CAST(x2 AS HUGEINT) * y) AS s2y
            FROM f GROUP BY source),
      dd AS (SELECT source, n,
                    CAST(n AS DOUBLE) AS dn, CAST(s1 AS DOUBLE) AS d1,
                    CAST(s2 AS DOUBLE) AS d2, CAST(sy AS DOUBLE) AS dy,
                    CAST(s11 AS DOUBLE) AS d11, CAST(s12 AS DOUBLE) AS d12,
                    CAST(s22 AS DOUBLE) AS d22, CAST(s1y AS DOUBLE) AS d1y,
                    CAST(s2y AS DOUBLE) AS d2y
             FROM m)
      SELECT source, n,
             round((dy * (d11 * d22 - d12 * d12) - d1 * (d1y * d22 - d12 * d2y)
                      + d2 * (d1y * d12 - d11 * d2y))
                   / (dn * (d11 * d22 - d12 * d12) - d1 * (d1 * d22 - d12 * d2)
                      + d2 * (d1 * d12 - d11 * d2)), 6) AS w0,
             round((dn * (d1y * d22 - d12 * d2y) - dy * (d1 * d22 - d12 * d2)
                      + d2 * (d1 * d2y - d1y * d2))
                   / (dn * (d11 * d22 - d12 * d12) - d1 * (d1 * d22 - d12 * d2)
                      + d2 * (d1 * d12 - d11 * d2)), 6) AS w1,
             round((dn * (d11 * d2y - d1y * d12) - d1 * (d1 * d2y - d1y * d2)
                      + dy * (d1 * d12 - d11 * d2))
                   / (dn * (d11 * d22 - d12 * d12) - d1 * (d1 * d22 - d12 * d2)
                      + d2 * (d1 * d12 - d11 * d2)), 6) AS w2
      FROM dd""",
    "dedup_source_matrix" -> s"""
      WITH pairs AS (${minhashPairsSql}),
      src AS (SELECT doc_id, source FROM documents)
      SELECT least(a.source, b.source) AS src_a,
             greatest(a.source, b.source) AS src_b,
             count(*) AS n_pairs
      FROM pairs JOIN src a ON pairs.da = a.doc_id
                 JOIN src b ON pairs.db = b.doc_id
      GROUP BY 1, 2""",
    "dedup_edit_verify" -> s"""
      WITH pairs AS (${minhashPairsSql}),
      t AS (SELECT doc_id, substr(text, 1, 256) AS t FROM documents)
      SELECT p.da, p.db,
             CAST(levenshtein(a.t, b.t) AS INTEGER) AS edit_dist,
             levenshtein(a.t, b.t) <= 20 AS is_dup
      FROM pairs p
      JOIN t a ON p.da = a.doc_id
      JOIN t b ON p.db = b.doc_id""",
    "dedup_incremental" -> incrementalSql,
    "dedup_simhash" -> simhashSql,
    "text_pii_redact" -> """
      SELECT doc_id,
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   text || ' contact user' || CAST(doc_id AS VARCHAR) ||
                     '@example.com from 10.0.' || CAST(doc_id % 256 AS VARCHAR) ||
                     '.' || CAST((doc_id * 7) % 256 AS VARCHAR) ||
                     ' tel 415-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                 '\b\d{1,3}(\.\d{1,3}){3}\b', '<IP>', 'g'),
               '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g') AS red_text
      FROM documents""",
    "text_repetition" -> """
      WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
      bg AS (SELECT doc_id,
                    list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1]) AS b
             FROM toks)
      SELECT doc_id,
             CASE WHEN len(b) > 0
                  THEN round(1.0 - len(list_distinct(b)) / CAST(len(b) AS DOUBLE), 6)
                  ELSE 0.0 END AS rep_ratio
      FROM bg""",
    "dedup_simhash_pairs" -> simhashPairsSql,
    "text_entropy" -> """
      WITH c AS (SELECT doc_id,
                        list_transform(range(1, length(text) + 1),
                                       i -> substr(text, CAST(i AS INTEGER), 1)) AS cs
                 FROM documents
                 WHERE length(text) > 0)
      SELECT doc_id,
             round(0.0 - CAST(list_aggregate(
               list_transform(list_distinct(cs), ch ->
                 CAST(round((len(list_filter(cs, x -> x = ch)) / CAST(len(cs) AS DOUBLE)) *
                            log2(len(list_filter(cs, x -> x = ch)) / CAST(len(cs) AS DOUBLE)) *
                            1000000) AS BIGINT)),
               'sum') AS DOUBLE) / 1000000.0, 6) AS char_entropy
      FROM c""",
    "text_dsir_weights" -> """
      WITH base AS (SELECT doc_id, lang,
                           regexp_split_to_array(trim(lower(text)), '\s+') AS t
                    FROM documents),
      uni AS (SELECT doc_id, lang, unnest(t) AS f FROM base),
      bi AS (SELECT doc_id, lang, t[i] || ' ' || t[i+1] AS f
             FROM base, LATERAL (SELECT unnest(range(1, len(t))) AS i) r),
      feats AS (SELECT doc_id, lang,
                       ('0x' || substr(md5(f), 1, 15))::BIGINT % 10000 AS b
                FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
                WHERE length(f) > 0),
      raw AS (SELECT b, count(*) AS cr FROM feats GROUP BY 1),
      tgt AS (SELECT b, count(*) AS ct FROM feats WHERE lang = 'en' GROUP BY 1),
      j AS (SELECT raw.b, raw.cr, coalesce(tgt.ct, 0) AS ct
            FROM raw LEFT JOIN tgt USING (b)),
      tots AS (SELECT sum(cr) AS tr, sum(ct) AS tt FROM j),
      ratio AS (SELECT b,
                       CAST(round(ln((ct + 1)::DOUBLE / (tt + 10000)) * 1000000) -
                            round(ln((cr + 1)::DOUBLE / (tr + 10000)) * 1000000)
                         AS BIGINT) AS lru
                FROM j, tots)
      SELECT f.doc_id, CAST(count(*) AS BIGINT) AS n_feats,
             round(CAST(sum(r.lru) AS DOUBLE) / 1000000.0, 6) AS dsir_weight
      FROM feats f JOIN ratio r USING (b)
      GROUP BY 1""",
    "dedup_bloom_probe" -> """
      WITH f AS (SELECT doc_id,
                        md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
                 FROM documents),
      bits AS (SELECT DISTINCT
                 ('0x' || substr(md5(fp || '_' || j), 1, 15))::BIGINT % 65536 AS pos
               FROM f, LATERAL (SELECT unnest(range(0, 4)) AS j) r
               WHERE doc_id % 20 <> 0),
      p0 AS (SELECT doc_id, fp FROM f WHERE doc_id % 20 = 0),
      pr AS (SELECT p0.doc_id,
                    CASE WHEN p0.doc_id % 40 = 0 AND l.fp IS NOT NULL
                         THEN l.fp ELSE p0.fp END AS fp
             FROM p0 LEFT JOIN f l ON l.doc_id = p0.doc_id + 1),
      pp AS (SELECT doc_id,
                    ('0x' || substr(md5(fp || '_' || j), 1, 15))::BIGINT % 65536 AS pos
             FROM pr, LATERAL (SELECT unnest(range(0, 4)) AS j) r),
      hits AS (SELECT doc_id, count(*) AS n_set
               FROM pp JOIN bits USING (pos) GROUP BY 1),
      ex AS (SELECT DISTINCT pr.doc_id
             FROM pr JOIN f tr ON pr.fp = tr.fp AND tr.doc_id % 20 <> 0)
      SELECT pr.doc_id,
             coalesce(h.n_set, 0) = 4 AS bloom_hit,
             e.doc_id IS NOT NULL AS exact_dup
      FROM pr
      LEFT JOIN hits h ON pr.doc_id = h.doc_id
      LEFT JOIN ex e ON pr.doc_id = e.doc_id""",
    "text_decontaminate" -> """
      WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
      sh0 AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+3], ' ') AS s
              FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 2)) AS i) r),
      sh AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h,
                    ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 100 < 10 AS bench
             FROM sh0),
      train AS (SELECT doc_id, h FROM sh WHERE NOT bench),
      hits AS (SELECT doc_id, count(*) AS nc FROM train
               WHERE h IN (SELECT DISTINCT h FROM sh WHERE bench) GROUP BY doc_id),
      tot AS (SELECT doc_id, count(*) AS n_shingles FROM train GROUP BY doc_id)
      SELECT t.doc_id, t.n_shingles,
             coalesce(h.nc, 0) AS n_contaminated,
             round(coalesce(h.nc, 0) / CAST(t.n_shingles AS DOUBLE), 6) AS contamination
      FROM tot t LEFT JOIN hits h ON t.doc_id = h.doc_id""",
    // the eval corpus is re-derived from the live documents table by the
    // staged table's exact churn rule (verbatim slice +10M, uppercased
    // slice +20M), so the second parquet table needs no DuckDB twin
    "text_cross_contamination" -> """
      WITH m AS (SELECT doc_id, text,
                        ('0x' || substr(md5('ev' || doc_id::VARCHAR), 1, 15))::BIGINT
                          % 100 AS m
                 FROM documents),
      ev AS (SELECT doc_id + 10000000 AS eval_id, text FROM m WHERE m < 10
             UNION ALL
             SELECT doc_id + 20000000, upper(text) FROM m WHERE m >= 10 AND m < 20),
      ttoks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
                FROM documents),
      tsh AS (SELECT DISTINCT
                ('0x' || substr(md5(array_to_string(t[i:i+3], ' ')), 1, 15))::BIGINT AS h
              FROM ttoks, LATERAL (SELECT unnest(range(1, len(t) - 2)) AS i) r),
      etoks AS (SELECT eval_id, regexp_split_to_array(trim(text), '\s+') AS t
                FROM ev),
      esh0 AS (SELECT DISTINCT eval_id, array_to_string(t[i:i+3], ' ') AS s
               FROM etoks, LATERAL (SELECT unnest(range(1, len(t) - 2)) AS i) r),
      esh AS (SELECT eval_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h FROM esh0),
      hits AS (SELECT eval_id, count(*) AS nc FROM esh
               WHERE h IN (SELECT h FROM tsh) GROUP BY 1),
      tot AS (SELECT eval_id, count(*) AS n_shingles FROM esh GROUP BY 1)
      SELECT t.eval_id, t.n_shingles,
             coalesce(h.nc, 0) AS n_contaminated,
             round(coalesce(h.nc, 0) / CAST(t.n_shingles AS DOUBLE), 6) AS contamination,
             coalesce(h.nc, 0) * 2 >= t.n_shingles AS contaminated
      FROM tot t LEFT JOIN hits h ON t.eval_id = h.eval_id""",
    "dedup_cross_minhash" -> crossMinhashSql,
    // the streamed gate's Bloom verdicts replayed relationally: the SAME
    // Kirsch-Mitzenmacher position sets ((h1 + j·h2) mod m over the
    // digest's two halves — one md5 per shingle) decide membership, so
    // hash-matching here reproduces the filter's false-positive behavior
    // exactly; the eval corpus is re-derived by the staged table's churn
    // rule as above
    "stream_contam_gate" -> """
      WITH m AS (SELECT doc_id, text,
                        ('0x' || substr(md5('ev' || doc_id::VARCHAR), 1, 15))::BIGINT
                          % 100 AS m
                 FROM documents),
      ev AS (SELECT text FROM m WHERE m < 10
             UNION ALL
             SELECT upper(text) FROM m WHERE m >= 10 AND m < 20),
      etoks AS (SELECT regexp_split_to_array(trim(text), '\s+') AS t FROM ev),
      eg AS (SELECT DISTINCT array_to_string(t[i:i+3], ' ') AS g
             FROM etoks, LATERAL (SELECT unnest(range(1, len(t) - 2)) AS i) r),
      eh AS (SELECT DISTINCT
               ('0x' || substr(md5(g), 1, 15))::BIGINT AS h1,
               ('0x' || substr(md5(g), 17, 15))::BIGINT % 36028797018963968 AS h2
             FROM eg),
      bits AS (SELECT DISTINCT (h1 + j * h2) % 65536 AS pos
               FROM eh, LATERAL (SELECT unnest(range(0, 4)) AS j) r),
      dtoks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
                FROM documents),
      dsh0 AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+3], ' ') AS s
               FROM dtoks, LATERAL (SELECT unnest(range(1, len(t) - 2)) AS i) r),
      dh AS (SELECT doc_id,
                    ('0x' || substr(md5(s), 1, 15))::BIGINT AS h1,
                    ('0x' || substr(md5(s), 17, 15))::BIGINT % 36028797018963968 AS h2
             FROM dsh0),
      tt AS (SELECT doc_id, count(*) AS n_sh FROM dh GROUP BY 1),
      hpos AS (SELECT h1, h2, (h1 + j * h2) % 65536 AS p
               FROM (SELECT DISTINCT h1, h2 FROM dh) u,
                    LATERAL (SELECT unnest(range(0, 4)) AS j) r),
      ch AS (SELECT h1, h2 FROM hpos LEFT JOIN bits ON hpos.p = bits.pos
             GROUP BY h1, h2 HAVING count(bits.pos) = 4),
      hits AS (SELECT doc_id, count(*) AS nc FROM dh
               JOIN ch USING (h1, h2) GROUP BY 1),
      v AS (SELECT d.doc_id, d.source,
                   coalesce(tt.n_sh, 0) AS n_sh, coalesce(hits.nc, 0) AS nc
            FROM (SELECT doc_id, source FROM documents) d
            LEFT JOIN tt ON d.doc_id = tt.doc_id
            LEFT JOIN hits ON d.doc_id = hits.doc_id)
      SELECT source,
             CASE WHEN n_sh > 0 AND 2 * nc >= n_sh THEN 'contam' ELSE 'clean' END
               AS verdict,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(nc) AS BIGINT) AS n_hits,
             CAST(min(doc_id) AS BIGINT) AS min_doc_id,
             CAST(max(doc_id) AS BIGINT) AS max_doc_id
      FROM v GROUP BY 1, 2""",
    "text_tfidf_topk" -> """
      WITH tk AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
                  FROM documents),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM tk
             WHERE length(term) > 0 GROUP BY 1, 2),
      df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      n AS (SELECT count(*) AS n_docs FROM documents),
      sc AS (SELECT tf.doc_id, tf.term,
                    round(tf.tf * ln(n.n_docs / CAST(df.df AS DOUBLE)), 6) AS score
             FROM tf JOIN df USING (term) CROSS JOIN n)
      SELECT doc_id, term, score,
             CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term)
                  AS INTEGER) AS rank
      FROM sc
      QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) <= 3""",
    "text_bm25_topk" -> """
      WITH tk AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
                  FROM documents),
      tok AS (SELECT doc_id, term FROM tk WHERE length(term) > 0),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
      dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
      df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      n AS (SELECT count(*) AS n_docs FROM documents),
      st AS (SELECT n_docs, CAST((SELECT sum(dl) FROM dl) AS DOUBLE) / n_docs AS avgdl
             FROM n),
      tfidf AS (SELECT tf.doc_id, tf.term,
                       round(tf.tf * ln(n.n_docs / CAST(df.df AS DOUBLE)), 6) AS score
                FROM tf JOIN df USING (term) CROSS JOIN n),
      q AS (SELECT doc_id AS q_doc, term FROM tfidf
            WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 100 < 2
            QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) <= 3),
      cu AS (SELECT q.q_doc, tf.doc_id,
                    CAST(round(ln(1 + (st.n_docs - df.df + 0.5) / (df.df + 0.5))
                         * ((tf.tf * 2.2)
                            / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl)))
                         * 1000000) AS BIGINT) AS cu
             FROM tf JOIN q USING (term) JOIN df USING (term)
             JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st
             WHERE tf.doc_id <> q.q_doc),
      sc AS (SELECT q_doc, doc_id, CAST(sum(cu) AS BIGINT) AS su FROM cu GROUP BY 1, 2)
      SELECT q_doc, doc_id, round(CAST(su AS DOUBLE) / 1000000.0, 6) AS bm25,
             CAST(row_number() OVER (PARTITION BY q_doc ORDER BY su DESC, doc_id)
                  AS INTEGER) AS rank
      FROM sc
      QUALIFY row_number() OVER (PARTITION BY q_doc ORDER BY su DESC, doc_id) <= 5""",
    "text_postings_compaction" -> postingsCompactionSql,
    // the SAME logical inventory: the append→fragment→merge loop must
    // lose nothing, so the merged layout hash-matches the compaction
    // oracle verbatim (the sim_ivfpq_recompaction shared-oracle rule)
    "text_postings_recompaction" -> postingsCompactionSql,
    "text_postings_bucketed_join" -> """
      WITH tk AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
                  FROM documents),
      tok AS (SELECT doc_id, term FROM tk WHERE length(term) > 0),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
      a AS (SELECT term, CAST(count(*) AS BIGINT) AS df_a FROM tf
            WHERE doc_id % 2 = 0 GROUP BY term),
      b AS (SELECT term, CAST(count(*) AS BIGINT) AS df_b FROM tf
            WHERE doc_id % 2 = 1 GROUP BY term)
      SELECT a.term, df_a, df_b, df_a - df_b AS df_gap
      FROM a JOIN b ON a.term = b.term""",
    "text_heavy_hitters" -> """
      WITH tk AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token
                  FROM documents),
      c AS (SELECT token, count(*) AS n FROM tk WHERE length(token) > 0 GROUP BY token)
      SELECT token, true AS in_sketch
      FROM c WHERE n > 0.02 * (SELECT sum(n) FROM c)""",
    // the CMS replayed position for position — estimate AND overestimation
    // bias must both hash-match
    "a23_countmin" -> """
      WITH tk AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token
                  FROM documents),
      tok AS (SELECT token FROM tk WHERE length(token) > 0),
      counts AS (SELECT token, count(*) AS exact_n FROM tok GROUP BY 1),
      probes AS (SELECT token, exact_n FROM counts
                 ORDER BY exact_n DESC, token LIMIT 10),
      pos AS (SELECT token, x.r,
                     ('0x' || substr(md5(token || '_' || x.r::VARCHAR), 1, 15))::BIGINT
                       % 1024 AS pos
              FROM tok, LATERAL (SELECT unnest(range(0, 4)) AS r) x),
      sk AS (SELECT r, pos, count(*) AS c FROM pos GROUP BY 1, 2),
      pp AS (SELECT p.token, p.exact_n, x.r,
                    ('0x' || substr(md5(p.token || '_' || x.r::VARCHAR), 1, 15))::BIGINT
                      % 1024 AS pos
             FROM probes p, LATERAL (SELECT unnest(range(0, 4)) AS r) x)
      SELECT pp.token, CAST(pp.exact_n AS BIGINT) AS exact_n,
             CAST(min(sk.c) AS BIGINT) AS cms_n
      FROM pp JOIN sk ON pp.r = sk.r AND pp.pos = sk.pos
      GROUP BY 1, 2""",
    "dedup_exact_substring" -> """
      WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
                  FROM documents),
      sp AS (SELECT doc_id,
                    ('0x' || substr(md5(array_to_string(t[i:i+15], ' ')), 1, 15))::BIGINT AS h
             FROM tk, LATERAL (SELECT unnest(range(1, len(t) - 14)) AS i) r
             WHERE len(t) >= 16),
      df AS (SELECT h, count(*) AS n_docs
             FROM (SELECT DISTINCT doc_id, h FROM sp) GROUP BY h)
      SELECT doc_id, count(*) AS n_spans,
             CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
             round(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END)
                   / CAST(count(*) AS DOUBLE), 6) AS dup_fraction
      FROM sp JOIN df USING (h)
      GROUP BY doc_id""",
    // the boundary rule (4-token rolling fingerprint % 16), the exclusive
    // prefix-sum chunk ids, and the chunk hashes replay relationally —
    // the windowed sum is the SQL twin of the engine's HOF prefix sum
    "dedup_cdc_chunks" -> """
      WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
                  FROM documents),
      pos AS (SELECT doc_id, i, t[i] AS tok,
                     CASE WHEN i >= 4 AND
                       ('0x' || substr(md5(array_to_string(t[i-3:i], ' ')), 1, 15))::BIGINT
                         % 16 = 0
                     THEN 1 ELSE 0 END AS bnd
              FROM tk, LATERAL (SELECT unnest(range(1, len(t) + 1)) AS i) r),
      cids AS (SELECT doc_id, i, tok,
                      coalesce(sum(bnd) OVER (PARTITION BY doc_id ORDER BY i
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cid
               FROM pos),
      ch AS (SELECT doc_id, cid, string_agg(tok, ' ' ORDER BY i) AS chunk
             FROM cids GROUP BY doc_id, cid),
      hs AS (SELECT doc_id, h, count(*) AS k FROM (
               SELECT doc_id, ('0x' || substr(md5(chunk), 1, 15))::BIGINT AS h FROM ch)
             GROUP BY doc_id, h),
      dfq AS (SELECT h, count(*) AS n_docs FROM hs GROUP BY h)
      SELECT hs.doc_id, CAST(sum(k) AS BIGINT) AS n_chunks,
             CAST(sum(CASE WHEN n_docs >= 2 THEN k ELSE 0 END) AS BIGINT) AS n_dup_chunks,
             round(sum(CASE WHEN n_docs >= 2 THEN k ELSE 0 END)
                   / CAST(sum(k) AS DOUBLE), 6) AS dup_fraction
      FROM hs JOIN dfq USING (h)
      GROUP BY hs.doc_id""",
    "text_bigram_logprob" -> """
      WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
                  FROM documents),
      bg AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2
             FROM tk, LATERAL (SELECT unnest(range(1, len(t))) AS i) r
             WHERE len(t) >= 2 AND length(t[i]) > 0 AND length(t[i+1]) > 0),
      c2 AS (SELECT w1, w2, count(*) AS n FROM bg GROUP BY 1, 2),
      c1 AS (SELECT w1, CAST(sum(n) AS BIGINT) AS nctx FROM c2 GROUP BY w1),
      lm AS (SELECT w1, w2,
                    CAST(round(ln(n / CAST(nctx AS DOUBLE)) * 1000000) AS BIGINT) AS lpu
             FROM c2 JOIN c1 USING (w1)),
      sc AS (SELECT doc_id, count(*) AS n_bigrams, CAST(sum(lpu) AS BIGINT) AS slp
             FROM bg JOIN lm USING (w1, w2) GROUP BY doc_id)
      SELECT doc_id, n_bigrams,
             round(CAST(-slp AS DOUBLE) / 1000000.0 / n_bigrams, 6) AS avg_neg_logprob2
      FROM sc""",
    // text_kn_heldout: the KN probability expression is written with the
    // IDENTICAL operation order as the Spark column tree (left-assoc
    // multiply/divide, 0.75 cast to DOUBLE) so the micro-unit rounding
    // sees bit-equal doubles in both engines
    "text_kn_heldout" -> """
      WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
                  FROM documents),
      bg AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2
             FROM tk, LATERAL (SELECT unnest(range(1, len(t))) AS i) r
             WHERE len(t) >= 2 AND length(t[i]) > 0 AND length(t[i+1]) > 0),
      c2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n FROM bg
             WHERE doc_id % 2 = 0 GROUP BY 1, 2),
      c1 AS (SELECT w1, CAST(sum(n) AS BIGINT) AS nctx,
                    CAST(count(*) AS BIGINT) AS ntypes FROM c2 GROUP BY w1),
      cont AS (SELECT w2, CAST(count(*) AS BIGINT) AS nleft FROM c2 GROUP BY w2),
      scal AS (SELECT (SELECT count(*) FROM c2) AS dd,
                      (SELECT count(DISTINCT tok)
                       FROM (SELECT unnest(t) AS tok FROM tk WHERE doc_id % 2 = 0)
                       WHERE length(tok) > 0) AS vv),
      sc AS (SELECT h.doc_id,
                    CASE WHEN c2.n IS NULL THEN 1 ELSE 0 END AS unseen,
                    CAST(round(ln(CASE
                      WHEN c2.n IS NOT NULL THEN
                        (c2.n - 0.75::DOUBLE) / c1.nctx
                          + 0.75::DOUBLE * c1.ntypes / c1.nctx
                            * ((coalesce(cont.nleft, 0) + 1) / CAST(s.dd + s.vv AS DOUBLE))
                      WHEN c1.nctx IS NOT NULL THEN
                        0.75::DOUBLE * c1.ntypes / c1.nctx
                          * ((coalesce(cont.nleft, 0) + 1) / CAST(s.dd + s.vv AS DOUBLE))
                      ELSE (coalesce(cont.nleft, 0) + 1) / CAST(s.dd + s.vv AS DOUBLE)
                      END) * 1000000) AS BIGINT) AS lpu_kn,
                    CAST(round(ln((coalesce(c2.n, 0) + 1)
                      / CAST(coalesce(c1.nctx, 0) + s.vv AS DOUBLE)) * 1000000)
                      AS BIGINT) AS lpu_a1
             FROM (SELECT * FROM bg WHERE doc_id % 2 = 1) h
             LEFT JOIN c2 ON c2.w1 = h.w1 AND c2.w2 = h.w2
             LEFT JOIN c1 ON c1.w1 = h.w1
             LEFT JOIN cont ON cont.w2 = h.w2
             CROSS JOIN scal s)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
             CAST(sum(unseen) AS BIGINT) AS n_unseen,
             round(CAST(-sum(lpu_kn) AS DOUBLE) / 1000000.0 / count(*), 6) AS nlp_kn,
             round(CAST(-sum(lpu_a1) AS DOUBLE) / 1000000.0 / count(*), 6) AS nlp_addone
      FROM sc GROUP BY doc_id""",
    "text_unigram_logprob" -> unigramScoreSql,
    "text_ppl_bucket" -> s"""
      WITH sc AS (SELECT * FROM ($unigramScoreSql)),
      cuts AS (SELECT round(quantile_cont(avg_neg_logprob, CAST(1 AS DOUBLE)/3), 6) AS c1,
                      round(quantile_cont(avg_neg_logprob, CAST(2 AS DOUBLE)/3), 6) AS c2
               FROM sc)
      SELECT doc_id, avg_neg_logprob,
             CASE WHEN avg_neg_logprob <= c1 THEN 'head'
                  WHEN avg_neg_logprob <= c2 THEN 'middle'
                  ELSE 'tail' END AS ppl_bucket
      FROM sc CROSS JOIN cuts""",
    "text_top_tokens" -> """
      WITH tk AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token
                  FROM documents),
      c AS (SELECT token, count(*) AS n FROM tk WHERE length(token) > 0 GROUP BY token)
      SELECT token, n,
             CAST(row_number() OVER (ORDER BY n DESC, token) AS INTEGER) AS rank
      FROM c QUALIFY row_number() OVER (ORDER BY n DESC, token) <= 100""",
    "text_vocab_overlap" -> """
      WITH tk AS (SELECT source, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
                  FROM documents),
      c AS (SELECT source, token, count(*) AS n FROM tk
            WHERE length(token) > 0 GROUP BY 1, 2),
      top AS (SELECT source, token FROM c
              QUALIFY row_number() OVER (PARTITION BY source
                ORDER BY n DESC, token) <= 100),
      szs AS (SELECT source, count(*) AS nv FROM top GROUP BY 1),
      com AS (SELECT a.source AS sa, b.source AS sb, count(*) AS n_common
              FROM top a JOIN top b ON a.token = b.token AND a.source < b.source
              GROUP BY 1, 2)
      SELECT c.sa, c.sb, c.n_common,
             round(c.n_common / (x.nv + y.nv - c.n_common), 6) AS jaccard
      FROM com c JOIN szs x ON c.sa = x.source JOIN szs y ON c.sb = y.source""",
    "pipeline_filter_dedup" -> s"""
      WITH neardup AS (SELECT DISTINCT db FROM ($ngramJaccardSql)),
      quality AS (SELECT doc_id FROM documents
                  WHERE round(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                          / CAST(length(text) AS DOUBLE), 6) >= 0.81),
      english AS (SELECT doc_id
                  FROM (${graft.functions.LangId.langIdSql})
                  WHERE lang_pred = 'en')
      SELECT q.doc_id FROM quality q
      JOIN english e ON q.doc_id = e.doc_id
      WHERE NOT EXISTS (SELECT 1 FROM neardup n WHERE n.db = q.doc_id)""",
    "pipeline_train_mix" -> trainMixSql,
    // the incremental twin must equal the full recompute — the
    // sufficient-statistic contract, one SQL definition of the mix
    "pipeline_mix_incremental" -> trainMixSql,
    // the severity-gated mix: the same survivor chain with the
    // expectation suite's documents policy applied — error floor
    // excluded, warn floor counted per source
    "pipeline_train_mix_gated" -> s"""
      WITH $gatedMixCtes
      SELECT t.source, t.n_docs, t.n_tokens, t.n_warn, t.thr,
             CAST(sum(CASE WHEN ('0x' || substr(md5(s.doc_id::VARCHAR), 1, 15))::BIGINT
                                % 10000 < t.thr
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      FROM surv s JOIN t ON s.source = t.source
      GROUP BY 1, 2, 3, 4, 5""",
    // the packed training set under the SAME gated-mix selection — the
    // shared CTE chain guarantees the two oracles can never disagree on
    // what "kept" means
    "pipeline_mix_packing" -> s"""
      WITH $gatedMixCtes,
      kept AS (SELECT s.doc_id, s.source, s.toks, md5(s.doc_id::VARCHAR) AS ord
               FROM surv s JOIN t ON s.source = t.source
               WHERE ('0x' || substr(md5(s.doc_id::VARCHAR), 1, 15))::BIGINT
                     % 10000 < t.thr),
      placed AS (SELECT source, toks,
                        CAST(coalesce(sum(toks) OVER (PARTITION BY source
                          ORDER BY ord, doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                          AS BIGINT) AS start
                 FROM kept)
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs_kept,
             CAST(sum(toks) AS BIGINT) AS n_tokens_kept,
             CAST((sum(toks) + 511) // 512 AS BIGINT) AS n_bins,
             CAST(sum(CASE WHEN (start + toks - 1) // 512 > start // 512
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_crossing
      FROM placed GROUP BY source""",
    // the decontaminated mix shares the gated chain's CTEs verbatim and
    // re-derives the eval corpus by the staged table's churn rule — one
    // SQL definition each of "kept" and of the second corpus
    "pipeline_mix_decontaminated" -> s"""
      WITH $gatedMixCtes,
      $evalCorpusCtes,
      eset AS (SELECT DISTINCT
                 ('0x' || substr(md5(array_to_string(t[i:i+3], ' ')), 1, 15))::BIGINT AS h
               FROM etoks, LATERAL (SELECT unnest(range(1, len(t) - 2)) AS i) r),
      dtoks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
                FROM documents),
      tsh0 AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+3], ' ') AS s
               FROM dtoks, LATERAL (SELECT unnest(range(1, len(t) - 2)) AS i) r),
      tsh AS (SELECT doc_id,
                     ('0x' || substr(md5(s), 1, 15))::BIGINT AS h
              FROM tsh0),
      tt AS (SELECT doc_id, count(*) AS n_sh FROM tsh GROUP BY 1),
      th AS (SELECT doc_id, count(*) AS nc FROM tsh
             WHERE h IN (SELECT h FROM eset) GROUP BY 1),
      contam AS (SELECT tt.doc_id FROM tt JOIN th ON tt.doc_id = th.doc_id
                 WHERE 2 * th.nc >= tt.n_sh),
      surv2 AS (SELECT * FROM surv
                WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
      cc AS (SELECT s.source, CAST(count(*) AS BIGINT) AS nc
             FROM surv s JOIN contam c ON s.doc_id = c.doc_id GROUP BY 1),
      c2 AS (SELECT s.source, CAST(count(*) AS BIGINT) AS n_docs,
                    CAST(sum(s.toks) AS BIGINT) AS n_tokens,
                    CAST(sum(s.warned) AS BIGINT) AS n_warn,
                    CAST(coalesce(any_value(cc.nc), 0) AS BIGINT) AS n_contam
             FROM surv2 s LEFT JOIN cc ON s.source = cc.source
             GROUP BY s.source),
      t2 AS (SELECT source, n_docs, n_tokens, n_warn, n_contam,
                    CAST(least(10000, (10000 * CAST(sum(n_docs) OVER () AS BIGINT))
                                      // (count(*) OVER () * n_docs)) AS BIGINT) AS thr
             FROM c2)
      SELECT t.source, t.n_docs, t.n_tokens, t.n_warn, t.n_contam, t.thr,
             CAST(sum(CASE WHEN ('0x' || substr(md5(s.doc_id::VARCHAR), 1, 15))::BIGINT
                                % 10000 < t.thr
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      FROM surv2 s JOIN t2 t ON s.source = t.source
      GROUP BY 1, 2, 3, 4, 5, 6""",
    "text_quality_auc" -> s"""
      WITH f AS (
        SELECT source, $qualityLogitSql),
      g AS (SELECT source, logit_u,
                   CAST(sum(y) AS BIGINT) AS pos_g,
                   CAST(count(*) - sum(y) AS BIGINT) AS neg_g
            FROM f GROUP BY 1, 2),
      cum AS (SELECT *,
                     coalesce(CAST(sum(neg_g) OVER (PARTITION BY source ORDER BY logit_u
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
                              0) AS neg_below
              FROM g)
      SELECT source,
             CAST(sum(pos_g) AS BIGINT) AS n_pos,
             CAST(sum(neg_g) AS BIGINT) AS n_neg,
             CASE WHEN sum(pos_g) > 0 AND sum(neg_g) > 0
                  THEN round(CAST(sum(pos_g * (2 * neg_below + neg_g)) AS BIGINT)
                             / (2.0 * sum(pos_g) * sum(neg_g)), 6)
             END AS auc
      FROM cum GROUP BY 1""",
    "text_quality_calibration" -> s"""
      WITH f AS (
        SELECT $qualityLogitSql),
      b AS (SELECT CAST(floor(logit_u / 10000.0) AS BIGINT) AS bin, logit_u, y FROM f),
      g AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(y) AS BIGINT) AS n_pos,
                   CAST(sum(logit_u) AS BIGINT) AS sum_logit
            FROM b GROUP BY 1),
      per AS (SELECT bin, n, n_pos,
                     CAST(round(CAST(sum_logit AS DOUBLE) / n) AS BIGINT) AS claimed_u,
                     CAST(round(ln((n_pos + 1) / CAST(n - n_pos + 1 AS DOUBLE))
                                * 1000000) AS BIGINT) AS emp_u
              FROM g),
      pg AS (SELECT bin, n, n_pos, claimed_u, emp_u,
                    abs(claimed_u - emp_u) AS gap_u,
                    abs(claimed_u - emp_u) <= 1000000 AS calibrated
             FROM per)
      SELECT * FROM pg
      UNION ALL
      SELECT 999, CAST(sum(n) AS BIGINT), CAST(sum(n_pos) AS BIGINT),
             CAST(round(CAST(sum(n * claimed_u) AS DOUBLE) / sum(n)) AS BIGINT),
             CAST(round(CAST(sum(n * emp_u) AS DOUBLE) / sum(n)) AS BIGINT),
             CAST(round(CAST(sum(n * gap_u) AS DOUBLE) / sum(n)) AS BIGINT),
             CAST(round(CAST(sum(n * gap_u) AS DOUBLE) / sum(n)) AS BIGINT) <= 1000000
      FROM pg""",
  )
}
