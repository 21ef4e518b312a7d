package graft.oracle

import org.apache.spark.sql.SparkSession
import graft.queries.Similarity.{KnnBlocks, KnnIters, KnnK, LblBlocks, LblK,
  RerankShortlist, covarianceMatrix, opqBasis, whitenedBasis}

/** DuckDB oracle SQL for [[graft.queries.Similarity]]'s queries. */
object Similarity {
  /** The embedding corpus as DuckDB double lists, `c(vec_id, v)`. */
  private val corpusCte = "c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)"

  /** Per-dimension integer micro-unit coordinates over [[corpusCte]]: one
    * (vec_id, `dim`, xu) row per vector dimension, `dim` 0-based and
    * xu = round(v[i] * 10^6) — the SQL twin of the engine's `vu` arrays.
    */
  private def microUnitsSql(dim: String): String =
    s"""SELECT vec_id, i - 1 AS $dim, CAST(round(v[i] * 1000000) AS BIGINT) AS xu
             FROM c, LATERAL (SELECT unnest(range(1, len(v) + 1)) AS i) r"""

  /** The micro-unit coordinates of [[microUnitsSql]] split into 8-wide
    * PQ subspaces: one (vec_id, sb, wd, xu) row per dimension, `sb` the
    * subspace and `wd` the offset within it.
    */
  private val subspaceUnitsSql =
    """SELECT vec_id, (i - 1) // 8 AS sb, (i - 1) % 8 AS wd,
                    CAST(round(v[i] * 1000000) AS BIGINT) AS xu
             FROM c, LATERAL (SELECT unnest(range(1, len(v) + 1)) AS i) r"""

  /** The exact integer-L2² top-5 truth over a coordinate table `coords`
    * joined on its coordinate columns `keys`: `dist` holds every probe's
    * (vec_id < 10) squared distance to every other vector, `top` its 5
    * nearest, ties broken by vec_id — the SQL twin of [[graft.queries.Similarity.pqExactTop5]].
    */
  private def exactTop5Ctes(coords: String, keys: Seq[String],
      dist: String, top: String): String =
    s"""${probeD2Cte(coords, keys, dist)},
      $top AS (SELECT q_id, vec_id FROM $dist
            $top5Cut)"""

  /** Every probe's (vec_id < 10) squared micro-unit distance to every
    * other vector: `dist(q_id, vec_id, d2)`.
    */
  private def probeD2Cte(coords: String, keys: Seq[String], dist: String): String =
    s"""
      $dist AS (SELECT p.vec_id AS q_id, b.vec_id,
                    sum((p.xu - b.xu) * (p.xu - b.xu)) AS d2
             FROM $coords p JOIN $coords b ON ${keys.map(k => s"p.$k = b.$k").mkString(" AND ")}
             WHERE p.vec_id < 10 AND b.vec_id <> p.vec_id
             GROUP BY 1, 2)"""

  /** The per-probe top-5 cut by (d2, vec_id). */
  private val top5Cut = "QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY d2, vec_id) <= 5"

  /** Recall@5 per probe of an approximate top-5 CTE `a` against the truth
    * CTE `x` — the oracle twin of [[graft.queries.Similarity.recallAt5]].
    */
  private val recallAt5Sql = """
      SELECT x.q_id, CAST(count(a.vec_id) AS BIGINT) AS n_hits,
             round(count(a.vec_id) / 5.0, 6) AS recall
      FROM x LEFT JOIN a ON x.q_id = a.q_id AND x.vec_id = a.vec_id
      GROUP BY x.q_id"""

  /** Recall@5 of the `(q_id, vec_id)` rows of `approxSql` against the
    * exact integer-L2² truth on the [[quantVuCtes]] coordinates.
    */
  private def exactRecallSql(approxSql: String): String =
    s"""$quantVuCtes,${exactTop5Ctes("vu", Seq("dim"), "ex", "x")},
      a AS (SELECT q_id, vec_id FROM ($approxSql))$recallAt5Sql"""

  /** The exact re-rank tail of a PQ shortlist: `short` keeps the
    * `depth` best ADC rows of `adc(q_id, vec_id, adc_u)`, `ex` their
    * exact integer-L2² distances over `xu`, and the select the top-5 with
    * exact distances and ranks.
    */
  private def exactRerankSql(adc: String, depth: Int, short: String, ex: String): String =
    s"""$short AS (SELECT q_id, vec_id FROM $adc
                 QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY adc_u, vec_id) <= $depth),
      $ex AS (SELECT s.q_id, s.vec_id,
                     CAST(sum((p.xu - b.xu) * (p.xu - b.xu)) AS BIGINT) AS d2
              FROM $short s JOIN xu p ON p.vec_id = s.q_id
              JOIN xu b ON b.vec_id = s.vec_id AND b.sb = p.sb AND b.wd = p.wd
              GROUP BY 1, 2)
      SELECT q_id, vec_id,
             round(CAST(d2 AS DOUBLE) / 1000000000000.0, 6) AS exact_d2,
             CAST(row_number() OVER (PARTITION BY q_id ORDER BY d2, vec_id) AS INTEGER) AS rank
      FROM $ex
      $top5Cut"""

  /** DuckDB SQL for emb_pca_topk with the eigenbasis embedded as literals —
    * generated at Verify time (the basis depends on the data dir, so it
    * cannot be a static string). Both engines then run the IDENTICAL
    * computation: a sequential dot product against the same double
    * literals, minus the same mean-offset scalar, rounded to 6dp —
    * `java.lang.Double.toString` prints the shortest round-tripping
    * representation, so DuckDB parses back the exact same doubles and the
    * projection hash-matches bit-for-bit. The eigensolve itself is
    * deterministic (Eigen.symmetric: fixed sweep order, sign convention,
    * tie-broken sort), so generating the oracle from the same covariance
    * moments the query uses is a re-derivation, not a copy of the answer:
    * the distributed work under test — the moments pass and the projection
    * pass — is recomputed independently by DuckDB from the raw parquet.
    */
  def pcaOracleSql(s: SparkSession, d: String): String = {
    val (cov, mean) = covarianceMatrix(s, d)
    val (_, vecs) = graft.functions.Eigen.symmetric(cov)
    basisProjSql(vecs.take(4).toSeq, mean, "pc")
  }

  /** DuckDB SQL for emb_whitening — same literal-embedding scheme as
    * [[pcaOracleSql]], over the variance-normalized basis.
    */
  def whiteningOracleSql(s: SparkSession, d: String): String = {
    val (basis, mean) = whitenedBasis(s, d, 4)
    basisProjSql(basis, mean, "w")
  }

  /** DuckDB SQL for sim_opq_code_gain, generated at Verify time (the
    * rotation depends on the data dir). The d×d snake-allocated eigenbasis
    * and the mean vector embed as double literals
    * (`java.lang.Double.toString` → shortest round-tripping repr, the
    * [[pcaOracleSql]] discipline); DuckDB then replays all three rungs —
    * coordinate build, seed assignment, one Lloyd update, re-encode,
    * min-d2 total — in the same exact integer arithmetic as the Spark
    * pipeline, so the totals hash-match bit-for-bit.
    */
  def opqOracleSql(s: SparkSession, d: String): String = {
    val (basis, mean) = opqBasis(s, d)
    val dim = mean.length
    def out(sfx: String, scheme: String) = s"""
      SELECT '$scheme' AS scheme, tot_$sfx.t AS total_qerr_u,
             round(CAST(tot_$sfx.t AS DOUBLE) / n.n / $dim.0
               / 1000000000000.0, 6) AS mse
      FROM tot_$sfx, n"""
    def tot(sfx: String) = s""",
      q_$sfx AS (SELECT vec_id, sb, d2 FROM cd_$sfx
                 QUALIFY row_number() OVER (PARTITION BY vec_id, sb
                   ORDER BY d2, c_id) = 1),
      tot_$sfx AS (SELECT CAST(sum(d2) AS BIGINT) AS t FROM q_$sfx)"""
    s"""${opqSqlPrefix(basis, mean)},${opqTrainChain("raw")},${opqTrainChain("cen")},${opqTrainChain("opq")}${tot("raw")}${tot("cen")}${tot("opq")}
      ${out("raw", "raw")}
      UNION ALL${out("cen", "centered")}
      UNION ALL${out("opq", "opq")}"""
  }

  /** Shared WITH-clause head of the generated OPQ oracles: corpus, count,
    * mean/basis literals, and the three coordinate tables (raw, centered,
    * rotated). Unreferenced CTEs are inert, so both consumers share one
    * prefix.
    */
  private def opqSqlPrefix(
      basis: Seq[Array[Double]], mean: Array[Double]): String = {
    def dstr(x: Double) = java.lang.Double.toString(x)
    val mLit = mean.map(dstr).mkString("[", ", ", "]")
    val bRows = basis.zipWithIndex.map { case (vj, j) =>
      val off = mean.indices.map(i => mean(i) * vj(i)).sum
      s"(${j + 1}, ${vj.map(dstr).mkString("[", ", ", "]")}, ${dstr(off)})"
    }.mkString(",\n        ")
    s"""
      WITH $corpusCte,
      n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM c),
      ml AS (SELECT $mLit AS m),
      bs(j, bj, offj) AS (VALUES
        $bRows),
      xu_raw AS ($subspaceUnitsSql),
      xu_cen AS (SELECT vec_id, (i - 1) // 8 AS sb, (i - 1) % 8 AS wd,
                        CAST(round((v[i] - ml.m[i]) * 1000000) AS BIGINT) AS xu
                 FROM c, LATERAL (SELECT unnest(range(1, len(v) + 1)) AS i) r, ml),
      xu_opq AS (SELECT vec_id, (j - 1) // 8 AS sb, (j - 1) % 8 AS wd,
                        CAST(round((list_dot_product(v, bj) - offj) * 1000000)
                          AS BIGINT) AS xu
                 FROM c CROSS JOIN bs)"""
  }

  /** The per-scheme train/encode replay (seed assignment → one Lloyd
    * update → re-encode distances), instantiated per coordinate-table
    * suffix — shared by the code-gain and recall OPQ oracles.
    */
  private def opqTrainChain(sfx: String): String = s"""
      seeds_$sfx AS (SELECT vec_id AS c_id, sb, wd, xu AS cu
                     FROM xu_$sfx WHERE vec_id < 16),
      a1d_$sfx AS (SELECT x.vec_id, x.sb, s.c_id,
                          sum((x.xu - s.cu) * (x.xu - s.cu)) AS d2
                   FROM xu_$sfx x JOIN seeds_$sfx s
                     ON x.sb = s.sb AND x.wd = s.wd
                   GROUP BY 1, 2, 3),
      a1_$sfx AS (SELECT vec_id, sb, c_id FROM a1d_$sfx
                  QUALIFY row_number() OVER (PARTITION BY vec_id, sb
                    ORDER BY d2, c_id) = 1),
      cents_$sfx AS (SELECT x.sb, a.c_id, x.wd,
                            CAST(round(CAST(sum(x.xu) AS DOUBLE) / count(*))
                              AS BIGINT) AS cu
                     FROM a1_$sfx a JOIN xu_$sfx x
                       ON a.vec_id = x.vec_id AND a.sb = x.sb
                     GROUP BY 1, 2, 3),
      cd_$sfx AS (SELECT x.vec_id, x.sb, k.c_id,
                         sum((x.xu - k.cu) * (x.xu - k.cu)) AS d2
                  FROM xu_$sfx x JOIN cents_$sfx k
                    ON x.sb = k.sb AND x.wd = k.wd
                  GROUP BY 1, 2, 3)"""

  /** One scheme's PQ encode over its `cd_<sfx>` distances: each vector's
    * nearest centroid per subspace (`codes_<sfx>`) and the probes' (vec_id
    * < 10) lookup tables (`lut_<sfx>`).
    */
  private def opqCodesLutCtes(sfx: String): String = s"""
      codes_$sfx AS (SELECT vec_id, sb, c_id FROM cd_$sfx
                     QUALIFY row_number() OVER (PARTITION BY vec_id, sb
                       ORDER BY d2, c_id) = 1),
      lut_$sfx AS (SELECT vec_id AS q_id, sb, c_id, d2
                   FROM cd_$sfx WHERE vec_id < 10)"""

  /** A scheme's ADC shortlist `short` re-ranked to its exact top-5 by the
    * raw-space `ex` distances (`rr_<sfx>`), and its hits against the exact
    * truth `x` (`hit_<sfx>`).
    */
  private def rerankHitCtes(sfx: String, short: String): String = s"""
      rr_$sfx AS (SELECT e.q_id, e.vec_id
                  FROM ex e JOIN $short t
                    ON e.q_id = t.q_id AND e.vec_id = t.vec_id
                  QUALIFY row_number() OVER (PARTITION BY e.q_id
                    ORDER BY e.d2, e.vec_id) <= 5),
      hit_$sfx AS (SELECT count(*) AS n FROM rr_$sfx r
                   JOIN x ON r.q_id = x.q_id AND r.vec_id = x.vec_id)"""

  /** DuckDB SQL for stream_opq_encode — the [[opqOracleSql]] machinery
    * cut down to the rotated code table itself: DuckDB independently
    * rotates, trains, and encodes, and the STREAMED per-row encode must
    * land on the identical (vec_id, sub, c_id) set.
    */
  def opqStreamCodesSql(s: SparkSession, d: String): String = {
    val (basis, mean) = opqBasis(s, d)
    s"""${opqSqlPrefix(basis, mean)},${opqTrainChain("opq")}
      SELECT vec_id, sb AS sub, c_id FROM cd_opq
      QUALIFY row_number() OVER (PARTITION BY vec_id, sb ORDER BY d2, c_id) = 1"""
  }

  /** DuckDB SQL for stream_opq_probe — the rotated-space ADC top-5 per
    * probe: the [[opqSqlPrefix]]/[[opqTrainChain]] train/encode replay
    * feeding per-probe LUTs and the code-table join, ranked to 5. The
    * streamed rotate→LUT→join path must land on the identical table.
    */
  def opqAdcProbeSql(s: SparkSession, d: String): String = {
    val (basis, mean) = opqBasis(s, d)
    s"""${opqSqlPrefix(basis, mean)},${opqTrainChain("opq")},
      pcodes AS (SELECT vec_id, sb, c_id FROM cd_opq
                 QUALIFY row_number() OVER (PARTITION BY vec_id, sb
                   ORDER BY d2, c_id) = 1),
      plut AS (SELECT vec_id AS q_id, sb, c_id, d2 FROM cd_opq WHERE vec_id < 10),
      padc AS (SELECT l.q_id, cds.vec_id, CAST(sum(l.d2) AS BIGINT) AS adc_u
               FROM pcodes cds JOIN plut l ON cds.sb = l.sb AND cds.c_id = l.c_id
               WHERE cds.vec_id <> l.q_id
               GROUP BY 1, 2)
      SELECT q_id, vec_id, round(adc_u / 1000000000000.0, 6) AS adc_d2,
             CAST(row_number() OVER (PARTITION BY q_id
               ORDER BY adc_u, vec_id) AS INTEGER) AS rank
      FROM padc
      QUALIFY row_number() OVER (PARTITION BY q_id
        ORDER BY adc_u, vec_id) <= 5"""
  }

  /** DuckDB SQL for sim_opq_train_curve — the pqTrainCurveSql round
    * structure reading the [[opqSqlPrefix]]'s rotated xu_opq coordinates
    * (generated: the basis/mean enter as literals). Per round one
    * distance table serves both that round's error total and the next
    * round's re-assignment, same as the raw-space replay.
    */
  def opqTrainCurveSql(s: SparkSession, d: String): String = {
    val (basis, mean) = opqBasis(s, d)
    def dist(cents: String, out: String) = s""",
      $out AS (SELECT x.vec_id, x.sb, k.c_id,
                      sum((x.xu - k.cu) * (x.xu - k.cu)) AS d2
               FROM xu_opq x JOIN $cents k ON x.sb = k.sb AND x.wd = k.wd
               GROUP BY 1, 2, 3)"""
    def update(assign: String, out: String) = s""",
      $out AS (SELECT x.sb, a.c_id, x.wd,
                      CAST(round(CAST(sum(x.xu) AS DOUBLE) / count(*))
                        AS BIGINT) AS cu
               FROM $assign a JOIN xu_opq x
                 ON a.vec_id = x.vec_id AND a.sb = x.sb
               GROUP BY 1, 2, 3)"""
    def argmin(dt: String, out: String) = s""",
      $out AS (SELECT vec_id, sb, c_id FROM $dt
               QUALIFY row_number() OVER (PARTITION BY vec_id, sb
                 ORDER BY d2, c_id) = 1)"""
    def tot(dt: String, out: String) = s""",
      $out AS (SELECT CAST(sum(d2) AS BIGINT) AS t FROM (
                 SELECT d2 FROM $dt
                 QUALIFY row_number() OVER (PARTITION BY vec_id, sb
                   ORDER BY d2, c_id) = 1))"""
    val rounds = (1 to 4).map { k =>
      val in = if (k == 1) argmin("oa1d", "oa1") + update("oa1", "oc1")
      else argmin(s"odist${k - 1}", s"oa$k") + update(s"oa$k", s"oc$k")
      in + dist(s"oc$k", s"odist$k") + tot(s"odist$k", s"ot$k")
    }.mkString
    val outs = (1 to 4).map { k =>
      s"""
      SELECT CAST($k AS INTEGER) AS iter, ot$k.t AS total_qerr_u,
             round(CAST(ot$k.t AS DOUBLE) / n.n / 64.0
               / 1000000000000.0, 6) AS mse
      FROM ot$k, n"""
    }.mkString("\n      UNION ALL")
    s"""${opqSqlPrefix(basis, mean)},
      oseeds AS (SELECT vec_id AS c_id, sb, wd, xu AS cu
                 FROM xu_opq WHERE vec_id < 16),
      oa1d AS (SELECT x.vec_id, x.sb, s.c_id,
                      sum((x.xu - s.cu) * (x.xu - s.cu)) AS d2
               FROM xu_opq x JOIN oseeds s ON x.sb = s.sb AND x.wd = s.wd
               GROUP BY 1, 2, 3)$rounds
      $outs"""
  }

  /** DuckDB SQL for pipeline_hybrid_retrieval — the OPQ train/encode
    * replay feeding a depth-50 ADC leg, the static BM25 chain (probes
    * doc_id < 10) feeding the depth-50 lexical leg, and the RRF fusion
    * tail — every stage the same arithmetic as its standalone oracle.
    */
  def hybridRetrievalSql(s: SparkSession, d: String): String = {
    val (basis, mean) = opqBasis(s, d)
    s"""${hybridCtes(basis, mean)}
      SELECT q_id, cand, round(rrf_u / 1000000.0, 6) AS rrf, n_legs,
             CAST(row_number() OVER (PARTITION BY q_id
               ORDER BY rrf_u DESC, cand) AS INTEGER) AS rank
      FROM hf
      QUALIFY row_number() OVER (PARTITION BY q_id
        ORDER BY rrf_u DESC, cand) <= 10"""
  }

  /** The WITH chain both hybrid oracles share: the OPQ train/encode
    * replay, the depth-50 ADC leg (dtop), the BM25 chain at doc_id < 10
    * (ltop), and the RRF fusion (hf).
    */
  private def hybridCtes(
      basis: Seq[Array[Double]], mean: Array[Double]): String = {
    s"""${opqSqlPrefix(basis, mean)},${opqTrainChain("opq")},
      hcodes AS (SELECT vec_id, sb, c_id FROM cd_opq
                 QUALIFY row_number() OVER (PARTITION BY vec_id, sb
                   ORDER BY d2, c_id) = 1),
      hlut AS (SELECT vec_id AS q_id, sb, c_id, d2 FROM cd_opq WHERE vec_id < 10),
      hadc AS (SELECT l.q_id, cds.vec_id, CAST(sum(l.d2) AS BIGINT) AS adc_u
               FROM hcodes cds JOIN hlut l ON cds.sb = l.sb AND cds.c_id = l.c_id
               WHERE cds.vec_id <> l.q_id
               GROUP BY 1, 2),
      dtop AS (SELECT q_id, vec_id AS cand,
                      row_number() OVER (PARTITION BY q_id
                        ORDER BY adc_u, vec_id) AS rank
               FROM hadc
               QUALIFY row_number() OVER (PARTITION BY q_id
                 ORDER BY adc_u, vec_id) <= 50),
      htk AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
              FROM documents),
      htok AS (SELECT doc_id, term FROM htk WHERE length(term) > 0),
      htf AS (SELECT doc_id, term, count(*) AS tf FROM htok GROUP BY 1, 2),
      hdl AS (SELECT doc_id, count(*) AS dl FROM htok GROUP BY 1),
      hdf AS (SELECT term, count(*) AS df FROM htf GROUP BY term),
      hn AS (SELECT count(*) AS n_docs FROM documents),
      hst AS (SELECT n_docs,
                     CAST((SELECT sum(dl) FROM hdl) AS DOUBLE) / n_docs AS avgdl
              FROM hn),
      hq AS (SELECT doc_id AS q_doc, term
             FROM (SELECT htf.doc_id, htf.term,
                          round(htf.tf * ln(hn.n_docs / CAST(hdf.df AS DOUBLE)), 6)
                            AS score
                   FROM htf JOIN hdf USING (term) CROSS JOIN hn
                   WHERE htf.doc_id < 10)
             QUALIFY row_number() OVER (PARTITION BY doc_id
               ORDER BY score DESC, term) <= 3),
      hcu AS (SELECT hq.q_doc, htf.doc_id,
                     CAST(round(ln(1 + (hst.n_docs - hdf.df + 0.5) / (hdf.df + 0.5))
                          * ((htf.tf * 2.2)
                             / (htf.tf + 1.2 * (0.25 + 0.75 * hdl.dl / hst.avgdl)))
                          * 1000000) AS BIGINT) AS cu
              FROM htf JOIN hq USING (term) JOIN hdf USING (term)
              JOIN hdl ON htf.doc_id = hdl.doc_id CROSS JOIN hst
              WHERE htf.doc_id <> hq.q_doc),
      hsc AS (SELECT q_doc, doc_id, CAST(sum(cu) AS BIGINT) AS su
              FROM hcu GROUP BY 1, 2),
      ltop AS (SELECT q_doc AS q_id, doc_id AS cand,
                      row_number() OVER (PARTITION BY q_doc
                        ORDER BY su DESC, doc_id) AS rank
               FROM hsc
               QUALIFY row_number() OVER (PARTITION BY q_doc
                 ORDER BY su DESC, doc_id) <= 50),
      legs AS (SELECT q_id, cand,
                      CAST(round(1000000.0 / (60 + rank)) AS BIGINT) AS cu
               FROM dtop
               UNION ALL
               SELECT q_id, cand,
                      CAST(round(1000000.0 / (60 + rank)) AS BIGINT) AS cu
               FROM ltop),
      hf AS (SELECT q_id, cand, CAST(sum(cu) AS BIGINT) AS rrf_u,
                    CAST(count(*) AS BIGINT) AS n_legs
             FROM legs GROUP BY 1, 2)"""
  }

  /** DuckDB SQL for pipeline_hybrid_gain — the fusion audit: recall@5 of
    * the dense leg alone, the lexical leg alone, and the RRF fusion,
    * against the exact raw-space integer-L2 top-5 (the rotation-invariant
    * dense ground truth the OPQ audits share). One WITH chain serves the
    * retrieval oracle and this audit.
    */
  def hybridGainSql(s: SparkSession, d: String): String = {
    val (basis, mean) = opqBasis(s, d)
    def hit(src: String, scheme: String) = s"""
      SELECT '$scheme' AS scheme, CAST(count(*) AS BIGINT) AS n_hits,
             round(CAST(count(*) AS DOUBLE) / 50.0, 6) AS recall_at_5
      FROM (SELECT q_id, cand FROM $src) t
      JOIN x ON t.q_id = x.q_id AND t.cand = x.vec_id"""
    s"""${hybridCtes(basis, mean)},$opqExactCtes,
      d5 AS (SELECT q_id, cand FROM dtop WHERE rank <= 5),
      l5 AS (SELECT q_id, cand FROM ltop WHERE rank <= 5),
      r5 AS (SELECT q_id, cand FROM hf
             QUALIFY row_number() OVER (PARTITION BY q_id
               ORDER BY rrf_u DESC, cand) <= 5)
      ${hit("d5", "dense")}
      UNION ALL${hit("l5", "lexical")}
      UNION ALL${hit("r5", "rrf")}"""
  }

  /** DuckDB SQL for pipeline_retrieval_metrics — the shared hybrid chain's
    * depth-10 lists scored by graded nDCG@10 and MRR@10 against the exact
    * top-5 with its rank kept; the 1/log2(rank+1) discounts are the SAME
    * integer micro-unit literals the Spark side embeds.
    */
  def hybridMetricsSql(s: SparkSession, d: String): String = {
    val (basis, mean) = opqBasis(s, d)
    s"""${hybridCtes(basis, mean)},$opqExactCtes,
      xr AS (SELECT q_id, vec_id AS cand,
                    row_number() OVER (PARTITION BY q_id
                      ORDER BY d2, vec_id) AS erank
             FROM ex
             QUALIFY row_number() OVER (PARTITION BY q_id
               ORDER BY d2, vec_id) <= 5),
      ds(rank, disc_u) AS (VALUES (1, 1000000), (2, 630930), (3, 500000),
                                  (4, 430677), (5, 386853), (6, 356207),
                                  (7, 333333), (8, 315465), (9, 301030),
                                  (10, 289065)),
      rl AS (SELECT 'dense' AS scheme, q_id, cand, rank FROM dtop WHERE rank <= 10
             UNION ALL
             SELECT 'lex' AS scheme, q_id, cand, rank FROM ltop WHERE rank <= 10
             UNION ALL
             SELECT 'rrf' AS scheme, q_id, cand,
                    row_number() OVER (PARTITION BY q_id
                      ORDER BY rrf_u DESC, cand) AS rank
             FROM hf
             QUALIFY row_number() OVER (PARTITION BY q_id
               ORDER BY rrf_u DESC, cand) <= 10),
      sc AS (SELECT rl.scheme,
                    coalesce(6 - xr.erank, 0) * ds.disc_u AS g_u,
                    CASE WHEN xr.erank = 1
                         THEN CAST(round(1000000.0 / rl.rank) AS BIGINT)
                         ELSE 0 END AS rr_u,
                    CASE WHEN xr.erank IS NOT NULL THEN 1 ELSE 0 END AS hit
             FROM rl JOIN ds ON rl.rank = ds.rank
             LEFT JOIN xr ON rl.q_id = xr.q_id AND rl.cand = xr.cand)
      SELECT scheme,
             round(sum(g_u) / (10.0 * 10271927), 6) AS ndcg_at_10,
             round(sum(rr_u) / 10000000.0, 6) AS mrr_at_10,
             CAST(sum(hit) AS BIGINT) AS n_rel_found
      FROM sc GROUP BY 1"""
  }

  /** DuckDB SQL for pipeline_hybrid_ksweep — the shared hybrid WITH
    * chain's depth-50 leg tables fused at every k in the sweep, each
    * fusion's top-5 scored against the exact raw-space top-5.
    */
  def hybridKsweepSql(s: SparkSession, d: String): String = {
    val (basis, mean) = opqBasis(s, d)
    s"""${hybridCtes(basis, mean)},$opqExactCtes,
      kks(k) AS (VALUES (5), (20), (60), (240)),
      klegs AS (SELECT k, q_id, cand,
                       CAST(round(1000000.0 / (k + rank)) AS BIGINT) AS cu
                FROM dtop CROSS JOIN kks
                UNION ALL
                SELECT k, q_id, cand,
                       CAST(round(1000000.0 / (k + rank)) AS BIGINT) AS cu
                FROM ltop CROSS JOIN kks),
      kf AS (SELECT k, q_id, cand, CAST(sum(cu) AS BIGINT) AS rrf_u
             FROM klegs GROUP BY 1, 2, 3),
      k5 AS (SELECT k, q_id, cand FROM kf
             QUALIFY row_number() OVER (PARTITION BY k, q_id
               ORDER BY rrf_u DESC, cand) <= 5),
      kh AS (SELECT k, CAST(count(*) AS BIGINT) AS n_hits
             FROM k5 JOIN x ON k5.q_id = x.q_id AND k5.cand = x.vec_id
             GROUP BY k)
      SELECT kks.k, coalesce(kh.n_hits, CAST(0 AS BIGINT)) AS n_hits,
             round(CAST(coalesce(kh.n_hits, 0) AS DOUBLE) / 50.0, 6)
               AS recall_at_5
      FROM kks LEFT JOIN kh ON kks.k = kh.k"""
  }

  /** DuckDB SQL for pipeline_hybrid_depth_curve — the shared hybrid
    * chain's depth-50 leg tables cut at every depth in the sweep before
    * the k=60 fusion, each fusion's top-5 scored against the exact
    * raw-space top-5.
    */
  def hybridDepthCurveSql(s: SparkSession, d: String): String = {
    val (basis, mean) = opqBasis(s, d)
    s"""${hybridCtes(basis, mean)},$opqExactCtes,
      dds(depth) AS (VALUES (5), (10), (25), (50)),
      dlegs AS (SELECT depth, q_id, cand,
                       CAST(round(1000000.0 / (60 + rank)) AS BIGINT) AS cu
                FROM dtop CROSS JOIN dds WHERE rank <= depth
                UNION ALL
                SELECT depth, q_id, cand,
                       CAST(round(1000000.0 / (60 + rank)) AS BIGINT) AS cu
                FROM ltop CROSS JOIN dds WHERE rank <= depth),
      dfu AS (SELECT depth, q_id, cand, CAST(sum(cu) AS BIGINT) AS rrf_u
              FROM dlegs GROUP BY 1, 2, 3),
      dcut AS (SELECT depth, q_id, cand FROM dfu
               QUALIFY row_number() OVER (PARTITION BY depth, q_id
                 ORDER BY rrf_u DESC, cand) <= 5),
      dhit AS (SELECT depth, CAST(count(*) AS BIGINT) AS n_hits
               FROM dcut JOIN x ON dcut.q_id = x.q_id AND dcut.cand = x.vec_id
               GROUP BY depth)
      SELECT dds.depth, coalesce(dhit.n_hits, CAST(0 AS BIGINT)) AS n_hits,
             round(CAST(coalesce(dhit.n_hits, 0) AS DOUBLE) / 50.0, 6)
               AS recall_at_5
      FROM dds LEFT JOIN dhit ON dds.depth = dhit.depth"""
  }

  /** DuckDB SQL for sim_opq_recall — the [[opqOracleSql]] machinery with
    * an ADC@5-vs-exact-top5 tail per scheme: codes and per-probe LUTs read
    * off the same cd_ distances, the exact baseline is the raw-space
    * integer-L2² top-5 (rotation-invariant ground truth).
    */
  def opqRecallSql(s: SparkSession, d: String): String = {
    val (basis, mean) = opqBasis(s, d)
    def adc(sfx: String) = s""",${opqCodesLutCtes(sfx)},
      adc_$sfx AS (SELECT l.q_id, cds.vec_id, CAST(sum(l.d2) AS BIGINT) AS adc_u
                   FROM codes_$sfx cds JOIN lut_$sfx l
                     ON cds.sb = l.sb AND cds.c_id = l.c_id
                   WHERE cds.vec_id <> l.q_id
                   GROUP BY 1, 2),
      top_$sfx AS (SELECT q_id, vec_id FROM adc_$sfx
                   QUALIFY row_number() OVER (PARTITION BY q_id
                     ORDER BY adc_u, vec_id) <= 5),
      hit_$sfx AS (SELECT count(*) AS n FROM top_$sfx t
                   JOIN x ON t.q_id = x.q_id AND t.vec_id = x.vec_id)"""
    def out(sfx: String, scheme: String) = s"""
      SELECT '$scheme' AS scheme, CAST(hit_$sfx.n AS BIGINT) AS n_hits,
             round(CAST(hit_$sfx.n AS DOUBLE) / 50.0, 6) AS recall_at_5
      FROM hit_$sfx"""
    s"""${opqSqlPrefix(basis, mean)},${opqTrainChain("raw")},${opqTrainChain("opq")},$opqExactCtes${adc("raw")}${adc("opq")}
      ${out("raw", "raw")}
      UNION ALL${out("opq", "opq")}"""
  }

  /** Exact raw-space baseline CTEs shared by the generated OPQ oracles:
    * `ex` = every (probe, candidate) integer-L2² pair, `x` = the exact
    * top-5 per probe.
    */
  private val opqExactCtes: String = exactTop5Ctes("xu_raw", Seq("sb", "wd"), "ex", "x")

  /** DuckDB SQL for sim_opq_rerank_gain — whole-corpus ADC top-50 per
    * scheme, exact re-rank to top-5, recall vs the exact top-5.
    */
  def opqRerankGainSql(s: SparkSession, d: String): String = {
    val (basis, mean) = opqBasis(s, d)
    def leg(sfx: String) = s""",${opqCodesLutCtes(sfx)},
      adcd_$sfx AS (SELECT l.q_id, cds.vec_id, CAST(sum(l.d2) AS BIGINT) AS adc_u
                    FROM codes_$sfx cds JOIN lut_$sfx l
                      ON cds.sb = l.sb AND cds.c_id = l.c_id
                    WHERE cds.vec_id <> l.q_id
                    GROUP BY 1, 2),
      adc50_$sfx AS (SELECT q_id, vec_id FROM adcd_$sfx
                     QUALIFY row_number() OVER (PARTITION BY q_id
                       ORDER BY adc_u, vec_id) <= 50),${rerankHitCtes(sfx, s"adc50_$sfx")}"""
    def out(sfx: String, scheme: String) = s"""
      SELECT '$scheme' AS scheme,
             round(CAST(hit_$sfx.n AS DOUBLE) / 50.0, 6) AS recall_at_depth50
      FROM hit_$sfx"""
    s"""${opqSqlPrefix(basis, mean)},${opqTrainChain("raw")},${opqTrainChain("opq")},$opqExactCtes${leg("raw")}${leg("opq")}
      ${out("raw", "raw")}
      UNION ALL${out("opq", "opq")}"""
  }

  /** DuckDB SQL for sim_opq_ivfpq_gain — the raw-geometry IVF-PQ
    * candidate set (16 full-vector coarse seeds, nprobe=2) with each
    * scheme's codes/LUT restricted to it, ADC top-10, exact re-rank to
    * top-5, recall vs the exact top-5. The candidate CTEs replay the
    * Spark plan's shared coarse-cell directory exactly.
    */
  def opqIvfpqGainSql(s: SparkSession, d: String): String = {
    val (basis, mean) = opqBasis(s, d)
    def leg(sfx: String) = s""",${opqCodesLutCtes(sfx)},
      adcd_$sfx AS (SELECT cn.q_id, cn.vec_id, CAST(sum(l.d2) AS BIGINT) AS adc_u
                    FROM cand cn JOIN codes_$sfx cd ON cn.vec_id = cd.vec_id
                    JOIN lut_$sfx l
                      ON l.q_id = cn.q_id AND l.sb = cd.sb AND l.c_id = cd.c_id
                    GROUP BY 1, 2),
      adc10_$sfx AS (SELECT q_id, vec_id FROM adcd_$sfx
                     QUALIFY row_number() OVER (PARTITION BY q_id
                       ORDER BY adc_u, vec_id) <= 10),${rerankHitCtes(sfx, s"adc10_$sfx")}"""
    def out(sfx: String, scheme: String) = s"""
      SELECT '$scheme' AS scheme,
             round(CAST(hit_$sfx.n AS DOUBLE) / 50.0, 6) AS recall_at_depth10
      FROM hit_$sfx"""
    s"""${opqSqlPrefix(basis, mean)},${opqTrainChain("raw")},${opqTrainChain("opq")},$opqExactCtes,
      cellsd AS (SELECT x.vec_id, s.c16, sum((x.xu - s.cu) * (x.xu - s.cu)) AS d2
                 FROM xu_raw x JOIN (SELECT vec_id AS c16, sb, wd, xu AS cu
                                     FROM xu_raw WHERE vec_id < 16) s
                   ON x.sb = s.sb AND x.wd = s.wd
                 GROUP BY 1, 2),
      cells AS (SELECT vec_id, c16 AS cell FROM cellsd
                QUALIFY row_number() OVER (PARTITION BY vec_id
                  ORDER BY d2, c16) = 1),
      pcells AS (SELECT vec_id AS q_id, c16 AS cell FROM cellsd
                 WHERE vec_id < 10
                 QUALIFY row_number() OVER (PARTITION BY vec_id
                   ORDER BY d2, c16) <= 2),
      cand AS (SELECT p.q_id, c.vec_id FROM cells c
               JOIN pcells p ON c.cell = p.cell
               WHERE c.vec_id <> p.q_id)${leg("raw")}${leg("opq")}
      ${out("raw", "raw")}
      UNION ALL${out("opq", "opq")}"""
  }

  /** DuckDB mirror of [[graft.queries.Similarity.basisProjCols]], with the basis as SQL literals. */
  private def basisProjSql(
      basis: Seq[Array[Double]], mean: Array[Double], prefix: String): String = {
    val cols = basis.zipWithIndex.map { case (vj, j) =>
      val offset = mean.indices.map(i => mean(i) * vj(i)).sum
      val arr = vj.map(java.lang.Double.toString).mkString("[", ", ", "]")
      s"round(list_dot_product(embedding::DOUBLE[], $arr) - " +
        s"(${java.lang.Double.toString(offset)}), 6) + 0.0 AS $prefix${j + 1}"
    }
    s"SELECT vec_id,\n  ${cols.mkString(",\n  ")}\nFROM embeddings"
  }

  /** The k-center oracle's shared CTE chain: micro-unit dims, the seed,
    * and the 7 unrolled (argmax, distance, fold-min) steps — one string
    * so the selection and the census oracles can never drift.
    */
  private lazy val kcenterOracleCtes: String = {
    def dist(cte: String, centerCte: String) =
      s"""$cte AS MATERIALIZED (
        SELECT a.vec_id, CAST(sum((a.xu - b.xu) * (a.xu - b.xu)) AS BIGINT) AS d2
        FROM vud a JOIN $centerCte s ON true
             JOIN vud b ON b.vec_id = s.cid AND b.dim = a.dim
        GROUP BY 1)"""
    val steps = (1 to 7).map { k =>
      s""",
      c$k AS MATERIALIZED (SELECT vec_id AS cid, dmin FROM m$k
        QUALIFY row_number() OVER (ORDER BY dmin DESC, vec_id) = 1),
      ${dist(s"d$k", s"c$k")},
      m${k + 1} AS MATERIALIZED (
        SELECT m.vec_id, CASE WHEN d.d2 < m.dmin THEN d.d2 ELSE m.dmin END AS dmin
        FROM m$k m JOIN d$k d ON d.vec_id = m.vec_id)"""
    }.mkString
    s"""$corpusCte, vud AS MATERIALIZED (${microUnitsSql("dim")}),
      c0 AS (SELECT min(vec_id) AS cid FROM c),
      ${dist("m1x", "c0")},
      m1 AS MATERIALIZED (SELECT vec_id, d2 AS dmin FROM m1x)$steps"""
  }

  /** Shared DuckDB CTEs rebuilding the hyperplane signature: `sig` holds
    * (vec_id, p, bit), `buckets` the 16-char bit string — the ONE canonical
    * SQL both LSH oracles compose, so the plane/hash rule can never drift
    * between them.
    */
  private val lshSigSql: String = s"""
      $corpusCte,
      ex AS (SELECT vec_id, i, CAST(round(v[i] * 1000000) AS BIGINT) AS xu
             FROM c, LATERAL (SELECT unnest(range(1, len(v) + 1)) AS i) r),
      w AS (SELECT p, i,
                   CASE WHEN ('0x' || substr(md5(p::VARCHAR || '_' || (i - 1)::VARCHAR), 1, 15))::BIGINT % 2 = 0
                        THEN 1 ELSE -1 END AS w
            FROM (SELECT unnest(range(0, 16)) AS p), (SELECT DISTINCT i FROM ex)),
      sig AS (SELECT e.vec_id, w.p, CASE WHEN sum(e.xu * w.w) > 0 THEN 1 ELSE 0 END AS bit
              FROM ex e JOIN w ON e.i = w.i GROUP BY 1, 2),
      buckets AS (SELECT vec_id, string_agg(bit::VARCHAR, '' ORDER BY p) AS bucket
                  FROM sig GROUP BY vec_id)"""

  /** Canonical DuckDB SQL for the brute-force cosine top-5 — single source
    * for sim_cosine_topk AND the neighbor set of sim_knn_label.
    */
  private val cosineTopkSql: String = s"""
      WITH $corpusCte,
      p AS (SELECT vec_id AS q_id, v AS qv FROM c WHERE vec_id < 10),
      scored AS (
        SELECT q_id, vec_id,
               round(list_dot_product(qv, v)
                 / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))), 6) AS cos
        FROM c CROSS JOIN p WHERE vec_id <> q_id)
      SELECT q_id, vec_id, cos,
             CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS INTEGER) AS rank
      FROM scored
      QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) <= 5"""

  /** Canonical DuckDB SQL for the IVF top-5 — single source for
    * sim_ivf_topk AND the approximate side of sim_ivf_recall.
    */
  private val kmeansSql: String = """
      WITH c AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        FROM embeddings),
      cents AS (SELECT vec_id AS c_id, v AS cv, nrm AS cn FROM c WHERE vec_id < 8),
      assigned AS (
        SELECT vec_id, v, c_id FROM (
          SELECT a.vec_id, a.v, cents.c_id,
                 row_number() OVER (PARTITION BY a.vec_id
                   ORDER BY round(list_dot_product(a.v, cv) / (a.nrm * cn), 6) DESC, c_id) AS crank
          FROM c a CROSS JOIN cents) WHERE crank = 1),
      ex AS (
        SELECT c_id, i - 1 AS dim, v[i] AS x
        FROM assigned, LATERAL (SELECT unnest(range(1, len(v) + 1)) AS i) r)
      SELECT c_id, dim, count(*) AS n_members,
             round(sum(CAST(round(x * 1000000) AS BIGINT)) / count(*) / 1e6, 6) AS mean_x
      FROM ex GROUP BY c_id, dim"""

  private val ivfTopkSql: String = s"""
      WITH c AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        FROM embeddings),
      cents AS (SELECT vec_id AS c_id, v AS cv, nrm AS cn FROM c WHERE vec_id < 16),
      assigned AS (
        SELECT vec_id, v, nrm, c_id FROM (
          SELECT a.vec_id, a.v, a.nrm, cents.c_id,
                 row_number() OVER (PARTITION BY a.vec_id
                   ORDER BY round(list_dot_product(a.v, cv) / (a.nrm * cn), 6) DESC, c_id) AS crank
          FROM c a CROSS JOIN cents) WHERE crank = 1),
      probes AS (
        SELECT vec_id AS q_id, v AS qv, nrm AS qn, c_id FROM (
          SELECT a.vec_id, a.v, a.nrm, cents.c_id,
                 row_number() OVER (PARTITION BY a.vec_id
                   ORDER BY round(list_dot_product(a.v, cv) / (a.nrm * cn), 6) DESC, c_id) AS crank
          FROM c a CROSS JOIN cents WHERE a.vec_id < 10) WHERE crank <= 2),
      $ivfScoredTop5Sql
      QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) <= 5"""

  /** `name(vec_id, c16, d2)`: every vector's integer-L2² distance to each
    * of the 16 fixture coarse cells (the first 16 vectors as seeds).
    */
  private def fixtureCellDistCte(name: String): String =
    s"""$name AS (SELECT x.vec_id, s16.c16, sum((x.xu - s16.cu) * (x.xu - s16.cu)) AS d2
                FROM xu x JOIN (SELECT vec_id AS c16, sb, wd, xu AS cu
                                FROM xu WHERE vec_id < 16) s16
                  ON x.sb = s16.sb AND x.wd = s16.wd
                GROUP BY 1, 2)"""

  /** Canonical DuckDB CTE chain replaying the PQ pipeline (seed assignment
    * → one Lloyd update → encode → per-pair ADC distances) in the same
    * exact integer arithmetic — shared prefix of pqAdcSql (top-5) and
    * pqRerankSql (top-50 shortlist → exact re-rank).
    */
  private val pqAdcCtes: String = s"""
      WITH $corpusCte, xu AS ($subspaceUnitsSql),
      seeds AS (SELECT vec_id AS c_id, sb, wd, xu AS cu FROM xu WHERE vec_id < 16),
      a1d AS (SELECT x.vec_id, x.sb, s.c_id,
                     sum((x.xu - s.cu) * (x.xu - s.cu)) AS d2
              FROM xu x JOIN seeds s ON x.sb = s.sb AND x.wd = s.wd
              GROUP BY 1, 2, 3),
      a1 AS (SELECT vec_id, sb, c_id FROM a1d
             QUALIFY row_number() OVER (PARTITION BY vec_id, sb ORDER BY d2, c_id) = 1),
      cents AS (SELECT x.sb, a.c_id, x.wd,
                       CAST(round(CAST(sum(x.xu) AS DOUBLE) / count(*)) AS BIGINT) AS cu
                FROM a1 a JOIN xu x ON a.vec_id = x.vec_id AND a.sb = x.sb
                GROUP BY 1, 2, 3),
      cd AS (SELECT x.vec_id, x.sb, k.c_id,
                    sum((x.xu - k.cu) * (x.xu - k.cu)) AS d2
             FROM xu x JOIN cents k ON x.sb = k.sb AND x.wd = k.wd
             GROUP BY 1, 2, 3),
      codes AS (SELECT vec_id, sb, c_id FROM cd
                QUALIFY row_number() OVER (PARTITION BY vec_id, sb ORDER BY d2, c_id) = 1),
      lut AS (SELECT vec_id AS q_id, sb, c_id, d2 FROM cd WHERE vec_id < 10),
      adc AS (SELECT l.q_id, cds.vec_id, CAST(sum(l.d2) AS BIGINT) AS adc_u
              FROM codes cds JOIN lut l ON cds.sb = l.sb AND cds.c_id = l.c_id
              WHERE cds.vec_id <> l.q_id
              GROUP BY 1, 2)"""

  /** Unrolled 4-round Lloyd replay for sim_pq_train_curve: per round one
    * distance table serves BOTH that round's error total and the next
    * round's re-assignment — the same double duty the Spark plan's shared
    * scan does. Static (seeds are vec_id<16, structure data-independent).
    */
  private val pqTrainCurveSql: String = {
    def dist(cents: String, out: String) = s""",
      $out AS (SELECT x.vec_id, x.sb, k.c_id,
                      sum((x.xu - k.cu) * (x.xu - k.cu)) AS d2
               FROM xu x JOIN $cents k ON x.sb = k.sb AND x.wd = k.wd
               GROUP BY 1, 2, 3)"""
    def update(assign: String, out: String) = s""",
      $out AS (SELECT x.sb, a.c_id, x.wd,
                      CAST(round(CAST(sum(x.xu) AS DOUBLE) / count(*))
                        AS BIGINT) AS cu
               FROM $assign a JOIN xu x
                 ON a.vec_id = x.vec_id AND a.sb = x.sb
               GROUP BY 1, 2, 3)"""
    def argmin(d: String, out: String) = s""",
      $out AS (SELECT vec_id, sb, c_id FROM $d
               QUALIFY row_number() OVER (PARTITION BY vec_id, sb
                 ORDER BY d2, c_id) = 1)"""
    def tot(d: String, out: String) = s""",
      $out AS (SELECT CAST(sum(d2) AS BIGINT) AS t FROM (
                 SELECT d2 FROM $d
                 QUALIFY row_number() OVER (PARTITION BY vec_id, sb
                   ORDER BY d2, c_id) = 1))"""
    val rounds = (1 to 4).map { k =>
      val in = if (k == 1) {
        // round 1: assign to seeds, update → c1
        argmin("a1d", "a1") + update("a1", "c1")
      } else {
        // round k: re-assign to c(k-1)'s distance table, update → ck
        argmin(s"dist${k - 1}", s"a$k") + update(s"a$k", s"c$k")
      }
      in + dist(s"c$k", s"dist$k") + tot(s"dist$k", s"t$k")
    }.mkString
    val outs = (1 to 4).map { k =>
      s"""
      SELECT CAST($k AS INTEGER) AS iter, t$k.t AS total_qerr_u,
             round(CAST(t$k.t AS DOUBLE) / n.n / 64.0
               / 1000000000000.0, 6) AS mse
      FROM t$k, n"""
    }.mkString("\n      UNION ALL")
    s"""
      WITH $corpusCte,
      n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM c),
      xu AS ($subspaceUnitsSql),
      seeds AS (SELECT vec_id AS c_id, sb, wd, xu AS cu FROM xu WHERE vec_id < 16),
      a1d AS (SELECT x.vec_id, x.sb, s.c_id,
                     sum((x.xu - s.cu) * (x.xu - s.cu)) AS d2
              FROM xu x JOIN seeds s ON x.sb = s.sb AND x.wd = s.wd
              GROUP BY 1, 2, 3)$rounds
      $outs"""
  }

  /** Static replay of sim_pq_seed_audit: both seedings (fixture ids vs
    * md5-ranked sample), one Lloyd update each, exact min-d2 totals.
    */
  private val pqSeedAuditSql: String = {
    def chain(seeds: String, sfx: String) = s""",
      a1d_$sfx AS (SELECT x.vec_id, x.sb, s.c_id,
                          sum((x.xu - s.cu) * (x.xu - s.cu)) AS d2
                   FROM xu x JOIN $seeds s ON x.sb = s.sb AND x.wd = s.wd
                   GROUP BY 1, 2, 3),
      a1_$sfx AS (SELECT vec_id, sb, c_id FROM a1d_$sfx
                  QUALIFY row_number() OVER (PARTITION BY vec_id, sb
                    ORDER BY d2, c_id) = 1),
      cents_$sfx AS (SELECT x.sb, a.c_id, x.wd,
                            CAST(round(CAST(sum(x.xu) AS DOUBLE) / count(*))
                              AS BIGINT) AS cu
                     FROM a1_$sfx a JOIN xu x
                       ON a.vec_id = x.vec_id AND a.sb = x.sb
                     GROUP BY 1, 2, 3),
      cd_$sfx AS (SELECT x.vec_id, x.sb, k.c_id,
                         sum((x.xu - k.cu) * (x.xu - k.cu)) AS d2
                  FROM xu x JOIN cents_$sfx k
                    ON x.sb = k.sb AND x.wd = k.wd
                  GROUP BY 1, 2, 3),
      t_$sfx AS (SELECT CAST(sum(d2) AS BIGINT) AS t FROM (
                   SELECT d2 FROM cd_$sfx
                   QUALIFY row_number() OVER (PARTITION BY vec_id, sb
                     ORDER BY d2, c_id) = 1))"""
    def out(sfx: String, scheme: String) = s"""
      SELECT '$scheme' AS scheme, t_$sfx.t AS total_qerr_u,
             round(CAST(t_$sfx.t AS DOUBLE) / n.n / 64.0
               / 1000000000000.0, 6) AS mse
      FROM t_$sfx, n"""
    s"""
      WITH $corpusCte,
      n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM c),
      xu AS ($subspaceUnitsSql),
      seeds_fix AS (SELECT vec_id AS c_id, sb, wd, xu AS cu
                    FROM xu WHERE vec_id < 16),
      sel AS (SELECT vec_id FROM c
              ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
      seeds_md5 AS (SELECT x.vec_id AS c_id, x.sb, x.wd, x.xu AS cu
                    FROM xu x JOIN sel ON x.vec_id = sel.vec_id)${chain("seeds_fix", "fix")}${chain("seeds_md5", "m5")}
      ${out("fix", "fixture")}
      UNION ALL${out("m5", "md5")}"""
  }

  /** DuckDB SQL for stream_pq_encode: the raw-space code table from the
    * same static train/encode replay the ADC oracles share — the streamed
    * per-row encode must land on the identical (vec_id, sub, c_id) set.
    */
  private[oracle] val pqStreamCodesSql: String = pqAdcCtes + """
      SELECT vec_id, sb AS sub, c_id FROM codes"""

  /** DuckDB SQL for stream_ivfpq_index: the full streaming index row —
    * coarse cell (argmin over the 16 raw seed vectors, ties to the lower
    * cell — the batch ivfpqCellsShared rule) joined with the PQ codes,
    * all independently re-derived from raw parquet.
    */
  private val cellAsnCtes: String = """,
      cseed AS (SELECT vec_id AS cell, sb, wd, xu AS cu FROM xu WHERE vec_id < 16),
      cd2 AS (SELECT x.vec_id, s.cell, sum((x.xu - s.cu) * (x.xu - s.cu)) AS d2
              FROM xu x JOIN cseed s ON x.sb = s.sb AND x.wd = s.wd
              GROUP BY 1, 2),
      cellasn AS (SELECT vec_id, cell FROM cd2
                  QUALIFY row_number() OVER (PARTITION BY vec_id
                    ORDER BY d2, cell) = 1)"""

  private[oracle] val ivfpqStreamIndexSql: String = pqAdcCtes + cellAsnCtes + """
      SELECT cds.vec_id, a.cell, cds.sb AS sub, cds.c_id
      FROM codes cds JOIN cellasn a ON cds.vec_id = a.vec_id"""

  /** DuckDB SQL for sim_ivfpq_scan_cost: probe cell ranks off the same
    * cd2 distance table, list sizes off the same cellasn assignment, the
    * nprobe legs a VALUES cross join — the lists-opened / codes-scanned
    * cost table per nprobe.
    */
  private val ivfpqScanCostSql: String = pqAdcCtes + cellAsnCtes + """,
      spr AS (SELECT vec_id AS q_id, cell,
                     row_number() OVER (PARTITION BY vec_id
                       ORDER BY d2, cell) AS pr
              FROM cd2 WHERE vec_id < 10),
      ssz AS (SELECT cell, count(*) AS n_vec FROM cellasn GROUP BY cell),
      snn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM c),
      snq AS (SELECT CAST(count(DISTINCT q_id) AS BIGINT) AS nq FROM spr),
      snp(np) AS (VALUES (1), (2), (4), (8)),
      slegs AS (SELECT np, q_id, n_vec FROM spr JOIN ssz USING (cell)
                CROSS JOIN snp WHERE pr <= np)
      SELECT np AS nprobe, CAST(count(*) AS BIGINT) AS cells_touched,
             CAST(8 * sum(n_vec) AS BIGINT) AS codes_scanned,
             round(CAST(sum(n_vec) AS DOUBLE) / snn.n / snq.nq, 6)
               AS scanned_frac
      FROM slegs, snn, snq
      GROUP BY 1, snn.n, snq.nq"""

  /** DuckDB SQL for sim_ivfpq_frag_trigger: the EXPECTED list/file
    * counts after each mod-4 append, derived logically — files after
    * batch k = distinct (cell, batch≤k) pairs, because each append
    * writes exactly one file per touched list.
    */
  private val ivfpqFragTriggerSql: String = pqAdcCtes + cellAsnCtes + """,
      fb AS (SELECT DISTINCT cell, vec_id % 4 AS b FROM cellasn),
      fk(k) AS (VALUES (0), (1), (2), (3))
      SELECT CAST(k AS INTEGER) AS batch,
             CAST(count(DISTINCT cell) AS BIGINT) AS n_lists,
             CAST(count(*) AS BIGINT) AS n_files,
             count(*) > 2 * count(DISTINCT cell) AS merge_due
      FROM fk JOIN fb ON fb.b <= fk.k
      GROUP BY 1"""

  /** DuckDB SQL for sim_ivfpq_compaction: the per-cell inventory of the
    * compacted inverted-list layout — the physical round-trip (write
    * partitionBy(cell), read back, aggregate) must lose nothing vs the
    * logical index table DuckDB re-derives from raw parquet.
    */
  private[oracle] val ivfpqCompactionSql: String = pqAdcCtes + cellAsnCtes + """
      SELECT a.cell,
             CAST(count(DISTINCT cds.vec_id) AS BIGINT) AS n_vectors,
             CAST(count(*) AS BIGINT) AS n_codes
      FROM codes cds JOIN cellasn a ON cds.vec_id = a.vec_id
      GROUP BY 1"""

  /** The forget-set predicate shared verbatim with [[graft.queries.Similarity.forgetPred]]. */
  private val forgetSqlPred =
    "('0x' || substr(md5('fgt' || vec_id::VARCHAR), 1, 15))::BIGINT % 50 = 0"

  /** One serve leg of the erasure-serving oracle: candidates → ADC →
    * top-50 shortlist → exact re-rank → per-probe top-5 checksum. Two
    * instantiations (tombstone-filtered, physically purged) must agree —
    * the equivalence the query's `agree` flag pins.
    */
  private def forgetServeLeg(pfx: String, candSql: String): String = s"""
      ${pfx}cand AS ($candSql),
      ${pfx}adc AS (SELECT ca.q_id, ca.vec_id, CAST(sum(l.d2) AS BIGINT) AS adc_u
               FROM ${pfx}cand ca JOIN codes cds ON cds.vec_id = ca.vec_id
               JOIN lut l ON l.q_id = ca.q_id AND l.sb = cds.sb AND l.c_id = cds.c_id
               GROUP BY 1, 2),
      ${pfx}short AS (SELECT q_id, vec_id FROM ${pfx}adc
                 QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY adc_u, vec_id) <= 50),
      ${pfx}ex AS (SELECT sh.q_id, sh.vec_id,
                     CAST(sum((p.xu - b.xu) * (p.xu - b.xu)) AS BIGINT) AS d2
              FROM ${pfx}short sh JOIN xu p ON p.vec_id = sh.q_id
              JOIN xu b ON b.vec_id = sh.vec_id AND b.sb = p.sb AND b.wd = p.wd
              GROUP BY 1, 2),
      ${pfx}top AS (SELECT q_id, CAST(sum(vec_id) AS BIGINT) AS s5,
                       count(*) AS n5
               FROM (SELECT q_id, vec_id FROM ${pfx}ex
                     QUALIFY row_number() OVER (PARTITION BY q_id
                       ORDER BY d2, vec_id) <= 5)
               GROUP BY 1)"""

  /** ADC top-5: the codes-only ranking sim_pq_adc returns. */
  private val pqAdcSql: String = pqAdcCtes + """
      SELECT q_id, vec_id,
             round(CAST(adc_u AS DOUBLE) / 1000000000000.0, 6) AS adc_d2,
             CAST(row_number() OVER (PARTITION BY q_id ORDER BY adc_u, vec_id) AS INTEGER) AS rank
      FROM adc
      QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY adc_u, vec_id) <= 5"""

  /** The shared (c, vu) prefix of the quantization-ladder legs: per-dim
    * integer micro-unit coordinates of every vector.
    */
  private val quantVuCtes: String = s"""
      WITH $corpusCte, vu AS (${microUnitsSql("dim")})"""

  /** Exact integer-L2² top-5 per probe — the SQL twin of [[graft.queries.Similarity.pqExactTop5]],
    * the baseline every ladder rung scores against.
    */
  private val intExactTop5Sql: String = quantVuCtes + s""",
${probeD2Cte("vu", Seq("dim"), "ex")}
      SELECT q_id, vec_id FROM ex
      $top5Cut"""

  /** SQ8 top-5 per probe — the SQL twin of [[graft.queries.Similarity.sq8Top5]]: emb_quantize_int8's
    * exact integer quantization rule, integer L2² over the codes.
    */
  private val sq8Top5Sql: String = quantVuCtes + """,
      sc AS (SELECT dim, max(abs(xu)) AS m FROM vu GROUP BY dim),
      q AS (SELECT vec_id, vu.dim,
                   CASE WHEN m = 0 THEN 0
                        ELSE CAST(sign(xu) AS BIGINT) * ((abs(xu) * 254 + m) // (2 * m))
                   END AS q8
            FROM vu JOIN sc ON vu.dim = sc.dim),
      ad AS (SELECT p.vec_id AS q_id, b.vec_id,
                    sum((p.q8 - b.q8) * (p.q8 - b.q8)) AS d2
             FROM q p JOIN q b ON p.dim = b.dim
             WHERE p.vec_id < 10 AND b.vec_id <> p.vec_id
             GROUP BY 1, 2)
      SELECT q_id, vec_id FROM ad
      QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY d2, vec_id) <= 5"""

  /** Binary-rung top-5 per probe — the SQL twin of [[graft.queries.Similarity.binaryTop5]]: sign
    * codes as two 32-dim words (bit 63 never set, so popcount semantics
    * can't diverge on sign), Hamming top-50, exact re-rank.
    */
  private val binTop5Sql: String = quantVuCtes + """,
      w AS (SELECT vec_id,
                   bit_or(CASE WHEN xu > 0 AND dim < 32
                               THEN (1::BIGINT << dim) ELSE 0 END) AS lo,
                   bit_or(CASE WHEN xu > 0 AND dim >= 32
                               THEN (1::BIGINT << (dim - 32)) ELSE 0 END) AS hi
            FROM vu GROUP BY 1),
      hm AS (SELECT p.vec_id AS q_id, b.vec_id,
                    bit_count(xor(p.lo, b.lo)) + bit_count(xor(p.hi, b.hi)) AS h
             FROM w p JOIN w b ON b.vec_id <> p.vec_id WHERE p.vec_id < 10),
      sl AS (SELECT q_id, vec_id FROM hm
             QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY h, vec_id) <= 50),
      rr AS (SELECT s.q_id, s.vec_id,
                    sum((p.xu - b.xu) * (p.xu - b.xu)) AS d2
             FROM sl s JOIN vu p ON p.vec_id = s.q_id
                  JOIN vu b ON b.vec_id = s.vec_id AND b.dim = p.dim
             GROUP BY 1, 2)
      SELECT q_id, vec_id FROM rr
      QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY d2, vec_id) <= 5"""

  /** Two-stage: ADC top-[[graft.queries.Similarity.RerankShortlist]] shortlist, exact integer-L2²
    * re-rank to top-5 — the oracle replay of sim_pq_rerank (xu carries
    * per-dim integer coordinates, so the exact leg reuses it keyed on
    * (sb, wd)).
    */
  private val pqRerankSql: String = pqAdcCtes + s""",
      ${exactRerankSql("adc", RerankShortlist, "short", "ex")}"""

  /** IVF-PQ oracle tail from a `celld` (vec_id, c16, d2) cell-distance
    * CTE: cells → nprobe=2 probe cells → candidates → candidate-restricted
    * ADC → top-50 shortlist → exact re-rank. Shared by the fixture-cell
    * and Lloyd-trained-cell variants.
    */
  private def ivfpqSqlWith(celldSql: String): String = pqAdcCtes + s""",
      $celldSql,
      cellsv AS (SELECT vec_id, c16 AS cell FROM celld
                 QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, c16) = 1),
      probecells AS (SELECT vec_id AS q_id, c16 AS cell FROM celld
                     WHERE vec_id < 10
                     QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, c16) <= 2),
      candv AS (SELECT p.q_id, cl.vec_id FROM cellsv cl JOIN probecells p ON cl.cell = p.cell
                WHERE cl.vec_id <> p.q_id),
      adcr AS (SELECT ca.q_id, ca.vec_id, CAST(sum(l.d2) AS BIGINT) AS adc_u
               FROM candv ca JOIN codes cds ON cds.vec_id = ca.vec_id
               JOIN lut l ON l.q_id = ca.q_id AND l.sb = cds.sb AND l.c_id = cds.c_id
               GROUP BY 1, 2),
      ${exactRerankSql("adcr", 50, "shortr", "exr")}"""

  /** Fixture coarse cells: distances to the 16 seed vectors. */
  private val pqIvfpqSql: String = ivfpqSqlWith(s"""
      ${fixtureCellDistCte("celld")}""")

  /** Trained coarse cells: one integer-L2 Lloyd step over the seed
    * assignment, per-dim means rounded to micro-units, then distances to
    * the trained centroids.
    */
  private val pqIvfpqTrainedSql: String = ivfpqSqlWith(s"""
      ${fixtureCellDistCte("cd0")},
      casn AS (SELECT vec_id, c16 FROM cd0
               QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, c16) = 1),
      ctr AS (SELECT a.c16, x.sb, x.wd,
                     CAST(round(CAST(sum(x.xu) AS DOUBLE) / count(*)) AS BIGINT) AS cu
              FROM casn a JOIN xu x ON a.vec_id = x.vec_id GROUP BY 1, 2, 3),
      celld AS (SELECT x.vec_id, t.c16, sum((x.xu - t.cu) * (x.xu - t.cu)) AS d2
                FROM xu x JOIN ctr t ON x.sb = t.sb AND x.wd = t.wd
                GROUP BY 1, 2)""")

  /** Residual IVF-PQ chain ending in `radcr(q_id, vec_id, adc_u)` plus
    * the fixture cells and raw-code CTEs (from pqAdcCtes) — shared by the
    * residual top-k, its recall audit, and the raw-vs-residual code-gain
    * audit. MATERIALIZED on every multiply-referenced stage (the BPE-chain
    * discipline — DuckDB inlines plain CTEs per reference).
    */
  private val pqResidualCtes: String = pqAdcCtes + s""",
      ${fixtureCellDistCte("celld")},
      cellsv AS (SELECT vec_id, c16 AS cell FROM celld
                 QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, c16) = 1),
      probecells AS (SELECT vec_id AS q_id, c16 AS cell FROM celld
                     WHERE vec_id < 10
                     QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, c16) <= 2),
      ccu AS (SELECT vec_id AS cell, sb, wd, xu AS ccu FROM xu WHERE vec_id < 16),
      rxu AS MATERIALIZED (SELECT x.vec_id, x.sb, x.wd, x.xu - cc.ccu AS ru
             FROM xu x JOIN cellsv cv ON x.vec_id = cv.vec_id
             JOIN ccu cc ON cc.cell = cv.cell AND cc.sb = x.sb AND cc.wd = x.wd),
      rseeds AS (SELECT vec_id - 16 AS c_id, sb, wd, ru AS cu FROM rxu
                 WHERE vec_id >= 16 AND vec_id < 32),
      ra1d AS (SELECT x.vec_id, x.sb, s.c_id, sum((x.ru - s.cu) * (x.ru - s.cu)) AS d2
               FROM rxu x JOIN rseeds s ON x.sb = s.sb AND x.wd = s.wd
               GROUP BY 1, 2, 3),
      ra1 AS (SELECT vec_id, sb, c_id FROM ra1d
              QUALIFY row_number() OVER (PARTITION BY vec_id, sb ORDER BY d2, c_id) = 1),
      rcents AS MATERIALIZED (SELECT x.sb, a.c_id, x.wd,
                     CAST(round(CAST(sum(x.ru) AS DOUBLE) / count(*)) AS BIGINT) AS cu
              FROM ra1 a JOIN rxu x ON a.vec_id = x.vec_id AND a.sb = x.sb
              GROUP BY 1, 2, 3),
      rcd AS (SELECT x.vec_id, x.sb, k.c_id, sum((x.ru - k.cu) * (x.ru - k.cu)) AS d2
              FROM rxu x JOIN rcents k ON x.sb = k.sb AND x.wd = k.wd
              GROUP BY 1, 2, 3),
      rcodes AS MATERIALIZED (SELECT vec_id, sb, c_id FROM rcd
               QUALIFY row_number() OVER (PARTITION BY vec_id, sb ORDER BY d2, c_id) = 1),
      qres AS (SELECT q.vec_id AS q_id, p.cell, q.sb, q.wd, q.xu - cc.ccu AS qu
               FROM xu q JOIN probecells p ON q.vec_id = p.q_id
               JOIN ccu cc ON cc.cell = p.cell AND cc.sb = q.sb AND cc.wd = q.wd
               WHERE q.vec_id < 10),
      rlut AS MATERIALIZED (SELECT qr.q_id, qr.cell, qr.sb, k.c_id,
                      sum((qr.qu - k.cu) * (qr.qu - k.cu)) AS d2
               FROM qres qr JOIN rcents k ON k.sb = qr.sb AND k.wd = qr.wd
               GROUP BY 1, 2, 3, 4),
      rcandv AS MATERIALIZED (SELECT p.q_id, cv.vec_id, cv.cell FROM cellsv cv
                 JOIN probecells p ON cv.cell = p.cell
                 WHERE cv.vec_id <> p.q_id),
      radcr AS MATERIALIZED (SELECT ca.q_id, ca.vec_id, CAST(sum(l.d2) AS BIGINT) AS adc_u
               FROM rcandv ca JOIN rcodes rc ON rc.vec_id = ca.vec_id
               JOIN rlut l ON l.q_id = ca.q_id AND l.cell = ca.cell
                 AND l.sb = rc.sb AND l.c_id = rc.c_id
               GROUP BY 1, 2)"""

  /** Residual IVF-PQ top-5: radcr → 50-shortlist → exact re-rank. */
  private val pqIvfpqResidualSql: String = pqResidualCtes + s""",
      ${exactRerankSql("radcr", 50, "shortr", "exr")}"""

  /** Raw vs residual codes at shortlist depth 10 — the regime where ADC
    * ordering quality binds.
    */
  private val pqCodeGainSql: String = pqResidualCtes + s""",
      rawadcr AS (SELECT ca.q_id, ca.vec_id, CAST(sum(l.d2) AS BIGINT) AS adc_u
                  FROM rcandv ca JOIN codes cds ON cds.vec_id = ca.vec_id
                  JOIN lut l ON l.q_id = ca.q_id AND l.sb = cds.sb AND l.c_id = cds.c_id
                  GROUP BY 1, 2),
      shr AS (SELECT 'raw' AS scheme, q_id, vec_id FROM rawadcr
              QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY adc_u, vec_id) <= 10
              UNION ALL
              SELECT 'residual' AS scheme, q_id, vec_id FROM radcr
              QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY adc_u, vec_id) <= 10),
      shex AS (SELECT s.scheme, s.q_id, s.vec_id,
                      CAST(sum((p.xu - b.xu) * (p.xu - b.xu)) AS BIGINT) AS d2
               FROM shr s JOIN xu p ON p.vec_id = s.q_id
               JOIN xu b ON b.vec_id = s.vec_id AND b.sb = p.sb AND b.wd = p.wd
               GROUP BY 1, 2, 3),
      atop AS (SELECT scheme, q_id, vec_id FROM shex
               QUALIFY row_number() OVER (PARTITION BY scheme, q_id
                 ORDER BY d2, vec_id) <= 5),${exactTop5Ctes("xu", Seq("sb", "wd"), "exq", "exact")}
      SELECT a.scheme, round(count(x.vec_id) / 50.0, 6) AS recall_at_depth10
      FROM atop a LEFT JOIN exact x ON a.q_id = x.q_id AND a.vec_id = x.vec_id
      GROUP BY 1"""

  /** Generated CTE chain replaying the NN-Descent build round for round.
    * Every round CTE is MATERIALIZED — each is referenced three times by
    * the next round's expansion, and DuckDB inlines plain CTEs per
    * reference (the measured text_bpe_train 2^k cliff).
    */
  private val knnCosExpr = "round(list_dot_product(x.v, y.v) / (x.nrm * y.nrm), 6)"

  /** The exact-cosine top-K re-rank of a candidate CTE — the SQL twin of
    * [[graft.queries.Similarity.knnRank]], referenced by every chain and by the incremental insert.
    * `vecsCte` names the vector CTE the distances evaluate against.
    */
  private def knnRankSql(candCte: String, vecsCte: String): String = s"""
        SELECT * FROM (
          SELECT cd.vec_id, cd.nbr, $knnCosExpr AS cos,
                 row_number() OVER (PARTITION BY cd.vec_id
                   ORDER BY $knnCosExpr DESC, cd.nbr) AS rank
          FROM $candCte cd JOIN $vecsCte x ON x.vec_id = cd.vec_id
               JOIN $vecsCte y ON y.vec_id = cd.nbr)
        WHERE rank <= $KnnK"""

  /** The batch-split predicate shared verbatim with [[graft.queries.Similarity.knnBatchPred]]. */
  private val knnBatchSql =
    "('0x' || substr(md5('inc' || vec_id::VARCHAR), 1, 15))::BIGINT % 8 = 0"

  private def knnOracleCtes: String = knnChainCtes("", "")

  /** The stitched label-aware graph's CTE block — the SQL twin of
    * [[graft.queries.Similarity.knnLabeledGraphShared]]. Expects the vector CTE `c` and the blind
    * graph CTE `ge(vec_id, nbr)` in scope; defines `lb` (labels), the
    * label-scoped two-salt block candidates, the top-[[graft.queries.Similarity.LblK]] shortcut
    * edges `lsc`, and the stitched graph `gl(vec_id, nbr)`.
    */
  private def labeledGraphCtes: String = s"""
      lb AS (SELECT vec_id, label FROM embeddings),
      lblk AS MATERIALIZED (SELECT c.vec_id, lb.label,
               ('0x' || substr(md5('lb1' || c.vec_id::VARCHAR), 1, 15))::BIGINT
                 % $LblBlocks AS b1,
               ('0x' || substr(md5('lb2' || c.vec_id::VARCHAR), 1, 15))::BIGINT
                 % $LblBlocks AS b2
             FROM c JOIN lb ON lb.vec_id = c.vec_id),
      lcand AS (SELECT DISTINCT a.vec_id, e.vec_id AS nbr
             FROM lblk a JOIN lblk e
               ON a.label = e.label AND (a.b1 = e.b1 OR a.b2 = e.b2)
                  AND a.vec_id <> e.vec_id),
      lsc AS MATERIALIZED (SELECT vec_id, nbr FROM (
             SELECT cd.vec_id, cd.nbr,
                    row_number() OVER (PARTITION BY cd.vec_id
                      ORDER BY $knnCosExpr DESC, cd.nbr) AS rk
             FROM lcand cd JOIN c x ON x.vec_id = cd.vec_id
                  JOIN c y ON y.vec_id = cd.nbr) WHERE rk <= $LblK),
      gl AS MATERIALIZED (SELECT DISTINCT vec_id, nbr FROM (
             SELECT vec_id, nbr FROM ge
             UNION ALL SELECT vec_id, nbr FROM lsc))"""

  /** The three-step incremental-insert CTE block — the SQL twin of
    * [[graft.queries.Similarity.knnIncInsert]], shared by the incremental metric and the
    * serve-path comparison so the maintained graph has exactly one
    * replay. Expects the base chain (`bg\$KnnIters`) and the full vector
    * CTE `c` in scope; leaves `ginc(vec_id, nbr)` defined.
    */
  private def knnIncInsertCtes: String = s"""
      newv AS (SELECT vec_id FROM c WHERE $knnBatchSql),
      base AS (SELECT vec_id, nbr FROM bg$KnnIters),
      seeds AS (SELECT DISTINCT a.vec_id, e.vec_id AS nbr
                FROM blk a JOIN blk e
                  ON (a.b1 = e.b1 OR a.b2 = e.b2) AND a.vec_id <> e.vec_id
                WHERE a.vec_id IN (SELECT vec_id FROM newv)),
      n0 AS MATERIALIZED (${knnRankSql("seeds", "c")}),
      icand AS (SELECT DISTINCT vec_id, nbr FROM (
          SELECT vec_id, nbr FROM n0
          UNION ALL SELECT n0.vec_id, b.nbr FROM n0 JOIN base b ON n0.nbr = b.vec_id
                    WHERE n0.vec_id <> b.nbr)),
      n1 AS MATERIALIZED (${knnRankSql("icand", "c")}),
      aff AS MATERIALIZED (SELECT DISTINCT nbr AS vec_id FROM n1
             WHERE nbr NOT IN (SELECT vec_id FROM newv)),
      affcand AS (SELECT DISTINCT vec_id, nbr FROM (
          SELECT b.vec_id, b.nbr FROM base b JOIN aff ON b.vec_id = aff.vec_id
          UNION ALL SELECT n1.nbr AS vec_id, n1.vec_id AS nbr
                    FROM n1 JOIN aff ON n1.nbr = aff.vec_id)),
      ga AS MATERIALIZED (${knnRankSql("affcand", "c")}),
      ginc AS MATERIALIZED (
          SELECT vec_id, nbr FROM base
          WHERE vec_id NOT IN (SELECT vec_id FROM aff)
          UNION ALL SELECT vec_id, nbr FROM ga
          UNION ALL SELECT vec_id, nbr FROM n1)"""

  /** The unrolled beam-walk CTEs (3 rounds, beam width `b`), every name
    * prefixed `pfx` so several widths coexist in one WITH. Expects
    * `${pfx}beam0(q_id, cand)`, the graph CTE `ge(vec_id, nbr)` (name
    * overridable so one WITH can walk several graphs), `qs(q_id, qv,
    * qn)`, and the vector CTE `c` to be defined by the caller.
    */
  /** @param scFilter extra JOIN/WHERE clauses appended to each round's
    *   scoring CTE — the filtered-walk variant's in-walk predicate
    *   (candidates failing it never enter the visited set or the beam).
    */
  private def beamWalkCtes(pfx: String, b: Int, ge: String = "ge",
      scFilter: String = ""): String =
    (1 to 3).map { r =>
      val prevBeam = s"${pfx}beam${r - 1}"
      val visPrev =
        if (r == 1) ""
        else s"SELECT q_id, cand, cos FROM ${pfx}vis${r - 1} UNION ALL "
      s""",
      ${pfx}exp$r AS (SELECT DISTINCT b.q_id, e.nbr AS cand
                FROM $prevBeam b JOIN $ge e ON e.vec_id = b.cand
                WHERE e.nbr <> b.q_id),
      ${pfx}sc$r AS (SELECT x.q_id, x.cand,
                      round(list_dot_product(q.qv, v.v) / (q.qn * v.nrm), 6) AS cos
               FROM ${pfx}exp$r x JOIN qs q ON q.q_id = x.q_id
                    JOIN c v ON v.vec_id = x.cand$scFilter),
      ${pfx}vis$r AS MATERIALIZED (SELECT DISTINCT q_id, cand, cos FROM (
          ${visPrev}SELECT q_id, cand, cos FROM ${pfx}sc$r)),
      ${pfx}beam$r AS (SELECT q_id, cand FROM (
          SELECT q_id, cand,
                 row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand) AS r
          FROM ${pfx}vis$r) WHERE r <= $b)"""
    }.mkString

  /** Generated CTE chain replaying an NN-Descent build round for round,
    * with every name prefixed `pfx` (so two chains — the full corpus and
    * the base-only corpus of the incremental twin — coexist in one WITH)
    * and the vector source optionally filtered. Every round CTE is
    * MATERIALIZED — each is referenced three times by the next round's
    * expansion, and DuckDB inlines plain CTEs per reference (the measured
    * text_bpe_train 2^k cliff).
    */
  private def knnChainCtes(pfx: String, srcWhere: String): String = {
    val (c, blk) = (s"${pfx}c", s"${pfx}blk")
    val sb = new StringBuilder
    sb.append(s"""
      $c AS MATERIALIZED (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        FROM embeddings $srcWhere),
      $blk AS MATERIALIZED (
        SELECT vec_id,
               ('0x' || substr(md5('b1' || vec_id::VARCHAR), 1, 15))::BIGINT % $KnnBlocks AS b1,
               ('0x' || substr(md5('b2' || vec_id::VARCHAR), 1, 15))::BIGINT % $KnnBlocks AS b2
        FROM $c),
      ${pfx}cand0 AS (SELECT DISTINCT a.vec_id, e.vec_id AS nbr
                FROM $blk a JOIN $blk e
                  ON (a.b1 = e.b1 OR a.b2 = e.b2) AND a.vec_id <> e.vec_id),
      ${pfx}g0 AS MATERIALIZED (${knnRankSql(s"${pfx}cand0", c)})""")
    for (t <- 1 to KnnIters) {
      val p = s"${pfx}g${t - 1}"
      sb.append(s""",
      ${pfx}cand$t AS (
        SELECT DISTINCT vec_id, nbr FROM (
          SELECT vec_id, nbr FROM $p
          UNION ALL SELECT nbr AS vec_id, vec_id AS nbr FROM $p
          UNION ALL SELECT x.vec_id, y.nbr
                    FROM $p x JOIN $p y ON x.nbr = y.vec_id
                    WHERE x.vec_id <> y.nbr)),
      ${pfx}g$t AS MATERIALIZED (${knnRankSql(s"${pfx}cand$t", c)})""")
    }
    sb.toString
  }

  /** The hier-entry fragment — the sampled upper layer, the per-probe
    * argmax entry, and the unrolled walk from it (prefix `hr`) — bound
    * once and shared by sim_knn_graph_entry's hier leg AND
    * stream_graph_probe's oracle: the streamed serving path's whole
    * contract is that it answers identically to the batch leg, so both
    * must pin against one SQL string. Expects `c` and `qs` in scope.
    */
  private lazy val hierWalkCtes: String = s"""l1 AS MATERIALIZED (SELECT vec_id FROM c
            WHERE ('0x' || substr(md5('hl' || vec_id::VARCHAR), 1, 15))::BIGINT % 8 = 0),
      hr AS (SELECT q_id, cand AS hier_entry FROM (
               SELECT q.q_id, v.vec_id AS cand,
                      row_number() OVER (PARTITION BY q.q_id
                        ORDER BY round(list_dot_product(q.qv, v.v) / (q.qn * v.nrm), 6) DESC,
                                 v.vec_id) AS r
               FROM qs q JOIN l1 l ON l.vec_id <> q.q_id
                    JOIN c v ON v.vec_id = l.vec_id) WHERE r = 1),
      hrbeam0 AS (SELECT q_id, hier_entry AS cand FROM hr)${beamWalkCtes("hr", 8)}"""

  /** The hier-entry walk's top-5 as a standalone oracle —
    * stream_graph_probe must land on this, hash for hash.
    */
  private[graft] lazy val knnHierWalkOracle: String = s"""
      WITH $knnOracleCtes,
      ge AS (SELECT vec_id, nbr FROM g$KnnIters),
      qs AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM c WHERE vec_id < 10),
      $hierWalkCtes
      SELECT q_id, cand AS vec_id, cos, CAST(rank AS INTEGER) AS rank FROM (
        SELECT q_id, cand, cos,
               row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand) AS rank
        FROM hrvis3) WHERE rank <= 5"""

  /** The unrolled B=8 beam-walk replay — bound once and shared by
    * sim_knn_graph_search AND sim_knn_graph_search_compacted: the
    * layout-serving variant's whole contract is that it answers
    * IDENTICALLY, so the two rows must pin against one SQL string.
    */
  private lazy val knnSearchOracle: String = s"""
      WITH $knnOracleCtes,
      ge AS (SELECT vec_id, nbr FROM g$KnnIters),
      qs AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM c WHERE vec_id < 10),
      beam0 AS (SELECT q_id, q_id AS cand FROM qs)${beamWalkCtes("", 8)}
      SELECT q_id, cand AS vec_id, cos, CAST(rank AS INTEGER) AS rank FROM (
        SELECT q_id, cand, cos,
               row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand) AS rank
        FROM vis3) WHERE rank <= 5"""

  /** The labeled IVF probe set-up shared by the filtered IVF oracles: the
    * corpus with labels and norms, 16 seed cells, every vector's cell, and
    * each probe's (vec_id < 10) two nearest cells.
    */
  private lazy val labeledIvfCtes: String = """
      WITH c AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS v,
               sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        FROM embeddings),
      cents AS (SELECT vec_id AS c_id, v AS cv, nrm AS cn FROM c WHERE vec_id < 16),
      assigned AS (
        SELECT vec_id, label, v, nrm, c_id FROM (
          SELECT a.vec_id, a.label, a.v, a.nrm, cents.c_id,
                 row_number() OVER (PARTITION BY a.vec_id
                   ORDER BY round(list_dot_product(a.v, cv) / (a.nrm * cn), 6) DESC, c_id) AS crank
          FROM c a CROSS JOIN cents) WHERE crank = 1),
      probes AS (
        SELECT vec_id AS q_id, label AS tgt, v AS qv, nrm AS qn, c_id FROM (
          SELECT a.vec_id, a.label, a.v, a.nrm, cents.c_id,
                 row_number() OVER (PARTITION BY a.vec_id
                   ORDER BY round(list_dot_product(a.v, cv) / (a.nrm * cn), 6) DESC, c_id) AS crank
          FROM c a CROSS JOIN cents WHERE a.vec_id < 10) WHERE crank <= 2)"""

  /** The filtered-exact truth of the filtered IVF oracles: each probe's 5
    * most cosine-similar vectors among those carrying its label.
    */
  private lazy val labeledExactCtes: String = """
      p1 AS (SELECT vec_id AS q_id, label AS tgt, v AS qv, nrm AS qn
             FROM c WHERE vec_id < 10),
      ex AS (
        SELECT q_id, tgt, vec_id FROM (
          SELECT p.q_id, p.tgt, s.vec_id,
                 round(list_dot_product(p.qv, s.v) / (p.qn * s.nrm), 6) AS cos
          FROM c s CROSS JOIN p1 p
          WHERE s.vec_id <> p.q_id AND s.label = p.tgt)
        QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) <= 5)"""

  /** Shared by the labeled-walk oracles: the unfiltered walk's top-5
    * restricted to the probe's label (visleg), and the label-filtered exact
    * cosine top-5 (ex). Expects c, lb, qs and uvis3 in scope.
    */
  private lazy val labeledWalkTruthCtes: String = """
      visleg AS (SELECT q_id, cand AS vec_id FROM (
                   SELECT t.q_id, t.cand,
                          row_number() OVER (PARTITION BY t.q_id
                            ORDER BY t.cos DESC, t.cand) AS rk
                   FROM uvis3 t
                   JOIN qs q ON q.q_id = t.q_id
                   JOIN lb ON lb.vec_id = t.cand
                   WHERE lb.label = q.tgt) WHERE rk <= 5),
      ex AS (SELECT q_id, tgt, vec_id FROM (
               SELECT p.q_id, p.tgt, s.vec_id,
                      round(list_dot_product(p.qv, s.v) / (p.qn * s.nrm), 6) AS cos
               FROM c s JOIN lb ON lb.vec_id = s.vec_id CROSS JOIN qs p
               WHERE s.vec_id <> p.q_id AND lb.label = p.tgt)
             QUALIFY row_number() OVER (PARTITION BY q_id
               ORDER BY cos DESC, vec_id) <= 5)"""

  /** A beam walk's answer: the top-5 of its visited set `vis`
    * (q_id, cand, cos) by (cos desc, cand).
    */
  private def walkTop5Sql(vis: String): String = s"""SELECT q_id, cand AS vec_id FROM (
                SELECT q_id, cand,
                       row_number() OVER (PARTITION BY q_id
                         ORDER BY cos DESC, cand) AS rk
                FROM $vis) WHERE rk <= 5"""

  /** The shared head of the MMR oracles: micro-unit coordinates, the probes'
    * (vec_id < 10) top-20 candidates by integer dot-product relevance (cand),
    * and every candidate pair's dot product (pd).
    */
  private lazy val mmrCandCtes: String = s"""
      WITH $corpusCte, vu AS MATERIALIZED (${microUnitsSql("dim_i")}),
      rel AS (SELECT p.vec_id AS q_id, b.vec_id, sum(p.xu * b.xu) AS rel
              FROM vu p JOIN vu b ON p.dim_i = b.dim_i
              WHERE p.vec_id < 10 AND b.vec_id <> p.vec_id
              GROUP BY 1, 2),
      cand AS MATERIALIZED (SELECT q_id, vec_id, CAST(rel AS BIGINT) AS rel FROM rel
              QUALIFY row_number() OVER (PARTITION BY q_id
                ORDER BY rel DESC, vec_id) <= 20),
      pd AS MATERIALIZED (SELECT ca.q_id, ca.vec_id AS i, cb.vec_id AS j,
                     CAST(sum(x.xu * y.xu) AS BIGINT) AS pdot
             FROM cand ca
             JOIN cand cb ON ca.q_id = cb.q_id AND ca.vec_id <> cb.vec_id
             JOIN vu x ON x.vec_id = ca.vec_id
             JOIN vu y ON y.vec_id = cb.vec_id AND y.dim_i = x.dim_i
             GROUP BY 1, 2, 3)"""

  /** The shared head of the nprobe sweep oracles after pqAdcCtes: fixture
    * cells, each probe's 8 nearest cells with their probe rank, the
    * candidate-restricted ADC, and each candidate swept into every nprobe in
    * {1, 2, 4, 8} that reaches its cell.
    */
  private lazy val ivfpqSweptCtes: String = s"""
      ${fixtureCellDistCte("celld")},
      cellsv AS (SELECT vec_id, c16 AS cell FROM celld
                 QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, c16) = 1),
      probecells8 AS (SELECT vec_id AS q_id, c16 AS cell,
                             row_number() OVER (PARTITION BY vec_id ORDER BY d2, c16) AS pr
                      FROM celld WHERE vec_id < 10
                      QUALIFY pr <= 8),
      candv AS (SELECT p.q_id, cl.vec_id, p.pr
                FROM cellsv cl JOIN probecells8 p ON cl.cell = p.cell
                WHERE cl.vec_id <> p.q_id),
      adcr AS (SELECT ca.q_id, ca.vec_id, ca.pr, CAST(sum(l.d2) AS BIGINT) AS adc_u
               FROM candv ca JOIN codes cds ON cds.vec_id = ca.vec_id
               JOIN lut l ON l.q_id = ca.q_id AND l.sb = cds.sb AND l.c_id = cds.c_id
               GROUP BY 1, 2, 3),
      swept AS (SELECT a.q_id, a.vec_id, a.adc_u, s.np
                FROM adcr a, LATERAL (SELECT unnest([1, 2, 4, 8]) AS np) s
                WHERE s.np >= a.pr)"""

  /** The IVF answer over `assigned` cells and `probes`: every candidate in a
    * probe cell scored by 6dp cosine, ranked per probe (the caller cuts at
    * 5).
    */
  private lazy val ivfScoredTop5Sql: String = """
      scored AS (
        SELECT q_id, s.vec_id,
               round(list_dot_product(qv, s.v) / (qn * s.nrm), 6) AS cos
        FROM assigned s JOIN probes p ON s.c_id = p.c_id
        WHERE s.vec_id <> p.q_id)
      SELECT q_id, vec_id, cos,
             CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS INTEGER) AS rank
      FROM scored"""

  /** The exact cosine top-5 of every probe in `qs` over the corpus `c`, the
    * truth the kNN walk audits score against.
    */
  private lazy val knnExactTop5Cte: String = """
      exact AS MATERIALIZED (SELECT q_id, cand FROM (
          SELECT p.q_id, x.vec_id AS cand,
                 row_number() OVER (PARTITION BY p.q_id
                   ORDER BY round(list_dot_product(p.qv, x.v) / (p.qn * x.nrm), 6)
                     DESC, x.vec_id) AS rn
          FROM qs p JOIN c x ON x.vec_id <> p.q_id) WHERE rn <= 5)"""

  val oracle: Map[String, String] = Map(
    "sim_knn_graph" -> s"""
      WITH $knnOracleCtes
      SELECT vec_id, nbr, CAST(rank AS INTEGER) AS rank, cos FROM g$KnnIters""",
    "sim_knn_graph_curve" -> {
      val allg = (0 to KnnIters)
        .map(t => s"SELECT $t AS iter, vec_id, nbr FROM g$t")
        .mkString("\n          UNION ALL ")
      s"""
      WITH $knnOracleCtes,
      allg AS (
          $allg),
      probes AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM c
                 WHERE ('0x' || substr(md5(vec_id::VARCHAR), 1, 15))::BIGINT % 10 = 0),
      exact AS (SELECT q_id, nbr FROM (
          SELECT p.q_id, x.vec_id AS nbr,
                 row_number() OVER (PARTITION BY p.q_id
                   ORDER BY round(list_dot_product(p.qv, x.v) / (p.qn * x.nrm), 6) DESC,
                            x.vec_id) AS r
          FROM probes p JOIN c x ON x.vec_id <> p.q_id)
        WHERE r <= $KnnK),
      per AS (SELECT iter, CAST(count(*) AS BIGINT) AS n_edges FROM allg GROUP BY 1),
      hits AS (SELECT a.iter, CAST(count(*) AS BIGINT) AS n_hits
               FROM allg a JOIN exact e ON a.vec_id = e.q_id AND a.nbr = e.nbr
               GROUP BY 1)
      SELECT per.iter, per.n_edges,
             round(coalesce(hits.n_hits, 0) / (SELECT count(*) FROM exact), 6) AS recall
      FROM per LEFT JOIN hits ON per.iter = hits.iter"""
    },
    // sim_knn_graph_search: the unrolled beam walk over the generated
    // build chain — visit set, tie rule, and 6dp scores replayed exactly
    "sim_knn_graph_search" -> knnSearchOracle,
    // sim_knn_graph_search_compacted: VERBATIM the same walk replay —
    // serving adjacency from the partition-pruned layout must change
    // nothing about the visit order, scores, or answer set
    "sim_knn_graph_search_compacted" -> knnSearchOracle,
    // sim_knn_graph_search_filtered: TWO walk replays over the same
    // generated graph — the filtered walk (in-walk label predicate in
    // every round's scoring CTE) and the unfiltered walk post-filtered
    // at top-5 — both scored per probe against the filtered-exact truth
    "sim_knn_graph_search_filtered" -> s"""
      WITH $knnOracleCtes,
      ge AS (SELECT vec_id, nbr FROM g$KnnIters),
      lb AS (SELECT vec_id, label FROM embeddings),
      qs AS (SELECT c.vec_id AS q_id, lb.label AS tgt, c.v AS qv, c.nrm AS qn
             FROM c JOIN lb ON lb.vec_id = c.vec_id WHERE c.vec_id < 10),
      ubeam0 AS (SELECT q_id, q_id AS cand FROM qs)${beamWalkCtes("u", 8)},
      post AS (SELECT t.q_id, t.cand AS vec_id FROM (
                 SELECT q_id, cand,
                        row_number() OVER (PARTITION BY q_id
                          ORDER BY cos DESC, cand) AS rk
                 FROM uvis3) t
               JOIN qs q ON q.q_id = t.q_id
               JOIN lb ON lb.vec_id = t.cand
               WHERE t.rk <= 5 AND lb.label = q.tgt),
      fbeam0 AS (SELECT q_id, q_id AS cand FROM qs)${beamWalkCtes("f", 8, "ge",
        "\n                    JOIN lb ON lb.vec_id = x.cand WHERE lb.label = q.tgt")},
      pre AS (${walkTop5Sql("fvis3")}),
      $labeledWalkTruthCtes
      SELECT e.q_id, CAST(e.tgt AS INTEGER) AS target_label,
             count(*) AS n_exact,
             CAST(sum(CASE WHEN pr.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS pre_hits,
             CAST(sum(CASE WHEN vl.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS vis_hits,
             CAST(sum(CASE WHEN po.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS post_hits,
             round(sum(CASE WHEN pr.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                   / CAST(count(*) AS DOUBLE), 6) AS pre_recall,
             round(sum(CASE WHEN vl.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                   / CAST(count(*) AS DOUBLE), 6) AS vis_recall,
             round(sum(CASE WHEN po.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                   / CAST(count(*) AS DOUBLE), 6) AS post_recall
      FROM ex e
      LEFT JOIN pre pr ON pr.q_id = e.q_id AND pr.vec_id = e.vec_id
      LEFT JOIN visleg vl ON vl.q_id = e.q_id AND vl.vec_id = e.vec_id
      LEFT JOIN post po ON po.q_id = e.q_id AND po.vec_id = e.vec_id
      GROUP BY 1, 2""",
    // sim_knn_graph_labeled_build: the stitch re-derived — per label, the
    // blind graph's same-label edges, the shortcut edges added beyond
    // them, and the zero-same-label-out-edge node census before/after
    "sim_knn_graph_labeled_build" -> s"""
      WITH $knnOracleCtes,
      ge AS (SELECT vec_id, nbr FROM g$KnnIters),
      $labeledGraphCtes,
      samege AS (SELECT g.vec_id, a.label FROM ge g
                 JOIN lb a ON a.vec_id = g.vec_id
                 JOIN lb b ON b.vec_id = g.nbr AND b.label = a.label),
      samegl AS (SELECT g.vec_id, a.label FROM gl g
                 JOIN lb a ON a.vec_id = g.vec_id
                 JOIN lb b ON b.vec_id = g.nbr AND b.label = a.label),
      added AS (SELECT a.label, count(*) AS added_edges
                FROM (SELECT vec_id, nbr FROM gl
                      EXCEPT SELECT vec_id, nbr FROM ge) x
                JOIN lb a ON a.vec_id = x.vec_id GROUP BY 1)
      SELECT lb.label, CAST(count(*) AS BIGINT) AS n_nodes,
             CAST(coalesce(any_value(eg.n), 0) AS BIGINT) AS base_same_edges,
             CAST(coalesce(any_value(added.added_edges), 0) AS BIGINT) AS added_edges,
             CAST(coalesce(any_value(egl.n), 0) AS BIGINT) AS aug_same_edges,
             CAST(sum(CASE WHEN lb.vec_id NOT IN (SELECT vec_id FROM samege)
                           THEN 1 ELSE 0 END) AS BIGINT) AS no_same_before,
             CAST(sum(CASE WHEN lb.vec_id NOT IN (SELECT vec_id FROM samegl)
                           THEN 1 ELSE 0 END) AS BIGINT) AS no_same_after
      FROM lb
      LEFT JOIN (SELECT label, count(*) AS n FROM samege GROUP BY 1) eg
             ON eg.label = lb.label
      LEFT JOIN (SELECT label, count(*) AS n FROM samegl GROUP BY 1) egl
             ON egl.label = lb.label
      LEFT JOIN added ON added.label = lb.label
      GROUP BY 1""",
    // sim_knn_graph_search_labeled: THREE walk replays — the filtered
    // walk over the stitched graph, the same filtered walk over the
    // blind graph, and the unfiltered stitched walk visited-filtered —
    // each scored per probe against the filtered-exact truth
    "sim_knn_graph_search_labeled" -> s"""
      WITH $knnOracleCtes,
      ge AS (SELECT vec_id, nbr FROM g$KnnIters),
      $labeledGraphCtes,
      qs AS (SELECT c.vec_id AS q_id, lb.label AS tgt, c.v AS qv, c.nrm AS qn
             FROM c JOIN lb ON lb.vec_id = c.vec_id WHERE c.vec_id < 10),
      lbeam0 AS (SELECT q_id, q_id AS cand FROM qs)${beamWalkCtes("l", 8, "gl",
        "\n                    JOIN lb ON lb.vec_id = x.cand WHERE lb.label = q.tgt")},
      bbeam0 AS (SELECT q_id, q_id AS cand FROM qs)${beamWalkCtes("b", 8, "ge",
        "\n                    JOIN lb ON lb.vec_id = x.cand WHERE lb.label = q.tgt")},
      ubeam0 AS (SELECT q_id, q_id AS cand FROM qs)${beamWalkCtes("u", 8, "gl")},
      labl AS (${walkTop5Sql("lvis3")}),
      blind AS (${walkTop5Sql("bvis3")}),
      $labeledWalkTruthCtes
      SELECT e.q_id, CAST(e.tgt AS INTEGER) AS target_label,
             count(*) AS n_exact,
             CAST(sum(CASE WHEN la.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS lab_hits,
             CAST(sum(CASE WHEN bl.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS blind_hits,
             CAST(sum(CASE WHEN vl.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS vis_hits,
             round(sum(CASE WHEN la.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                   / CAST(count(*) AS DOUBLE), 6) AS lab_recall,
             round(sum(CASE WHEN bl.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                   / CAST(count(*) AS DOUBLE), 6) AS blind_recall,
             round(sum(CASE WHEN vl.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                   / CAST(count(*) AS DOUBLE), 6) AS vis_recall
      FROM ex e
      LEFT JOIN labl la ON la.q_id = e.q_id AND la.vec_id = e.vec_id
      LEFT JOIN blind bl ON bl.q_id = e.q_id AND bl.vec_id = e.vec_id
      LEFT JOIN visleg vl ON vl.q_id = e.q_id AND vl.vec_id = e.vec_id
      GROUP BY 1, 2""",
    // sim_knn_graph_entry: the generated build chain + THREE unrolled
    // walk replays that differ ONLY in their beam0 CTE — self-entry,
    // the one global fixed entry, and the per-probe upper-layer argmax
    "sim_knn_graph_entry" -> s"""
      WITH $knnOracleCtes,
      ge AS (SELECT vec_id, nbr FROM g$KnnIters),
      qs AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM c WHERE vec_id < 10),
      $hierWalkCtes,
      fx AS (SELECT min(vec_id) AS fixed_entry FROM l1),
      sebeam0 AS (SELECT q_id, q_id AS cand FROM qs)${beamWalkCtes("se", 8)},
      fxbeam0 AS (SELECT q_id, (SELECT fixed_entry FROM fx) AS cand FROM qs)${
        beamWalkCtes("fx", 8)},
      se5 AS (${walkTop5Sql("sevis3")}),
      fx5 AS (${walkTop5Sql("fxvis3")}),
      hr5 AS (${walkTop5Sql("hrvis3")}),
      ex AS (SELECT q_id, vec_id FROM (
               SELECT p.q_id, s.vec_id,
                      row_number() OVER (PARTITION BY p.q_id
                        ORDER BY round(list_dot_product(p.qv, s.v) / (p.qn * s.nrm), 6) DESC,
                                 s.vec_id) AS r
               FROM qs p JOIN c s ON s.vec_id <> p.q_id) WHERE r <= 5)
      SELECT e.q_id,
             (SELECT fixed_entry FROM fx) AS fixed_entry,
             any_value(hr.hier_entry) AS hier_entry,
             (SELECT CAST(count(*) AS BIGINT) FROM l1) AS n_layer1,
             CAST(count(*) AS BIGINT) AS n_exact,
             CAST(sum(CASE WHEN se5.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS self_hits,
             CAST(sum(CASE WHEN fx5.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS fixed_hits,
             CAST(sum(CASE WHEN hr5.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hier_hits,
             round(sum(CASE WHEN se5.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                   / CAST(count(*) AS DOUBLE), 6) AS self_recall,
             round(sum(CASE WHEN fx5.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                   / CAST(count(*) AS DOUBLE), 6) AS fixed_recall,
             round(sum(CASE WHEN hr5.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                   / CAST(count(*) AS DOUBLE), 6) AS hier_recall
      FROM ex e
      JOIN hr ON hr.q_id = e.q_id
      LEFT JOIN se5 ON se5.q_id = e.q_id AND se5.vec_id = e.vec_id
      LEFT JOIN fx5 ON fx5.q_id = e.q_id AND fx5.vec_id = e.vec_id
      LEFT JOIN hr5 ON hr5.q_id = e.q_id AND hr5.vec_id = e.vec_id
      GROUP BY 1""",
    // sim_knn_graph_search_sweep: three full walks (B ∈ {4, 8, 16}), the
    // per-round top-5 of each compared against the exact cosine top-5
    "sim_knn_graph_search_sweep" -> {
      val chains = Seq(4, 8, 16).map(b =>
        s"""b${b}beam0 AS (SELECT q_id, q_id AS cand FROM qs)${beamWalkCtes(s"b$b", b)}""")
        .mkString(",\n      ")
      val rows = (for (b <- Seq(4, 8, 16); r <- 1 to 3) yield s"""
      SELECT CAST($b AS INTEGER) AS beam, CAST($r AS INTEGER) AS rounds,
             CAST(count(*) AS BIGINT) AS n_hits,
             round(count(*) / 50.0, 6) AS recall_at_5
      FROM (SELECT q_id, cand FROM (
              SELECT q_id, cand,
                     row_number() OVER (PARTITION BY q_id
                       ORDER BY cos DESC, cand) AS rk
              FROM b${b}vis$r) WHERE rk <= 5) t
      JOIN exact e ON t.q_id = e.q_id AND t.cand = e.cand""")
        .mkString("\n      UNION ALL")
      s"""
      WITH $knnOracleCtes,
      ge AS (SELECT vec_id, nbr FROM g$KnnIters),
      qs AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM c WHERE vec_id < 10),
      $knnExactTop5Cte,
      $chains
      $rows"""
    },
    // sim_knn_graph_layout: the per-block adjacency inventory re-derived
    // from the generated build chain — the layout round trip must lose
    // nothing vs the logical graph
    "sim_knn_graph_layout" -> s"""
      WITH $knnOracleCtes
      SELECT CAST(('0x' || substr(md5('b1' || g.vec_id::VARCHAR), 1, 15))::BIGINT
                  % $KnnBlocks AS INTEGER) AS blk,
             CAST(count(DISTINCT g.vec_id) AS BIGINT) AS n_nodes,
             CAST(count(*) AS BIGINT) AS n_edges
      FROM g$KnnIters g GROUP BY 1""",
    // sim_knn_graph_frag_trigger: the expected directory counts derived
    // logically — files after batch k = distinct (blk, batch≤k) pairs,
    // because each append writes exactly one file per touched block
    "sim_knn_graph_frag_trigger" -> s"""
      WITH $knnOracleCtes,
      gb AS (SELECT DISTINCT
                    ('0x' || substr(md5('b1' || vec_id::VARCHAR), 1, 15))::BIGINT
                      % $KnnBlocks AS blk,
                    vec_id % 4 AS b
             FROM g$KnnIters),
      fk(k) AS (VALUES (0), (1), (2), (3))
      SELECT CAST(k AS INTEGER) AS batch,
             CAST(count(DISTINCT blk) AS BIGINT) AS n_blocks,
             CAST(count(*) AS BIGINT) AS n_files,
             count(*) > 2 * count(DISTINCT blk) AS merge_due
      FROM fk JOIN gb ON gb.b <= fk.k
      GROUP BY 1""",
    // sim_knn_graph_incremental: base build (batch excluded) + the
    // three-step insert + the cohort comparison against the full chain,
    // all replayed CTE for CTE
    "sim_knn_graph_incremental" -> s"""
      WITH $knnOracleCtes,${knnChainCtes("b", s"WHERE NOT ($knnBatchSql)")},
      $knnIncInsertCtes,
      fulle AS (SELECT vec_id, nbr FROM g$KnnIters),
      cohorts AS MATERIALIZED (
          SELECT c.vec_id,
                 CASE WHEN c.vec_id IN (SELECT vec_id FROM newv) THEN 'new'
                      WHEN c.vec_id IN (SELECT vec_id FROM aff) THEN 'affected'
                      ELSE 'untouched' END AS cohort
          FROM c),
      per AS (
        SELECT co.cohort,
               CAST(count(DISTINCT co.vec_id) AS BIGINT) AS n_nodes,
               CAST(count(g.vec_id) AS BIGINT) AS n_edges
        FROM cohorts co LEFT JOIN ginc g ON g.vec_id = co.vec_id
        GROUP BY 1),
      nf AS (SELECT co.cohort, CAST(count(*) AS BIGINT) AS n_full
             FROM fulle f JOIN cohorts co ON f.vec_id = co.vec_id GROUP BY 1),
      nh AS (SELECT co.cohort, CAST(count(*) AS BIGINT) AS n_hits
             FROM ginc g JOIN fulle f ON g.vec_id = f.vec_id AND g.nbr = f.nbr
                  JOIN cohorts co ON g.vec_id = co.vec_id
             GROUP BY 1)
      SELECT per.cohort, per.n_nodes, per.n_edges,
             CAST(coalesce(nh.n_hits, 0) AS BIGINT) AS n_hits,
             round(coalesce(nh.n_hits, 0) / nf.n_full, 6) AS recall
      FROM per JOIN nf ON per.cohort = nf.cohort
           LEFT JOIN nh ON per.cohort = nh.cohort
      UNION ALL
      SELECT 'overall',
             CAST((SELECT count(*) FROM cohorts) AS BIGINT),
             CAST((SELECT count(*) FROM ginc) AS BIGINT),
             CAST((SELECT count(*) FROM ginc g JOIN fulle f
                   ON g.vec_id = f.vec_id AND g.nbr = f.nbr) AS BIGINT),
             round((SELECT count(*) FROM ginc g JOIN fulle f
                    ON g.vec_id = f.vec_id AND g.nbr = f.nbr)
                   / (SELECT count(*) FROM fulle), 6)""",
    // sim_knn_graph_serve_maintained: the identical B=8 walk replayed
    // over BOTH graphs — the rebuild chain and the insert chain — each
    // answer set scored against the exact top-5, plus their agreement
    "sim_knn_graph_serve_maintained" -> s"""
      WITH $knnOracleCtes,${knnChainCtes("b", s"WHERE NOT ($knnBatchSql)")},
      $knnIncInsertCtes,
      ge AS (SELECT vec_id, nbr FROM g$KnnIters),
      gi AS MATERIALIZED (SELECT vec_id, nbr FROM ginc),
      qs AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM c WHERE vec_id < 10),
      $knnExactTop5Cte,
      fbeam0 AS (SELECT q_id, q_id AS cand FROM qs)${beamWalkCtes("f", 8, "ge")},
      mbeam0 AS (SELECT q_id, q_id AS cand FROM qs)${beamWalkCtes("m", 8, "gi")},
      f5 AS (SELECT q_id, cand FROM (
          SELECT q_id, cand,
                 row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand) AS rk
          FROM fvis3) WHERE rk <= 5),
      m5 AS (SELECT q_id, cand FROM (
          SELECT q_id, cand,
                 row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand) AS rk
          FROM mvis3) WHERE rk <= 5)
      SELECT 'rebuilt' AS variant, CAST(count(*) AS BIGINT) AS n_hits,
             round(count(*) / 50.0, 6) AS frac
      FROM f5 t JOIN exact e ON t.q_id = e.q_id AND t.cand = e.cand
      UNION ALL
      SELECT 'maintained', CAST(count(*) AS BIGINT), round(count(*) / 50.0, 6)
      FROM m5 t JOIN exact e ON t.q_id = e.q_id AND t.cand = e.cand
      UNION ALL
      SELECT 'agreement', CAST(count(*) AS BIGINT), round(count(*) / 50.0, 6)
      FROM f5 t JOIN m5 e ON t.q_id = e.q_id AND t.cand = e.cand""",
    "arr_stats" -> """
      SELECT vec_id,
             round(CAST(list_max(embedding) AS DOUBLE), 6) AS vmax,
             round(list_sum(embedding::DOUBLE[]), 6) AS vsum,
             CAST(len(embedding) AS INTEGER) AS dim
      FROM embeddings""",
    "arr_l2_norm" -> """
      SELECT vec_id,
             round(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 6) AS l2_norm
      FROM embeddings""",
    "sim_cosine_topk" -> cosineTopkSql,
    "dedup_semantic" -> """
      WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                        sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
                 FROM embeddings),
      cents AS (SELECT vec_id AS c_id, v AS cv, nrm AS cn FROM c WHERE vec_id < 16),
      asg AS (SELECT vec_id, c_id, v, nrm FROM (
                SELECT x.vec_id, ct.c_id, x.v, x.nrm,
                       row_number() OVER (PARTITION BY x.vec_id
                         ORDER BY list_dot_product(x.v, ct.cv) / (x.nrm * ct.cn) DESC,
                                  ct.c_id) AS rn
                FROM c x CROSS JOIN cents ct)
              WHERE rn = 1),
      dups AS (SELECT b.vec_id, count(*) AS n_earlier
               FROM asg a JOIN asg b
                 ON a.c_id = b.c_id AND a.vec_id < b.vec_id
               WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) > 0.4
               GROUP BY 1)
      SELECT asg.vec_id, asg.c_id,
             coalesce(d.n_earlier, 0) AS n_earlier_dups,
             d.vec_id IS NULL AS keep
      FROM asg LEFT JOIN dups d ON asg.vec_id = d.vec_id""",
    "sim_mips_topk" -> """
      WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                        (1.0 + vec_id % 5) / 3.0 AS sv
                 FROM embeddings),
      p AS (SELECT vec_id AS q_id, v AS qv, sv AS sq FROM c WHERE vec_id < 10),
      scored AS (
        SELECT q_id, vec_id, round(list_dot_product(qv, v) * sq * sv, 6) AS ip
        FROM c CROSS JOIN p WHERE vec_id <> q_id)
      SELECT q_id, vec_id, ip,
             CAST(row_number() OVER (PARTITION BY q_id ORDER BY ip DESC, vec_id) AS INTEGER) AS rank
      FROM scored
      QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY ip DESC, vec_id) <= 5""",
    "sim_knn_label" -> s"""
      WITH knn AS ($cosineTopkSql),
      votes AS (SELECT q_id, label, count(*) AS n
                FROM knn JOIN embeddings e ON knn.vec_id = e.vec_id
                GROUP BY 1, 2)
      SELECT q_id, label AS knn_label, n AS n_votes FROM votes
      QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY n DESC, label) = 1""",
    "dedup_embed_cosine" -> """
      WITH c AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        FROM embeddings)
      SELECT a.vec_id AS da, b.vec_id AS db,
             round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cos
      FROM c a JOIN c b ON a.vec_id < b.vec_id
      WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) > 0.4""",
    "sim_ivf_topk" -> ivfTopkSql,
    // filtered ANN: the label predicate is applied inside the probed cells
    // (before the top-k) in BOTH engines, and the exact leg restricts the
    // brute-force population the same way — recall is hash-matched per probe
    "sim_ivf_filtered" -> s"""
      $labeledIvfCtes,
      ivf AS (
        SELECT q_id, vec_id FROM (
          SELECT p.q_id, s.vec_id,
                 round(list_dot_product(qv, s.v) / (qn * s.nrm), 6) AS cos
          FROM assigned s JOIN probes p ON s.c_id = p.c_id
          WHERE s.vec_id <> p.q_id AND s.label = p.tgt)
        QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) <= 5),
      $labeledExactCtes
      SELECT e.q_id, CAST(e.tgt AS INTEGER) AS target_label,
             count(*) AS n_exact,
             CAST(sum(CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
             round(sum(CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                   / CAST(count(*) AS DOUBLE), 6) AS recall
      FROM ex e LEFT JOIN ivf i ON e.q_id = i.q_id AND e.vec_id = i.vec_id
      GROUP BY 1, 2""",
    // pre- vs post-filter over the identical cells and budget: the post
    // leg ranks UNfiltered candidates, takes 5, then filters — the recall
    // collapse is the hash-matched output
    "sim_ivf_filtered_sweep" -> s"""
      $labeledIvfCtes,
      cands AS (
        SELECT p.q_id, p.tgt, s.label, s.vec_id,
               round(list_dot_product(qv, s.v) / (qn * s.nrm), 6) AS cos
        FROM assigned s JOIN probes p ON s.c_id = p.c_id
        WHERE s.vec_id <> p.q_id),
      pre AS (
        SELECT q_id, vec_id FROM (SELECT * FROM cands WHERE label = tgt)
        QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) <= 5),
      post AS (
        SELECT q_id, vec_id FROM (
          SELECT * FROM cands
          QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) <= 5)
        WHERE label = tgt),
      $labeledExactCtes
      SELECT e.q_id, CAST(e.tgt AS INTEGER) AS target_label,
             count(*) AS n_exact,
             CAST(sum(CASE WHEN pr.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS pre_hits,
             CAST(sum(CASE WHEN po.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS post_hits,
             round(sum(CASE WHEN pr.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                   / CAST(count(*) AS DOUBLE), 6) AS pre_recall,
             round(sum(CASE WHEN po.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                   / CAST(count(*) AS DOUBLE), 6) AS post_recall
      FROM ex e
      LEFT JOIN pre pr ON e.q_id = pr.q_id AND e.vec_id = pr.vec_id
      LEFT JOIN post po ON e.q_id = po.q_id AND e.vec_id = po.vec_id
      GROUP BY 1, 2""",
    "sim_pq_adc" -> pqAdcSql,
    // the batch encode-scan must land on the same code table as the
    // streamed encode and the join-based shared stage
    "sim_pq_encode_scan" -> pqStreamCodesSql,
    // the compacted layout's per-cell inventory must equal the logical
    // index table re-derived from raw parquet
    "sim_ivfpq_compaction" -> ivfpqCompactionSql,
    // sim_ivfpq_forget_purge: the purged index re-derived LOGICALLY —
    // per cell, survivors/codes/forgotten under the shared md5 forget
    // set; a fully-forgotten cell emits no row (its dir is deleted)
    "sim_ivfpq_forget_purge" -> (pqAdcCtes + cellAsnCtes + s""",
      fgt AS (SELECT vec_id FROM c WHERE $forgetSqlPred)
      SELECT CAST(a.cell AS INTEGER) AS cell,
             CAST(count(DISTINCT cds.vec_id) FILTER (WHERE f.vec_id IS NULL) AS BIGINT) AS n_vectors,
             CAST(count(*) FILTER (WHERE f.vec_id IS NULL) AS BIGINT) AS n_codes,
             CAST(count(DISTINCT cds.vec_id) FILTER (WHERE f.vec_id IS NOT NULL) AS BIGINT) AS n_forgotten,
             count(DISTINCT cds.vec_id) FILTER (WHERE f.vec_id IS NOT NULL) > 0 AS rewritten
      FROM codes cds JOIN cellasn a ON cds.vec_id = a.vec_id
      LEFT JOIN fgt f ON f.vec_id = cds.vec_id
      GROUP BY 1
      HAVING count(*) FILTER (WHERE f.vec_id IS NULL) > 0"""),
    // sim_ivfpq_forget_serve: both serve legs replayed end to end — the
    // tombstone-filtered candidates and the purged index's candidates
    // each run ADC → shortlist → exact re-rank → top-5
    "sim_ivfpq_forget_serve" -> (pqAdcCtes + cellAsnCtes + s""",
      fgt AS (SELECT vec_id FROM c WHERE $forgetSqlPred),
      probecells AS (SELECT vec_id AS q_id, cell FROM cd2
                     WHERE vec_id < 10
                     QUALIFY row_number() OVER (PARTITION BY vec_id
                       ORDER BY d2, cell) <= 2),
      candf AS (SELECT p.q_id, a.vec_id, (f.vec_id IS NOT NULL) AS dead
                FROM cellasn a JOIN probecells p ON a.cell = p.cell
                LEFT JOIN fgt f ON f.vec_id = a.vec_id
                WHERE a.vec_id <> p.q_id),
      cnts AS (SELECT q_id, CAST(count(*) AS BIGINT) AS n_scanned_tomb,
                      CAST(sum(CASE WHEN dead THEN 1 ELSE 0 END) AS BIGINT) AS n_dead
               FROM candf GROUP BY 1),
      ${forgetServeLeg("t", "SELECT q_id, vec_id FROM candf WHERE NOT dead")},
      ${forgetServeLeg("g",
        """SELECT p.q_id, a.vec_id
                FROM cellasn a JOIN probecells p ON a.cell = p.cell
                WHERE a.vec_id <> p.q_id
                  AND a.vec_id NOT IN (SELECT vec_id FROM fgt)""")}
      SELECT c.q_id, c.n_scanned_tomb, c.n_dead,
             c.n_scanned_tomb - c.n_dead AS n_scanned_purged,
             t.s5 AS top5_sum,
             (t.s5 = g.s5 AND t.n5 = g.n5) AS agree
      FROM cnts c
      JOIN ttop t ON t.q_id = c.q_id
      JOIN gtop g ON g.q_id = c.q_id"""),
    // the maintenance loop must lose nothing: same logical inventory
    "sim_ivfpq_recompaction" -> ivfpqCompactionSql,
    "sim_ivfpq_scan_cost" -> ivfpqScanCostSql,
    // the directory must contain exactly what the write protocol predicts
    "sim_ivfpq_frag_trigger" -> ivfpqFragTriggerSql,
    "sim_pq_rerank" -> pqRerankSql,
    "sim_ivfpq_topk" -> pqIvfpqSql,
    "sim_ivfpq_trained" -> pqIvfpqTrainedSql,
    "sim_ivfpq_residual" -> pqIvfpqResidualSql,
    "sim_ivfpq_code_gain" -> pqCodeGainSql,
    "sim_pq_train_curve" -> pqTrainCurveSql,
    "sim_pq_seed_audit" -> pqSeedAuditSql,
    "sim_ivfpq_residual_recall" -> exactRecallSql(pqIvfpqResidualSql),
    // MMR: 5 greedy selection steps unrolled (generated — the BPE-chain
    // discipline, every CTE MATERIALIZED against per-reference inlining).
    "sim_mmr_topk" -> {
      def step(k: Int) =
        s"""p$k AS MATERIALIZED (
           |        SELECT c.q_id, c.vec_id, c.rel - max(pd.pdot) AS score
           |        FROM cand c
           |        JOIN sel${k - 1} s ON s.q_id = c.q_id
           |        JOIN pd ON pd.q_id = c.q_id AND pd.i = c.vec_id AND pd.j = s.vec_id
           |        LEFT JOIN sel${k - 1} x ON x.q_id = c.q_id AND x.vec_id = c.vec_id
           |        WHERE x.vec_id IS NULL
           |        GROUP BY c.q_id, c.vec_id, c.rel),
           |      s$k AS MATERIALIZED (SELECT q_id, vec_id, score FROM p$k
           |        QUALIFY row_number() OVER (PARTITION BY q_id
           |          ORDER BY score DESC, vec_id) = 1),
           |      sel$k AS MATERIALIZED (SELECT q_id, vec_id FROM sel${k - 1}
           |        UNION ALL SELECT q_id, vec_id FROM s$k)""".stripMargin
      val steps = (2 to 5).map(step).mkString(",\n      ")
      val union = (1 to 5).map(k =>
        s"SELECT q_id, vec_id, $k AS rank, score FROM s$k").mkString("\n      UNION ALL ")
      s"""
      $mmrCandCtes,
      s1 AS MATERIALIZED (SELECT q_id, vec_id, rel AS score FROM cand
             QUALIFY row_number() OVER (PARTITION BY q_id
               ORDER BY rel DESC, vec_id) = 1),
      sel1 AS MATERIALIZED (SELECT q_id, vec_id FROM s1),
      $steps
      SELECT q_id, vec_id, CAST(rank AS INTEGER) AS rank,
             CAST(score AS BIGINT) AS score_u
      FROM ($union)"""
    },
    // MMR λ sweep: three generated greedy chains over the SHARED cand/pd
    // CTEs, one per integer weight pair (4λ, 4(1−λ)) — the same unrolled
    // 5-step discipline as sim_mmr_topk, suffixed per λ.
    "sim_mmr_lambda_sweep" -> {
      def chain(tag: String, a: Int, b: Int): String = {
        def step(k: Int) =
          s"""p$k$tag AS MATERIALIZED (
             |        SELECT c.q_id, c.vec_id, $a * c.rel - $b * max(pd.pdot) AS score
             |        FROM cand c
             |        JOIN sel${k - 1}$tag s ON s.q_id = c.q_id
             |        JOIN pd ON pd.q_id = c.q_id AND pd.i = c.vec_id AND pd.j = s.vec_id
             |        LEFT JOIN sel${k - 1}$tag x ON x.q_id = c.q_id AND x.vec_id = c.vec_id
             |        WHERE x.vec_id IS NULL
             |        GROUP BY c.q_id, c.vec_id, c.rel),
             |      s$k$tag AS MATERIALIZED (SELECT q_id, vec_id, score FROM p$k$tag
             |        QUALIFY row_number() OVER (PARTITION BY q_id
             |          ORDER BY score DESC, vec_id) = 1),
             |      sel$k$tag AS MATERIALIZED (SELECT q_id, vec_id FROM sel${k - 1}$tag
             |        UNION ALL SELECT q_id, vec_id FROM s$k$tag)""".stripMargin
        s"""s1$tag AS MATERIALIZED (SELECT q_id, vec_id, $a * rel AS score FROM cand
           |        QUALIFY row_number() OVER (PARTITION BY q_id
           |          ORDER BY rel DESC, vec_id) = 1),
           |      sel1$tag AS MATERIALIZED (SELECT q_id, vec_id FROM s1$tag),
           |      ${(2 to 5).map(step).mkString(",\n      ")}""".stripMargin
      }
      val lams = Seq((25, "_25", 1, 3), (50, "_50", 2, 2), (75, "_75", 3, 1))
      val chains = lams.map { case (_, tag, a, b) => chain(tag, a, b) }
        .mkString(",\n      ")
      val union = lams.flatMap { case (lam, tag, _, _) =>
        (1 to 5).map(k =>
          s"SELECT $lam AS lam_pct, q_id, vec_id, $k AS rank, score FROM s$k$tag")
      }.mkString("\n      UNION ALL ")
      s"""
      $mmrCandCtes,
      $chains
      SELECT CAST(lam_pct AS INTEGER) AS lam_pct, q_id, vec_id,
             CAST(rank AS INTEGER) AS rank,
             CAST(score AS BIGINT) AS score_u
      FROM ($union)"""
    },

    "sim_range_search" -> s"""
      WITH $corpusCte, vu AS (${microUnitsSql("dim_i")}),${probeD2Cte("vu", Seq("dim_i"), "d")}
      SELECT q_id, count(*) AS n_within,
             round(CAST(min(d2) AS DOUBLE) / 1000000000000.0, 6) AS nearest_d2,
             CAST(sum(vec_id) AS BIGINT) AS id_sum
      FROM d WHERE d2 < 1900000000000 GROUP BY 1""",

    // Matryoshka prefix-dim recall: per-k distances from the dim_i < k
    // restriction of the same integer coordinate table.
    "emb_matryoshka_recall" -> s"""
      WITH $corpusCte, vu AS (${microUnitsSql("dim_i")}),
      ks AS (SELECT unnest([8, 16, 32, 64]) AS k),
      dist AS (SELECT ks.k, p.vec_id AS q_id, b.vec_id,
                      sum((p.xu - b.xu) * (p.xu - b.xu)) AS d2
               FROM vu p JOIN vu b ON p.dim_i = b.dim_i, ks
               WHERE p.vec_id < 10 AND b.vec_id <> p.vec_id AND p.dim_i < ks.k
               GROUP BY 1, 2, 3),
      top AS (SELECT k, q_id, vec_id FROM dist
              QUALIFY row_number() OVER (PARTITION BY k, q_id
                ORDER BY d2, vec_id) <= 5),${exactTop5Ctes("vu", Seq("dim_i"), "exd", "ex")}
      SELECT CAST(t.k AS INTEGER) AS dim,
             round(sum(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END) / 50.0, 6)
               AS recall
      FROM top t LEFT JOIN ex e ON t.q_id = e.q_id AND t.vec_id = e.vec_id
      GROUP BY 1""",
    // nprobe sweep: the fixture-cell IVF-PQ tail generalized to probe-rank
    // ≤ 8, swept over np ∈ {1,2,4,8} exactly as the Spark side does.
    "sim_ivfpq_probe_sweep" -> (pqAdcCtes + s""",
      $ivfpqSweptCtes,
      shortr AS (SELECT np, q_id, vec_id FROM swept
                 QUALIFY row_number() OVER (PARTITION BY np, q_id ORDER BY adc_u, vec_id) <= 50),
      exr AS (SELECT s.np, s.q_id, s.vec_id,
                     CAST(sum((p.xu - b.xu) * (p.xu - b.xu)) AS BIGINT) AS d2
              FROM shortr s JOIN xu p ON p.vec_id = s.q_id
              JOIN xu b ON b.vec_id = s.vec_id AND b.sb = p.sb AND b.wd = p.wd
              GROUP BY 1, 2, 3),
      atop AS (SELECT np, q_id, vec_id FROM exr
               QUALIFY row_number() OVER (PARTITION BY np, q_id ORDER BY d2, vec_id) <= 5),${exactTop5Ctes("xu", Seq("sb", "wd"), "exq", "exact")},
      hits AS (SELECT a.np, count(*) AS n_hits
               FROM atop a JOIN exact x ON a.q_id = x.q_id AND a.vec_id = x.vec_id
               GROUP BY 1),
      scanned AS (SELECT np, count(*) AS n_cand FROM swept GROUP BY 1)
      SELECT CAST(s.np AS INTEGER) AS nprobe,
             round(coalesce(h.n_hits, 0) / 50.0, 6) AS recall,
             round(s.n_cand / (10.0 * (SELECT count(*) FROM embeddings)), 6) AS scanned_frac
      FROM scanned s LEFT JOIN hits h ON s.np = h.np"""),
    // nprobe × depth grid: the probe sweep's swept frame ranked once per
    // (np, q), cut at max-depth 200, each depth leg an unnest of the rank,
    // exact re-rank distance computed once per distinct pair — exactly the
    // Spark side's one-union/one-rank/one-gather shape.
    "sim_ivfpq_grid" -> (pqAdcCtes + s""",
      $ivfpqSweptCtes,
      rankr AS (SELECT np, q_id, vec_id,
                       row_number() OVER (PARTITION BY np, q_id
                         ORDER BY adc_u, vec_id) AS r
                FROM swept
                QUALIFY r <= 200),
      bydepth AS (SELECT np, q_id, vec_id, dp.depth
                  FROM rankr, LATERAL (SELECT unnest([25, 50, 100, 200]) AS depth) dp
                  WHERE dp.depth >= r),
      pairs AS (SELECT DISTINCT q_id, vec_id FROM rankr),
      exd AS (SELECT s.q_id, s.vec_id,
                     CAST(sum((p.xu - b.xu) * (p.xu - b.xu)) AS BIGINT) AS d2
              FROM pairs s JOIN xu p ON p.vec_id = s.q_id
              JOIN xu b ON b.vec_id = s.vec_id AND b.sb = p.sb AND b.wd = p.wd
              GROUP BY 1, 2),
      atop AS (SELECT bd.np, bd.depth, bd.q_id, bd.vec_id
               FROM bydepth bd JOIN exd e
                 ON e.q_id = bd.q_id AND e.vec_id = bd.vec_id
               QUALIFY row_number() OVER (PARTITION BY bd.np, bd.depth, bd.q_id
                 ORDER BY e.d2, bd.vec_id) <= 5),${exactTop5Ctes("xu", Seq("sb", "wd"), "exq", "exact")},
      hits AS (SELECT a.np, a.depth, count(*) AS n_hits
               FROM atop a JOIN exact x ON a.q_id = x.q_id AND a.vec_id = x.vec_id
               GROUP BY 1, 2),
      grid AS (SELECT DISTINCT np, depth FROM bydepth),
      scanned AS (SELECT np, count(*) AS n_cand FROM swept GROUP BY 1)
      SELECT CAST(g.np AS INTEGER) AS nprobe,
             CAST(g.depth AS INTEGER) AS depth,
             round(coalesce(h.n_hits, 0) / 50.0, 6) AS recall,
             round(s.n_cand / (10.0 * (SELECT count(*) FROM embeddings)), 6) AS scanned_frac
      FROM grid g
      LEFT JOIN hits h ON g.np = h.np AND g.depth = h.depth
      JOIN scanned s ON g.np = s.np"""),
    "sim_ivfpq_recall" -> exactRecallSql(pqIvfpqSql),
    "sim_pq_rerank_recall" -> exactRecallSql(pqRerankSql),
    "sim_pq_recall" -> exactRecallSql(pqAdcSql),
    "sim_sq8_recall" -> s"""
      WITH x AS (SELECT q_id, vec_id FROM ($intExactTop5Sql)),
      a AS (SELECT q_id, vec_id FROM ($sq8Top5Sql))$recallAt5Sql""",
    "sim_binary_rerank" -> s"""
      WITH x AS (SELECT q_id, vec_id FROM ($intExactTop5Sql)),
      a AS (SELECT q_id, vec_id FROM ($binTop5Sql))$recallAt5Sql""",
    "sim_quant_ladder" -> s"""
      WITH x AS (SELECT q_id, vec_id FROM ($intExactTop5Sql)),
      pq AS (SELECT q_id, vec_id FROM ($pqAdcSql)),
      s8 AS (SELECT q_id, vec_id FROM ($sq8Top5Sql)),
      bi AS (SELECT q_id, vec_id FROM ($binTop5Sql))
      SELECT 'float32' AS scheme, CAST(2048 AS INTEGER) AS bits_per_vec,
             CAST(count(*) AS BIGINT) AS n_hits,
             round(count(*) / 50.0, 6) AS recall_at_5 FROM x
      UNION ALL
      SELECT 'sq8', 512, CAST(count(*) AS BIGINT), round(count(*) / 50.0, 6)
      FROM x JOIN s8 ON x.q_id = s8.q_id AND x.vec_id = s8.vec_id
      UNION ALL
      SELECT 'pq8x8', 64, CAST(count(*) AS BIGINT), round(count(*) / 50.0, 6)
      FROM x JOIN pq ON x.q_id = pq.q_id AND x.vec_id = pq.vec_id
      UNION ALL
      SELECT 'binary_rerank', 64, CAST(count(*) AS BIGINT), round(count(*) / 50.0, 6)
      FROM x JOIN bi ON x.q_id = bi.q_id AND x.vec_id = bi.vec_id""",
    "emb_covariance" -> s"""
      WITH $corpusCte, ex AS (${microUnitsSql("di")}),
      p AS (SELECT a.di AS i, b.di AS j,
                   sum(CAST(a.xu AS HUGEINT) * b.xu) AS sp,
                   CAST(sum(a.xu) AS BIGINT) AS sua,
                   CAST(sum(b.xu) AS BIGINT) AS sub,
                   count(*) AS n
            FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND b.di >= a.di
            GROUP BY 1, 2)
      SELECT CAST(i AS INTEGER) AS i, CAST(j AS INTEGER) AS j,
             round(CAST(sp AS DOUBLE) / 1000000000000.0 / n
                   - (CAST(sua AS DOUBLE) / 1000000.0 / n)
                     * (CAST(sub AS DOUBLE) / 1000000.0 / n), 6) + 0.0 AS cov
      FROM p""",
    "sim_ivf_recall" -> s"""
      WITH x AS ($cosineTopkSql),
      a AS ($ivfTopkSql)$recallAt5Sql""",
    "mm_binary_meta" -> """
      SELECT doc_id, CAST(octet_length(CAST(text AS BLOB)) AS INTEGER) AS n_bytes,
             sha256(text) AS sha256
      FROM documents""",
    "sim_kmeans_update" -> kmeansSql,
    // sample_kcenter: the 8 greedy farthest-point steps unrolled as
    // generated MATERIALIZED CTEs — per step a linear distance pass to
    // the one new center and an integer argmax with the vec_id tiebreak
    "sample_kcenter" -> {
      val sel = (1 to 7).map(k =>
        s"UNION ALL SELECT $k, (SELECT cid FROM c$k), (SELECT dmin FROM c$k)")
        .mkString("\n      ")
      s"""
      WITH $kcenterOracleCtes
      SELECT CAST(0 AS INTEGER) AS step, (SELECT cid FROM c0) AS center_id,
             CAST(NULL AS BIGINT) AS sel_d2u
      $sel
      UNION ALL SELECT 8, CAST(NULL AS BIGINT), (SELECT max(dmin) FROM m8)"""
    },
    // sample_kcenter_census: the shared selection chain + one assignment
    // pass (every vector × the 8 selected centers, argmin with the
    // center-id tiebreak)
    "sample_kcenter_census" -> s"""
      WITH $kcenterOracleCtes,
      cents AS (SELECT cid FROM c0
      ${(1 to 7).map(k => s"UNION ALL SELECT cid FROM c$k").mkString("\n      ")}),
      ad AS (SELECT a.vec_id, b.vec_id AS center_id,
                    CAST(sum((a.xu - b.xu) * (a.xu - b.xu)) AS BIGINT) AS d2
             FROM vud a JOIN vud b ON b.dim = a.dim
                  AND b.vec_id IN (SELECT cid FROM cents)
             GROUP BY 1, 2),
      asg AS (SELECT vec_id, center_id, d2 FROM ad
              QUALIFY row_number() OVER (PARTITION BY vec_id
                ORDER BY d2, center_id) = 1)
      SELECT center_id, CAST(count(*) AS BIGINT) AS n_assigned,
             CAST(max(d2) AS BIGINT) AS radius_d2u,
             CAST(sum(d2) AS BIGINT) AS sum_d2u
      FROM asg GROUP BY 1""",
    // sim_ivf_kcenter_balance: the selection chain + two assignment
    // passes (fixture seeds vs the 8 exemplars), each folded to its
    // list-size extremes
    "sim_ivf_kcenter_balance" -> s"""
      WITH $kcenterOracleCtes,
      cents AS (SELECT cid FROM c0
      ${(1 to 7).map(k => s"UNION ALL SELECT cid FROM c$k").mkString("\n      ")}),
      kca AS (SELECT a.vec_id, b.vec_id AS center_id,
                     CAST(sum((a.xu - b.xu) * (a.xu - b.xu)) AS BIGINT) AS d2
              FROM vud a JOIN vud b ON b.dim = a.dim
                   AND b.vec_id IN (SELECT cid FROM cents)
              GROUP BY 1, 2),
      fxa AS (SELECT a.vec_id, b.vec_id AS center_id,
                     CAST(sum((a.xu - b.xu) * (a.xu - b.xu)) AS BIGINT) AS d2
              FROM vud a JOIN vud b ON b.dim = a.dim AND b.vec_id < 8
              GROUP BY 1, 2),
      kcl AS (SELECT center_id, CAST(count(*) AS BIGINT) AS n FROM (
                SELECT vec_id, center_id FROM kca
                QUALIFY row_number() OVER (PARTITION BY vec_id
                  ORDER BY d2, center_id) = 1) GROUP BY 1),
      fxl AS (SELECT center_id, CAST(count(*) AS BIGINT) AS n FROM (
                SELECT vec_id, center_id FROM fxa
                QUALIFY row_number() OVER (PARTITION BY vec_id
                  ORDER BY d2, center_id) = 1) GROUP BY 1)
      SELECT 'fixture_seeds' AS scheme, CAST(count(*) AS BIGINT) AS n_lists,
             CAST(max(n) AS BIGINT) AS widest, CAST(min(n) AS BIGINT) AS narrowest
      FROM fxl
      UNION ALL
      SELECT 'kcenter', CAST(count(*) AS BIGINT), CAST(max(n) AS BIGINT),
             CAST(min(n) AS BIGINT)
      FROM kcl""",
    "sim_ivf_trained" -> s"""
      WITH km AS (SELECT * FROM ($kmeansSql)),
      tc0 AS (SELECT c_id, list(mean_x ORDER BY dim) AS cv FROM km GROUP BY c_id),
      tc AS (SELECT c_id, cv, sqrt(list_dot_product(cv, cv)) AS cn FROM tc0),
      c AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        FROM embeddings),
      assigned AS (
        SELECT vec_id, v, nrm, c_id FROM (
          SELECT a.vec_id, a.v, a.nrm, tc.c_id,
                 row_number() OVER (PARTITION BY a.vec_id
                   ORDER BY round(list_dot_product(a.v, cv) / (a.nrm * cn), 6) DESC, c_id) AS crank
          FROM c a CROSS JOIN tc) WHERE crank = 1),
      probes AS (
        SELECT vec_id AS q_id, v AS qv, nrm AS qn, c_id FROM (
          SELECT a.vec_id, a.v, a.nrm, tc.c_id,
                 row_number() OVER (PARTITION BY a.vec_id
                   ORDER BY round(list_dot_product(a.v, cv) / (a.nrm * cn), 6) DESC, c_id) AS crank
          FROM c a CROSS JOIN tc WHERE a.vec_id < 10) WHERE crank <= 2),
      $ivfScoredTop5Sql
      QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) <= 5""",
    "sim_lsh_buckets" -> s"""
      WITH $lshSigSql
      SELECT vec_id, bucket FROM buckets""",
    "emb_dim_stats" -> s"""
      WITH $corpusCte,
      ex AS (SELECT i - 1 AS dim, v[i] AS x,
                    CAST(round(v[i] * 1000000) AS BIGINT) AS xu
             FROM c, LATERAL (SELECT unnest(range(1, len(v) + 1)) AS i) r),
      a AS (SELECT dim, count(*) AS n, CAST(sum(xu) AS BIGINT) AS su,
                   sum(CAST(xu AS HUGEINT) * xu) AS sq,
                   round(min(x), 6) AS min_x, round(max(x), 6) AS max_x
            FROM ex GROUP BY dim)
      SELECT CAST(dim AS INTEGER) AS dim, n,
             round(CAST(su AS DOUBLE) / 1000000.0 / n, 6) AS mean_x,
             round(sqrt(CAST(sq AS DOUBLE) / 1000000000000.0 / n
                        - pow(CAST(su AS DOUBLE) / 1000000.0 / n, 2)), 6) AS std_x,
             min_x, max_x
      FROM a""",
    // verdicts replay in exact integer cross-multiplication (no division);
    // the planted +0.25 on dims 0-3 of the odd-parity slice is applied in
    // identical micro-units on both engines
    "emb_drift" -> s"""
      WITH $corpusCte,
      ex AS (SELECT vec_id, i - 1 AS dim,
                    CAST(round(v[i] * 1000000) AS BIGINT)
                      + CASE WHEN vec_id % 2 = 1 AND i - 1 < 4
                             THEN 250000 ELSE 0 END AS xu
             FROM c, LATERAL (SELECT unnest(range(1, len(v) + 1)) AS i) r),
      a AS (SELECT dim,
                   CAST(sum(CASE WHEN vec_id % 2 = 0 THEN xu ELSE 0 END) AS BIGINT) AS sua,
                   CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
                   CAST(sum(CASE WHEN vec_id % 2 = 1 THEN xu ELSE 0 END) AS BIGINT) AS sub,
                   CAST(sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb
            FROM ex GROUP BY dim),
      p AS (SELECT CAST(dim AS INTEGER) AS dim, na, nb,
                   round(CAST(sua AS DOUBLE) / 1000000.0 / na, 6) AS mean_a,
                   round(CAST(sub AS DOUBLE) / 1000000.0 / nb, 6) AS mean_b,
                   abs(sub * na - sua * nb) > 100000 * na * nb AS drifted
            FROM a)
      SELECT p.*, t.n_drifted_dims
      FROM p, (SELECT CAST(sum(CASE WHEN drifted THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_drifted_dims FROM p) t""",
    "emb_quantize_int8" -> s"""
      WITH $corpusCte, ex AS (${microUnitsSql("dim")}),
      sc AS (SELECT dim, max(abs(xu)) AS m FROM ex GROUP BY dim)
      SELECT vec_id, CAST(ex.dim AS INTEGER) AS dim,
             CAST(CASE WHEN m = 0 THEN 0
                       ELSE CAST(sign(xu) AS BIGINT) * ((abs(xu) * 254 + m) // (2 * m))
                  END AS INTEGER) AS q8
      FROM ex JOIN sc ON ex.dim = sc.dim""",
    "dedup_embed_lsh" -> lshPairsSql,
    "dedup_threshold_sweep" -> s"""
      WITH pairs AS ($lshPairsSql)
      SELECT CAST(round(cos * 1000000) AS BIGINT) // 50000 AS bucket,
             count(*) AS n_pairs,
             round(min(cos), 6) AS min_cos,
             round(max(cos), 6) AS max_cos
      FROM pairs GROUP BY 1""",
    "sim_rrf_fusion" -> s"""
      WITH dense AS ($cosineTopkSql),
      lex AS (${TextOps.shingleKnnSql}),
      u AS (SELECT q_id, vec_id AS cand,
                   CAST(round(1000000.0 / (60 + rank)) AS BIGINT) AS cu
            FROM dense
            UNION ALL
            SELECT q_doc, doc_id,
                   CAST(round(1000000.0 / (60 + rank)) AS BIGINT)
            FROM lex),
      f AS (SELECT q_id, cand, CAST(sum(cu) AS BIGINT) AS rrf_u,
                   count(*) AS n_legs
            FROM u GROUP BY 1, 2)
      SELECT q_id, cand, round(rrf_u / 1000000.0, 6) AS rrf, n_legs,
             CAST(row_number() OVER (PARTITION BY q_id
               ORDER BY rrf_u DESC, cand) AS INTEGER) AS rank
      FROM f
      QUALIFY row_number() OVER (PARTITION BY q_id
        ORDER BY rrf_u DESC, cand) <= 5""",
  )

  /** LSH band → candidate → exact-cosine-verify pairs, shared by the
    * dedup_embed_lsh oracle and the threshold-sweep calibration built on it.
    */
  private lazy val lshPairsSql: String = s"""
      WITH $lshSigSql,
      bands AS (SELECT vec_id, b AS band, substr(bucket, b * 4 + 1, 4) AS bk
                FROM buckets, (SELECT unnest(range(0, 4)) AS b)),
      cand AS (SELECT DISTINCT a.vec_id AS da, b.vec_id AS db
               FROM bands a JOIN bands b
                 ON a.band = b.band AND a.bk = b.bk AND a.vec_id < b.vec_id),
      n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM c)
      SELECT da, db,
             round(list_dot_product(x.v, y.v) / (x.nrm * y.nrm), 6) AS cos
      FROM cand JOIN n x ON da = x.vec_id JOIN n y ON db = y.vec_id
      WHERE list_dot_product(x.v, y.v) / (x.nrm * y.nrm) > 0.4"""
}
