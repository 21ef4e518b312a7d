package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.expressions.VectorExpressions
import graft.tables.Tables._

/** Vector similarity over the `embeddings` table (array<float> column).
  *
  * Brute-force cosine top-k is the correctness baseline: broadcast the probe
  * set, stream the candidate side, no shuffle until the final per-probe top-k
  * aggregation. The LSH variant (random-hyperplane signs) is the scale path:
  * candidates are generated per bucket, so the pairwise work drops from
  * |probes|·N to |probes|·bucket size.
  *
  * All arithmetic runs on array<double> (cast once) with sequential
  * higher-order-function folds — same element order as the oracle, so doubles
  * match exactly.
  */
object Similarity {

  type Q = (SparkSession, String) => DataFrame

  private def asDouble(c: Column): Column =
    transform(c, x => x.cast("double"))

  /** Native codegen'd dot product (graft.expressions.DotProduct): identical
    * sequential fold semantics to the HOF formulation, compiled to a
    * primitive loop.
    */
  private def dot(a: Column, b: Column): Column =
    VectorExpressions.dot(a, b)

  /** Exact probe (qv, qn) to candidate (v, nrm) cosine at the oracle's 6dp. */
  private def cosine: Column =
    round(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 6)

  /** The corpus with vectors cast to double and the L2 norm precomputed —
    * the common scan every IVF participant starts from.
    */
  private def ivfBase(s: SparkSession, d: String): DataFrame =
    fanOut(embeddings(s, d), s)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))

  /** [[ivfBase]] with each vector's `label` riding along — the scan every
    * filtered-ANN participant starts from.
    */
  private def labeledBase(s: SparkSession, d: String): DataFrame =
    fanOut(embeddings(s, d), s)
      .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))

  /** The raw covariance moments (i, j, Σxy, Σx, Σy, n) over the upper
    * triangle — ONE corpus scan, one shuffle, d(d+1)/2 output cells. The
    * pair struct carries the two FACTORS next to the product, so the
    * E[x]E[y] term's Σx and Σy aggregate in the SAME pass as Σxy — no
    * separate means table joined back (which would re-scan and re-explode
    * the corpus, verified in the plan). Feeds the oracled emb_covariance
    * cells AND the driver-side [[covarianceMatrix]] assembly.
    */
  private def covMoments(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val vu = fanOut(embeddings(s, d), s).select(
      transform(asDouble(col("embedding")), x => round(x * 1000000).cast("long"))
        .as("vu"))
    vu.select(explode(expr(
      "flatten(transform(vu, (x, i) -> transform(slice(vu, i + 1, size(vu) - i), " +
        "(y, j) -> struct(i AS i, i + j AS j, x * y AS p, x AS xa, y AS xb))))")).as("q"))
      .groupBy(col("q.i").as("i"), col("q.j").as("j"))
      .agg(
        sum(col("q.p").cast(dec)).as("sp"),
        sum(col("q.xa")).as("sua"), sum(col("q.xb")).as("sub"),
        count(lit(1)).as("n"))
  }

  /** The rounded covariance cell over [[covMoments]] columns. + 0.0
    * canonicalizes IEEE negative zero (a near-zero covariance rounds to
    * -0.0 in one engine and 0.0 in the other otherwise).
    */
  private def covCol: Column =
    (round(
      col("sp").cast("double") / 1000000000000.0 / col("n") -
        (col("sua").cast("double") / 1000000.0 / col("n")) *
          (col("sub").cast("double") / 1000000.0 / col("n")), 6) + 0.0).as("cov")

  /** Driver-side assembly of the full symmetric covariance matrix (6dp
    * cells, identical to the oracled emb_covariance output) plus per-dim
    * means — both read from the moments of ONE corpus pass (the diagonal
    * cell's Σx over n is the mean of dimension i). d(d+1)/2 cells: bounded
    * by embedding dimensionality, independent of N — the same bounded
    * driver-collect class as the freqItems sketch. Shared by the
    * emb_pca_topk builder and its spec so both assemble the matrix the
    * same way.
    */
  /** Driver-side memo of [[computeCovarianceMatrix]] keyed by
    * (dir, content stamp): the moments pass is a full-corpus d²/2 HOF
    * expansion, and FOUR queries (pca, whitening, both OPQ audits) plus
    * four Verify-time oracle generators each start from this matrix.
    * The value is a d×d + d array of doubles — kilobytes — so a small
    * LRU map (no Spark blocks, nothing for releaseAll to drop) is the
    * right residency; the content stamp gives the same staleness rule as
    * the frame caches.
    */
  /** Per-key once-only holder: the map monitor covers only the
    * lookup/insert (never a Spark job), while the holder's `lazy val`
    * guarantees exactly ONE thread runs the full-corpus moments pass per
    * (dir, stamp) key — concurrent first callers (parallel prewarm +
    * query threads) block on the holder, not on a duplicated compute.
    */
  private final class CovHolder(compute: () => (Array[Array[Double]], Array[Double])) {
    lazy val value: (Array[Array[Double]], Array[Double]) = compute()
  }
  private val covMemo =
    new java.util.LinkedHashMap[String, CovHolder](8, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, CovHolder]): Boolean = size() > 8
    }
  private[graft] def covarianceMatrix(
      s: SparkSession, d: String): (Array[Array[Double]], Array[Double]) = {
    val key = d + "|" + ContentStamp.of(d)
    val holder = covMemo.synchronized {
      Option(covMemo.get(key)).getOrElse {
        val h = new CovHolder(() => computeCovarianceMatrix(s, d))
        covMemo.put(key, h)
        h
      }
    }
    holder.value
  }

  private def computeCovarianceMatrix(
      s: SparkSession, d: String): (Array[Array[Double]], Array[Double]) = {
    val rows = covMoments(s, d)
      .select(col("i"), col("j"), covCol, col("sua"), col("n")).collect()
    require(rows.nonEmpty, s"embeddings corpus under $d is empty — no covariance moments")
    val dim = rows.iterator.map(_.getInt(1)).max + 1
    val cov = Array.ofDim[Double](dim, dim)
    val mean = new Array[Double](dim)
    rows.foreach { r =>
      val (i, j, c) = (r.getInt(0), r.getInt(1), r.getDouble(2))
      cov(i)(j) = c
      cov(j)(i) = c
      if (i == j) mean(i) = r.getLong(3).toDouble / 1000000.0 / r.getLong(4)
    }
    (cov, mean)
  }

  /** Top-k eigenbasis scaled per-component by 1/√λ — the whitening basis
    * (projected coordinates have unit variance and zero cross-covariance).
    * The λ floor guards a degenerate (rank-deficient) corpus from a
    * division blow-up; with real data λ_1..λ_4 ≫ the floor.
    */
  private[graft] def whitenedBasis(
      s: SparkSession, d: String, k: Int): (Seq[Array[Double]], Array[Double]) = {
    val (cov, mean) = covarianceMatrix(s, d)
    val (vals, vecs) = graft.functions.Eigen.symmetric(cov)
    ((0 until k).map(j => vecs(j).map(_ / math.sqrt(math.max(vals(j), 1e-12)))), mean)
  }

  /** Snake-dealt eigenvalue allocation — the non-parametric OPQ
    * initialization (Ge et al., "Optimized Product Quantization", CVPR
    * 2013 §4: balance variance mass across subquantizers by permuting the
    * principal axes). Eigen-ranks sorted by λ descending are dealt into
    * `nSub` buckets boustrophedon (0..7, then 7..0, …), so every subspace
    * receives one dimension from each variance tier. Returns, for each
    * NEW dimension index j (subspace-major: j = bucket·subDim + slot),
    * the eigen RANK it carries. Purely positional — deterministic given
    * the deterministic eigensolve.
    */
  private[graft] def opqSnakeOrder(dim: Int, nSub: Int): Array[Int] = {
    // tier can reach floor((dim-1)/nSub); with a remainder that is >=
    // subDim, so bucket*subDim + tier would collide with another bucket's
    // slot and the "permutation" would silently drop/duplicate dimensions
    require(dim % nSub == 0, s"opqSnakeOrder needs nSub | dim, got dim=$dim nSub=$nSub")
    val order = new Array[Int](dim)
    val subDim = dim / nSub
    var r = 0
    while (r < dim) {
      val tier = r / nSub
      val pos = r % nSub
      val bucket = if (tier % 2 == 0) pos else nSub - 1 - pos
      order(bucket * subDim + tier) = r
      r += 1
    }
    order
  }

  /** The OPQ rotation for data dir `d`: per new-dimension basis vectors
    * (snake-allocated eigenvectors) plus the per-dim means. Everything
    * downstream of the covariance pass is deterministic (Eigen.symmetric),
    * so the Verify-time oracle re-derives identical literals.
    */
  private[graft] def opqBasis(
      s: SparkSession, d: String): (Seq[Array[Double]], Array[Double]) = {
    val (cov, mean) = covarianceMatrix(s, d)
    val (_, vecs) = graft.functions.Eigen.symmetric(cov)
    (opqSnakeOrder(mean.length, 8).toSeq.map(vecs(_)), mean)
  }

  /** Single-Literal constant vectors/matrices (the EncodeIngest centsLit
    * discipline): `array(lit(...))` per element builds a tree ANALYSIS
    * re-walks on every action before ConstantFolding collapses it — a
    * 64×64 basis is ~4k nodes of per-action planning tax. One pre-folded
    * Literal node carries the identical values under the identical type.
    */
  private def dArrLit(xs: Seq[Double]): Column =
    org.apache.spark.sql.GraftDatasetShim.literalCol(xs,
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType, containsNull = false))

  private def dMatLit(m: Seq[Seq[Double]]): Column =
    org.apache.spark.sql.GraftDatasetShim.literalCol(m,
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType, containsNull = false),
        containsNull = false))

  /** Shared projection column builder: col j = round(dot(x, b_j) −
    * dot(mean, b_j), 6) (+0.0 canonicalizes IEEE −0 after rounding). The
    * mean offset folds to a driver scalar so centering never touches the
    * corpus; the projection pass is scan → project, zero shuffles.
    */
  private def basisProjCols(
      basis: Seq[Array[Double]], mean: Array[Double], prefix: String) =
    basis.zipWithIndex.map { case (vj, j) =>
      val offset = mean.indices.map(i => mean(i) * vj(i)).sum
      val vLit = dArrLit(vj.toSeq)
      (round(aggregate(
        zip_with(asDouble(col("embedding")), vLit, (x, c) => x * c),
        lit(0.0), (acc, x) => acc + x) - offset, 6) + 0.0).as(s"$prefix${j + 1}")
    }

  /** The IVF probe shape shared by the fixture and trained codebooks:
    * build inverted lists by nearest-centroid assignment, probe the 2
    * closest lists per query vector, exact-rescore within the probed
    * lists, keep the top-5. `cents` must carry (c_id, cv, cn) and be
    * centroid-count-bounded — it broadcasts to both the corpus assignment
    * and the probes, so the corpus never shuffles for the quantizer.
    */
  private def ivfProbe(base: DataFrame, cents: DataFrame): DataFrame = {
    val csim = round(dot(col("v"), col("cv")) / (col("nrm") * col("cn")), 6)
    val wAssign = Window.partitionBy(col("vec_id"))
      .orderBy(col("csim").desc, col("c_id"))
    // inverted lists: every vector tagged with its nearest centroid
    val assigned = base.join(broadcast(cents))
      .withColumn("csim", csim)
      .withColumn("crank", row_number().over(wAssign))
      .filter(col("crank") === 1)
      .select(col("vec_id"), col("v"), col("nrm"), col("c_id"))
    // probes: same quantizer, keep the 2 closest clusters each
    val probes = base.filter(col("vec_id") < 10).join(broadcast(cents))
      .withColumn("csim", csim)
      .withColumn("crank", row_number().over(wAssign))
      .filter(col("crank") <= 2)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("c_id"))
    val wTop = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    assigned.join(broadcast(probes), Seq("c_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), cosine.as("cos"))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= 5)
  }

  /** Label-carrying IVF frames for the filtered-ANN family — the
    * sim_ivf_topk fixture quantizer (vec_id<16 centroids, nprobe=2) with
    * `label` riding along: `assigned` is every vector tagged with its
    * nearest cell, `probes` the <10 queries with their 2 probed cells and
    * their own label as the filter target (same-class retrieval). One
    * definition so sim_ivf_filtered and its pre/post sweep measure the
    * identical index.
    */
  private def ivfLabeledFrames(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val base = labeledBase(s, d)
    val cents = base.filter(col("vec_id") < 16)
      .select(col("vec_id").as("c_id"), col("v").as("cv"), col("nrm").as("cn"))
    val csim = round(dot(col("v"), col("cv")) / (col("nrm") * col("cn")), 6)
    val wAssign = Window.partitionBy(col("vec_id"))
      .orderBy(col("csim").desc, col("c_id"))
    val assigned = base.join(broadcast(cents))
      .withColumn("csim", csim)
      .withColumn("crank", row_number().over(wAssign))
      .filter(col("crank") === 1)
      .select(col("vec_id"), col("label"), col("v"), col("nrm"), col("c_id"))
    val probes = base.filter(col("vec_id") < 10).join(broadcast(cents))
      .withColumn("csim", csim)
      .withColumn("crank", row_number().over(wAssign))
      .filter(col("crank") <= 2)
      .select(col("vec_id").as("q_id"), col("label").as("tgt"),
        col("v").as("qv"), col("nrm").as("qn"), col("c_id"))
    (assigned, probes)
  }

  /** The filtered-exact ground truth both filtered-ANN queries share:
    * brute-force cosine top-5 over ONLY the probe's own-label population
    * (the declared broadcast-probe baseline class). Returns
    * (q_id, tgt, vec_id, cos, rank ≤ 5).
    */
  private def filteredExact(s: SparkSession, d: String): DataFrame = {
    val base = labeledBase(s, d)
    val p1 = walkProbes(base, col("label").as("tgt"))
    val wTop = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    base.join(broadcast(p1))
      .filter(col("vec_id") =!= col("q_id") && col("label") === col("tgt"))
      .select(col("q_id"), col("tgt"), col("vec_id"), cosine.as("cos"))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= 5)
  }

  /** Per-probe recall of each filtered-ANN leg against [[filteredExact]]:
    * (q_id, target_label, n_exact, <leg>_hits…, <leg>_recall…), where leg
    * `name` is a (q_id, vec_id, <name>_hit) frame of its top-5.
    */
  private def filteredLegRecalls(s: SparkSession, d: String,
      legs: (String, DataFrame)*): DataFrame =
    legs.foldLeft(filteredExact(s, d)) { case (t, (_, leg)) =>
        t.join(leg, Seq("q_id", "vec_id"), "left") }
      .groupBy(col("q_id"), col("tgt"))
      .agg(count(lit(1)).as("n_exact"), legs.map { case (n, _) =>
        sum(coalesce(col(s"${n}_hit"), lit(0))).as(s"${n}_hits") }: _*)
      .select(Seq(col("q_id"), col("tgt").as("target_label"), col("n_exact")) ++
        legs.map { case (n, _) => col(s"${n}_hits") } ++
        legs.map { case (n, _) =>
          round(col(s"${n}_hits") / col("n_exact"), 6).as(s"${n}_recall") }: _*)

  /** (vec_id, sub, wd, xu) — every vector's coordinates in integer
    * micro-units, keyed by PQ subspace (`sub` = dim div 8) and
    * within-subspace dimension (`wd` = dim mod 8). The shared scan both
    * PQ stages start from; pure posexplode, no shuffle.
    */
  private def pqXu(s: SparkSession, d: String): DataFrame =
    fanOut(embeddings(s, d), s)
      .select(col("vec_id"), posexplode(asDouble(col("embedding"))).as(Seq("dim", "x")))
      .select(col("vec_id"), expr("dim div 8").as("sub"), (col("dim") % 8).as("wd"),
        round(col("x") * 1000000).cast("long").as("xu"))

  // ---- array-shape PQ kernel (r13 optimization) -------------------------
  //
  // The original per-dimension kernel ([[pqAssign]]/[[qerrAgainst]]/
  // [[lloydUpdate]]) joined the 64-rows-per-vector coordinate stream
  // against the broadcast codebook on (sub, wd) — a 16× row explosion to
  // N·1024 intermediate rows — then needed a hash aggregate over
  // N·128 (vec, sub, c_id) groups (one Exchange) AND an argmin window over
  // (vec, sub) (a second Exchange) per assignment pass; a training curve
  // runs eight such passes (bench r13 baseline: 114-117 shuffle-MB per
  // curve query). The array shape slices each vector into its 8 subvectors
  // ONCE (pure map, 8 rows per vector), broadcasts the codebook as one
  // 8-row (sub → 16 candidate structs) dim, and folds the argmin PER ROW —
  // the exact shape the streaming encoder (EncodeIngest) already proved
  // bit-identical: strict less-than over c_id-ascending candidates replays
  // the (d2, c_id)-ascending window rule. Assignment and quantization
  // error become ZERO-shuffle map passes; the Lloyd update's only exchange
  // carries 1024-group partial means. At scale this is the difference
  // between shuffling the corpus per training pass and never shuffling it.

  /** (vec_id, sub, xs: array<long>[8]) — every vector's 8 subvectors in
    * integer micro-units; pure chunked projection, no shuffle. The same
    * rounding as [[pqXu]] (round(x·1e6) per dimension), so all integer
    * arithmetic downstream is bit-identical.
    */
  private def pqXuArr(s: SparkSession, d: String): DataFrame =
    chunkedXuFrame(fanOut(embeddings(s, d), s),
      transform(asDouble(col("embedding")),
        x => round(x * 1000000).cast("long")))

  /** Per-subspace candidate directory from a per-dim (sub, wd, c_id, cu)
    * codebook: (sub, cands: array<struct<c_id, cu[8]>>) with cands sorted
    * by c_id ascending — the tie order the argmin fold relies on. Two
    * codebook-bounded aggregations (≤128 → ≤8 rows); the corpus never
    * participates.
    */
  private def centsBySub(cents: DataFrame): DataFrame =
    centsArrBySub(cents.groupBy(col("sub"), col("c_id"))
      .agg(transform(array_sort(collect_list(struct(col("wd"), col("cu")))),
        w => w.getField("cu")).as("cu")))

  /** As [[centsBySub]], from an already array-shaped (sub, c_id, cu[8])
    * codebook (seed frames are born in this shape).
    */
  private def centsArrBySub(centsArr: DataFrame): DataFrame =
    centsArr.groupBy(col("sub"))
      .agg(array_sort(collect_list(struct(col("c_id"), col("cu")))).as("cands"))

  /** Argmin struct (d2, c_id) over a c_id-ascending candidate array:
    * strict less-than keeps the FIRST (= lowest c_id) candidate on d2
    * ties — the [[pqAssign]] (d2, c_id)-ascending rule. The accumulator
    * seeds with the first candidate's c_id (so the id type is inherited,
    * never invented) and an unreachable d2 (real distances are ≤
    * 8·(2e6)² ≪ Long.MaxValue), so the first candidate always replaces it.
    */
  private def argminCand(cands: Column, d2Of: Column => Column): Column =
    aggregate(cands,
      struct(lit(Long.MaxValue).as("d2"),
        element_at(cands, 1).getField("c_id").as("c_id")),
      (acc, c) => {
        val d2 = d2Of(c)
        when(d2 < acc.getField("d2"),
          struct(d2.as("d2"), c.getField("c_id").as("c_id"))).otherwise(acc)
      })

  private def assignBest(xuArr: DataFrame, cands: DataFrame): DataFrame =
    xuArr.join(broadcast(cands), Seq("sub"))
      .withColumn("best", argminCand(col("cands"),
        c => VectorExpressions.l2sq(col("xs"), c.getField("cu"))))

  /** [[pqAssign]] in the array shape: (vec_id, sub, c_id), zero shuffle. */
  private def pqAssignArr(xuArr: DataFrame, cents: DataFrame): DataFrame =
    assignBest(xuArr, centsBySub(cents))
      .select(col("vec_id"), col("sub"), col("best").getField("c_id").as("c_id"))

  /** [[qerrAgainst]] in the array shape: one (t) row, zero shuffle before
    * the scalar aggregate.
    */
  private def qerrAgainstArr(xuArr: DataFrame, cands: DataFrame): DataFrame =
    assignBest(xuArr, cands)
      .select(col("best").getField("d2").as("d2"))
      .agg(sum(col("d2")).as("t"))

  /** [[lloydUpdate]] in the array shape: assignment and member-mean update
    * in ONE corpus pass (the subvector rides the row to the explode — no
    * join back onto the coordinate table), one 1024-group exchange.
    */
  private def lloydUpdateCands(xuArr: DataFrame, cands: DataFrame): DataFrame =
    assignBest(xuArr, cands)
      .select(col("sub"), col("best").getField("c_id").as("c_id"),
        posexplode(col("xs")).as(Seq("wd", "xu")))
      .groupBy(col("sub"), col("c_id"), col("wd"))
      .agg(round(sum(col("xu")).cast("double") / count(lit(1))).cast("long").as("cu"))

  private def lloydUpdateArr(xuArr: DataFrame, cents: DataFrame): DataFrame =
    lloydUpdateCands(xuArr, centsBySub(cents))

  /** [[trainCents]] in the array shape: seed assignment + one Lloyd
    * update; seeds (vec_id < 16) are already array-shaped rows.
    */
  private def trainCentsArr(xuArr: DataFrame): DataFrame =
    lloydUpdateCands(xuArr, centsArrBySub(
      xuArr.filter(col("vec_id") < 16)
        .select(col("vec_id").as("c_id"), col("sub"), col("xs").as("cu"))))
  // ---- end array-shape PQ kernel ----------------------------------------

  /** (vec_id, sub, wd, xu) with xu = round((x − mean)·1e6) — [[pqXu]]'s
    * shape over CENTERED coordinates, the middle rung of the OPQ audit
    * ladder (isolates the centering gain from the rotation gain).
    */
  private[graft] def centeredXu(
      s: SparkSession, d: String, mean: Array[Double]): DataFrame = {
    val mLit = dArrLit(mean.toSeq)
    fanOut(embeddings(s, d), s)
      .select(col("vec_id"), posexplode(
        zip_with(asDouble(col("embedding")), mLit,
          (x, m) => round((x - m) * 1000000).cast("long"))).as(Seq("dim", "xu")))
      .select(col("vec_id"), expr("dim div 8").as("sub"),
        (col("dim") % 8).as("wd"), col("xu"))
  }

  /** Chunk a 64-long per-dim integer coordinate array into the
    * (vec_id, sub: long, xs[8]) subvector rows of the array-shape kernel —
    * pure map, no shuffle.
    */
  private def chunkedXuFrame(base: DataFrame, xuPerDim: Column): DataFrame =
    base.select(col("vec_id"), posexplode(
        transform(sequence(lit(0), lit(7)), sA =>
          transform(sequence(lit(0), lit(7)),
            w => element_at(xuPerDim, sA * lit(8) + w + lit(1)))))
        .as(Seq("sub0", "xs")))
      .select(col("vec_id"), col("sub0").cast("long").as("sub"), col("xs"))

  /** [[centeredXu]] in the array shape. */
  private def centeredXuArr(
      s: SparkSession, d: String, mean: Array[Double]): DataFrame = {
    val mLit = dArrLit(mean.toSeq)
    chunkedXuFrame(fanOut(embeddings(s, d), s),
      zip_with(asDouble(col("embedding")), mLit,
        (x, m) => round((x - m) * 1000000).cast("long")))
  }

  /** [[opqXu]] in the array shape. */
  private def opqXuArr(s: SparkSession, d: String,
      basis: Seq[Array[Double]], mean: Array[Double]): DataFrame = {
    val bLit = dMatLit(basis.map(_.toSeq))
    val oLit = dArrLit(basis.map(vj => mean.indices.map(i => mean(i) * vj(i)).sum))
    chunkedXuFrame(
      fanOut(embeddings(s, d), s)
        .select(col("vec_id"), asDouble(col("embedding")).as("v")),
      zip_with(bLit, oLit, (bj, oj) =>
        round((aggregate(zip_with(col("v"), bj, (x, c) => x * c),
          lit(0.0), (acc, x) => acc + x) - oj) * 1000000).cast("long")))
  }

  /** (vec_id, sub, wd, xu) in the OPQ basis: new coordinate j =
    * dot(x, b_j) − dot(mean, b_j), rounded once to integer micro-units.
    * The rotation is a zero-shuffle projection pass (the [[basisProjCols]]
    * shape over the full d×d literal basis); everything downstream runs
    * the unmodified integer PQ pipeline.
    */
  private[graft] def opqXu(s: SparkSession, d: String,
      basis: Seq[Array[Double]], mean: Array[Double]): DataFrame = {
    val bLit = dMatLit(basis.map(_.toSeq))
    val oLit = dArrLit(basis.map(vj => mean.indices.map(i => mean(i) * vj(i)).sum))
    fanOut(embeddings(s, d), s)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .select(col("vec_id"), posexplode(
        zip_with(bLit, oLit, (bj, oj) =>
          round((aggregate(zip_with(col("v"), bj, (x, c) => x * c),
            lit(0.0), (acc, x) => acc + x) - oj) * 1000000).cast("long")))
        .as(Seq("dim", "xu")))
      .select(col("vec_id"), expr("dim div 8").as("sub"),
        (col("dim") % 8).as("wd"), col("xu"))
  }

  /** One (scheme, total_qerr_u, mse) audit row: encode `xu` against
    * `cents` and sum every (vector, subspace)'s minimal integer L2²
    * quantization error — an exact BIGINT total (order-free), with the
    * per-dimension MSE formed once from integers both engines agree on.
    */
  private def pqQerrRow(s: SparkSession, d: String, xuArr: DataFrame,
      cents: DataFrame, scheme: String, dim: Int): DataFrame = {
    val n = embeddings(s, d).agg(count(lit(1)).as("n"))
    qerrAgainstArr(xuArr, centsBySub(cents)).crossJoin(n)
      .select(lit(scheme).as("scheme"), col("t").as("total_qerr_u"),
        round(col("t").cast("double") / col("n") / dim.toDouble
          / 1000000000000.0, 6).as("mse"))
  }

  /** Session-scoped cache of the OPQ-ROTATED coordinate table — the
    * rotate-once-at-ingest production shape (the rotation is part of the
    * index build, not the query): both OPQ audits start from it, and the
    * build also embeds the covariance/eigensolve driver work (itself
    * memoized in [[covarianceMatrix]]).
    */
  private val sharedOpqXu = new SessionFrameCache(4, "sharedOpqXu")

  /** The ARRAY-shape rotated coordinate table (vec_id, sub, xs[8]) — what
    * the cache actually holds (8 rows per vector instead of 64; the
    * array-shape kernel's native input). [[opqXuShared]] derives the
    * per-dim view from it with one shuffle-free posexplode.
    */
  def opqXuArrShared(s: SparkSession, d: String): DataFrame = {
    val (basis, mean) = opqBasis(s, d)
    sharedOpqXu.getOrBuild(s, d)(opqXuArr(s, d, basis, mean))
  }

  def opqXuShared(s: SparkSession, d: String): DataFrame =
    opqXuArrShared(s, d)
      .select(col("vec_id"), col("sub"), posexplode(col("xs")).as(Seq("wd", "xu")))

  /** Unpersist and drop every shared rotated-coordinate frame of `s`. */
  def releaseOpqXu(s: SparkSession): Unit = sharedOpqXu.release(s)

  /** Session-scoped cache of the codebook trained in the rotated space —
    * the OPQ family's train-once artifact, same lifecycle as
    * [[pqCodebookShared]].
    */
  private val sharedOpqCents = new SessionFrameCache(4, "sharedOpqCents")
  def opqCentsShared(s: SparkSession, d: String): DataFrame = {
    // parent materialized OUTSIDE this cache's monitor (the TextOps lock
    // discipline: derived → parent only, no jobs under two monitors)
    val xu = opqXuArrShared(s, d)
    sharedOpqCents.getOrBuild(s, d)(trainCentsArr(xu))
  }

  /** Unpersist and drop every shared rotated-codebook frame of `s`. */
  def releaseOpqCents(s: SparkSession): Unit = sharedOpqCents.release(s)

  /** Session-scoped cache of the rotated-space CODE TABLE — encode once,
    * every rotated-ADC consumer scans codes (the [[pqCodesShared]]
    * lifecycle in the rotated space).
    */
  private val sharedOpqCodes = new SessionFrameCache(4, "sharedOpqCodes")
  def opqCodesShared(s: SparkSession, d: String): DataFrame = {
    // parents materialized OUTSIDE this cache's monitor (lock discipline)
    val xu = opqXuArrShared(s, d)
    val cents = opqCentsShared(s, d)
    sharedOpqCodes.getOrBuild(s, d)(pqAssignArr(xu, cents))
  }

  /** Unpersist and drop every shared rotated-code frame of `s`. */
  def releaseOpqCodes(s: SparkSession): Unit = sharedOpqCodes.release(s)

  /** Driver-collected codebook for the streaming encode-at-ingest path:
    * per subspace (index = sub), the centroid list sorted by c_id
    * ascending, each with its 8 per-dimension micro-unit coordinates —
    * the 1024-cell artifact a streaming encoder embeds as literals (the
    * streaming analogue of the broadcast the batch `pqAssign` does).
    */
  private[graft] def collectedCents(
      cents: DataFrame): IndexedSeq[Seq[(Int, Array[Long])]] = {
    val rows = cents.select(col("sub").cast("int"), col("c_id").cast("int"),
      col("wd").cast("int"), col("cu").cast("long")).collect()
    val bySub = rows.groupBy(_.getInt(0))
    val nSub = bySub.keySet.max + 1
    (0 until nSub).map { sub =>
      bySub.getOrElse(sub, Array.empty[org.apache.spark.sql.Row])
        .groupBy(_.getInt(1)).toSeq.sortBy(_._1)
        .map { case (cid, cells) =>
          val cus = new Array[Long](8)
          cells.foreach(r => cus(r.getInt(2)) = r.getLong(3))
          (cid, cus)
        }
    }
  }

  /** Session-scoped cache of the trained PQ codebook — per-subspace k=16
    * centroids from ONE Lloyd step (L2 assignment) over the deterministic
    * vec_id<16 seed subvectors; per-dimension member means rounded back to
    * micro-units, the single rounding in the PQ pipeline (lifecycle:
    * [[SessionFrameCache]]). Training costs two corpus passes; the
    * product is 8×16×8 = 1024 cells. Both sim_pq_adc and sim_pq_recall
    * consume it, and a session re-probing an already-quantized corpus is
    * exactly the train-once-probe-many shape production PQ runs — the
    * cache makes the queries measure that steady state instead of
    * re-training per invocation.
    */
  private val sharedPqCodebook = new SessionFrameCache(4, "sharedPqCodebook")
  def pqCodebookShared(s: SparkSession, d: String): DataFrame =
    sharedPqCodebook.getOrBuild(s, d)(trainCentsArr(pqXuArr(s, d)))

  /** Shrunk-shortlist recall read-out shared by the code-quality audits
    * (sim_ivfpq_code_gain, sim_opq_ivfpq_gain): ADC top-10 shortlist →
    * exact integer-L2 re-rank → top-5 → recall vs the exact top-5. Depth
    * 10 is the regime where ADC ORDERING is the binding constraint (the
    * production 50×k shortlist forgives most code noise).
    */
  private def ivfpqRecallAtDepth10(
      s: SparkSession, d: String, adcr: DataFrame, scheme: String): DataFrame =
    pqRecallAtDepth(s, d, adcr, scheme, 10, "recall_at_depth10")

  /** Generalized shrunk-shortlist recall: ADC top-`depth` shortlist →
    * exact integer-L2 re-rank → top-5 → recall vs the exact top-5,
    * emitted under `outCol`.
    */
  private def pqRecallAtDepth(s: SparkSession, d: String, adcr: DataFrame,
      scheme: String, depth: Int, outCol: String): DataFrame =
    ivfpqExactTail(s, d, adcr, depth).select(col("q_id"), col("vec_id"))
      .join(pqExactTop5(s, d), Seq("q_id", "vec_id"))
      .agg(count(lit(1)).as("n_hits"))
      .select(lit(scheme).as("scheme"),
        round(col("n_hits").cast("double") / 50.0, 6).as(outCol))

  /** Session-scoped cache of the hybrid stack's two RANKED leg tables —
    * (q_id, cand, rank, leg) at depth 50, leg ∈ {dense, lex}. FOUR
    * queries (retrieval, the gain audit, the k sweep, the depth curve)
    * fuse/cut/score the same legs, and the gain audit replays the
    * retrieval query inline on top — without this cache each invocation
    * re-ran the whole-corpus rotated-ADC pass AND the BM25 probe pass.
    * The cached frame is ≤ 2·50·|probes| narrow rows; in production the
    * legs are the per-modality retrieval services a fusion layer
    * consumes, computed once per query batch.
    */
  /** The UNCACHED legs build — what [[hybridLegsShared]] materializes.
    * Exposed for PlanSpec: since the cache serves a truncated LogicalRDD
    * view (r13), the corpus-pass plan contract (probe-broadcast joins,
    * keyed ranking) is pinned on this build plan, not the consumer's.
    */
  private[graft] def hybridLegsBuild(s: SparkSession, d: String): DataFrame =
    hybridDenseLeg(s, d).withColumn("leg", lit("dense"))
      .unionByName(hybridLexLeg(s, d).withColumn("leg", lit("lex")))

  private val sharedHybridLegs = new SessionFrameCache(4, "sharedHybridLegs")
  def hybridLegsShared(s: SparkSession, d: String): DataFrame = {
    // parents materialized OUTSIDE this cache's monitor (the TextOps
    // lock discipline: acquisition order is derived → parent only) —
    // constructing the build plan here triggers the parent caches' builds
    val legs = hybridLegsBuild(s, d)
    sharedHybridLegs.getOrBuild(s, d)(legs)
  }

  /** Unpersist and drop every shared hybrid-leg frame of session `s`. */
  def releaseHybridLegs(s: SparkSession): Unit = sharedHybridLegs.release(s)

  /** The hybrid stack's DENSE leg: whole-corpus rotated ADC per probe,
    * ranked to depth 50 — (q_id, cand, rank). Factored so the retrieval
    * query, the gain audit, and the k sweep rank the SAME leg table.
    */
  private def hybridDenseLeg(s: SparkSession, d: String): DataFrame = {
    val wD = Window.partitionBy(col("q_id")).orderBy(col("adc_u"), col("vec_id"))
    opqCodesShared(s, d)
      .join(broadcast(opqLut(s, d)), Seq("sub", "c_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("d2")).as("adc_u"))
      .withColumn("rank", row_number().over(wD)).filter(col("rank") <= 50)
      .select(col("q_id"), col("vec_id").as("cand"), col("rank"))
  }

  /** The hybrid stack's LEXICAL leg: BM25 over the same probe ids,
    * ranked to depth 50 — (q_id, cand, rank).
    */
  private def hybridLexLeg(s: SparkSession, d: String): DataFrame = {
    val wL = Window.partitionBy(col("q_doc")).orderBy(col("su").desc, col("doc_id"))
    TextOps.bm25Scored(s, d, col("doc_id") < 10)
      .withColumn("rank", row_number().over(wL)).filter(col("rank") <= 50)
      .select(col("q_doc").as("q_id"), col("doc_id").as("cand"), col("rank"))
  }

  /** Per-probe ADC lookup table in the ROTATED space — [[pqLut]]'s shape
    * over the shared rotated coordinates/codebook.
    */
  private def opqLut(s: SparkSession, d: String): DataFrame =
    opqXuShared(s, d).filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("sub"), col("wd"), col("xu").as("qu"))
      .join(broadcast(opqCentsShared(s, d)), Seq("sub", "wd"))
      .groupBy(col("q_id"), col("sub"), col("c_id"))
      .agg(sum((col("qu") - col("cu")) * (col("qu") - col("cu"))).as("d2"))

  /** Unpersist and drop every shared PQ codebook frame of session `s`. */
  def releasePqCodebook(s: SparkSession): Unit = sharedPqCodebook.release(s)

  /** Session-scoped cache of the PQ CODE TABLE — the 8-rows-per-vector
    * (vec_id, sub, c_id) encoding of the whole corpus against the trained
    * codebook (lifecycle: [[SessionFrameCache]]). In production PQ this IS
    * the index: vectors are encoded once at ingest and every query scans
    * codes, never raw vectors. Before this cache, `sim_pq_adc` and (via
    * composition) `sim_pq_recall` each re-ran the encode pass — a full
    * corpus posexplode + broadcast-join + per-(vec,sub) argmin — per
    * invocation; now one encode serves every ADC consumer in the session.
    */
  private val sharedPqCodes = new SessionFrameCache(4, "sharedPqCodes")
  def pqCodesShared(s: SparkSession, d: String): DataFrame = {
    // codebook materialized OUTSIDE this cache's monitor (the TextOps
    // lock discipline: derived → parent only, no jobs under two monitors)
    val cents = pqCodebookShared(s, d)
    sharedPqCodes.getOrBuild(s, d)(pqAssignArr(pqXuArr(s, d), cents))
  }

  /** The UNCACHED code-table build — what [[pqCodesShared]] materializes.
    * Exposed for PlanSpec to pin the r13 array-kernel shape (broadcast
    * candidate dim + per-row argmin fold, zero corpus shuffle).
    */
  private[graft] def pqCodesBuild(s: SparkSession, d: String): DataFrame = {
    val cents = pqCodebookShared(s, d)
    pqAssignArr(pqXuArr(s, d), cents)
  }

  /** Unpersist and drop every shared PQ code frame of session `s`. */
  def releasePqCodes(s: SparkSession): Unit = sharedPqCodes.release(s)

  /** Re-rank shortlist depth: 50×k for k=5 — the multiplier is the knob a
    * production deployment tunes for target recall (FAISS-style setups
    * commonly re-rank 10–100× the final k). On THIS corpus the near-uniform
    * synthetic embeddings are a worst case for a 1-Lloyd-step k=16
    * quantizer — the measured depth-recall curve at sf0.01 is 50→0.72,
    * 100→0.80, 200→0.98, 230→1.00 — so 50×k is the smallest round
    * multiplier that recovers the exact top-5 for every probe (pinned in
    * WideOpsSpec). Clustered real-world embeddings reach recall 1.0 far
    * shallower; the |probes|×250 shortlist stays broadcast-bounded either
    * way.
    */
  private[graft] val RerankShortlist = 250

  /** Per-probe ADC lookup table: (q_id, sub, c_id, d2) — the |probes|·8·16
    * structure every ADC scan broadcasts (Jégou et al. §IV.A). Derived from
    * the shared codebook; codebook-bounded, never corpus-sized.
    */
  private def pqLut(s: SparkSession, d: String): DataFrame = {
    val cents = pqCodebookShared(s, d)
    pqXu(s, d).filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("sub"), col("wd"), col("xu").as("qu"))
      .join(broadcast(cents), Seq("sub", "wd"))
      .groupBy(col("q_id"), col("sub"), col("c_id"))
      .agg(sum((col("qu") - col("cu")) * (col("qu") - col("cu"))).as("d2"))
  }

  /** Per-(probe, candidate) ADC distance in integer micro² units: the
    * per-probe LUT (|probes|·8·16 rows, broadcast) joined onto the shared
    * code table — the scan that touches only 8-byte codes, never full
    * vectors. Single source for sim_pq_adc (top-5 directly) and
    * sim_pq_rerank (top-[[RerankShortlist]] shortlist).
    */
  private def adcScores(s: SparkSession, d: String): DataFrame =
    pqCodesShared(s, d).join(broadcast(pqLut(s, d)), Seq("sub", "c_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("d2")).as("adc_u"))

  /** Every (vector, coarse-cell) integer-L2² pair against the 16 seed
    * coarse centroids — the IVF-PQ coarse quantizer's scoring pass (16-row
    * broadcast, per-row distance fold, the allowlisted bounded-broadcast
    * IVF shape). Consumers argmin it for corpus cell assignment and top-k
    * it for probe cell selection.
    */
  private def ivfpqCellScores(s: SparkSession, d: String): DataFrame = {
    val vu = pqVu(s, d)
    val seeds = vu.filter(col("vec_id") < 16)
      .select(col("vec_id").as("c16"), col("vu").as("cu"))
    vu.join(broadcast(seeds))
      .select(col("vec_id"), col("c16"),
        graft.expressions.VectorExpressions.l2sq(col("vu"), col("cu")).as("d2"))
  }

  /** Session-shared coarse CELL ASSIGNMENT (vec_id, cell) against the 16
    * fixture seeds — the inverted-list directory itself, 1 narrow row per
    * vector. Before this cache every fixture-cell IVF-PQ query (top-k,
    * recall, probe sweep, grid, the residual family) re-ran the corpus×16
    * scoring pass + argmin per invocation; in production this assignment
    * is computed once at ingest (it IS the partitioning), so the shared
    * stage is the honest steady state. The trained-cell variant keeps its
    * own in-query assignment (training is its measured cost by design).
    */
  private val sharedIvfpqCells = new SessionFrameCache(4, "sharedIvfpqCells")
  def ivfpqCellsShared(s: SparkSession, d: String): DataFrame =
    sharedIvfpqCells.getOrBuild(s, d) {
      val wCell = Window.partitionBy(col("vec_id")).orderBy(col("d2"), col("c16"))
      ivfpqCellScores(s, d)
        .withColumn("r", row_number().over(wCell)).filter(col("r") === 1)
        .select(col("vec_id"), col("c16").as("cell"))
    }

  /** Unpersist and drop every shared cell-assignment frame of session `s`. */
  def releaseIvfpqCells(s: SparkSession): Unit = sharedIvfpqCells.release(s)

  /** Cell scores against the TRAINED coarse centroids: one full-vector
    * integer-L2 Lloyd step over the seed assignment (per-dim means rounded
    * back to micro-units — the single rounding, identical to the PQ
    * codebook's). The ≤16-row centroid table reassembles per-dim rows into
    * ordered vectors with one bounded groupBy and broadcasts.
    */
  private def ivfpqTrainedCellScores(s: SparkSession, d: String): DataFrame = {
    val wCell = Window.partitionBy(col("vec_id")).orderBy(col("d2"), col("c16"))
    val asn = ivfpqCellScores(s, d)
      .withColumn("r", row_number().over(wCell)).filter(col("r") === 1)
      .select(col("vec_id"), col("c16"))
    val cents = asn.join(pqXu(s, d), Seq("vec_id"))
      .groupBy(col("c16"), col("sub"), col("wd"))
      .agg(round(sum(col("xu")).cast("double") / count(lit(1))).cast("long").as("cu"))
      .groupBy(col("c16"))
      .agg(transform(
        array_sort(collect_list(struct((col("sub") * 8 + col("wd")).as("dim"), col("cu")))),
        x => x.getField("cu")).as("cu"))
    pqVu(s, d).join(broadcast(cents))
      .select(col("vec_id"), col("c16"),
        graft.expressions.VectorExpressions.l2sq(col("vu"), col("cu")).as("d2"))
  }

  /** The IVF-PQ pipeline downstream of cell scoring: corpus cells by
    * argmin, nprobe=2 candidate ADC over the shared code table, top-50
    * shortlist, exact integer-L2 re-rank to top-5. Shared by the
    * fixture-cell and trained-cell variants.
    */
  private def ivfpqFrom(s: SparkSession, d: String, scores: DataFrame,
      cells: DataFrame): DataFrame =
    ivfpqExactTail(s, d, ivfpqAdc(scores, cells, pqCodesShared(s, d), pqLut(s, d)), 50)

  /** Nprobe=2 candidate ADC totals (q_id, vec_id, adc_u): every vector of
    * `cells` in the probe's 2 nearest coarse cells under `scores` (never
    * the probe itself), scored over `codes` with the per-probe `lut`.
    */
  private def ivfpqAdc(scores: DataFrame, cells: DataFrame, codes: DataFrame,
      lut: DataFrame): DataFrame =
    cells.join(broadcast(probeCellsOf(scores, 2)), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"))
      .join(codes, Seq("vec_id"))
      .join(broadcast(lut), Seq("q_id", "sub", "c_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("d2")).as("adc_u"))

  /** Each probe's `nprobe` nearest coarse cells (q_id, cell, pr) under
    * cell `scores` (vec_id, c16, d2), `pr` the cell's probe rank — the
    * ≤10·nprobe-row broadcast every IVF-PQ probe starts from.
    */
  private def probeCellsOf(scores: DataFrame, nprobe: Int): DataFrame = {
    val wCell = Window.partitionBy(col("vec_id")).orderBy(col("d2"), col("c16"))
    scores.filter(col("vec_id") < 10)
      .withColumn("pr", row_number().over(wCell)).filter(col("pr") <= nprobe)
      .select(col("vec_id").as("q_id"), col("c16").as("cell"), col("pr"))
  }

  /** The nprobe-sweep candidates (q_id, vec_id, adc_u, np): every
    * candidate of a probe's 8 nearest cells is tagged ONCE with the probe
    * rank `pr` of the cell that admits it (a vector lives in exactly one
    * cell), ADC-scored once, and exploded to each nprobe ∈ {1, 2, 4, 8}
    * with np ≥ pr — never one corpus scan per nprobe. Shared by
    * sim_ivfpq_probe_sweep and sim_ivfpq_grid.
    */
  private def ivfpqSweptCandidates(s: SparkSession, d: String): DataFrame = {
    val scores = ivfpqCellScores(s, d)
    val cells = ivfpqCellsShared(s, d)
    val cand = cells.join(broadcast(probeCellsOf(scores, 8)), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), col("pr"))
    val adcr = cand.join(pqCodesShared(s, d), Seq("vec_id"))
      .join(broadcast(pqLut(s, d)), Seq("q_id", "sub", "c_id"))
      .groupBy(col("q_id"), col("vec_id"), col("pr"))
      .agg(sum(col("d2")).as("adc_u"))
    adcr.select(col("q_id"), col("vec_id"), col("adc_u"),
      explode(expr("filter(array(1, 2, 4, 8), v -> v >= pr)")).as("np"))
  }

  /** Nprobe=2 probe cells against the FIXTURE coarse quantizer
    * (q_id, cell), exposed for the streamed serving variants.
    */
  private[graft] def ivfpqProbeCells(s: SparkSession, d: String): DataFrame =
    probeCellsOf(ivfpqCellScores(s, d), 2).drop("pr")

  /** The ~10% salted-md5 forget set of the index-erasure pair — shared
    * verbatim with the DuckDB oracle (the knnBatchSql convention), so
    * both engines agree on exactly which vectors are erased.
    */
  private[graft] def forgetPred: Column =
    conv(substring(md5(concat(lit("fgt"), col("vec_id").cast("string"))), 1, 15),
      16, 10).cast("long") % 50L === 0L

  /** Write the compacted inverted-list layout (cells ⋈ codes,
    * repartition(cell) + partitionBy(cell) — one file per list) into
    * `dir`: the sim_ivfpq_compaction write factored out so the erasure
    * pair and IvfpqForgetSpec start from the identical physical state.
    */
  private[graft] def stageIvfpqLayout(s: SparkSession, d: String, dir: String): Unit =
    ivfpqCellsShared(s, d).join(pqCodesShared(s, d), Seq("vec_id"))
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(dir)

  /** Partition-pruned purge of the forget set from a staged inverted-list
    * layout. The plan comes from the FORGET SET alone — its cells read
    * off the in-memory cell directory (bounded: ≤16 rows, one per list),
    * zero scans of the physical index — then ONLY those cells' partition
    * dirs are dynamically overwritten with their survivors; every other
    * list's file is never opened. A cell whose every vector was forgotten
    * leaves a stale dir under dynamic overwrite: it is deleted, with the
    * part-file-listing guard (the StreamForgetKeys crash-replay lesson).
    * Returns per-cell forgotten counts for the caller's census.
    */
  private[graft] def purgeForgotten(
      s: SparkSession, d: String, dir: String): Map[Long, Long] = {
    // bounded (≤16 rows: one per inverted list)
    val nf = ivfpqCellsShared(s, d).filter(forgetPred)
      .groupBy(col("cell")).agg(countDistinct(col("vec_id")).as("nf"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    if (nf.nonEmpty) {
      val affected = nf.keySet.toSeq
      val key = "spark.sql.sources.partitionOverwriteMode"
      val prev = s.conf.getOption(key)
      s.conf.set(key, "dynamic")
      try {
        s.read.parquet(dir)
          .filter(col("cell").cast("long").isin(affected: _*))
          .filter(!forgetPred)
          .repartition(col("cell"))
          .write.mode("overwrite").partitionBy("cell").parquet(dir)
      } finally prev match {
        case Some(v) => s.conf.set(key, v)
        case None => s.conf.unset(key)
      }
      // fully-forgotten dirs (≤16, part-file-guarded before any read).
      // Readable dirs are censused in ONE job (basePath keeps the cell
      // partition column) instead of one driver-sequential probe job per
      // cell — the ≤16-tiny-job loop was pure scheduling overhead at any
      // scale (guide §5 driver discipline).
      val existing = affected.sorted.filter(cl =>
        java.nio.file.Files.exists(java.nio.file.Paths.get(dir, s"cell=$cl")))
      val (readable, bare) = existing.partition { cl =>
        val listing = java.nio.file.Files.list(
          java.nio.file.Paths.get(dir, s"cell=$cl"))
        try {
          val it = listing.iterator()
          var found = false
          while (it.hasNext && !found)
            found = it.next().getFileName.toString.endsWith(".parquet")
          found
        } finally listing.close()
      }
      bare.foreach(cl => graft.streaming.StagedEvents.deleteRecursively(
        java.nio.file.Paths.get(dir, s"cell=$cl")))
      if (readable.nonEmpty) {
        val surviving = s.read.option("basePath", dir)
          .parquet(readable.map(cl => s"$dir/cell=$cl"): _*)
          .filter(!forgetPred)
          .select(col("cell").cast("long")).distinct()
          .collect().map(_.getLong(0)).toSet
        readable.filterNot(surviving).foreach(cl =>
          graft.streaming.StagedEvents.deleteRecursively(
            java.nio.file.Paths.get(dir, s"cell=$cl")))
      }
    }
    nf
  }

  /** The PQ pipelines' exact tail downstream of the per-(probe,
    * candidate) ADC totals (q_id, vec_id, adc_u): top-`depth` shortlist,
    * exact integer-L2 re-rank, top-5 (q_id, vec_id, exact_d2, rank) with
    * 6dp distances. Every ADC shortlist → re-rank path runs it: the IVF-PQ
    * variants and the streamed compacted-layout probe (depth 50), the
    * whole-corpus re-rank ([[RerankShortlist]]) and the shrunk-shortlist
    * audits ([[pqRecallAtDepth]]).
    */
  private[graft] def ivfpqExactTail(
      s: SparkSession, d: String, adcr: DataFrame, depth: Int): DataFrame = {
    val wShort = Window.partitionBy(col("q_id")).orderBy(col("adc_u"), col("vec_id"))
    val shortlist = adcr
      .withColumn("r", row_number().over(wShort)).filter(col("r") <= depth)
      .select(col("q_id"), col("vec_id"))
    val vu = pqVu(s, d)
    val probes = vu.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("vu").as("qu"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("d2"), col("vec_id"))
    vu.join(broadcast(shortlist), Seq("vec_id"))
      .join(broadcast(probes), Seq("q_id"))
      .select(col("q_id"), col("vec_id"),
        graft.expressions.VectorExpressions.l2sq(col("qu"), col("vu")).as("d2"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
      .select(col("q_id"), col("vec_id"),
        round(col("d2").cast("double") / 1000000000000.0, 6).as("exact_d2"),
        col("rank"))
  }

  /** RESIDUAL IVF-PQ — the layout FAISS IVFPQ actually ships (Jégou et
    * al. §V.B): PQ encodes the residual x − centroid(cell(x)), not x
    * itself, so the codebook spends its 8 bytes on the WITHIN-cell
    * geometry instead of re-describing the coarse structure the inverted
    * list already captured. Everything stays exact integer micro-units
    * (residuals are differences of integers): residual seeds come from
    * vec_id ∈ [16, 32) (the seed vectors' own residuals are zero — the one
    * residual-space trap), one Lloyd step trains the residual codebook,
    * and the per-probe LUT becomes per-(probe, PROBED CELL) — the query's
    * residual differs per cell, which is residual ADC's defining extra
    * index dimension (|probes| · nprobe · 8 · 16 rows, still broadcast).
    * Returns the candidate ADC frame (q_id, vec_id, adc_u).
    */
  /** Per-dim RESIDUAL coordinates (vec_id, cell, sub, wd, xu = x − c):
    * the map-only pass under the residual codebook and code builds —
    * recomputed per build, never cached (the cappedShingleHashes trade:
    * a per-dim stream is corpus×64 rows; the narrow OUTPUTS are what the
    * session caches hold).
    */
  private def residualXu(s: SparkSession, d: String): DataFrame = {
    val cells = ivfpqCellsShared(s, d)
    val xu = pqXu(s, d)
    val cellCu = xu.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cell"), col("sub"), col("wd"), col("xu").as("ccu"))
    xu.join(cells, Seq("vec_id"))
      .join(broadcast(cellCu), Seq("cell", "sub", "wd"))
      .select(col("vec_id"), col("cell"), col("sub"), col("wd"),
        (col("xu") - col("ccu")).as("xu"))
  }

  /** [[residualXu]] in the array shape: (vec_id, cell, sub, xs[8]) with
    * xs = x − centroid(cell), element-wise over the subvector — same
    * integer arithmetic, one broadcast join fewer (the per-cell centroid
    * subvectors join as ONE 128-row dim instead of a per-dim 1024-row
    * one) and an 8× narrower row stream.
    */
  private def residualXuArr(s: SparkSession, d: String): DataFrame = {
    val cells = ivfpqCellsShared(s, d)
    val xu = pqXuArr(s, d)
    val cellCu = xu.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cell"), col("sub"), col("xs").as("ccu"))
    xu.join(cells, Seq("vec_id"))
      .join(broadcast(cellCu), Seq("cell", "sub"))
      .select(col("vec_id"), col("cell"), col("sub"),
        zip_with(col("xs"), col("ccu"), (a, b) => a - b).as("xs"))
  }

  /** Session-shared residual PQ codebook (8×16×8 cells trained by one
    * Lloyd step over residual space, seeds = vec_id ∈ [16, 32) residuals)
    * — the train-once artifact, same lifecycle as [[pqCodebookShared]].
    */
  private val sharedResidualCents = new SessionFrameCache(4, "sharedResidualCents")
  def residualCentsShared(s: SparkSession, d: String): DataFrame =
    sharedResidualCents.getOrBuild(s, d) {
      val rxu = residualXuArr(s, d).drop("cell")
      val rseeds = rxu.filter(col("vec_id") >= 16 && col("vec_id") < 32)
        .select((col("vec_id") - 16).as("c_id"), col("sub"), col("xs").as("cu"))
      lloydUpdateCands(rxu, centsArrBySub(rseeds))
    }

  /** Unpersist and drop every shared residual codebook of session `s`. */
  def releaseResidualCents(s: SparkSession): Unit = sharedResidualCents.release(s)

  /** Session-shared residual CODE table (vec_id, cell, sub, c_id) — the
    * encode-once-at-ingest index the residual ADC queries scan; carries
    * the coarse cell so the candidate filter needs no extra join.
    */
  private val sharedResidualCodes = new SessionFrameCache(4, "sharedResidualCodes")
  def residualCodesShared(s: SparkSession, d: String): DataFrame = {
    // parent materialized OUTSIDE this cache's monitor (lock discipline)
    val cents = residualCentsShared(s, d)
    sharedResidualCodes.getOrBuild(s, d) {
      val rxu = residualXuArr(s, d)
      pqAssignArr(rxu.drop("cell"), cents)
        .join(rxu.select(col("vec_id"), col("cell")).distinct(), Seq("vec_id"))
    }
  }

  /** Unpersist and drop every shared residual code table of session `s`. */
  def releaseResidualCodes(s: SparkSession): Unit = sharedResidualCodes.release(s)

  private def ivfpqResidualAdc(s: SparkSession, d: String): DataFrame = {
    val rcodes = residualCodesShared(s, d)
    val rcents = residualCentsShared(s, d)
    val scores = ivfpqCellScores(s, d)
    val wCell = Window.partitionBy(col("vec_id")).orderBy(col("d2"), col("c16"))
    val probeCells = scores.filter(col("vec_id") < 10)
      .withColumn("r", row_number().over(wCell)).filter(col("r") <= 2)
      .select(col("vec_id").as("q_id"), col("c16").as("cell"))
    val xu = pqXu(s, d)
    val cellCu = xu.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cell"), col("sub"), col("wd"), col("xu").as("ccu"))
    val qres = xu.filter(col("vec_id") < 10)
      .withColumnRenamed("vec_id", "q_id")
      .join(broadcast(probeCells), Seq("q_id"))
      .join(broadcast(cellCu), Seq("cell", "sub", "wd"))
      .select(col("q_id"), col("cell"), col("sub"), col("wd"),
        (col("xu") - col("ccu")).as("qu"))
    val rlut = qres.join(broadcast(rcents), Seq("sub", "wd"))
      .groupBy(col("q_id"), col("cell"), col("sub"), col("c_id"))
      .agg(sum((col("qu") - col("cu")) * (col("qu") - col("cu"))).as("d2"))
    rcodes.join(broadcast(probeCells), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .join(broadcast(rlut), Seq("q_id", "cell", "sub", "c_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("d2")).as("adc_u"))
  }

  /** (vec_id, vu: array<long>) — full vectors in integer micro-units, the
    * exact-arithmetic row-store the brute-force baseline and the re-rank
    * gather both read.
    */
  private def pqVu(s: SparkSession, d: String): DataFrame =
    fanOut(embeddings(s, d), s).select(col("vec_id"),
      transform(asDouble(col("embedding")),
        x => round(x * 1000000).cast("long")).as("vu"))

  /** Integer-micro-unit vectors for the k-center family (pqVu's shape,
    * bound separately so the sampling operator doesn't entangle with the
    * PQ session caches).
    */
  private def kcenterVu(s: SparkSession, d: String): DataFrame =
    fanOut(embeddings(s, d), s).select(col("vec_id"),
      transform(asDouble(col("embedding")),
        x => round(x * 1000000).cast("long")).as("vu"))

  /** The greedy farthest-point selection log — (step, center_id, sel_d2u)
    * with the step-0 seed (no radius) and the step-8 residual row (no
    * center). Driver-side content-stamped memo (the covarianceMatrix
    * discipline): the loop's 8 bounded one-row collects run once per
    * (dir, content) and both sample_kcenter and the census read the same
    * selection.
    */
  private val kcenterMemo =
    new java.util.concurrent.ConcurrentHashMap[String,
      Seq[(Int, java.lang.Long, java.lang.Long)]]()

  private def kcenterRows(
      s: SparkSession, d: String): Seq[(Int, java.lang.Long, java.lang.Long)] =
    kcenterMemo.computeIfAbsent(d + "|" + ContentStamp.of(d), _ => {
      val vu = kcenterVu(s, d)
      val l2 = graft.expressions.VectorExpressions.l2sq _
      // bounded collect: exactly one row per greedy step (k = 8)
      val seed = vu.agg(min(col("vec_id"))).collect()(0).getLong(0)
      def distTo(cid: Long): DataFrame =
        vu.crossJoin(broadcast(
            vu.filter(col("vec_id") === cid).select(col("vu").as("cu"))))
          .select(col("vec_id"), l2(col("vu"), col("cu")).as("dmin"))
      val rows = scala.collection.mutable.ArrayBuffer[
        (Int, java.lang.Long, java.lang.Long)]((0, seed, null))
      var minD = distTo(seed)
      for (step <- 1 to 7) {
        val top = minD.orderBy(col("dmin").desc, col("vec_id")).limit(1)
          .collect()(0)
        val cid = top.getLong(0)
        rows += ((step, cid, top.getLong(1)))
        minD = SessionCaches.loopCheckpoint(
          minD.join(distTo(cid).withColumnRenamed("dmin", "d2"), Seq("vec_id"))
            .select(col("vec_id"), least(col("dmin"), col("d2")).as("dmin")))
      }
      val residual = minD.agg(max(col("dmin"))).collect()(0).getLong(0)
      rows += ((8, null, residual))
      rows.toSeq
    })

  /** Per-probe recall audit (q_id, n_hits, recall) of an approximate
    * top-5 (q_id, vec_id, …) against its `truth` top-5 (q_id, vec_id):
    * truth ⟕ approx, hits counted per probe, recall = hits / 5.
    */
  private def recallAt5(approx: DataFrame, truth: DataFrame): DataFrame =
    truth.join(approx.select(col("q_id"), col("vec_id"), lit(1).as("hit")),
        Seq("q_id", "vec_id"), "left")
      .groupBy(col("q_id"))
      .agg(sum(coalesce(col("hit"), lit(0))).as("n_hits"))
      .select(col("q_id"), col("n_hits"), round(col("n_hits") / 5.0, 6).as("recall"))

  /** Exact integer-L2² top-5 per probe — the declared brute-force baseline
    * both PQ recall audits compare against.
    */
  private def pqExactTop5(s: SparkSession, d: String): DataFrame =
    pqExactTop5Ranked(s, d).select(col("q_id"), col("vec_id"))

  /** [[pqExactTop5]] keeping the exact rank (`erank` 1..5) — the graded
    * relevance the ranking-metrics audit needs (gain 6 − erank).
    */
  private def pqExactTop5Ranked(s: SparkSession, d: String): DataFrame = {
    val vu = pqVu(s, d)
    val probes = vu.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("vu").as("qu"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("d2"), col("vec_id"))
    vu.join(broadcast(probes), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        graft.expressions.VectorExpressions.l2sq(col("qu"), col("vu")).as("d2"))
      .withColumn("erank", row_number().over(w)).filter(col("erank") <= 5)
      .select(col("q_id"), col("vec_id"), col("erank"))
  }

  /** Top-5 per probe by integer L2² over SQ8 codes — emb_quantize_int8's
    * exact per-dim symmetric rule, the scales a driver-side d-bounded
    * collect re-entered as an array literal so quantization is one
    * zero-shuffle projection pass. Shared by the SQ8 recall audit and the
    * quantization ladder.
    */
  private def sq8Top5(s: SparkSession, d: String): DataFrame = {
    val vu = pqVu(s, d)
    // bounded (64 rows = embedding dimensionality, never N): per-dim max|xu|
    val m = vu.select(posexplode(col("vu")).as(Seq("dim", "xu")))
      .groupBy(col("dim")).agg(max(abs(col("xu"))).as("m"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1).map(_._2)
    val mLit = m.mkString("array(", "L, ", "L)")
    val q8 = vu.selectExpr("vec_id",
      s"""zip_with(vu, $mLit, (x, m) -> CASE WHEN m = 0L THEN 0L
         ELSE CAST(signum(x) AS BIGINT) * ((abs(x) * 254 + m) div (2 * m))
         END) AS q8""")
    val probes = q8.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("q8").as("qq"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("d2"), col("vec_id"))
    q8.join(broadcast(probes), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        graft.expressions.VectorExpressions.l2sq(col("qq"), col("q8")).as("d2"))
      .withColumn("r", row_number().over(w)).filter(col("r") <= 5)
      .select(col("q_id"), col("vec_id"))
  }

  /** Top-5 per probe from the binary rung: sign codes packed as two
    * 32-dim BIGINT words, Hamming top-50 shortlist, exact integer-L2²
    * re-rank. The per-row pack is one bounded 64-element fold (d-bounded,
    * zero shuffle); the pair work is 2 XORs + 2 popcounts. Shared by the
    * binary recall audit and the quantization ladder.
    */
  private def binaryTop5(s: SparkSession, d: String): DataFrame = {
    val vu = pqVu(s, d)
    val words = vu.selectExpr("vec_id", "vu",
      "aggregate(transform(vu, (x, i) -> IF(x > 0L AND i < 32, shiftleft(1L, i), 0L)), 0L, (a, w) -> a | w) AS lo",
      "aggregate(transform(vu, (x, i) -> IF(x > 0L AND i >= 32, shiftleft(1L, i - 32), 0L)), 0L, (a, w) -> a | w) AS hi")
    val probes = words.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("vu").as("qu"),
        col("lo").as("qlo"), col("hi").as("qhi"))
    val wH = Window.partitionBy(col("q_id")).orderBy(col("h"), col("vec_id"))
    val wD = Window.partitionBy(col("q_id")).orderBy(col("d2"), col("vec_id"))
    words.join(broadcast(probes), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), col("vu"), col("qu"),
        (bit_count(col("lo").bitwiseXOR(col("qlo"))) +
          bit_count(col("hi").bitwiseXOR(col("qhi")))).as("h"))
      .withColumn("r", row_number().over(wH)).filter(col("r") <= 50)
      .select(col("q_id"), col("vec_id"),
        graft.expressions.VectorExpressions.l2sq(col("qu"), col("vu")).as("d2"))
      .withColumn("r", row_number().over(wD)).filter(col("r") <= 5)
      .select(col("q_id"), col("vec_id"))
  }

  /** 16×dim random-hyperplane matrix with ±1 components derived from
    * md5("p_i") — the same portable-hash rule the MinHash pipeline uses, so
    * the DuckDB oracle rebuilds the IDENTICAL matrix in SQL
    * (`('0x'||substr(md5(p||'_'||i),1,15))::BIGINT % 2`). Computed once on
    * the driver (a 16×64 constant — at cluster scale this is the literal the
    * plan broadcasts for free), never per row.
    */
  private def planeMatrix(dim: Int): Array[Array[Long]] =
    Array.tabulate(16) { p =>
      Array.tabulate(dim) { i =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val hex = md.digest(s"${p}_$i".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        if (java.lang.Long.parseLong(hex.take(15), 16) % 2 == 0) 1L else -1L
      }
    }

  /** (vec_id, bucket) — the 16-bit random-hyperplane signature of every
    * vector as a bit string. Sign sums run in integer micro-units
    * (`round(x·1e6)·(±1)` summed as BIGINT) so the bit is
    * addition-order-independent and both engines agree even when a
    * projection lands near zero. One codegen'd pass per row, zero shuffle;
    * the bucket key (16 bits), not the vector, is all that downstream joins
    * ever ship.
    */
  private def lshBuckets(s: SparkSession, d: String): DataFrame = {
    // dim probe: one-row action; the table contract is fixed-width vectors
    val dim = embeddings(s, d).select(size(col("embedding")).as("n")).head().getInt(0)
    val planes = planeMatrix(dim)
    // micro-unit rounding happens ONCE per row (the builtin keeps Spark's
    // HALF_UP semantics the oracle replays); the 16 sign projections are
    // then codegen'd integer dots against the ±1 plane literals instead of
    // 16 interpreted round-and-multiply HOF folds
    val vu = transform(asDouble(col("embedding")),
      x => round(x * 1000000).cast("long"))
    val bits = (0 until 16).map { p =>
      when(graft.expressions.VectorExpressions
        .dotLong(col("vu"), typedLit(planes(p))) > 0, lit("1")).otherwise(lit("0"))
    }
    fanOut(embeddings(s, d), s)
      .select(col("vec_id"), vu.as("vu"))
      .select(col("vec_id"), concat(bits: _*).as("bucket"))
  }

  val queries: Map[String, Q] = Map(
    // A1/A2/A3 over real vectors: per-row array max / sum / length.
    "arr_stats" -> ((s, d) => {
      val v = asDouble(col("embedding"))
      embeddings(s, d).select(
        col("vec_id"),
        round(array_max(v), 6).as("vmax"),
        round(VectorExpressions.sum(v), 6).as("vsum"),
        size(col("embedding")).as("dim"))
    }),

    // L2 norm per vector (the normalize step of any ANN pipeline).
    "arr_l2_norm" -> ((s, d) => {
      val v = asDouble(col("embedding"))
      embeddings(s, d).select(
        col("vec_id"),
        round(sqrt(dot(v, v)), 6).as("l2_norm"))
    }),

    // Brute-force cosine top-5 for 10 probe vectors. Probe side broadcast;
    // rank on the rounded similarity with vec_id tiebreak so ordering is
    // reproducible across engines.
    "sim_cosine_topk" -> ((s, d) => {
      val base = fanOut(embeddings(s, d), s).select(col("vec_id"), asDouble(col("embedding")).as("v"))
      val probes = base.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
      val cos = round(
        dot(col("qv"), col("v")) /
          (sqrt(dot(col("qv"), col("qv"))) * sqrt(dot(col("v"), col("v")))), 6)
      val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
      base.join(broadcast(probes), col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"), cos.as("cos"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
    }),

    // Maximum-inner-product top-k (MIPS) — the retrieval metric of
    // dot-product-trained recommender/two-tower models, where a vector's
    // NORM is part of its relevance and cosine's normalization would
    // erase it. The test corpus is unit-norm (MIPS would collapse to
    // cosine, proving nothing), so each vector first gets a deterministic
    // id-derived popularity weight folded into its norm — the synthetic-
    // input device text_pii_redact uses, making every ranking exercise the
    // norm term for real; dot(w_a·a, w_b·b) factors to w_a·w_b·dot(a,b),
    // so the weighting costs one scalar multiply, not a vector rewrite.
    // Same broadcast-probes brute-force baseline shape as sim_cosine_topk;
    // the scale path is norm-augmented IVF (MIPS reduces to cosine after
    // the (x, √(M²−|x|²)) augmentation), which reuses the ivfProbe
    // machinery unchanged.
    "sim_mips_topk" -> ((s, d) => {
      val pop = (lit(1.0) + col("vec_id") % 5) / 3.0
      val base = fanOut(embeddings(s, d), s)
        .select(col("vec_id"), asDouble(col("embedding")).as("v"), pop.as("sv"))
      val probes = base.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("v").as("qv"), col("sv").as("sq"))
      val w = Window.partitionBy(col("q_id")).orderBy(col("ip").desc, col("vec_id"))
      base.join(broadcast(probes), col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          round(dot(col("qv"), col("v")) * col("sq") * col("sv"), 6).as("ip"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
    }),

    // k-NN majority-label voting: classify each probe by the mode label of
    // its top-5 cosine neighbors — similarity search applied to weak
    // labeling, the standard ANN-assisted annotation pass over a training
    // corpus. Composes the oracled top-k with the labels table; the argmax
    // is min(struct(-n, label)) — a hash aggregate with a deterministic
    // min-label tie-break, no window, no global sort.
    "sim_knn_label" -> ((s, d) => {
      val topk = queries("sim_cosine_topk")(s, d)
      val lbl = embeddings(s, d).select(col("vec_id"), col("label"))
      topk.join(lbl, "vec_id")
        .groupBy(col("q_id"), col("label")).agg(count(lit(1)).as("n"))
        .groupBy(col("q_id"))
        .agg(min(struct((-col("n")).as("nn"), col("label").as("lbl"))).as("w"))
        .select(col("q_id"), col("w.lbl").as("knn_label"), (-col("w.nn")).as("n_votes"))
    }),

    // Embedding-cosine near-duplicate pairs (brute force with precomputed
    // norms; threshold tuned to this dataset's similarity range). The scale
    // path bucketizes with sim_lsh_buckets first, shrinking the pair space
    // from N² to Σ bucket².
    "dedup_embed_cosine" -> ((s, d) => {
      val base = fanOut(embeddings(s, d), s)
        .select(col("vec_id"), asDouble(col("embedding")).as("v"))
        .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      val a = base.select(col("vec_id").as("da"), col("v").as("va"), col("nrm").as("na"))
      val b = base.select(col("vec_id").as("db"), col("v").as("vb"), col("nrm").as("nb"))
      a.join(b, col("da") < col("db"))
        .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
        .filter(col("cos") > 0.4)
        .select(col("da"), col("db"), round(col("cos"), 6).as("cos"))
    }),

    // Opaque binary media column + typed metadata (the multimodal transport
    // contract, graft.ops.Multimodal): payload length + content hash are
    // oracle-checked; the stubbed decode dimensions are spec-tested.
    "mm_binary_meta" -> ((s, d) => {
      val withMeta = graft.ops.Multimodal.withMediaMeta(
        fanOut(documents(s, d), s).select(col("doc_id"), col("text").cast("binary").as("media")),
        "media")
      withMeta.select(
        col("doc_id"),
        col("meta.n_bytes").as("n_bytes"),
        col("meta.sha256").as("sha256"))
    }),

    // IVF-style ANN: a 16-centroid coarse quantizer (deterministic sample —
    // production would k-means; a fixed sample keeps the oracle exact), every
    // vector assigned to its nearest centroid by cosine, probes search only
    // their nprobe=2 closest clusters. The scale shape: the inverted lists
    // partition the corpus, so each probe scans ~2/16 of it instead of all N;
    // centroids are a broadcast table, assignment is one codegen'd pass.
    //
    // HONESTY NOTE on the codebook: `vec_id < 16` is an ARBITRARY FIXED
    // quantizer, not a trained one — a fixture that keeps the DuckDB oracle
    // bit-exact (both engines pick the same 16 vectors by id). The IVF plan
    // shape, inverted-list partitioning, and the recall audit
    // (sim_ivf_recall) are exactly what a production build uses; the one
    // thing production changes is feeding the codebook from k-means
    // (iterate `sim_kmeans_update` to convergence) instead of `vec_id < 16`.
    // Do not read these centroids as a recall-tuned codebook.
    "sim_ivf_topk" -> ((s, d) => {
      val base = ivfBase(s, d)
      // fixed vec_id<16 codebook: an oracle-determinism fixture, not a
      // trained quantizer — sim_ivf_trained runs the same shape over the
      // Lloyd-trained centroids
      val cents = base.filter(col("vec_id") < 16)
        .select(col("vec_id").as("c_id"), col("v").as("cv"), col("nrm").as("cn"))
      ivfProbe(base, cents)
    }),

    // IVF over a TRAINED codebook: the quantizer is the centroid set one
    // Lloyd iteration (sim_kmeans_update) produces, not the fixed-fixture
    // ids — the production training loop's read side. The k×d centroid
    // table reassembles into ordered vectors with one tiny groupBy
    // (centroid-count-bounded, broadcast); everything downstream is the
    // identical bucketed IVF shape, and the oracle recomputes the same
    // codebook from the same oracled Lloyd SQL, so the end-to-end
    // train→index→probe path is hash-matched.
    "sim_ivf_trained" -> ((s, d) => {
      val km = queries("sim_kmeans_update")(s, d)
      val cents = km.groupBy(col("c_id"))
        .agg(transform(
          array_sort(collect_list(struct(col("dim"), col("mean_x")))),
          x => x.getField("mean_x")).as("cv"))
        .withColumn("cn", sqrt(dot(col("cv"), col("cv"))))
      ivfProbe(ivfBase(s, d), cents)
    }),

    // GREEDY K-CENTER coreset selection (Gonzalez 1985, the 2-approximation
    // farthest-point heuristic) — the diverse-subset primitive a curation
    // pipeline runs to pick maximally-spread exemplars (seed sets for
    // semantic dedup, diverse instruction selection, eval-probe picking).
    // Start from the corpus's smallest vec_id, then 7 times: the next
    // center is the vector FARTHEST from the selected set (max over nodes
    // of min over centers), and that selection distance IS the coverage
    // radius the set guaranteed before admitting it — so the per-step
    // sel_d2u column is the k-vs-radius curve a budget decision reads
    // (monotone nonincreasing by construction, spec-pinned). The closing
    // row (step 8, NULL center) is the residual radius an unpicked 9th
    // center would have covered. All distances are exact integer-micro-
    // unit L2² through the codegen'd l2sq kernel, so every argmax is an
    // integer comparison with the vec_id tiebreak — no float boundary
    // anywhere. Scale shape: each step is ONE linear corpus pass (min-dist
    // frame joined to the single new center, 1-row broadcast) + one
    // TakeOrdered(1); the min-dist frame is loop-checkpointed per step
    // (the bfsFrom discipline), and the 8 one-row collects are the
    // bounded-by-k driver reads the greedy algorithm inherently needs.
    // Oracle: the 8 steps unrolled as generated MATERIALIZED CTEs.
    "sample_kcenter" -> ((s, d) => {
      import s.implicits._
      kcenterRows(s, d).toDF("step", "center_id", "sel_d2u")
    }),

    // The ASSIGNMENT CENSUS under the final 8 k-center exemplars — the
    // table that turns the selection curve into a usable coverage map:
    // every vector assigned to its nearest center (exact integer-L2²,
    // ties to the smaller center id), then per center the population,
    // the covering radius (max assigned distance), and the exact total
    // distance — what a curation sampler reads to budget per-region
    // quotas, and what flags a region one exemplar can't represent
    // (large n × large radius). The greedy selection is a driver-side
    // content-stamped memo shared with sample_kcenter (the
    // covarianceMatrix discipline), so the census costs ONE extra
    // linear pass: corpus × the 8-row broadcast center table.
    "sample_kcenter_census" -> ((s, d) => {
      val centers = kcenterRows(s, d).collect {
        case (_, cid, _) if cid != null => cid.longValue()
      }
      val vu = kcenterVu(s, d)
      val cents = broadcast(vu.filter(col("vec_id").isin(centers: _*))
        .select(col("vec_id").as("center_id"), col("vu").as("cu")))
      val l2 = graft.expressions.VectorExpressions.l2sq _
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("d2"), col("center_id"))
      vu.crossJoin(cents)
        .select(col("vec_id"), col("center_id"), l2(col("vu"), col("cu")).as("d2"))
        .withColumn("r", row_number().over(w)).filter(col("r") === 1)
        .groupBy(col("center_id"))
        .agg(count(lit(1)).as("n_assigned"), max(col("d2")).as("radius_d2u"),
          // exact BIGINT total (a mean at 1e12 magnitude has no stable
          // 6-decimal rounding in doubles — ulp is ~2e-4 there); the
          // reader divides
          sum(col("d2")).as("sum_d2u"))
    }),

    // COARSE-QUANTIZER BALANCE audit for the k-center exemplars — the
    // cross-family composition question a pipeline owner actually asks:
    // "I already selected 8 maximally-spread exemplars; can they double
    // as my IVF coarse centroids?" The answer is measured, and it is the
    // honest NO: k-center optimizes coverage RADIUS (every point near
    // some center) while an inverted-list quantizer needs load BALANCE
    // (lists of equal size — the widest list bounds probe latency), and
    // farthest-point exemplars sit at the corpus's boundary where they
    // capture thin lists while interior mass piles onto a few. The table
    // reads widest/narrowest list under (a) the family's standardized
    // fixture seeds (vec_id < 8 — sim_kmeans_update's seeds) and (b) the
    // 8 greedy exemplars, same integer-L2 assignment both. Measured at
    // sf0.01: kcenter 75/50 vs fixture 70/48 — on this near-uniform
    // corpus the penalty is mild but consistently the WRONG direction,
    // and on clustered production data the boundary-exemplar effect
    // compounds; the don't-reuse-your-coreset-as-an-index lesson, next
    // to sim_ivfpq_trained's "training buys balance" row. One linear
    // pass per scheme over the 8-row broadcast center table.
    "sim_ivf_kcenter_balance" -> ((s, d) => {
      val vu = kcenterVu(s, d)
      val l2 = graft.expressions.VectorExpressions.l2sq _
      def balance(cents: DataFrame, scheme: String): DataFrame = {
        val w = Window.partitionBy(col("vec_id"))
          .orderBy(col("d2"), col("center_id"))
        vu.crossJoin(broadcast(cents))
          .select(col("vec_id"), col("center_id"), l2(col("vu"), col("cu")).as("d2"))
          .withColumn("r", row_number().over(w)).filter(col("r") === 1)
          .groupBy(col("center_id")).agg(count(lit(1)).as("n"))
          .agg(count(lit(1)).as("n_lists"), max(col("n")).as("widest"),
            min(col("n")).as("narrowest"))
          .select(lit(scheme).as("scheme"), col("n_lists"),
            col("widest"), col("narrowest"))
      }
      val kc = kcenterRows(s, d).collect {
        case (_, cid, _) if cid != null => cid.longValue()
      }
      val kcCents = vu.filter(col("vec_id").isin(kc: _*))
        .select(col("vec_id").as("center_id"), col("vu").as("cu"))
      val fxCents = vu.filter(col("vec_id") < 8)
        .select(col("vec_id").as("center_id"), col("vu").as("cu"))
      balance(fxCents, "fixture_seeds").unionByName(balance(kcCents, "kcenter"))
    }),

    // One Lloyd iteration of k-means (k=8, cosine assignment): assign every
    // vector to its nearest seed centroid, then recompute the centroids as
    // per-dimension means — posexplode shards the mean over (cluster, dim)
    // so no task ever holds a whole centroid, and the sums run in integer
    // micro-units so the result is addition-order-independent (the property
    // that lets the oracle match a shuffled cluster). This is the iterative
    // step a full clustering loop (or the IVF quantizer training) repeats.
    "sim_kmeans_update" -> ((s, d) => {
      val base = fanOut(embeddings(s, d), s)
        .select(col("vec_id"), asDouble(col("embedding")).as("v"))
        .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      val cents = base.filter(col("vec_id") < 8)
        .select(col("vec_id").as("c_id"), col("v").as("cv"), col("nrm").as("cn"))
      val csim = round(dot(col("v"), col("cv")) / (col("nrm") * col("cn")), 6)
      val wAssign = Window.partitionBy(col("vec_id"))
        .orderBy(col("csim").desc, col("c_id"))
      val assigned = base.join(broadcast(cents))
        .withColumn("csim", csim)
        .withColumn("crank", row_number().over(wAssign))
        .filter(col("crank") === 1)
        .select(col("vec_id"), col("v"), col("c_id"))
      assigned
        .select(col("c_id"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy(col("c_id"), col("dim"))
        .agg(
          count(lit(1)).as("n_members"),
          round(sum(round(col("x") * 1000000).cast("long")) / count(lit(1)) / 1e6, 6)
            .as("mean_x"))
    }),

    // Per-dimension corpus statistics (count / mean / std / min / max) — the
    // profiling pass every embedding pipeline runs before normalization or
    // quantization. Shape: posexplode to (dim, x) narrow rows, ONE partial-
    // aggregated groupBy(dim) — the shuffle carries 6 numbers per (partition,
    // dim), never a vector. Sums run exactly: means in integer micro-units
    // (BIGINT), second moments in DECIMAL(38,0) (micro² units overflow a
    // 64-bit long around 10⁷ rows — decimal partials stay exact AND mergeable
    // at any N, and both engines cast the identical integer to double at the
    // end, so the rounded std matches bit-for-bit).
    "emb_dim_stats" -> ((s, d) => {
      import org.apache.spark.sql.types.DecimalType
      val ex = fanOut(embeddings(s, d), s)
        .select(posexplode(asDouble(col("embedding"))).as(Seq("dim", "x")))
        .select(col("dim"), col("x"),
          round(col("x") * 1000000).cast("long").as("xu"))
      val dec = DecimalType(38, 0)
      ex.groupBy(col("dim"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("xu")).as("su"),
          sum(col("xu").cast(dec) * col("xu")).as("sq"),
          round(min(col("x")), 6).as("min_x"),
          round(max(col("x")), 6).as("max_x"))
        .select(
          col("dim"), col("n"),
          round(col("su").cast("double") / 1000000.0 / col("n"), 6).as("mean_x"),
          round(sqrt(
            col("sq").cast("double") / 1000000000000.0 / col("n") -
              pow(col("su").cast("double") / 1000000.0 / col("n"), 2)), 6).as("std_x"),
          col("min_x"), col("max_x"))
    }),

    // EMBEDDING DRIFT between two ingest slices — the expectations-trend
    // idea (diag_expectations_trend) applied to the vector column: when an
    // upstream encoder, preprocessing step, or source mix changes, the
    // per-dimension means move, and a training pipeline wants the alarm at
    // ingest, not after a week of skewed retrieval. Slices are the parity
    // split (vec_id % 2); slice B carries a PLANTED +0.25 shift on dims
    // 0–3 (applied in exact micro-units inside the query) so the verdict
    // path demonstrably fires while dims ≥ 4 pin the no-drift path.
    // All verdict arithmetic is INTEGER: with per-slice micro-unit sums
    // (sua, na) and (sub, nb), |mean_b − mean_a| > 0.1 ⟺
    // |sub·na − sua·nb| > 100000·na·nb — cross-multiplied so no division,
    // no rounding, no float summation order anywhere in the verdict
    // (products stay far inside long at bench scale; a 100 TB build
    // widens the same algebra to DECIMAL(38)). The human-readable means
    // use emb_dim_stats' proven round(su/1e6/n, 6) form. Scale shape: one
    // scan, one groupBy(dim) with conditional partial sums — the per-dim
    // frame is bounded by the dimensionality, never the corpus.
    "emb_drift" -> ((s, d) => {
      val ex = fanOut(embeddings(s, d), s)
        .select(col("vec_id"), posexplode(asDouble(col("embedding"))).as(Seq("dim", "x")))
        .select(col("vec_id"), col("dim"),
          round(col("x") * 1000000).cast("long").as("xu"))
        .withColumn("grp", (col("vec_id") % 2).cast("int"))
        .withColumn("xu", when(col("grp") === 1 && col("dim") < 4,
          col("xu") + 250000L).otherwise(col("xu")))
      val agg = ex.groupBy(col("dim")).agg(
        sum(when(col("grp") === 0, col("xu")).otherwise(0L)).as("sua"),
        sum(when(col("grp") === 0, 1L).otherwise(0L)).as("na"),
        sum(when(col("grp") === 1, col("xu")).otherwise(0L)).as("sub"),
        sum(when(col("grp") === 1, 1L).otherwise(0L)).as("nb"))
      val per = agg.select(col("dim"), col("na"), col("nb"),
        round(col("sua").cast("double") / 1000000.0 / col("na"), 6).as("mean_a"),
        round(col("sub").cast("double") / 1000000.0 / col("nb"), 6).as("mean_b"),
        (abs(col("sub") * col("na") - col("sua") * col("nb")) >
          lit(100000L) * col("na") * col("nb")).as("drifted"))
      val total = per.agg(
        sum(when(col("drifted"), 1L).otherwise(0L)).as("n_drifted_dims"))
      per.crossJoin(broadcast(total))
    }),

    // Symmetric int8 quantization (the embedding-compression pass that cuts
    // ANN index storage 4×): per-dimension scale = 127/max|x|, q = round-half-
    // away-from-zero(x·127/scale) — computed ENTIRELY in integer arithmetic
    // ((|xu|·254 + m) div (2m), xu = micro-units, m = per-dim max|xu|), so
    // there is no float rounding boundary for engines to disagree on. The
    // per-dim scales are a |dim|-row aggregate broadcast back to the fact
    // side — the big table never shuffles. Output exploded as (vec_id, dim,
    // q8): the same rows a quantized index would store.
    "emb_quantize_int8" -> ((s, d) => {
      val ex = fanOut(embeddings(s, d), s)
        .select(col("vec_id"), posexplode(asDouble(col("embedding"))).as(Seq("dim", "x")))
        .select(col("vec_id"), col("dim"),
          round(col("x") * 1000000).cast("long").as("xu"))
      val scales = ex.groupBy(col("dim")).agg(max(abs(col("xu"))).as("m"))
      ex.join(broadcast(scales), "dim")
        .select(col("vec_id"), col("dim"),
          when(col("m") === 0, lit(0))
            .otherwise((signum(col("xu")).cast("long") *
              expr("(abs(xu) * 254 + m) div (2 * m)")).cast("int"))
            .as("q8"))
    }),

    // Upper-triangle covariance matrix of the embedding dimensions — the
    // second-order statistic behind PCA / whitening / decorrelation of an
    // embedding corpus. NO self-join: each row expands to its d(d+1)/2
    // dimension pairs with one higher-order transform (the products are
    // per-row local), then ONE partial-aggregated groupBy(i,j) — the shuffle
    // carries (i,j,Σp) partials, 2080 cells for d=64, regardless of N.
    // Products of micro-unit integers sum exactly in DECIMAL(38,0); the
    // d-row mean table broadcasts back twice for the E[x]E[y] term. At
    // 100 TB this is the textbook outer-product aggregation — linear scan,
    // constant-size output.
    "emb_covariance" -> ((s, d) => covMoments(s, d).select(col("i"), col("j"), covCol)),

    // PCA projection to the top-k principal components — the embedding-
    // compression / whitening step a training pipeline runs before
    // clustering or visualizing a corpus. The distributed work is ONE
    // constant-size-output corpus scan (covMoments: covariance cells AND
    // per-dim means in the same pass) plus one zero-shuffle projection
    // pass; the eigendecomposition itself is a d×d driver problem
    // (graft.functions.Eigen, deterministic cyclic Jacobi), bounded by
    // model geometry, not N. pc_j = dot(x, v_j) - dot(mean, v_j), with
    // the second term folded into a driver-side scalar so centering never
    // touches the corpus. No eigensolver exists in SQL, so the DuckDB
    // oracle is GENERATED at Verify time ([[graft.oracle.Similarity.pcaOracleSql]]): the same
    // deterministic eigenbasis is embedded as SQL literals and DuckDB
    // re-projects the corpus — a full hash-match, not rows-only. The
    // algebraic contract — orthonormal basis, descending eigenvalues,
    // trace preservation, Var(pc1) = λ1 — stays spec-pinned on top.
    "emb_pca_topk" -> ((s, d) => {
      val (cov, mean) = covarianceMatrix(s, d)
      val (_, vecs) = graft.functions.Eigen.symmetric(cov)
      embeddings(s, d)
        .select(col("vec_id") +: basisProjCols(vecs.take(4).toSeq, mean, "pc"): _*)
    }),

    // PCA WHITENING — the decorrelate-and-normalize transform (basis
    // scaled 1/√λ) a pipeline applies before isotropic-distance methods
    // (k-means, cosine ANN) so no dominant direction swamps the metric:
    // projected coordinates have unit variance and zero cross-covariance
    // (spec-pinned). Identical execution shape to emb_pca_topk — one
    // constant-output moments pass, a d×d driver eigensolve, a zero-
    // shuffle projection — via the same [[basisProjCols]]; the oracle
    // ([[whiteningOracleSql]]) embeds the same scaled basis as literals,
    // full hash-match.
    "emb_whitening" -> ((s, d) => {
      val (basis, mean) = whitenedBasis(s, d, 4)
      embeddings(s, d)
        .select(col("vec_id") +: basisProjCols(basis, mean, "w"): _*)
    }),

    // ANN quality gate: per-probe recall@5 of the IVF index against the
    // exact brute-force top-5 — the accuracy audit every production ANN
    // deployment runs before swapping the exact path out. Both inputs are
    // oracled queries; the join is a tiny (50-row) equi join, and the oracle
    // recomputes the identical composition, so the recall is hash-matched
    // exactly, not just contract-checked.
    "sim_ivf_recall" -> ((s, d) => {
      val exact = queries("sim_cosine_topk")(s, d)
        .select(col("q_id"), col("vec_id"))
      recallAt5(queries("sim_ivf_topk")(s, d), exact)
    }),

    // FILTERED ANN — predicate + vector search in ONE query, the serving
    // pattern every production vector store hits ("top-k similar WHERE
    // label = X"). Post-filtering an unfiltered top-k starves recall (the
    // k survivors may all fail the predicate, and re-probing deeper costs
    // another round trip); the right shape applies the predicate to the
    // CANDIDATE LISTS inside the probed cells, BEFORE the top-k — same
    // cell-scan cost, no starvation. Each probe targets its OWN label
    // (same-class retrieval); the output is the filtered-IVF top-5's
    // recall against the filtered exact top-5, hash-matched per probe.
    // Scale shape: the 16-centroid quantizer broadcasts, candidate joins
    // stay equi-keyed on c_id, and the label predicate prunes candidates
    // before the per-probe window; the exact leg is the declared
    // broadcast-probe brute-force baseline class (PlanSpec allowlist).
    "sim_ivf_filtered" -> ((s, d) => {
      val (assigned, probes) = ivfLabeledFrames(s, d)
      val wTop = Window.partitionBy(col("q_id"))
        .orderBy(col("cos").desc, col("vec_id"))
      // IVF leg: predicate INSIDE the probed cells, before the top-k
      val ivf = assigned.join(broadcast(probes), Seq("c_id"))
        .filter(col("vec_id") =!= col("q_id") && col("label") === col("tgt"))
        .select(col("q_id"), col("vec_id"), cosine.as("cos"))
        .withColumn("rank", row_number().over(wTop))
        .filter(col("rank") <= 5)
        .select(col("q_id"), col("vec_id"), lit(1).as("hit"))
      filteredExact(s, d).join(ivf, Seq("q_id", "vec_id"), "left")
        .groupBy(col("q_id"), col("tgt"))
        .agg(count(lit(1)).as("n_exact"),
          sum(coalesce(col("hit"), lit(0))).as("n_hits"))
        .select(col("q_id"), col("tgt").as("target_label"),
          col("n_exact"), col("n_hits"),
          round(col("n_hits") / col("n_exact"), 6).as("recall"))
    }),

    // THE MEASURED REASON the predicate belongs inside the cells: the same
    // probes, cells, and candidate budget, with the label filter applied
    // the WRONG way as a second leg — AFTER the unfiltered top-5 (what a
    // naive serving layer does: ask the index for k, then drop
    // non-matching rows). With ~|labels| classes an unfiltered top-5
    // keeps ≈ 5/|labels| matching rows, so post-filter recall collapses
    // while pre-filter recall (sim_ivf_filtered's leg) holds — both
    // measured per probe against the same filtered-exact ground truth and
    // hash-matched. The starvation number is what answers "just filter
    // the results" in an ANN design review.
    "sim_ivf_filtered_sweep" -> ((s, d) => {
      val (assigned, probes) = ivfLabeledFrames(s, d)
      val wTop = Window.partitionBy(col("q_id"))
        .orderBy(col("cos").desc, col("vec_id"))
      val cands = assigned.join(broadcast(probes), Seq("c_id"))
        .filter(col("vec_id") =!= col("q_id"))
      // pre-filter: predicate BEFORE the top-5 (the right way)
      val pre = cands.filter(col("label") === col("tgt"))
        .select(col("q_id"), col("vec_id"), cosine.as("cos"))
        .withColumn("rank", row_number().over(wTop)).filter(col("rank") <= 5)
        .select(col("q_id"), col("vec_id"), lit(1).as("pre_hit"))
      // post-filter: unfiltered top-5, THEN the predicate (the naive way)
      val post = cands
        .select(col("q_id"), col("tgt"), col("label"), col("vec_id"), cosine.as("cos"))
        .withColumn("rank", row_number().over(wTop)).filter(col("rank") <= 5)
        .filter(col("label") === col("tgt"))
        .select(col("q_id"), col("vec_id"), lit(1).as("post_hit"))
      filteredLegRecalls(s, d, "pre" -> pre, "post" -> post)
    }),

    // Product quantization + asymmetric distance (the Jégou et al. PQ
    // design that makes billion-vector ANN storable: 64-dim vectors become
    // 8 one-byte codes — one nearest-centroid id per 8-dim subspace — and
    // query distances are computed code-side from a per-query lookup table
    // without ever touching the full vectors). Codebook: per-subspace
    // k=16 centroids trained by ONE Lloyd step (L2 assignment) from the
    // deterministic vec_id<16 seed subvectors — the same
    // train-don't-fixture discipline as sim_ivf_trained; production
    // iterates the identical step to convergence (usually on a sample —
    // here the step runs over the full corpus so the oracle can replay
    // it). EVERYTHING ranks in exact integer arithmetic: coordinates in
    // micro-units, L2² distances as BIGINT sums of squared differences,
    // ADC totals as integer sums over the 8 subspaces — argmin and top-5
    // have no floating-point boundary for engines to disagree on (only
    // the Lloyd mean rounds, identically on both sides). Scale shape: the
    // codebook (8×16×8 cells) and the per-probe LUT (|probes|·8·16 rows)
    // broadcast; the only corpus-sized streams are the posexplode pass,
    // the (vec, sub, code) assignment groupBys, and the 8-rows-per-vector
    // code table the ADC join actually scans — the PQ storage win made
    // visible in the plan.
    "sim_pq_adc" -> ((s, d) => {
      val wTop = Window.partitionBy(col("q_id")).orderBy(col("adc_u"), col("vec_id"))
      adcScores(s, d)
        .withColumn("rank", row_number().over(wTop))
        .filter(col("rank") <= 5)
        .select(col("q_id"), col("vec_id"),
          round(col("adc_u").cast("double") / 1000000000000.0, 6).as("adc_d2"),
          col("rank"))
    }),

    // Two-stage ANN: ADC shortlist → exact re-rank — the composition every
    // production PQ deployment actually ships (Jégou et al. §V: codes
    // recall a candidate set, full vectors re-rank it). Stage 1 scans ONLY
    // the 8-byte-code table for a per-probe top-[[RerankShortlist]]
    // shortlist (the measured ADC recall@5 ≈ 0.32 documents why codes
    // alone can't rank the top-5 — quantization error reorders
    // near-neighbors); stage 2 gathers full vectors for the
    // |probes|×shortlist rows alone — broadcast against the corpus
    // row-store, never a second corpus scan of distances — and re-ranks in
    // the same exact integer L2² arithmetic as sim_pq_recall's baseline.
    // sim_pq_rerank_recall audits the end-to-end recall the way
    // sim_ivf_recall audits IVF.
    "sim_pq_rerank" -> ((s, d) =>
      ivfpqExactTail(s, d, adcScores(s, d), RerankShortlist)),

    // Recall audit of the two-stage path: re-ranked top-5 vs the exact
    // top-5 — the promotion gate that justifies replacing brute force with
    // codes+re-rank in production. At the 50×k shortlist the reading is
    // recall 1.0 per probe (pinned in WideOpsSpec); a shortlist the exact
    // top-5 escapes would show up here, not in a silent quality regression
    // downstream.
    "sim_pq_rerank_recall" -> ((s, d) =>
      recallAt5(queries("sim_pq_rerank")(s, d), pqExactTop5(s, d))),

    // SCALAR (SQ8) quantization recall — the 4×-compression rung of the
    // quantization ladder (float32 2048 bits → SQ8 512 → PQ 64 → binary
    // 64): top-5 by integer L2² over emb_quantize_int8's EXACT per-dim
    // symmetric int8 codes, scored against the exact micro-unit top-5.
    // The per-dim scales are a d-bounded (64-row) aggregate collected
    // driver-side and re-entered as an array literal (the emb_pca_topk
    // d-bounded-scalar precedent), so quantization itself is a
    // ZERO-SHUFFLE projection pass — at 100 TB the corpus never moves
    // for its own compression. Distances stay in the codegen'd integer
    // l2sq kernel; every rank boundary is integer, no float tie anywhere.
    "sim_sq8_recall" -> ((s, d) =>
      sq8Top5(s, d)
        .select(col("q_id"), col("vec_id"), lit(1).as("hit"))
        .join(pqExactTop5(s, d), Seq("q_id", "vec_id"), "right")
        .groupBy(col("q_id"))
        .agg(sum(coalesce(col("hit"), lit(0))).as("n_hits"))
        .select(col("q_id"), col("n_hits"),
          round(col("n_hits") / 5.0, 6).as("recall"))),

    // BINARY quantization + Hamming re-rank — the 1-bit rung: sign codes
    // packed as two 32-dim words per vector (32 bits per BIGINT word —
    // 1L<<63 overflows portably, and the w32 layout generalizes to any
    // d), Hamming-distance top-50 shortlist (bit_count(xor) — the only
    // per-pair work, 2 XORs + 2 popcounts), exact integer-L2² re-rank of
    // the shortlist, recall@5 vs the exact top-5. This is the
    // binary-embedding serving shape (32× smaller index, shortlist
    // quality is the whole question — the rung the ladder query ranks).
    "sim_binary_rerank" -> ((s, d) =>
      binaryTop5(s, d)
        .select(col("q_id"), col("vec_id"), lit(1).as("hit"))
        .join(pqExactTop5(s, d), Seq("q_id", "vec_id"), "right")
        .groupBy(col("q_id"))
        .agg(sum(coalesce(col("hit"), lit(0))).as("n_hits"))
        .select(col("q_id"), col("n_hits"),
          round(col("n_hits") / 5.0, 6).as("recall"))),

    // The QUANTIZATION LADDER — the one decision-grade table a pipeline
    // reads before picking its index compression: every rung's total
    // recall@5 over the shared 10-probe set next to its bits/vector.
    // float32 is the exact baseline (1.0 by construction — the sanity
    // anchor), SQ8 the 4× rung, PQ 8×8 the 32× rung, binary+rerank the
    // 32×-with-popcount-scan rung. Measured at sf0.01 the ladder reads
    // the honest guidance: SQ8 keeps (nearly) everything, raw PQ@64-bit
    // is a shortlist generator (0.32), binary's Hamming shortlist +
    // exact re-rank buys most of the exactness back at the same 64 bits.
    // Each leg reuses its family's shared stages; the fusion is four
    // 10-row aggregates.
    "sim_quant_ladder" -> ((s, d) => {
      val ex = pqExactTop5(s, d)
      def leg(scheme: String, bits: Int, top5: DataFrame): DataFrame =
        ex.join(top5.select(col("q_id"), col("vec_id"), lit(1).as("hit")),
            Seq("q_id", "vec_id"), "left")
          .agg(sum(coalesce(col("hit"), lit(0))).as("n_hits"))
          .select(lit(scheme).as("scheme"), lit(bits).as("bits_per_vec"),
            col("n_hits"), round(col("n_hits") / 50.0, 6).as("recall_at_5"))
      leg("float32", 2048, ex)
        .unionByName(leg("sq8", 512, sq8Top5(s, d)))
        .unionByName(leg("pq8x8", 64, queries("sim_pq_adc")(s, d)))
        .unionByName(leg("binary_rerank", 64, binaryTop5(s, d)))
    }),

    // IVF-PQ: the layout billion-vector ANN actually deploys (FAISS
    // IVFPQ / Jégou et al. §V): a coarse quantizer partitions the corpus
    // into inverted lists, probes scan ONLY their nprobe=2 nearest cells'
    // codes (≈2/16 of the corpus here), ADC ranks the candidates from
    // 8-byte codes, and the top-50 shortlist re-ranks in exact integer
    // L2². Composition of three already-oracled stages (coarse cells =
    // the integer-L2 analogue of sim_ivf_topk's fixture quantizer; ADC =
    // sim_pq_adc's LUT scan restricted to candidates by an equi-join on
    // the cell-filtered candidate set; re-rank = sim_pq_rerank's gather).
    // Scale shape: cells + probe cells come from a 16-row broadcast, the
    // candidate filter is an equi-join on the cell id (at cluster scale
    // the code table is PARTITIONED by cell — the inverted-list locality
    // this join models), and only |probes|·50 rows ever gather full
    // vectors. sim_ivfpq_recall reads 0.92 at sf0.01 = exactly the
    // nprobe=2 cell-coverage ceiling (the shortlist and re-rank lose
    // nothing); the residual is pure cell-miss, the nprobe knob.
    "sim_ivfpq_topk" -> ((s, d) =>
      ivfpqFrom(s, d, ivfpqCellScores(s, d), ivfpqCellsShared(s, d))),

    // IVF-PQ over a TRAINED coarse quantizer: one full-vector integer-L2
    // Lloyd step (assign to the 16 seeds, recompute per-dim means rounded
    // to micro-units — the same train-don't-fixture discipline as
    // sim_ivf_trained and the PQ codebook) feeds the identical pipeline.
    // What training buys at scale is LIST BALANCE, not recall: on this
    // corpus the widest inverted list shrinks 42 → 37 rows (σ 5.4 → 5.0)
    // — the worst list bounds what a probe scans, so balancing is the
    // production motive for training the coarse level — while recall@5
    // reads 0.86 vs the fixture's 0.92 at the same nprobe=2 (recall is
    // the nprobe knob, list width is the training knob). The oracle
    // replays the Lloyd step in the same integer arithmetic, so the full
    // train→partition→encode→probe→re-rank path is hash-matched.
    "sim_ivfpq_trained" -> ((s, d) => {
      val scores = ivfpqTrainedCellScores(s, d)
      val wCell = Window.partitionBy(col("vec_id")).orderBy(col("d2"), col("c16"))
      val cells = scores
        .withColumn("r", row_number().over(wCell)).filter(col("r") === 1)
        .select(col("vec_id"), col("c16").as("cell"))
      ivfpqFrom(s, d, scores, cells)
    }),

    // End-to-end IVF-PQ recall audit vs the global exact top-5 — the
    // nprobe/shortlist tuning gate. Attribution discipline: compare with
    // sim_pq_rerank_recall (1.0, no cell filter) to read the cell-miss
    // cost, and with sim_pq_recall (~0.32, no re-rank) to read what the
    // exact re-rank recovers.
    "sim_ivfpq_recall" -> ((s, d) =>
      recallAt5(queries("sim_ivfpq_topk")(s, d), pqExactTop5(s, d))),

    // The nprobe TUNING CURVE for IVF-PQ: recall@5 and scanned fraction at
    // nprobe ∈ {1, 2, 4, 8} against the exact baseline — the recall/cost
    // table a user reads before picking nprobe (the same discipline as the
    // re-rank depth curve, SURVEY §8). Sweep shape: the nprobe=8 candidate
    // union is computed ONCE, each candidate tagged with the probe-cell
    // rank `pr` that admits it (a vector lives in exactly one cell, so pr
    // is unique per pair); ADC runs once over that union, and the
    // per-nprobe legs are a bounded explode (a candidate participates at
    // np iff pr ≤ np) + per-(np, q) shortlist/re-rank windows — never 4
    // corpus scans. Output: 4 rows, each the (recall, scanned_frac) point
    // the nprobe knob buys.
    //
    // Measured at sf0.01: recall 0.90/0.92/0.80/0.72 at scanned fraction
    // 0.06/0.12/0.24/0.50 — NON-monotonic past nprobe=2, and that is the
    // honest FAISS-known lesson the curve teaches: with the ADC shortlist
    // FIXED at 50 and standalone ADC recall only ~0.32, every extra probed
    // cell adds candidates whose noisy code distances crowd true neighbors
    // out of the top-50 before the exact re-rank can save them. Past the
    // cell-coverage knee the binding constraint is shortlist depth, not
    // cell coverage — tune nprobe and the shortlist together.
    "sim_ivfpq_probe_sweep" -> ((s, d) => {
      val swept = ivfpqSweptCandidates(s, d)
      val wShort = Window.partitionBy(col("np"), col("q_id"))
        .orderBy(col("adc_u"), col("vec_id"))
      val shortlist = swept
        .withColumn("r", row_number().over(wShort)).filter(col("r") <= 50)
        .select(col("np"), col("q_id"), col("vec_id"))
      val vu = pqVu(s, d)
      val probes = vu.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("vu").as("qu"))
      val wRank = Window.partitionBy(col("np"), col("q_id"))
        .orderBy(col("d2"), col("vec_id"))
      val approxTop5 = vu.join(broadcast(shortlist), Seq("vec_id"))
        .join(broadcast(probes), Seq("q_id"))
        .select(col("np"), col("q_id"), col("vec_id"),
          graft.expressions.VectorExpressions.l2sq(col("qu"), col("vu")).as("d2"))
        .withColumn("rank", row_number().over(wRank)).filter(col("rank") <= 5)
        .select(col("np"), col("q_id"), col("vec_id"), lit(1).as("hit"))
      val hits = approxTop5
        .join(pqExactTop5(s, d), Seq("q_id", "vec_id"))
        .groupBy(col("np")).agg(count(lit(1)).as("n_hits"))
      val scanned = swept.groupBy(col("np")).agg(count(lit(1)).as("n_cand"))
      val nTotal = vu.agg(count(lit(1)).as("n_total"))
      scanned.join(hits, Seq("np"), "left")
        .crossJoin(broadcast(nTotal))
        .select(col("np").cast("int").as("nprobe"),
          round(coalesce(col("n_hits"), lit(0L)).cast("double") / 50.0, 6).as("recall"),
          round(col("n_cand").cast("double") / (col("n_total") * 10.0), 6)
            .as("scanned_frac"))
    }),

    // The COMBINED nprobe × shortlist-depth grid: the probe sweep's own
    // reading (recall goes NON-monotonic past nprobe=2 because the fixed-50
    // shortlist binds before cell coverage does) says the two knobs must be
    // tuned together — so this is the 4×4 table that tuning actually reads:
    // recall@5 at nprobe ∈ {1,2,4,8} × depth ∈ {25,50,100,200}, plus the
    // per-nprobe scanned fraction (depth never changes what ADC scans, only
    // what re-ranks). Sweep shape extends the probe sweep's one-union
    // discipline a level deeper: candidates are tagged with the admitting
    // probe rank ONCE, ADC runs once, the per-(np,q) ADC rank is computed
    // once and cut at max-depth 200, each depth leg is a bounded explode of
    // that ranked frame, and the exact re-rank distance is computed ONCE
    // per DISTINCT (q, candidate) pair (≤ |probes|·200 rows, broadcast)
    // then joined back under every (np, depth) leg — never 16 corpus scans,
    // and the same pair is never re-ranked twice.
    "sim_ivfpq_grid" -> ((s, d) => {
      val swept = ivfpqSweptCandidates(s, d)
      val wShort = Window.partitionBy(col("np"), col("q_id"))
        .orderBy(col("adc_u"), col("vec_id"))
      val ranked = swept
        .withColumn("r", row_number().over(wShort)).filter(col("r") <= 200)
      val byDepth = ranked.select(col("np"), col("q_id"), col("vec_id"),
        explode(expr("filter(array(25, 50, 100, 200), v -> v >= r)")).as("depth"))
      val pairs = ranked.select(col("q_id"), col("vec_id")).distinct()
      val vu = pqVu(s, d)
      val probes = vu.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("vu").as("qu"))
      val exact = vu.join(broadcast(pairs), Seq("vec_id"))
        .join(broadcast(probes), Seq("q_id"))
        .select(col("q_id"), col("vec_id"),
          graft.expressions.VectorExpressions.l2sq(col("qu"), col("vu")).as("d2"))
      val wRank = Window.partitionBy(col("np"), col("depth"), col("q_id"))
        .orderBy(col("d2"), col("vec_id"))
      val approxTop5 = byDepth.join(exact, Seq("q_id", "vec_id"))
        .withColumn("rank", row_number().over(wRank)).filter(col("rank") <= 5)
        .select(col("np"), col("depth"), col("q_id"), col("vec_id"))
      val hits = approxTop5
        .join(pqExactTop5(s, d), Seq("q_id", "vec_id"))
        .groupBy(col("np"), col("depth")).agg(count(lit(1)).as("n_hits"))
      val scanned = swept.groupBy(col("np")).agg(count(lit(1)).as("n_cand"))
      val nTotal = vu.agg(count(lit(1)).as("n_total"))
      val grid = byDepth.select(col("np"), col("depth")).distinct()
      grid.join(hits, Seq("np", "depth"), "left")
        .join(broadcast(scanned), Seq("np"))
        .crossJoin(broadcast(nTotal))
        .select(col("np").cast("int").as("nprobe"),
          col("depth").cast("int").as("depth"),
          round(coalesce(col("n_hits"), lit(0L)).cast("double") / 50.0, 6).as("recall"),
          round(col("n_cand").cast("double") / (col("n_total") * 10.0), 6)
            .as("scanned_frac"))
    }),

    // RESIDUAL IVF-PQ top-k — see [[ivfpqResidualAdc]]: codes describe
    // x − centroid(cell) instead of x, the per-probe LUT gains a cell
    // dimension, and the pipeline downstream (50-shortlist → exact
    // re-rank) is identical to sim_ivfpq_topk's, so the two are directly
    // comparable at equal bytes per vector.
    "sim_ivfpq_residual" -> ((s, d) =>
      ivfpqExactTail(s, d, ivfpqResidualAdc(s, d), 50)),

    // End-to-end recall of the residual variant vs the exact top-5 — read
    // against sim_ivfpq_recall (raw codes, same cells/nprobe/shortlist) to
    // see what residual encoding buys at equal index bytes.
    "sim_ivfpq_residual_recall" -> ((s, d) =>
      recallAt5(queries("sim_ivfpq_residual")(s, d), pqExactTop5(s, d))),

    // Where residual coding actually shows up: at shortlist depth 50 the
    // exact re-rank forgives most code noise (both schemes sit at the
    // 0.92 cell-coverage ceiling), so this audit SHRINKS the shortlist to
    // 10 — the regime where ADC ordering quality is the binding
    // constraint — and reads recall@5 for raw vs residual codes side by
    // side. Measured at sf0.01: raw 0.50, residual 0.42 — residual coding
    // LOSES on this corpus, and that is the honest reading: the
    // embeddings are near-uniform random unit vectors, so the coarse
    // cells capture almost no structure, residual magnitudes ≈ raw
    // magnitudes, and the residual codebook spends its budget modeling
    // the same geometry from a worse (16-seed residual-space) start. The
    // FAISS guidance this table encodes: residual encoding pays on
    // CLUSTERED corpora where ||x − centroid|| ≪ ||x||; audit it on your
    // data before paying its extra LUT dimension. Two rows; both ADC
    // frames come from the already-shared code tables and one extra
    // bounded rank window each.
    "sim_ivfpq_code_gain" -> ((s, d) => {
      val rawAdcr = ivfpqAdc(ivfpqCellScores(s, d), ivfpqCellsShared(s, d),
        pqCodesShared(s, d), pqLut(s, d))
      ivfpqRecallAtDepth10(s, d, rawAdcr, "raw")
        .unionAll(ivfpqRecallAtDepth10(s, d, ivfpqResidualAdc(s, d), "residual"))
    }),

    // OPQ-STYLE ROTATION AUDIT (Ge et al. 2013): does rotating the corpus
    // into the snake-allocated PCA eigenbasis lower the PQ quantization
    // error? Three rungs, each the IDENTICAL integer PQ train/encode
    // pipeline over a different coordinate table — raw (the production
    // pqXu), centered (isolates the centering gain), and OPQ-rotated
    // (adds the rotation) — each reduced to its exact BIGINT total
    // quantization error. The rotation is a zero-shuffle projection pass;
    // training is the usual bounded-broadcast codebook shape; the only
    // nested loop is the 1-row scalar(corpus size) annotate. The oracle
    // is GENERATED at Verify time ([[opqOracleSql]]) like emb_pca_topk's:
    // the d×d basis embeds as SQL literals and DuckDB replays rotation +
    // training + encoding — full hash-match. On THIS corpus (near-uniform
    // random unit vectors, near-isotropic covariance) the honest expected
    // reading is "no material gain" — the audit is the tool a deployment
    // runs on ITS corpus before paying for a rotation; clustered real
    // embeddings are where the rotation pays (same lesson as the residual
    // code-gain audit above).
    "sim_opq_code_gain" -> ((s, d) => {
      val (_, mean) = opqBasis(s, d)
      val dim = mean.length
      val cxu = centeredXuArr(s, d, mean)
      // raw and opq rungs read the session-shared codebooks (identical
      // arithmetic to training in place — trainCents(pqXu) IS the shared
      // codebook's definition); only the centered middle rung trains fresh
      pqQerrRow(s, d, pqXuArr(s, d), pqCodebookShared(s, d), "raw", dim)
        .unionAll(pqQerrRow(s, d, cxu, trainCentsArr(cxu), "centered", dim))
        .unionAll(pqQerrRow(s, d, opqXuArrShared(s, d), opqCentsShared(s, d), "opq", dim))
    }),

    // The TRAINING-COST-vs-MSE curve the one-Lloyd-step codebook the PQ
    // family standardizes on was chosen against, made runnable: 4 Lloyd
    // iterations over the shared coordinate scan, each iteration one
    // bounded-broadcast re-assignment + one keyed mean update (the
    // codebook is 1024 rows — only IT iterates; the corpus is scanned
    // once per round, never shuffled on itself), with the exact BIGINT
    // quantization-error total read after every round. Iteration 1 IS
    // the family codebook (spec-pinned equal to sim_opq_code_gain's raw
    // rung); the curve shows where extra rounds stop paying. Empty
    // centroids die naturally (group-by over assigned members only) in
    // both engines. Static unrolled SQL oracle — no data-dependent
    // literals, full hash-match.
    "sim_pq_train_curve" -> ((s, d) => {
      val xu = pqXuArr(s, d)
      val n = embeddings(s, d).agg(count(lit(1)).as("n"))
      def row(cents: DataFrame, iter: Int): DataFrame =
        qerrAgainstArr(xu, centsBySub(cents)).crossJoin(n)
          .select(lit(iter).cast("int").as("iter"), col("t").as("total_qerr_u"),
            round(col("t").cast("double") / col("n") / 64.0
              / 1000000000000.0, 6).as("mse"))
      // Each round's ≤1024-row codebook is lazily loop-checkpointed:
      // without truncation round i's qerr leg replays rounds 1..i−1's
      // corpus passes inside ONE plan (1+2+3+4 = 10 assignment passes per
      // rep instead of 4+4); the blocks materialize inside the query's own
      // timed action and Bench/Verify free them per query.
      import SessionCaches.loopCheckpoint
      Iterator.iterate(loopCheckpoint(trainCentsArr(xu)))(
          c => loopCheckpoint(lloydUpdateArr(xu, c)))
        .take(4).zipWithIndex
        .map { case (c, i) => row(c, i + 1) }
        .reduce(_ unionAll _)
    }),

    // The training curve IN THE ROTATED SPACE — sim_pq_train_curve's 4
    // unrolled Lloyd rounds over the OPQ coordinates: does the rotation
    // change where extra training rounds stop paying? Iteration 1 IS the
    // shared OPQ codebook (trainCents over opqXuShared — the exact
    // arithmetic sim_opq_code_gain's "opq" rung reads), so the curve's
    // first point cross-pins the family artifact; rounds 2-4 read the
    // residual headroom training can still claim after the rotation has
    // already decorrelated the subspaces. Same scale shape as the raw
    // curve: only the 1024-row codebook iterates, the session-shared
    // rotated corpus is scanned once per round, never shuffled on
    // itself. Oracle: generated — DuckDB re-derives the rotation from
    // the basis literals and unrolls the same 4 rounds.
    "sim_opq_train_curve" -> ((s, d) => {
      val xu = opqXuArrShared(s, d)
      val n = embeddings(s, d).agg(count(lit(1)).as("n"))
      def row(cents: DataFrame, iter: Int): DataFrame =
        qerrAgainstArr(xu, centsBySub(cents)).crossJoin(n)
          .select(lit(iter).cast("int").as("iter"), col("t").as("total_qerr_u"),
            round(col("t").cast("double") / col("n") / 64.0
              / 1000000000000.0, 6).as("mse"))
      // per-round lazy loopCheckpoint — see sim_pq_train_curve
      import SessionCaches.loopCheckpoint
      Iterator.iterate(loopCheckpoint(trainCentsArr(xu)))(
          c => loopCheckpoint(lloydUpdateArr(xu, c)))
        .take(4).zipWithIndex
        .map { case (c, i) => row(c, i + 1) }
        .reduce(_ unionAll _)
    }),

    // SEED-CHOICE audit for the PQ trainer: quantization error after one
    // Lloyd update from the family's fixture seeds (vec_id<16 — the
    // deterministic but arbitrary first-ids choice every PQ query
    // standardizes on) vs a deterministic md5-ranked sample (the 16
    // corpus vectors with smallest md5(vec_id), the engine-portable
    // stand-in for a uniform random draw — k-means++/|| style seeding
    // reduced to its oracle-able core). Scale shape: the md5 selection is
    // ORDER BY + LIMIT 16 (TakeOrderedAndProject — map-side top-k, no
    // unbounded single-partition funnel); training is the usual
    // bounded-broadcast shape. On id-uncorrelated synthetic data the
    // honest expectation is a wash — but the OPQ audits taught that
    // predictions lose to measurements here.
    "sim_pq_seed_audit" -> ((s, d) => {
      val xu = pqXuArr(s, d)
      val dim = 64 // the PQ family's fixed 8×8 layout
      val md5Sel = fanOut(embeddings(s, d), s)
        .select(col("vec_id"), md5(col("vec_id").cast("string")).as("h"))
        .orderBy(col("h"), col("vec_id")).limit(16)
        .select(col("vec_id"))
      val md5Seeds = xu.join(broadcast(md5Sel), Seq("vec_id"))
        .select(col("vec_id").as("c_id"), col("sub"), col("xs").as("cu"))
      pqQerrRow(s, d, xu, pqCodebookShared(s, d), "fixture", dim)
        .unionAll(pqQerrRow(s, d, xu,
          lloydUpdateCands(xu, centsArrBySub(md5Seeds)), "md5", dim))
    }),

    // The END-TO-END rung of the FAISS OPQ ladder: IVF-PQ over
    // OPQ-rotated codes, read at the depth-10 regime where ADC ordering
    // binds — directly comparable to sim_ivfpq_code_gain's raw 0.50 /
    // residual 0.42 rows because the CANDIDATE SET is identical by
    // construction (the raw-geometry coarse cells; rotation preserves L2
    // so cell assignment is the same quantizer, and reusing the shared
    // cell directory isolates CODE quality with zero confound). Both
    // legs: candidates → codes → per-probe LUT → ADC top-10 → exact
    // re-rank top-5 → recall vs exact top-5.
    "sim_opq_ivfpq_gain" -> ((s, d) => {
      val scores = ivfpqCellScores(s, d)
      val cells = ivfpqCellsShared(s, d)
      def adcOver(codes: DataFrame, lut: DataFrame): DataFrame =
        ivfpqAdc(scores, cells, codes, lut)
      ivfpqRecallAtDepth10(s, d, adcOver(pqCodesShared(s, d), pqLut(s, d)), "raw")
        .unionAll(
          ivfpqRecallAtDepth10(s, d, adcOver(opqCodesShared(s, d), opqLut(s, d)), "opq"))
    }),

    // The PRODUCTION-regime leg: whole-corpus ADC shortlist at depth 50
    // (the measured raw depth-recall point 0.72 from the re-rank curve)
    // → exact re-rank → recall@5, raw vs rotated codes. Completes the
    // three-regime table next to sim_opq_recall (whole-corpus ADC@5) and
    // sim_opq_ivfpq_gain (candidate-restricted depth 10): where in the
    // retrieval stack does the rotation actually pay?
    "sim_opq_rerank_gain" -> ((s, d) => {
      def fullAdc(codes: DataFrame, lut: DataFrame): DataFrame =
        codes.join(broadcast(lut), Seq("sub", "c_id"))
          .filter(col("vec_id") =!= col("q_id"))
          .groupBy(col("q_id"), col("vec_id"))
          .agg(sum(col("d2")).as("adc_u"))
      pqRecallAtDepth(s, d, fullAdc(pqCodesShared(s, d), pqLut(s, d)),
          "raw", 50, "recall_at_depth50")
        .unionAll(pqRecallAtDepth(s, d,
          fullAdc(opqCodesShared(s, d), opqLut(s, d)),
          "opq", 50, "recall_at_depth50"))
    }),

    // Does the OPQ rotation's quantization-error gain move RETRIEVAL? ADC
    // top-5 recall against the exact raw-space integer-L2 top-5 (the
    // rotation-invariant ground truth — orthogonal maps preserve L2, so
    // the same baseline serves both schemes) for raw codes vs rotated
    // codes. The raw leg reads the session-shared codebook/code table
    // (identical to sim_pq_adc's ranking, consistency spec-pinned); the
    // rotated leg trains its own codebook over the rotated coordinates.
    // This is the decision-grade number next to the MSE audit: a
    // deployment pays for the rotation only if THIS moves.
    "sim_opq_recall" -> ((s, d) => {
      def adcTop5(xu: DataFrame, cents: DataFrame, codes: DataFrame): DataFrame = {
        val lut = xu.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("sub"), col("wd"), col("xu").as("qu"))
          .join(broadcast(cents), Seq("sub", "wd"))
          .groupBy(col("q_id"), col("sub"), col("c_id"))
          .agg(sum((col("qu") - col("cu")) * (col("qu") - col("cu"))).as("d2"))
        val w = Window.partitionBy(col("q_id")).orderBy(col("adc_u"), col("vec_id"))
        codes.join(broadcast(lut), Seq("sub", "c_id"))
          .filter(col("vec_id") =!= col("q_id"))
          .groupBy(col("q_id"), col("vec_id"))
          .agg(sum(col("d2")).as("adc_u"))
          .withColumn("r", row_number().over(w)).filter(col("r") <= 5)
          .select(col("q_id"), col("vec_id"))
      }
      def recallRow(top5: DataFrame, scheme: String): DataFrame =
        top5.join(pqExactTop5(s, d), Seq("q_id", "vec_id"))
          .agg(count(lit(1)).as("n_hits"))
          .select(lit(scheme).as("scheme"), col("n_hits"),
            round(col("n_hits").cast("double") / 50.0, 6).as("recall_at_5"))
      val rawTop5 =
        adcTop5(pqXu(s, d), pqCodebookShared(s, d), pqCodesShared(s, d))
      val oxu = opqXuShared(s, d)
      recallRow(rawTop5, "raw")
        .unionAll(recallRow(
          adcTop5(oxu, opqCentsShared(s, d), opqCodesShared(s, d)), "opq"))
    }),

    // MMR-DIVERSIFIED top-k (Carbonell & Goldstein 1998, λ = 1/2): greedy
    // re-selection of 5 results from the relevance top-20 shortlist,
    // each pick maximizing relevance MINUS the max similarity to the
    // already-picked set — the diversification every RAG retriever runs
    // so five near-duplicates don't fill the context window. At λ = 1/2
    // the argmax reduces to rel − max-sim in ONE integer unit (micro²
    // dot products), so the greedy path is exactly reproducible and the
    // oracle replays it as 5 unrolled selection steps. The greedy kernel
    // itself is the declared bounded-imperative class (FeatureFinder's
    // category): ≤20 candidates × 5 picks per probe inside mapGroups,
    // keyed by probe — the corpus-scale work (shortlist build) stays
    // declarative above it.
    "sim_mmr_topk" -> ((s, d) => {
      import s.implicits._
      val vu = pqVu(s, d)
      val probes = vu.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("vu").as("qu"))
      val w = Window.partitionBy(col("q_id")).orderBy(col("rel").desc, col("vec_id"))
      val cand = vu.join(broadcast(probes), col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"), col("vu"),
          graft.expressions.VectorExpressions.dotLong(col("qu"), col("vu")).as("rel"))
        .withColumn("r", row_number().over(w)).filter(col("r") <= 20)
      cand.select(col("q_id"), col("vec_id"), col("vu"), col("rel"))
        .as[(Long, Long, Seq[Long], Long)]
        .groupByKey(_._1)
        .flatMapGroups { (q, it) =>
          def dot(a: Seq[Long], b: Seq[Long]): Long = {
            var acc = 0L; var i = 0
            while (i < a.length) { acc += a(i) * b(i); i += 1 }
            acc
          }
          val remaining = scala.collection.mutable.ArrayBuffer(it.toSeq: _*)
          val picked = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Long], Long, Int)]
          var k = 1
          while (k <= 5 && remaining.nonEmpty) {
            val scored = remaining.map { c =>
              val pen = if (picked.isEmpty) 0L
                else picked.iterator.map(p => dot(c._3, p._2)).max
              (c, c._4 - pen)
            }
            val (best, score) = scored.minBy { case (c, sc) => (-sc, c._2) }
            picked += ((best._2, best._3, score, k))
            remaining -= best
            k += 1
          }
          picked.iterator.map(p => (q, p._1, p._4, p._3))
        }
        .toDF("q_id", "vec_id", "rank", "score_u")
        .select(col("q_id"), col("vec_id"), col("rank").cast("int").as("rank"),
          col("score_u"))
    }),

    // MMR λ SWEEP — the diversification knob itself. λ trades relevance
    // against redundancy (score = λ·rel − (1−λ)·max-sim over the picked
    // set); sweeping λ ∈ {1/4, 1/2, 3/4} over the SAME top-20 shortlist is
    // the table read before shipping a retriever config. A ×4 unit lift
    // keeps every leg exact: 4·score = 4λ·rel − 4(1−λ)·pen has integer
    // weights (1,3) / (2,2) / (3,1), so each greedy path is exactly
    // reproducible and the λ=1/2 leg reproduces sim_mmr_topk's ranking
    // with scores ×2 (the spec's cross-check). ONE mapGroups pass runs all
    // three greedy selections over one gather of the ≤20-candidate group —
    // the corpus-scale shortlist build (and its shuffle) happens once, not
    // per λ; the λ loop is driver-free bounded work inside the group.
    "sim_mmr_lambda_sweep" -> ((s, d) => {
      import s.implicits._
      val vu = pqVu(s, d)
      val probes = vu.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("vu").as("qu"))
      val w = Window.partitionBy(col("q_id")).orderBy(col("rel").desc, col("vec_id"))
      val cand = vu.join(broadcast(probes), col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"), col("vu"),
          graft.expressions.VectorExpressions.dotLong(col("qu"), col("vu")).as("rel"))
        .withColumn("r", row_number().over(w)).filter(col("r") <= 20)
      cand.select(col("q_id"), col("vec_id"), col("vu"), col("rel"))
        .as[(Long, Long, Seq[Long], Long)]
        .groupByKey(_._1)
        .flatMapGroups { (q, it) =>
          def dot(a: Seq[Long], b: Seq[Long]): Long = {
            var acc = 0L; var i = 0
            while (i < a.length) { acc += a(i) * b(i); i += 1 }
            acc
          }
          val cands = it.toSeq
          Seq((25, 1L, 3L), (50, 2L, 2L), (75, 3L, 1L)).iterator.flatMap {
            case (lam, a, b) =>
              val remaining = scala.collection.mutable.ArrayBuffer(cands: _*)
              val picked =
                scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Long], Long, Int)]
              var k = 1
              while (k <= 5 && remaining.nonEmpty) {
                val scored = remaining.map { c =>
                  val pen = if (picked.isEmpty) 0L
                    else picked.iterator.map(p => dot(c._3, p._2)).max
                  (c, a * c._4 - b * pen)
                }
                val (best, score) = scored.minBy { case (c, sc) => (-sc, c._2) }
                picked += ((best._2, best._3, score, k))
                remaining -= best
                k += 1
              }
              picked.iterator.map(p => (lam, q, p._1, p._4, p._3))
          }
        }
        .toDF("lam_pct", "q_id", "vec_id", "rank", "score_u")
        .select(col("lam_pct").cast("int").as("lam_pct"), col("q_id"),
          col("vec_id"), col("rank").cast("int").as("rank"), col("score_u"))
    }),

    // Radius (RANGE) search — the fixed-threshold twin of top-k: every
    // corpus vector within L2² < 1.9 (micro² units) of each probe, with
    // neighborhood size, nearest distance, and an order-free member
    // fingerprint per probe. The threshold is a cosine>0.05 band
    // (d² = 2−2cos on unit norms — wide enough that most probes have a
    // non-empty neighborhood at the verification scale), the range-query
    // API over the same geometry the dedup family mines. Declared
    // brute-force audit shape (broadcast probes); the production path
    // bounds candidates with the IVF cells exactly like the top-k path.
    "sim_range_search" -> ((s, d) => {
      val vu = pqVu(s, d)
      val probes = vu.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("vu").as("qu"))
      vu.join(broadcast(probes), col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          graft.expressions.VectorExpressions.l2sq(col("qu"), col("vu")).as("d2"))
        .filter(col("d2") < 1900000000000L)
        .groupBy(col("q_id"))
        .agg(count(lit(1)).as("n_within"),
          round(min(col("d2")).cast("double") / 1000000000000.0, 6).as("nearest_d2"),
          sum(col("vec_id")).as("id_sum"))
    }),

    // Matryoshka truncation curve: top-5 recall when ranking by only the
    // FIRST k dims of each embedding (k ∈ {8, 16, 32, 64}) vs the
    // full-dim exact baseline — the read-out behind "can cheap prefix
    // vectors drive first-stage retrieval?" (Kusupati et al. 2022; these
    // embeddings are not MRL-trained, so the curve measures how much
    // signal the leading dims happen to carry — the honest framing). One
    // pass over the probe×corpus pairs computes all four prefix distances
    // as a 4-struct array (each a codegen'd integer-L2 fold over the
    // slice), exploded and ranked per (k, q) — never four corpus scans.
    // Measured at sf0.01: 0.08 / 0.06 / 0.18 / 1.00 at k = 8/16/32/64 —
    // near-random until full dim, i.e. this corpus's synthetic embeddings
    // spread signal uniformly across dims, and the audit's verdict is
    // "do NOT truncate here"; an MRL-trained model is what would bend
    // this curve upward, and this query is how you'd check that it did.
    "emb_matryoshka_recall" -> ((s, d) => {
      val dims = Seq(8, 16, 32, 64)
      val vu = pqVu(s, d)
      val probes = vu.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("vu").as("qu"))
      val scored = vu.join(broadcast(probes), col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          explode(array(dims.map(k => struct(lit(k).as("k"),
            graft.expressions.VectorExpressions.l2sq(
              slice(col("qu"), 1, k), slice(col("vu"), 1, k)).as("d2"))): _*))
            .as("x"))
        .select(col("q_id"), col("vec_id"),
          col("x.k").as("k"), col("x.d2").as("d2"))
      val w = Window.partitionBy(col("k"), col("q_id"))
        .orderBy(col("d2"), col("vec_id"))
      val top = scored.withColumn("r", row_number().over(w)).filter(col("r") <= 5)
      top.join(pqExactTop5(s, d).withColumn("hit", lit(1)),
          Seq("q_id", "vec_id"), "left")
        .groupBy(col("k"))
        .agg(sum(coalesce(col("hit"), lit(0))).as("n_hits"))
        .select(col("k").cast("int").as("dim"),
          round(col("n_hits").cast("double") / 50.0, 6).as("recall"))
    }),

    // PQ recall audit: ADC top-5 vs the EXACT integer-L2² top-5 (brute
    // force over the 10-probe broadcast — the same declared-baseline shape
    // as sim_cosine_topk). Both sides rank in exact BIGINT arithmetic, so
    // recall measures quantization loss alone, never float noise. The
    // production promotion decision ("are 8-byte codes good enough?")
    // reads exactly this table.
    "sim_pq_recall" -> ((s, d) =>
      recallAt5(queries("sim_pq_adc")(s, d), pqExactTop5(s, d))),

    // LSH bucketing: 16 deterministic md5-derived hyperplanes, signature =
    // sign bits. The portable plane rule (see planeMatrix) graduates this
    // from a rows-only check to a full hash-matched oracle. This is the plan
    // shape that scales: the join key is a 16-bit bucket, not the vector.
    "sim_lsh_buckets" -> ((s, d) => lshBuckets(s, d)),

    // Embedding near-dup dedup AT SCALE: the LSH-bucketed composition that
    // replaces dedup_embed_cosine's all-pairs O(N²) BroadcastNestedLoopJoin.
    // Stage 1: 16-bit hyperplane signatures, split 4 bands × 4 bits (banding
    // trades one long signature for 4 chances to collide — the same
    // recall/precision lever as MinHash banding). Stage 2: candidate pairs
    // per (band, key) bucket WITHOUT a self-join (the TextOps in-bucket
    // expansion pattern: one groupBy + k² HOF expansion over small buckets).
    // Stage 3: exact-cosine verification of candidates only. Work is
    // Σ bucket² + |candidates|, not N² — the 100 TB shape. Semantics: pairs
    // that share ≥1 band AND cos > 0.4; the oracle replicates the identical
    // pipeline, so the (documented) LSH recall loss vs the brute-force
    // baseline is pinned, not hidden. dedup_embed_cosine remains the
    // small-N/recall-100% baseline.
    "dedup_embed_lsh" -> ((s, d) => {
      val base = fanOut(embeddings(s, d), s)
        .select(col("vec_id"), asDouble(col("embedding")).as("v"))
        .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
        .cache() // reused by both join sides; avoids recomputing the scan branch
      val bands = lshBuckets(s, d).select(col("vec_id"), explode(array(
        (0 until 4).map(b => struct(lit(b).as("band"),
          substring(col("bucket"), b * 4 + 1, 4).as("bk"))): _*)).as("x"))
        .select(col("vec_id"), col("x.band").as("band"), col("x.bk").as("bk"))
      val cand = bands
        .groupBy(col("band"), col("bk"))
        .agg(array_sort(collect_list(col("vec_id"))).as("ids"))
        .filter(size(col("ids")) > 1)
        .select(explode(expr(
          "flatten(transform(ids, (x, i) -> " +
            "transform(slice(ids, i + 2, size(ids)), y -> struct(x AS da, y AS db))))")).as("p"))
        .select(col("p.da"), col("p.db"))
        .distinct()
      val result = cand
        .join(base.select(col("vec_id").as("da"), col("v").as("va"), col("nrm").as("na")), "da")
        .join(base.select(col("vec_id").as("db"), col("v").as("vb"), col("nrm").as("nb")), "db")
        .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
        .filter(col("cos") > 0.4)
        .select(col("da"), col("db"), round(col("cos"), 6).as("cos"))
        .persist()
      // materialize the (small, ≤|candidates|) pair set, then release the
      // full-corpus base cache — repeated invocations in a long session no
      // longer accumulate its blocks. A lost result block recomputes from
      // the scan (slower, still correct); the result cache itself is freed
      // by the ContextCleaner once the caller drops the frame.
      result.count()
      base.unpersist()
      result
    }),

    // SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    // deduplication = cluster the embedding space, then compare pairs ONLY
    // inside each cluster and drop all but one member of every
    // high-cosine group. This is the production-scale answer to
    // dedup_embed_cosine's all-pairs baseline: the cluster key partitions
    // the pairwise work, so cost falls from N² to Σ|cluster|² — and the
    // pair join is an equi-join on c_id, not a nested loop. Quantizer =
    // the same fixed 16-centroid fixture as sim_ivf_topk (same honesty
    // note: production feeds Lloyd-trained centroids through the identical
    // shape, sim_ivf_trained). Keep rule: a vector is dropped iff an
    // EARLIER (lower-id) same-cluster vector sits above the cosine
    // threshold — greedy keep-first, deterministic, order-free.
    "dedup_semantic" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val base = ivfBase(s, d)
      val cents = base.filter(col("vec_id") < 16)
        .select(col("vec_id").as("c_id"), col("v").as("cv"), col("nrm").as("cn"))
      // materialize the assignment ONCE (quantize-once-reuse, the same
      // persist discipline as dedup_embed_lsh): the table is read from
      // three plan positions (both pair-join sides + the final verdict
      // join), and without the cache each reference re-runs the corpus ×
      // centroid quantizer pass. At 100 TB this table is what a pipeline
      // writes out between stages; the cache blocks are freed by
      // SessionCaches.releaseAll / the ContextCleaner.
      val asg = base.crossJoin(broadcast(cents))
        .withColumn("cos", dot(col("v"), col("cv")) / (col("nrm") * col("cn")))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("vec_id")).orderBy(col("cos").desc, col("c_id"))))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("c_id"), col("v"), col("nrm"))
        .persist()
      asg.count()
      val dups = asg.select(col("c_id"), col("vec_id").as("da"),
          col("v").as("va"), col("nrm").as("na"))
        .join(asg.select(col("c_id"), col("vec_id").as("db"),
          col("v").as("vb"), col("nrm").as("nb")), Seq("c_id"))
        .filter(col("da") < col("db"))
        .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
        .filter(col("cos") > 0.4)
        .groupBy(col("db").as("vec_id"))
        .agg(count(lit(1)).as("n_earlier"))
      asg.select(col("vec_id"), col("c_id"))
        .join(dups, Seq("vec_id"), "left")
        .select(col("vec_id"), col("c_id"),
          coalesce(col("n_earlier"), lit(0L)).as("n_earlier_dups"),
          col("n_earlier").isNull.as("keep"))
    }),

    // Threshold calibration for the near-dup family: the candidate pairs'
    // cosine distribution in 0.05-wide buckets — the curve a pipeline
    // owner reads before PICKING the dedup threshold (how many pairs does
    // 0.75 vs 0.80 drop?). Composes the oracled LSH+verify pipeline; the
    // bucket index is pure integer arithmetic over the 6dp-rounded cosine
    // (round(cos·1e6) div 50000), so no float boundary decides a bucket.
    // Output is ≤20 rows whatever the corpus size.
    "dedup_threshold_sweep" -> ((s, d) => {
      queries("dedup_embed_lsh")(s, d)
        .select(expr("CAST(round(cos * 1000000) AS LONG) div 50000").as("bucket"),
          col("cos"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_pairs"),
          round(min(col("cos")), 6).as("min_cos"),
          round(max(col("cos")), 6).as("max_cos"))
    }),

    // Hybrid retrieval via reciprocal-rank fusion (Cormack et al.): the
    // dense leg (sim_cosine_topk over embeddings) and the lexical leg
    // (text_shingle_knn 4-gram Jaccard over documents) rank the SAME 10
    // probe ids (the test tables share the 0-based id space, the standard
    // one-embedding-per-document layout), and each candidate's fused score
    // is Σ 1/(60+rank). Contributions are rounded to integer micro-units
    // BEFORE the sum — 1e6/(60+r) for r in 1..5 sits far from any .5
    // boundary, so both engines produce the identical BIGINT and the fused
    // ranking has no float tie. Each leg is its own already-oracled
    // operator; fusion itself is one keyed aggregation over <=100 rows per
    // probe — cost lives in the legs, which scale independently.
    "sim_rrf_fusion" -> ((s, d) => {
      val cu = round(lit(1000000.0) / (lit(60) + col("rank"))).cast("long")
      val dense = queries("sim_cosine_topk")(s, d)
        .select(col("q_id"), col("vec_id").as("cand"), cu.as("cu"))
      val lex = TextOps.queries("text_shingle_knn")(s, d)
        .select(col("q_doc").as("q_id"), col("doc_id").as("cand"), cu.as("cu"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("rrf_u").desc, col("cand"))
      dense.unionByName(lex)
        .groupBy(col("q_id"), col("cand"))
        .agg(sum(col("cu")).as("rrf_u"), count(lit(1)).as("n_legs"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("q_id"), col("cand"),
          round(col("rrf_u").cast("double") / 1000000.0, 6).as("rrf"),
          col("n_legs"), col("rank"))
    }),

    // The ENCODE SCAN throughput shape: the whole corpus product-quantized
    // in ONE pure projection pass — the streaming encode's literal-codebook
    // argmin expression (EncodeIngest.codeStructs: array_min over
    // (d2, c_id) structs, ties to the lower c_id) run batch-side, zero
    // shuffles, whole-stage codegen. This is the number BENCH tracks for
    // the per-row encode cost itself, separated from streaming micro-batch
    // overhead (stream_pq_encode = this + staging + 4 drains) AND from the
    // join-based batch encode (pqCodesShared's broadcast-join + window
    // argmin); all three land on the identical code table. At 1000
    // executors this is the saturating map-only pass an index build wants.
    "sim_pq_encode_scan" -> ((s, d) => {
      val cents = collectedCents(pqCodebookShared(s, d))
      fanOut(embeddings(s, d), s)
        .select(col("vec_id"), asDouble(col("embedding")).as("v"))
        .select(col("vec_id"),
          transform(col("v"), x => round(x * 1000000).cast("long")).as("xu"))
        .select(col("vec_id"),
          explode(graft.streaming.EncodeIngest.codeStructs(col("xu"), cents)).as("c"))
        .select(col("vec_id"), col("c.sub").cast("int").as("sub"), col("c.c_id").as("c_id"))
    }),

    // The COMPOSED production retrieval pipeline, end to end in one
    // oracled query: BM25 lexical leg (the text_bm25_topk scoring core
    // over the session-shared inverted index, probes = the dense family's
    // doc_id < 10, production depth 50) + ROTATED-ADC dense leg (the
    // sim_opq_rerank_gain regime: OPQ codes scanned against a broadcast
    // per-probe LUT, depth 50) fused with reciprocal-rank fusion (the
    // sim_rrf_fusion rule: integer micro-unit 1e6/(60+rank) contributions,
    // exact BIGINT sum, top-10). Each leg is an already-oracled operator;
    // this query pins the COMPOSITION — the hybrid retrieval stack a RAG
    // data pipeline actually deploys (lexical recall + dense semantics,
    // rank-fused). Scale shape: the corpus appears exactly twice — one
    // posting-table probe join (query dims broadcast) and one 8-byte-code
    // scan (LUT broadcast); fusion itself aggregates ≤ 100 rows per probe.
    "pipeline_hybrid_retrieval" -> ((s, d) => {
      val cu = round(lit(1000000.0) / (lit(60) + col("rank"))).cast("long")
      val wF = Window.partitionBy(col("q_id")).orderBy(col("rrf_u").desc, col("cand"))
      hybridLegsShared(s, d)
        .select(col("q_id"), col("cand"), cu.as("cu"))
        .groupBy(col("q_id"), col("cand"))
        .agg(sum(col("cu")).as("rrf_u"), count(lit(1)).as("n_legs"))
        .withColumn("rank", row_number().over(wF))
        .filter(col("rank") <= 10)
        .select(col("q_id"), col("cand"),
          round(col("rrf_u").cast("double") / 1000000.0, 6).as("rrf"),
          col("n_legs"), col("rank"))
    }),

    // The FUSION AUDIT — measure, don't guess, for the composed stack:
    // recall@5 of the dense leg alone, the lexical leg alone, and the
    // RRF fusion, all against the exact raw-space integer-L2 top-5 (the
    // rotation-invariant dense ground truth every OPQ audit shares). On
    // THIS corpus documents and embeddings are statistically independent,
    // so the honest expectation is that mixing lexical rank DILUTES dense
    // recall — the negative result a pipeline owner needs pinned before
    // trusting RRF: fusion pays only when the modalities correlate, and
    // this table is the cheap test that tells you whether yours do.
    "pipeline_hybrid_gain" -> ((s, d) => {
      val exact = pqExactTop5(s, d).withColumnRenamed("vec_id", "cand")
      def recallRow(top5: DataFrame, scheme: String): DataFrame =
        top5.join(exact, Seq("q_id", "cand"))
          .agg(count(lit(1)).as("n_hits"))
          .select(lit(scheme).as("scheme"), col("n_hits"),
            round(col("n_hits").cast("double") / 50.0, 6).as("recall_at_5"))
      val hybrid = queries("pipeline_hybrid_retrieval")(s, d)
      val legs = hybridLegsShared(s, d)
      val dense5 = legs.filter(col("leg") === "dense" && col("rank") <= 5)
        .select(col("q_id"), col("cand"))
      val lex5 = legs.filter(col("leg") === "lex" && col("rank") <= 5)
        .select(col("q_id"), col("cand"))
      val rrf5 = hybrid.filter(col("rank") <= 5).select(col("q_id"), col("cand"))
      recallRow(dense5, "dense")
        .unionAll(recallRow(lex5, "lexical"))
        .unionAll(recallRow(rrf5, "rrf"))
    }),

    // The RRF k-constant SWEEP over the hybrid stack —
    // pipeline_hybrid_gain parameterized by the fusion's only knob:
    // k ∈ {5, 20, 60, 240} (small k weights the top ranks steeply; large
    // k flattens toward leg-count voting). Both legs are ranked ONCE at
    // depth 50; the sweep is a 4-value literal explode over the bounded
    // leg rows plus per-(k, probe) top-5 windows — never a re-scan of
    // either corpus pass. On this corpus (independent modalities, the
    // lexical leg is noise) the honest expectation: small k lets the
    // noise leg's top ranks override dense evidence, large k converges
    // to two-leg consensus — the curve a pipeline owner reads before
    // trusting k=60's default.
    "pipeline_hybrid_ksweep" -> ((s, d) => {
      import s.implicits._
      val ks = Seq(5, 20, 60, 240)
      val legs = hybridLegsShared(s, d)
      val wK = Window.partitionBy(col("k"), col("q_id"))
        .orderBy(col("rrf_u").desc, col("cand"))
      val top5 = legs
        .select(col("q_id"), col("cand"), col("rank"),
          explode(array(ks.map(lit): _*)).as("k"))
        .select(col("k"), col("q_id"), col("cand"),
          round(lit(1000000.0) / (col("k") + col("rank"))).cast("long").as("cu"))
        .groupBy(col("k"), col("q_id"), col("cand"))
        .agg(sum(col("cu")).as("rrf_u"))
        .withColumn("r", row_number().over(wK)).filter(col("r") <= 5)
        .select(col("k"), col("q_id"), col("cand"))
      val exact = pqExactTop5(s, d).withColumnRenamed("vec_id", "cand")
      val hits = top5.join(exact, Seq("q_id", "cand"))
        .groupBy(col("k")).agg(count(lit(1)).as("n_hits"))
      ks.toDF("k").join(hits, Seq("k"), "left")
        .select(col("k"), coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          round(coalesce(col("n_hits"), lit(0L)).cast("double") / 50.0, 6)
            .as("recall_at_5"))
    }),

    // INDEX COMPACTION — the physical inverted-list layout step: the
    // IVF-PQ index (cell + codes) repartitioned BY CELL and written
    // partitionBy(cell), so each inverted list is one contiguous
    // partition directory a probe's nprobe cells can open directly
    // (partition pruning — pinned in CompactionSpec) while every other
    // list is never read. The query emits the per-cell inventory read
    // BACK from the compacted layout: the write→read round trip must
    // lose nothing vs the logical table (the oracle re-derives it from
    // raw parquet). repartition(cell) before partitionBy keeps exactly
    // one writer task per cell — one file per list, not one per
    // (task × cell) fragment; at 100 TB this is the compaction job that
    // turns a streamed append log into a servable index.
    // GDPR ERASURE FOR THE ANN INDEX — cdc_forget_keys' discipline
    // applied to the servable inverted-list layout: the purge is planned
    // from the FORGET SET alone (its cells come off the ≤16-row cell
    // directory, zero index scans), only the affected cells' partition
    // dirs are rewritten (dynamic overwrite), every other inverted list's
    // file is never opened (byte-identity spec-pinned in
    // IvfpqForgetSpec). The emitted census is the post-purge read-back —
    // per cell: survivors, codes, how many vectors the purge removed,
    // and whether the cell was rewritten at all — hash-matched against
    // the logical purged index DuckDB re-derives from raw parquet.
    "sim_ivfpq_forget_purge" -> ((s, d) => {
      import s.implicits._
      val dir = java.nio.file.Files.createTempDirectory("ivfpq-forget")
      try {
        stageIvfpqLayout(s, d, dir.toString)
        val nf = purgeForgotten(s, d, dir.toString)
        // bounded (≤16 rows): collected so the result outlives the temp dir
        s.read.parquet(dir.toString)
          .groupBy(col("cell").cast("int").as("cell"))
          .agg(countDistinct(col("vec_id")).as("n_vectors"),
            count(lit(1)).as("n_codes"))
          .collect()
          .map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
            nf.getOrElse(r.getInt(0).toLong, 0L), nf.contains(r.getInt(0).toLong)))
          .toSeq
          .toDF("cell", "n_vectors", "n_codes", "n_forgotten", "rewritten")
      } finally graft.streaming.StagedEvents.deleteRecursively(dir)
    }),

    // The SERVING side of index erasure — what a tier does between purge
    // jobs: dead vectors are TOMBSTONED (a broadcast-bounded id set) and
    // dropped from each probe's candidates BEFORE ranking, so answers
    // are exact w.r.t. the purged corpus while the physical lists still
    // hold dead codes. Per probe the row reads the cost and the
    // guarantee: candidates scanned with tombstones vs after the
    // physical purge (the dead-scan overhead the purge job reclaims),
    // the served top-5 checksum, and the agreement flag pinning that
    // tombstone serving ≡ purged serving — both legs computed end to end
    // and replayed leg for leg in the oracle.
    "sim_ivfpq_forget_serve" -> ((s, d) => {
      val cells = ivfpqCellsShared(s, d)
      val pc = ivfpqProbeCells(s, d)
      val cand = cells.join(broadcast(pc), Seq("cell"))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"), forgetPred.as("dead"))
      val counts = cand.groupBy(col("q_id")).agg(
        count(lit(1)).as("n_scanned_tomb"),
        sum(when(col("dead"), 1L).otherwise(0L)).as("n_dead"))
      def top5(c: DataFrame): DataFrame = {
        val adcr = c
          .join(pqCodesShared(s, d), Seq("vec_id"))
          .join(broadcast(pqLut(s, d)), Seq("q_id", "sub", "c_id"))
          .groupBy(col("q_id"), col("vec_id"))
          .agg(sum(col("d2")).as("adc_u"))
        ivfpqExactTail(s, d, adcr, 50).select(col("q_id"), col("vec_id"))
      }
      val tomb = top5(cand.filter(!col("dead")).select(col("q_id"), col("vec_id")))
        .groupBy(col("q_id"))
        .agg(sum(col("vec_id")).as("top5_sum"), count(lit(1)).as("tn"))
      val purged = top5(cells.filter(!forgetPred)
          .join(broadcast(pc), Seq("cell"))
          .filter(col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id")))
        .groupBy(col("q_id"))
        .agg(sum(col("vec_id")).as("p_sum"), count(lit(1)).as("pn"))
      counts.join(tomb, Seq("q_id")).join(purged, Seq("q_id"))
        .select(col("q_id"), col("n_scanned_tomb"), col("n_dead"),
          (col("n_scanned_tomb") - col("n_dead")).as("n_scanned_purged"),
          col("top5_sum"),
          (col("top5_sum") === col("p_sum") && col("tn") === col("pn")).as("agree"))
    }),

    "sim_ivfpq_compaction" -> ((s, d) => {
      import s.implicits._
      val dir = java.nio.file.Files.createTempDirectory("ivfpq-compaction")
      try {
        ivfpqCellsShared(s, d).join(pqCodesShared(s, d), Seq("vec_id"))
          .repartition(col("cell"))
          .write.mode("overwrite").partitionBy("cell").parquet(dir.toString)
        // bounded (≤16 rows): collected so the result outlives the temp dir
        s.read.parquet(dir.toString)
          .groupBy(col("cell").cast("int").as("cell"))
          .agg(countDistinct(col("vec_id")).as("n_vectors"),
            count(lit(1)).as("n_codes"))
          .collect()
          .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
          .toDF("cell", "n_vectors", "n_codes")
      } finally graft.streaming.StagedEvents.deleteRecursively(dir)
    }),

    // The DEPTH curve for the hybrid stack — the ksweep's orthogonal
    // knob: recall@5 of the k=60 fusion when BOTH legs are cut at depth
    // ∈ {5, 10, 25, 50} before fusing. Depth is the production cost
    // lever (each leg's depth is rows fetched per query); the curve
    // reads how much fused quality the cheaper shortlists give up. Same
    // sweep shape as the k sweep: legs ranked ONCE, a literal explode
    // filters them per depth, per-(depth, probe) top-5 windows.
    "pipeline_hybrid_depth_curve" -> ((s, d) => {
      import s.implicits._
      val depths = Seq(5, 10, 25, 50)
      val cu = round(lit(1000000.0) / (lit(60) + col("rank"))).cast("long")
      val wD = Window.partitionBy(col("depth"), col("q_id"))
        .orderBy(col("rrf_u").desc, col("cand"))
      val top5 = hybridLegsShared(s, d)
        .select(col("q_id"), col("cand"), col("rank"), cu.as("cu"),
          explode(array(depths.map(lit): _*)).as("depth"))
        .filter(col("rank") <= col("depth"))
        .groupBy(col("depth"), col("q_id"), col("cand"))
        .agg(sum(col("cu")).as("rrf_u"))
        .withColumn("r", row_number().over(wD)).filter(col("r") <= 5)
        .select(col("depth"), col("q_id"), col("cand"))
      val exact = pqExactTop5(s, d).withColumnRenamed("vec_id", "cand")
      val hits = top5.join(exact, Seq("q_id", "cand"))
        .groupBy(col("depth")).agg(count(lit(1)).as("n_hits"))
      depths.toDF("depth").join(hits, Seq("depth"), "left")
        .select(col("depth"), coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          round(coalesce(col("n_hits"), lit(0L)).cast("double") / 50.0, 6)
            .as("recall_at_5"))
    }),

    // GRADED ranking metrics for the hybrid stack — recall@5 says WHETHER
    // the right answers surface; nDCG@10 and MRR@10 say WHERE (a list
    // that buries its one true hit at rank 10 has the same recall as one
    // that leads with it — and very different training value when the
    // ranked list becomes hard-negative mining input). Gains are graded
    // by the exact top-5's own order (rel = 6 − exact rank); discounts
    // 1/log2(rank+1) are embedded as INTEGER micro-unit literals in both
    // engines — identical constants, so no libm log2 divergence can
    // decide a hash — and IDCG is closed-form (every probe has exactly 5
    // relevant), making nDCG one integer sum + one division per scheme.
    // Scale shape: everything after the shared legs is ≤30 rows per
    // probe; no corpus re-scan, no new shuffle beyond three tiny aggs.
    "pipeline_retrieval_metrics" -> ((s, d) => {
      val discU = Seq(1000000L, 630930L, 500000L, 430677L, 386853L,
        356207L, 333333L, 315465L, 301030L, 289065L)
      val idcgU = 10271927L // 5·disc(1)+4·disc(2)+3·disc(3)+2·disc(4)+1·disc(5)
      val discArr = array(discU.map(lit): _*)
      val exact = pqExactTop5Ranked(s, d).withColumnRenamed("vec_id", "cand")
      val ranked = hybridLegsShared(s, d).filter(col("rank") <= 10)
        .select(col("leg").as("scheme"), col("q_id"), col("cand"), col("rank"))
        .unionByName(queries("pipeline_hybrid_retrieval")(s, d)
          .select(lit("rrf").as("scheme"), col("q_id"), col("cand"), col("rank")))
      ranked.join(broadcast(exact), Seq("q_id", "cand"), "left")
        .select(col("scheme"),
          (coalesce(lit(6L) - col("erank"), lit(0L)) *
            element_at(discArr, col("rank"))).as("g_u"),
          when(col("erank") === 1,
            round(lit(1000000.0) / col("rank")).cast("long"))
            .otherwise(lit(0L)).as("rr_u"),
          when(col("erank").isNotNull, 1L).otherwise(0L).as("hit"))
        .groupBy(col("scheme"))
        .agg(sum(col("g_u")).as("dcg_u"), sum(col("rr_u")).as("mrr_su"),
          sum(col("hit")).as("n_rel_found"))
        .select(col("scheme"),
          round(col("dcg_u").cast("double") / (10.0 * idcgU), 6).as("ndcg_at_10"),
          round(col("mrr_su").cast("double") / 10000000.0, 6).as("mrr_at_10"),
          col("n_rel_found"))
    }),

    // The SERVING-COST table for the inverted-list layout — the cost
    // twin of sim_ivfpq_probe_sweep's recall curve: per nprobe ∈
    // {1,2,4,8}, how many inverted lists a probe set opens and how many
    // 1-byte codes it scans (8 per vector in a touched list), plus the
    // corpus fraction scanned per probe. Read next to the sweep's recall
    // column this is the complete recall-vs-cost tradeoff the nprobe
    // knob buys — and the row counts are exactly what the compacted
    // partitionBy(cell) layout turns into files opened. Everything is
    // bounded: probe ranks are a ≤160-row frame, list sizes a 16-row
    // aggregate; the corpus is scanned once for each.
    "sim_ivfpq_scan_cost" -> ((s, d) => {
      val wCell = Window.partitionBy(col("vec_id")).orderBy(col("d2"), col("c16"))
      val pr = ivfpqCellScores(s, d).filter(col("vec_id") < 10)
        .withColumn("pr", row_number().over(wCell)).filter(col("pr") <= 8)
        .select(col("vec_id").as("q_id"), col("c16").as("cell"), col("pr"))
      val sizes = ivfpqCellsShared(s, d)
        .groupBy(col("cell")).agg(count(lit(1)).as("n_vec"))
      val n = embeddings(s, d).agg(count(lit(1)).as("n"))
      val nq = pr.select(countDistinct(col("q_id")).as("nq"))
      pr.join(broadcast(sizes), Seq("cell"))
        .select(col("q_id"), col("pr"), col("n_vec"),
          explode(array(Seq(1, 2, 4, 8).map(lit): _*)).as("np"))
        .filter(col("pr") <= col("np"))
        .groupBy(col("np"))
        .agg(count(lit(1)).as("cells_touched"),
          (sum(col("n_vec")) * 8).cast("long").as("codes_scanned"),
          sum(col("n_vec")).as("sv"))
        .crossJoin(n).crossJoin(nq)
        .select(col("np").as("nprobe"), col("cells_touched"),
          col("codes_scanned"),
          round(col("sv").cast("double") / col("n") / col("nq"), 6)
            .as("scanned_frac"))
    }),

    // INDEX MAINTENANCE — the append→fragment→merge loop a streamed
    // index actually lives: half the corpus is compacted first (one
    // file per list), the other half lands later as an APPEND into the
    // same partitioned layout (a second file per touched list — the
    // fragmentation a streaming sink accumulates batch after batch),
    // then the re-compaction job rewrites one file per list
    // (fragmented-then-merged pinned file-count-by-file-count in
    // CompactionSpec). The emitted read-back inventory must equal the
    // SAME logical table as sim_ivfpq_compaction — the maintenance loop
    // loses nothing (oracle shared). At 100 TB this is the recurring
    // LSM-style merge that keeps probe-side reads at one file per list.
    "sim_ivfpq_recompaction" -> ((s, d) => {
      import s.implicits._
      val idx = ivfpqCellsShared(s, d).join(pqCodesShared(s, d), Seq("vec_id"))
      val log = java.nio.file.Files.createTempDirectory("ivfpq-append-log")
      val merged = java.nio.file.Files.createTempDirectory("ivfpq-recompacted")
      try {
        idx.filter(col("vec_id") % 2 === 0).repartition(col("cell"))
          .write.mode("overwrite").partitionBy("cell").parquet(log.toString)
        idx.filter(col("vec_id") % 2 === 1).repartition(col("cell"))
          .write.mode("append").partitionBy("cell").parquet(log.toString)
        s.read.parquet(log.toString)
          .repartition(col("cell"))
          .write.mode("overwrite").partitionBy("cell").parquet(merged.toString)
        // bounded (≤16 rows): collected so the result outlives the temp dirs
        s.read.parquet(merged.toString)
          .groupBy(col("cell").cast("int").as("cell"))
          .agg(countDistinct(col("vec_id")).as("n_vectors"),
            count(lit(1)).as("n_codes"))
          .collect()
          .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
          .toDF("cell", "n_vectors", "n_codes")
      } finally {
        graft.streaming.StagedEvents.deleteRecursively(log)
        graft.streaming.StagedEvents.deleteRecursively(merged)
      }
    }),

    // The MERGE-DECISION metric that schedules the recompaction: four
    // mod-4 slices of the corpus appended into the partitionBy(cell)
    // layout in sequence (each append writes ≤1 file per touched list —
    // the repartition(cell) guarantee), and after every batch the
    // PHYSICAL list/file counts are read off the directory: n_files
    // grows by one per touched list per batch while n_lists saturates,
    // and merge_due fires when files exceed 2× lists — the
    // fragmentation watermark an index maintenance job polls. The
    // oracle re-derives the expected counts LOGICALLY from the cell
    // assignment (distinct (cell, batch) pairs), so physical layout
    // state hash-matching SQL is the claim: the directory contains
    // exactly what the write protocol predicts, batch by batch.
    "sim_ivfpq_frag_trigger" -> ((s, d) => {
      import s.implicits._
      val idx = ivfpqCellsShared(s, d).join(pqCodesShared(s, d), Seq("vec_id"))
      val dir = java.nio.file.Files.createTempDirectory("ivfpq-frag-log")
      try {
        val rows = (0 until 4).map { b =>
          idx.filter(col("vec_id") % 4 === b).repartition(col("cell"))
            .write.mode(if (b == 0) "overwrite" else "append")
            .partitionBy("cell").parquet(dir.toString)
          import scala.jdk.CollectionConverters._
          val walk = java.nio.file.Files.walk(dir)
          val files =
            try walk.iterator().asScala
              .filter(_.getFileName.toString.endsWith(".parquet")).toVector
            finally walk.close()
          val lists = files.map(_.getParent.getFileName.toString).distinct.size
          (b, lists.toLong, files.size.toLong, files.size > 2L * lists)
        }
        rows.toDF("batch", "n_lists", "n_files", "merge_due")
      } finally graft.streaming.StagedEvents.deleteRecursively(dir)
    }),

    // NN-Descent style k-NN GRAPH construction (Dong et al. 2011, WWW —
    // "Efficient K-Nearest Neighbor Graph Construction") — the graph-ANN
    // index family the inverted-list operators can't express: every node
    // ends with its K approximate nearest neighbors, built WITHOUT any
    // N² pass. Init partitions the corpus into md5 blocks TWICE under
    // different salts and brute-forces only in-block pairs (2·N·blocksize
    // distances) — the overlap is what lets later rounds cross block
    // boundaries (see [[knnGraphShared]]); each round then expands
    // every node's candidates to neighbors ∪ REVERSE neighbors ∪ two-hop
    // neighbors-of-neighbors — the "a neighbor of my neighbor is likely my
    // neighbor" closure the paper's local join exploits — and re-ranks to
    // top-K by exact cosine. Per round: two self-joins of the K-bounded
    // edge list (≤ N·(K²+2K) candidate rows, never N²) + two keyed joins
    // onto the vector table for the distance evaluation + one per-node
    // top-K window; everything shuffles on node id, so at 100 TB the
    // rounds are a fixed number of keyed shuffles of a K-bounded edge
    // list. The whole 3-iteration history is ONE session-shared frame
    // ([[knnGraphShared]]) the graph query and the convergence curve both
    // read. Ranking is on the 6dp-rounded cosine with nbr-id tiebreak, so
    // the graph replays bit-for-bit in the generated DuckDB CTE chain
    // (every per-round CTE MATERIALIZED — the text_bpe_train lesson: the
    // doubly-referenced round CTE inlines exponentially otherwise).
    "sim_knn_graph" -> ((s, d) =>
      knnFinalGraphShared(s, d)
        .select(col("vec_id"), col("nbr"), col("rank"), col("cos"))),

    // The convergence audit of the same build: recall@K per round against
    // the EXACT top-K of a deterministic md5 10% probe sample — the
    // brute-force leg costs |probes|·N distances (linear, not quadratic:
    // the audit stays runnable at scale precisely because the sample is
    // bounded), shares its tie rule with the graph, and reads the graph
    // rounds from the session-shared frame. The measured curve is the
    // stopping rule an index-build job consults: when the recall delta
    // per round flattens, iterating further buys nothing.
    "sim_knn_graph_curve" -> ((s, d) => {
      val g = knnGraphShared(s, d)
      val vecs = ivfBase(s, d)
      val probes = vecs
        .filter(conv(substring(md5(col("vec_id").cast("string")), 1, 15), 16, 10)
          .cast("long") % 10L === 0L)
        .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
      val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("nbr"))
      val exact = vecs.join(broadcast(probes), col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("nbr"), cosine.as("cos"))
        .withColumn("r", row_number().over(w)).filter(col("r") <= KnnK)
        .select(col("q_id"), col("nbr"))
      val perIter = g.groupBy(col("iter")).agg(count(lit(1)).as("n_edges"))
      val hits = g.select(col("iter"), col("vec_id").as("q_id"), col("nbr"))
        .join(exact, Seq("q_id", "nbr"))
        .groupBy(col("iter")).agg(count(lit(1)).as("n_hits"))
      perIter.join(hits, Seq("iter"), "left")
        .crossJoin(exact.agg(count(lit(1)).as("n_exact")))
        .select(col("iter"), col("n_edges"),
          round(coalesce(col("n_hits"), lit(0L)) / col("n_exact"), 6).as("recall"))
    }),

    // INCREMENTAL kNN-graph maintenance — the graph analogue of
    // sim_ivfpq_recompaction's append→merge loop: a vector batch (~1/8 of
    // the corpus by salted md5) arrives AFTER the base graph was built,
    // and instead of a full NN-Descent rebuild the index absorbs it in
    // three bounded steps: (1) each new node seeds from its two salted
    // blocks over the CURRENT corpus and ranks to top-K; (2) one search
    // hop through the base graph (neighbors of my seed neighbors) and a
    // re-rank — the standard search-based insert; (3) the AFFECTED base
    // neighborhoods (nodes a new node now points at) re-rank their old
    // edges against the new arrivals; every other base node keeps its
    // edges untouched. Cost: O(batch · blocksize + batch · K²) distance
    // evaluations, never a corpus-wide round — at 100 TB this is the
    // difference between an hourly index refresh and a weekly rebuild.
    // Output: per-cohort (new / affected / untouched / overall) edge
    // recall against the from-scratch FULL rebuild (the session-shared
    // frame), hash-matched in DuckDB by replaying base build + insert +
    // comparison. What the metric shows: the incremental graph tracks the
    // rebuild closely everywhere except where the insert's locality
    // assumption bites — and it QUANTIFIES that bite per cohort, which is
    // the number an index-maintenance job alarms on.
    "sim_knn_graph_incremental" -> ((s, d) => {
      val vecs = ivfBase(s, d)
      val full = knnFinalGraphShared(s, d)
        .select(col("vec_id"), col("nbr"))
      val (ginc, aff) = knnIncInsert(s, d, SessionCaches.loopCheckpoint)
      // cohort labels + recall vs the from-scratch rebuild
      val cohorts = vecs.select(col("vec_id"), knnBatchPred.as("nw"))
        .join(aff.select(col("vec_id"), lit(true).as("af")), Seq("vec_id"), "left")
        .select(col("vec_id"),
          when(col("nw"), "new").when(col("af"), "affected")
            .otherwise("untouched").as("cohort"))
      val incC = ginc.join(cohorts, Seq("vec_id"))
      val per = cohorts.groupBy(col("cohort")).agg(count(lit(1)).as("n_nodes"))
        .join(incC.groupBy(col("cohort")).agg(count(lit(1)).as("n_edges")), Seq("cohort"))
        .join(full.join(cohorts, Seq("vec_id"))
          .groupBy(col("cohort")).agg(count(lit(1)).as("n_full")), Seq("cohort"))
        .join(incC.join(full, Seq("vec_id", "nbr"))
          .groupBy(col("cohort")).agg(count(lit(1)).as("n_hits")), Seq("cohort"), "left")
        .select(col("cohort"), col("n_nodes"), col("n_edges"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          round(coalesce(col("n_hits"), lit(0L)) / col("n_full"), 6).as("recall"))
      // the overall row: three 1-row scalar aggregates annotated together
      // (the declared constant-size cross-join shape)
      val overall = cohorts.agg(count(lit(1)).as("n_nodes"))
        .crossJoin(ginc.agg(count(lit(1)).as("n_edges")))
        .crossJoin(ginc.join(full, Seq("vec_id", "nbr")).agg(count(lit(1)).as("n_hits"))
          .crossJoin(full.agg(count(lit(1)).as("n_full"))))
        .select(lit("overall").as("cohort"), col("n_nodes"), col("n_edges"),
          col("n_hits"), round(col("n_hits") / col("n_full"), 6).as("recall"))
      per.unionByName(overall)
    }),

    // GRAPH-SERVING LAYOUT — the kNN graph's physical counterpart of the
    // inverted-list compaction: the final graph repartitioned by its b1
    // salted block and written partitionBy(blk), one adjacency file per
    // block, so a serving read for a node opens ONLY its block's file
    // (partition pruning — KnnLayoutSpec pins files-read == blocks-probed
    // and one-file-per-block). The oracled output is the per-block
    // inventory read BACK from the layout: the write→read round trip
    // must lose nothing vs the logical graph (the oracle re-derives the
    // block inventory from the generated build chain). At 100 TB this is
    // the job that turns the maintained edge list into the
    // random-access-served artifact a retrieval tier reads.
    "sim_knn_graph_layout" -> ((s, d) => {
      import s.implicits._
      val dir = java.nio.file.Files.createTempDirectory("knn-layout")
      try {
        val blk = (conv(substring(
          md5(concat(lit("b1"), col("vec_id").cast("string"))), 1, 15),
          16, 10).cast("long") % KnnBlocks).as("blk")
        knnFinalGraphShared(s, d)
          .select(col("vec_id"), col("nbr"), blk)
          .repartition(col("blk"))
          .write.mode("overwrite").partitionBy("blk").parquet(dir.toString)
        // bounded (≤16 rows): collected so the result outlives the temp dir
        s.read.parquet(dir.toString)
          .groupBy(col("blk").cast("int").as("blk"))
          .agg(countDistinct(col("vec_id")).as("n_nodes"),
            count(lit(1)).as("n_edges"))
          .collect()
          .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
          .toDF("blk", "n_nodes", "n_edges")
      } finally graft.streaming.StagedEvents.deleteRecursively(dir)
    }),

    // The MERGE-DECISION metric for the graph layout — the graph twin of
    // sim_ivfpq_frag_trigger: four mod-4 slices of the final adjacency
    // appended into the partitionBy(blk) serving layout in sequence
    // (each append writes ≤1 file per touched block — the
    // repartition(blk) guarantee), the PHYSICAL block/file counts read
    // off the directory after every batch, and merge_due firing past the
    // 2× fragmentation watermark — the poll that schedules the layout's
    // recompaction between incremental inserts. The oracle re-derives
    // the counts LOGICALLY from distinct (blk, batch) pairs over the
    // generated build chain, so directory state hash-matching SQL pins
    // that the layout contains exactly what the write protocol predicts.
    "sim_knn_graph_frag_trigger" -> ((s, d) => {
      import s.implicits._
      val blk = (conv(substring(
        md5(concat(lit("b1"), col("vec_id").cast("string"))), 1, 15),
        16, 10).cast("long") % KnnBlocks).as("blk")
      val g = knnFinalGraphShared(s, d)
        .select(col("vec_id"), col("nbr"), blk)
      val dir = java.nio.file.Files.createTempDirectory("knn-frag-log")
      try {
        val rows = (0 until 4).map { b =>
          g.filter(col("vec_id") % 4 === b).repartition(col("blk"))
            .write.mode(if (b == 0) "overwrite" else "append")
            .partitionBy("blk").parquet(dir.toString)
          import scala.jdk.CollectionConverters._
          val walk = java.nio.file.Files.walk(dir)
          val files =
            try walk.iterator().asScala
              .filter(_.getFileName.toString.endsWith(".parquet")).toVector
            finally walk.close()
          val blocks = files.map(_.getParent.getFileName.toString).distinct.size
          (b, blocks.toLong, files.size.toLong, files.size > 2L * blocks)
        }
        rows.toDF("batch", "n_blocks", "n_files", "merge_due")
      } finally graft.streaming.StagedEvents.deleteRecursively(dir)
    }),

    // SERVED GRAPH TRAVERSAL — greedy beam search over the kNN graph,
    // the query-time half of the graph-ANN story (the HNSW/NSG read path
    // in its flat one-layer form): start at the probe's own node, expand
    // the beam's graph neighbors, score candidates by exact cosine to
    // the probe, keep the best B=8, repeat 3 rounds; the answer is the
    // top-5 of everything VISITED. Cost per probe: rounds·B·K candidate
    // scores — the graph turns a corpus scan into a bounded walk, which
    // is the point of maintaining the graph at all. The rounds unroll
    // like the Lloyd training curves (fixed count, no driver loop over
    // data); every step is an equi-join on node id with the probe table
    // broadcast. Oracle: the generated build chain plus the unrolled
    // walk replayed CTE for CTE — the walk's visit order, tie rule, and
    // scores must all agree for the hash to match.
    "sim_knn_graph_search" -> ((s, d) => {
      val vecs = ivfBase(s, d)
      val g = knnFinalGraphShared(s, d)
        .select(col("vec_id"), col("nbr"))
      // bounded-frame conf scope: per-hop frames are <= probes x beam x K
      // rows at ANY corpus size, so their plans compile with AQE off + a
      // fixed small partition count - no per-stage AQE jobs, no
      // re-optimization of 10^2-row exchanges; shared parents above still
      // build at session settings
      graft.tables.Tables.withShufflePartitions(s, 4)(
        graft.tables.Tables.withAqeOff(s) {
      val probes = walkProbes(vecs)
      servedTop5(beamWalk(probes.select(col("q_id"), col("q_id").as("cand")),
        adjacencyOf(g), cosineScore(vecs, probes), 8, 3).last)
      })
    }),

    // FILTERED graph-ANN read — sim_ivf_filtered's question asked of the
    // graph index, with a THREE-way measured answer per probe against
    // the shared filtered-exact ground truth: (pre) the label predicate
    // INSIDE the walk — only matching candidates enter the visited set
    // and beam, the filtered-subgraph walk; (vis) the unfiltered walk
    // with the predicate over its WHOLE visited set before the top-5 —
    // the zero-index-change serving lever; (post) the naive unfiltered
    // top-5 then filter. Measured at sf0.01: vis 0.34 > pre 0.16 > post
    // 0.10 mean recall — the OPPOSITE ordering of the IVF case, and the
    // finding IS the operator: on a label-blind kNN graph the filtered
    // walk dead-ends (6/10 probes have no same-label neighbor to step
    // to — their rows read honest zeros), so predicate-inside-the-index
    // only wins once the GRAPH is built label-aware (the actual
    // Filtered-DiskANN design); until then, filter the visited set, not
    // the result set. Both walks and all three legs replay in the
    // generated CTE oracle, dead ends included.
    "sim_knn_graph_search_filtered" -> ((s, d) => {
      val base = labeledBase(s, d)
      val g = knnFinalGraphShared(s, d)
        .select(col("vec_id"), col("nbr"))
      graft.tables.Tables.withShufflePartitions(s, 4)(
        graft.tables.Tables.withAqeOff(s) {
      val probes = walkProbes(base, col("label").as("tgt"))
      val score = cosineScore(base, probes) _
      def visited(sc: DataFrame => DataFrame): DataFrame =
        beamWalk(probes.select(col("q_id"), col("q_id").as("cand")), adjacencyOf(g),
          sc, 8, 3).last
      def top5(v: DataFrame): DataFrame =
        walkTop(v, 5).select(col("q_id"), col("cand").as("vec_id"))
      val visU = visited(score)
      val pre = top5(visited(c => score(c).filter(col("label") === col("tgt"))))
        .withColumn("pre_hit", lit(1))
      val post = top5(visU)
        .join(base.select(col("vec_id"), col("label")), Seq("vec_id"))
        .join(broadcast(probes.select(col("q_id"), col("tgt"))), Seq("q_id"))
        .filter(col("label") === col("tgt"))
        .select(col("q_id"), col("vec_id"), lit(1).as("post_hit"))
      // the middle ground a serving tier can apply WITHOUT touching the
      // index: filter the whole visited set (≈ rounds·B·K candidates),
      // THEN take 5 — costs nothing extra at walk time and dodges the
      // top-5 starvation, but still misses what the walk never visited
      val visLeg = top5(onProbeLabel(visU, base, probes)).withColumn("vis_hit", lit(1))
      filteredLegRecalls(s, d, "pre" -> pre, "vis" -> visLeg, "post" -> post)
      })
    }),

    // The LABEL-AWARE build's inventory — what the stitch actually adds,
    // per label: how many same-label edges the blind graph already had,
    // how many shortcut edges the stitch contributes beyond them, and —
    // the dead-end census that motivated it — how many nodes had ZERO
    // same-label out-edges before vs after (before: the stranded-walk
    // population sim_knn_graph_search_filtered measured; after: 0 by
    // construction, every node gets LblK same-label shortcuts unless its
    // label-blocks hold no other member). All integer counts.
    "sim_knn_graph_labeled_build" -> ((s, d) => {
      val lb = fanOut(embeddings(s, d), s).select(col("vec_id"), col("label"))
      val ge = knnFinalGraphShared(s, d)
        .select(col("vec_id"), col("nbr"))
      val gl = knnLabeledGraphShared(s, d)
      def sameLabel(g: DataFrame): DataFrame = g
        .join(lb, Seq("vec_id"))
        .join(lb.select(col("vec_id").as("nbr"), col("label").as("nl")), Seq("nbr"))
        .filter(col("label") === col("nl"))
        .select(col("vec_id"), col("label"))
      val nodes = lb.groupBy(col("label")).agg(count(lit(1)).as("n_nodes"))
      def edgeCounts(g: DataFrame, as: String): DataFrame =
        sameLabel(g).groupBy(col("label")).agg(count(lit(1)).as(as))
      val added = gl.join(ge, Seq("vec_id", "nbr"), "left_anti")
        .join(lb, Seq("vec_id"))
        .groupBy(col("label")).agg(count(lit(1)).as("added_edges"))
      def noSame(g: DataFrame, as: String): DataFrame =
        lb.join(sameLabel(g).select(col("vec_id")).distinct(),
            Seq("vec_id"), "left_anti")
          .groupBy(col("label")).agg(count(lit(1)).as(as))
      nodes
        .join(edgeCounts(ge, "base_same_edges"), Seq("label"), "left")
        .join(added, Seq("label"), "left")
        .join(edgeCounts(gl, "aug_same_edges"), Seq("label"), "left")
        .join(noSame(ge, "no_same_before"), Seq("label"), "left")
        .join(noSame(gl, "no_same_after"), Seq("label"), "left")
        .select(col("label"), col("n_nodes"),
          coalesce(col("base_same_edges"), lit(0L)).as("base_same_edges"),
          coalesce(col("added_edges"), lit(0L)).as("added_edges"),
          coalesce(col("aug_same_edges"), lit(0L)).as("aug_same_edges"),
          coalesce(col("no_same_before"), lit(0L)).as("no_same_before"),
          coalesce(col("no_same_after"), lit(0L)).as("no_same_after"))
    }),

    // The labeled search — sim_knn_graph_search_filtered's three-way
    // measurement RE-RUN where it matters: the filtered (in-walk
    // predicate) beam walk over the STITCHED graph (lab), the same
    // filtered walk over the blind graph (blind — replays the original
    // pre leg verbatim), and the unfiltered walk over the stitched graph
    // with its visited set filtered (vis — the zero-predicate-pushdown
    // serving lever on the new index). The finding this lands: the
    // stitch flips the ordering — predicate-inside-the-index only wins
    // once the index is built label-aware, exactly the Filtered-DiskANN
    // claim, now a measured row per probe against the same shared
    // filtered-exact truth.
    "sim_knn_graph_search_labeled" -> ((s, d) => {
      val base = labeledBase(s, d)
      val ge = knnFinalGraphShared(s, d)
        .select(col("vec_id"), col("nbr"))
      val gl = knnLabeledGraphShared(s, d)
      graft.tables.Tables.withShufflePartitions(s, 4)(
        graft.tables.Tables.withAqeOff(s) {
      val probes = walkProbes(base, col("label").as("tgt"))
      val score = cosineScore(base, probes) _
      val onLabel: DataFrame => DataFrame =
        c => score(c).filter(col("label") === col("tgt"))
      def visited(g: DataFrame, sc: DataFrame => DataFrame): DataFrame =
        beamWalk(probes.select(col("q_id"), col("q_id").as("cand")), adjacencyOf(g),
          sc, 8, 3).last
      def top5(v: DataFrame): DataFrame =
        walkTop(v, 5).select(col("q_id"), col("cand").as("vec_id"))
      val lab = top5(visited(gl, onLabel)).withColumn("lab_hit", lit(1))
      val blind = top5(visited(ge, onLabel)).withColumn("blind_hit", lit(1))
      val vis = top5(onProbeLabel(visited(gl, score), base, probes))
        .withColumn("vis_hit", lit(1))
      filteredLegRecalls(s, d, "lab" -> lab, "blind" -> blind, "vis" -> vis)
      })
    }),

    // ENTRY-POINT strategy for the graph walk — the missing HNSW rung.
    // Every walk above starts at the probe's OWN node, an entry a real
    // index only has when the query is already a corpus member; a cold
    // index serving external queries needs an entry strategy, and HNSW's
    // answer is a hierarchy: a sparse upper layer is scanned brute-force
    // to pick a per-query entry, then the full-graph walk runs from
    // there. This measures the three strategies a serving tier can
    // actually choose between, per probe against the exact cosine top-5:
    //   self  — start at the probe's node (the ceiling; only available
    //           for in-corpus queries),
    //   fixed — start at ONE global entry node (what a flat index with a
    //           single entry point does; zero extra distance work),
    //   hier  — brute-force the ~1/8 md5-sampled upper layer to pick the
    //           per-probe entry (|L1| ≈ N/8 distance evals — the HNSW
    //           upper-layer descent collapsed to one sampled layer),
    //           then the same walk.
    // All three run the IDENTICAL 3-round B=8 walk; only beam0 differs,
    // so the recall spread is attributable to the entry alone. The
    // output also pins both entry choices (fixed_entry, hier_entry) and
    // the layer size n_layer1 — the hier strategy's per-query scan cost.
    // Measured at sf0.01: mean recall self 0.58 > hier 0.40 > fixed
    // 0.24 — the fixed entry strands the 3-round walk far from most
    // targets, and the sampled layer buys back two thirds of the gap to
    // the in-corpus ceiling for an N/8 scan (vs the N-scan exact
    // answer). At 100 TB that N/8 is the difference between a serving
    // tier that scans shards and one that reads a cached upper layer.
    // Oracle: the generated build chain + THREE unrolled walk replays
    // differing only in their beam0 CTE.
    "sim_knn_graph_entry" -> ((s, d) => {
      val vecs = ivfBase(s, d)
      // shared parent materialized BEFORE the bounded-frame conf scope:
      // a cold build must compile at session settings (AQE, data-scaled
      // partitions), never at the walk's bounded-frame settings
      val g = knnFinalGraphShared(s, d)
        .select(col("vec_id"), col("nbr"))
      graft.tables.Tables.withShufflePartitions(s, 4)(
        graft.tables.Tables.withAqeOff(s) {
      val probes = walkProbes(vecs)
      val l1 = upperLayer(vecs)
      // per-probe hier entry: argmax cosine over the layer only (never
      // the probe's own node — an external query wouldn't be in L1)
      val hier = exactCosineTop(l1, probes, 1)
      // the one global entry: the layer's smallest id — deterministic,
      // zero per-query work (bounded 1-row frame, broadcast to probes)
      val fx = l1.agg(min(col("vec_id")).as("fixed_entry"))
      def walk(entry: DataFrame): DataFrame =
        walkTop(beamWalk(entry, adjacencyOf(g), cosineScore(vecs, probes), 8, 3).last, 5)
          .select(col("q_id"), col("cand").as("vec_id"))
      val se = walk(probes.select(col("q_id"), col("q_id").as("cand")))
        .withColumn("self_hit", lit(1))
      val fxw = walk(probes.select(col("q_id"))
        .crossJoin(broadcast(fx)).select(col("q_id"), col("fixed_entry").as("cand")))
        .withColumn("fixed_hit", lit(1))
      val hrw = walk(hier).withColumn("hier_hit", lit(1))
      exactCosineTop(vecs, probes, 5).withColumnRenamed("cand", "vec_id")
        .join(se, Seq("q_id", "vec_id"), "left")
        .join(fxw, Seq("q_id", "vec_id"), "left")
        .join(hrw, Seq("q_id", "vec_id"), "left")
        .groupBy(col("q_id"))
        .agg(count(lit(1)).as("n_exact"),
          sum(coalesce(col("self_hit"), lit(0))).as("self_hits"),
          sum(coalesce(col("fixed_hit"), lit(0))).as("fixed_hits"),
          sum(coalesce(col("hier_hit"), lit(0))).as("hier_hits"))
        .join(hier.select(col("q_id"), col("cand").as("hier_entry")), Seq("q_id"))
        .crossJoin(broadcast(fx))
        .crossJoin(broadcast(l1.agg(count(lit(1)).as("n_layer1"))))
        .select(col("q_id"), col("fixed_entry"), col("hier_entry"), col("n_layer1"),
          col("n_exact"), col("self_hits"), col("fixed_hits"), col("hier_hits"),
          round(col("self_hits") / col("n_exact"), 6).as("self_recall"),
          round(col("fixed_hits") / col("n_exact"), 6).as("fixed_recall"),
          round(col("hier_hits") / col("n_exact"), 6).as("hier_recall"))
      })
    }),

    // The recall-vs-cost SWEEP for the graph search — the nprobe-sweep
    // analogue for the graph index: beam width B ∈ {4, 8, 16} × rounds
    // 1..3, each cell's visited-set top-5 scored against the exact
    // cosine top-5 (the declared broadcast-probe baseline class). Cost
    // per cell is rounds·B·K candidate scores, so the table reads as
    // "what recall does each extra unit of walk work buy" — the knob an
    // operator tunes before sizing the serving tier. The walks unroll
    // exactly like the search query; only the beam cut differs per B.
    "sim_knn_graph_search_sweep" -> ((s, d) => {
      val vecs = ivfBase(s, d)
      val g = knnFinalGraphShared(s, d)
        .select(col("vec_id"), col("nbr"))
      graft.tables.Tables.withShufflePartitions(s, 4)(
        graft.tables.Tables.withAqeOff(s) {
      val probes = walkProbes(vecs)
      val exact = exactCosineTop(vecs, probes, 5)
      val cells = for (b <- Seq(4, 8, 16)) yield
        beamWalk(probes.select(col("q_id"), col("q_id").as("cand")), adjacencyOf(g),
          cosineScore(vecs, probes), b, 3).zipWithIndex.map { case (visited, i) =>
          walkTop(visited, 5).select(col("q_id"), col("cand"))
            .join(exact, Seq("q_id", "cand"))
            .agg(count(lit(1)).as("n_hits"))
            .select(lit(b).cast("int").as("beam"), lit(i + 1).cast("int").as("rounds"),
              col("n_hits"), round(col("n_hits") / 50.0, 6).as("recall_at_5"))
        }
      cells.flatten.reduce(_ unionByName _)
      })
    }),

    // SERVE FROM THE MAINTAINED GRAPH — the end-to-end proof the
    // incremental maintenance loop preserves the READ path, not just
    // edge recall: the identical beam walk (B=8, 3 rounds) runs over
    // the from-scratch rebuild AND over the maintained graph the insert
    // left behind (the session-shared index state a serving tier
    // actually holds between rebuilds), each answer set scored against
    // the exact cosine top-5, plus the direct agreement between the two
    // answer sets. If maintenance degraded the walk topology — dead
    // ends where the repair skipped a neighborhood — it shows up HERE
    // first, as served-recall drift the per-cohort edge metric can
    // average away; this is the number an index-maintenance job pages
    // on before scheduling the full rebuild.
    "sim_knn_graph_serve_maintained" -> ((s, d) => {
      val vecs = ivfBase(s, d)
      val full = knnFinalGraphShared(s, d)
        .select(col("vec_id"), col("nbr"))
      val ginc = knnIncGraphShared(s, d)
      // Examined r14: the bounded-frame AQE-off scope the other walks use
      // REGRESSED this query (A/B: 1.54 s AQE-on vs 2.39 s off while the
      // control moved the other way) - the two-graph comparison's readout
      // joins benefit from AQE's runtime sizing here. Left at session
      // settings deliberately.
      val probes = walkProbes(vecs)
      def walkTop5(g: DataFrame): DataFrame =
        walkTop(beamWalk(probes.select(col("q_id"), col("q_id").as("cand")),
          adjacencyOf(g), cosineScore(vecs, probes), 8, 3).last, 5)
          .select(col("q_id"), col("cand"))
      val exact = exactCosineTop(vecs, probes, 5)
      val f5 = walkTop5(full)
      val m5 = walkTop5(ginc)
      def row(tag: String, hits: DataFrame): DataFrame =
        hits.agg(count(lit(1)).as("n_hits"))
          .select(lit(tag).as("variant"), col("n_hits"),
            round(col("n_hits") / 50.0, 6).as("frac"))
      row("rebuilt", f5.join(exact, Seq("q_id", "cand")))
        .unionByName(row("maintained", m5.join(exact, Seq("q_id", "cand"))))
        .unionByName(row("agreement", f5.join(m5, Seq("q_id", "cand"))))
    }),

    // SERVE FROM THE COMPACTED LAYOUT — the graph read path composed
    // with the graph serving layout: the IDENTICAL beam walk (B=8, 3
    // rounds, same tie rule) as sim_knn_graph_search, but adjacency
    // comes from the staged partitionBy(blk) layout with per-hop
    // partition-PRUNED reads instead of the session-shared logical
    // frame. Each round collects the beam's occupied block SET (bounded
    // by construction: ≤10 probes × B=8 node ids → ≤ KnnBlocks
    // distinct values) and reads only those blocks' files — so a hop
    // touches the slice of the graph the walk actually visits, never
    // the whole adjacency table. That is the 100 TB serving contract:
    // the index lives as one file per block on object storage, a query
    // walks rounds·B nodes, and I/O is proportional to blocks VISITED,
    // not graph size (KnnLayoutSpec pins files-read == blocks-probed on
    // this exact read shape). The layout itself is an ingest artifact —
    // staged once per data-dir content stamp via the atomic-rename
    // protocol, the same build sim_knn_graph_layout inventories and
    // sim_knn_graph_frag_trigger polls — a serving tier READS it, it
    // does not rebuild it per query. Oracle: verbatim the
    // sim_knn_graph_search SQL — serving from the layout must change
    // NOTHING about the walk's visit order, scores, or answer set.
    "sim_knn_graph_search_compacted" -> ((s, d) => {
      val dir = knnLayoutDir(s, d)
      val vecs = ivfBase(s, d)
      graft.tables.Tables.withShufflePartitions(s, 4)(
        graft.tables.Tables.withAqeOff(s) {
      val probes = walkProbes(vecs)
      servedTop5(beamWalk(probes.select(col("q_id"), col("q_id").as("cand")),
        layoutAdjacency(s, dir), cosineScore(vecs, probes), 8, 3).last)
      })
    }),
  )

  /** Neighbors kept per node, md5 init blocks, and expansion rounds of the
    * NN-Descent build — shared between the Spark side and the generated
    * oracle so the two can never drift.
    */
  private[graft] val KnnK = 8
  private[graft] val KnnBlocks = 16
  private[graft] val KnnIters = 4

  /** Same-label shortcut edges kept per node and the label-scoped salted
    * block count of the STITCHED label-aware build — shared with the
    * generated oracle (the KnnK/KnnBlocks convention).
    */
  private[graft] val LblK = 4
  private[graft] val LblBlocks = 4

  /** The layout's block-routing hash — the b1 init-block formula, shared
    * by the layout writer, the fragmentation poll, and the compacted
    * walk's per-hop partition filter so the three can never disagree on
    * where a node's adjacency lives.
    */
  private[graft] def knnBlkOf(c: Column): Column =
    conv(substring(md5(concat(lit("b1"), c.cast("string"))), 1, 15), 16, 10)
      .cast("long") % KnnBlocks

  /** Stage-once serving layout for the FINAL kNN adjacency: one file per
    * block under partitionBy(blk), keyed by the data dir's content stamp
    * (an in-place regeneration re-stages — the SessionFrameCache rule)
    * and committed via [[graft.Fixtures.stage]]'s atomic-rename
    * protocol so a concurrent reader never observes a half-written
    * layout. This is the ingest artifact sim_knn_graph_layout
    * inventories; the compacted walk serves from it across queries and
    * JVMs without rebuilding.
    */
  private[graft] def knnLayoutDir(s: SparkSession, d: String): String =
    graft.Fixtures.stage("knn_layout", 1, graft.Fixtures.Source(d)) { tmp =>
      knnFinalGraphShared(s, d)
        .select(col("vec_id"), col("nbr"), knnBlkOf(col("vec_id")).as("blk"))
        .repartition(col("blk"))
        .write.mode("overwrite").partitionBy("blk").parquet(tmp.toString)
    }.toString

  /** The walks' probe set (q_id, [extra,] qv, qn): the vec_id < 10 rows
    * of `pool` (vec_id, v, nrm, …), with `extra` columns (the label
    * walks' target) riding along.
    */
  private[graft] def walkProbes(pool: DataFrame, extra: Column*): DataFrame =
    pool.filter(col("vec_id") < 10)
      .select((col("vec_id").as("q_id") +: extra) ++
        Seq(col("v").as("qv"), col("nrm").as("qn")): _*)

  /** The walks' candidate score: (q_id, cand) rows joined to their vectors
    * in `pool` (vec_id, v, nrm, …) and to the broadcast `probes`, plus the
    * exact `cos`. Every pool and probe column rides along, so a label walk
    * filters the scored rows on them.
    */
  private[graft] def cosineScore(pool: DataFrame, probes: DataFrame)(
      cand: DataFrame): DataFrame =
    cand.join(pool.withColumnRenamed("vec_id", "cand"), Seq("cand"))
      .join(broadcast(probes), Seq("q_id"))
      .withColumn("cos", cosine)

  /** Per-probe top-`k` of a scored (q_id, cand, cos) frame under the walk's
    * tie rule (see [[beamWalk]]), with its `rank`.
    */
  private def walkTop(scored: DataFrame, k: Int): DataFrame =
    scored.withColumn("rank", row_number().over(
      Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("cand"))))
      .filter(col("rank") <= k)

  /** A served walk's answer: the visited set's top-5 (q_id, vec_id, cos, rank). */
  private[graft] def servedTop5(visited: DataFrame): DataFrame =
    walkTop(visited, 5).select(col("q_id"), col("cand").as("vec_id"), col("cos"),
      col("rank").cast("int").as("rank"))

  /** Brute-force exact cosine top-`k` (q_id, cand) over `pool`, never the
    * probe itself — the walks' ground truth (k = 5) and the hier entry
    * (k = 1 over the upper layer).
    */
  private def exactCosineTop(pool: DataFrame, probes: DataFrame, k: Int): DataFrame =
    walkTop(pool.join(broadcast(probes), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("cand"), cosine.as("cos")), k)
      .select(col("q_id"), col("cand"))

  /** The sampled upper layer of the graph-entry strategy: ~1/8 of `vecs`
    * by salted md5, the same standardized rule as the init blocks.
    */
  private[graft] def upperLayer(vecs: DataFrame): DataFrame =
    vecs.filter(
      conv(substring(md5(concat(lit("hl"), col("vec_id").cast("string"))), 1, 15),
        16, 10).cast("long") % 8L === 0L)

  /** Visited rows (q_id, cand, cos) whose candidate carries its probe's
    * target label — the filter over a whole visited set.
    */
  private def onProbeLabel(v: DataFrame, base: DataFrame, probes: DataFrame): DataFrame =
    v.join(base.select(col("vec_id").as("cand"), col("label")), Seq("cand"))
      .join(broadcast(probes.select(col("q_id"), col("tgt"))), Seq("q_id"))
      .filter(col("label") === col("tgt"))
      .select(col("q_id"), col("cand"), col("cos"))

  /** Adjacency (cand, nbr) of a session graph frame (vec_id, nbr): the
    * same frame on every hop.
    */
  private def adjacencyOf(g: DataFrame): DataFrame => DataFrame = {
    val adj = g.select(col("vec_id").as("cand"), col("nbr"))
    _ => adj
  }

  /** Adjacency (cand, nbr) read from the partitionBy(blk) serving layout
    * at `dir`, pruned to the beam's blocks: hop I/O is the blocks the walk
    * visits, never the whole graph.
    */
  private[graft] def layoutAdjacency(s: SparkSession, dir: String)(
      beam: DataFrame): DataFrame = {
    // bounded collect (≤ KnnBlocks ints): the hop's partition filter
    val blocks = beam.select(knnBlkOf(col("cand")).cast("int").as("blk"))
      .distinct().collect().map(_.getInt(0)).sorted
    s.read.parquet(dir).filter(col("blk").isin(blocks.map(Integer.valueOf): _*))
      .select(col("vec_id").as("cand"), col("nbr"))
  }

  /** Greedy beam walk over a kNN graph — the one loop every graph read
    * runs. From `beam0` (q_id, cand), each of `rounds` rounds expands the
    * beam through `adjacency(beam)` (cand, nbr), drops the probe itself
    * and duplicates, scores the new candidates with `score` (any frame
    * carrying q_id, cand, cos; a filtering score keeps candidates out of
    * the walk), and unions them into the visited set; the next beam is the
    * visited set's best `width` per probe. Tie rule: cos descending, then
    * the smaller cand — the oracle's order, so the walk replays CTE for
    * CTE ([[graft.oracle.Similarity.beamWalkCtes]]). Each round's visited frame is truncated by
    * [[SessionCaches.loopCheckpoint]]: beam_t reads visited_t and
    * expand_{t+1} reads beam_t, so an untruncated visited set doubles its
    * plan every round (2^rounds replays of the scoring subplan). Returns
    * the visited frame (q_id, cand, cos) after each round.
    */
  private[graft] def beamWalk(beam0: DataFrame, adjacency: DataFrame => DataFrame,
      score: DataFrame => DataFrame, width: Int, rounds: Int): Seq[DataFrame] = {
    var beam = beam0
    var visited: DataFrame = null
    (1 to rounds).map { _ =>
      val expand = beam.join(adjacency(beam), Seq("cand"))
        .select(col("q_id"), col("nbr").as("cand"))
        .filter(col("cand") =!= col("q_id"))
        .distinct()
      val scored = score(expand).select(col("q_id"), col("cand"), col("cos"))
      visited = SessionCaches.loopCheckpoint(
        if (visited == null) scored
        else visited.unionByName(scored).distinct())
      beam = walkTop(visited, width).select(col("q_id"), col("cand"))
      visited
    }
  }

  /** Exact-cosine re-rank of a candidate edge set to top-K per node —
    * the primitive both the init and every NN-Descent round apply. Two
    * keyed joins onto the vector table, one per-node window on the
    * 6dp-rounded cosine with nbr tiebreak (the oracle's exact tie rule).
    */
  private def knnRank(cand: DataFrame, vecs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("vec_id")).orderBy(col("cos").desc, col("nbr"))
    cand
      .join(vecs.select(col("vec_id"), col("v"), col("nrm")), Seq("vec_id"))
      .join(vecs.select(col("vec_id").as("nbr"), col("v").as("nv"),
        col("nrm").as("nn")), Seq("nbr"))
      .select(col("vec_id"), col("nbr"),
        round(dot(col("v"), col("nv")) / (col("nrm") * col("nn")), 6).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= KnnK)
  }

  /** Session-scoped cache of the FULL NN-Descent iteration history —
    * (iter, vec_id, nbr, rank, cos) for iter ∈ 0..KnnIters. The final
    * graph query and the convergence curve both read it; without the
    * cache each would re-run every expansion round. Builds only from the
    * raw embeddings scan (no parent shared frame — no lock-order
    * obligations).
    */
  private val sharedKnnGraph = new SessionFrameCache(4, "sharedKnnGraph")
  def knnGraphShared(s: SparkSession, d: String): DataFrame =
    sharedKnnGraph.getOrBuild(s, d)(nnDescentHistory(s, ivfBase(s, d)))

  /** The FINAL-round graph — the history filtered to iter == KnnIters,
    * materialized once for the 13 serving/search/maintenance consumers.
    * Under the r13 truncated-view cache a consumer-side filter re-scans
    * the whole 5-round history leaf per hop read (the InMemoryRelation's
    * batch-stat pruning that used to skip non-final batches is gone with
    * the IMR); this K-bounded frame restores — and beats — that pruning.
    */
  private val sharedKnnFinal = new SessionFrameCache(4, "sharedKnnFinal")
  def knnFinalGraphShared(s: SparkSession, d: String): DataFrame = {
    // parent materialized OUTSIDE this cache's monitor (lock discipline)
    val hist = knnGraphShared(s, d)
    sharedKnnFinal.getOrBuild(s, d)(hist.filter(col("iter") === KnnIters))
  }

  /** The STITCHED label-aware graph — the Filtered-DiskANN remedy
    * (Gollapudi et al., WWW 2023, the StitchedVamana variant) for the
    * measured dead-end finding of `sim_knn_graph_search_filtered`: on the
    * label-blind graph the filtered walk strands 6/10 probes with no
    * same-label neighbor to step to (pre 0.16 < vis 0.34). The stitch is
    * the blind graph UNION per-node same-label shortcut edges: each node's
    * top-[[LblK]] exact-cosine neighbors among LABEL-SCOPED salted-block
    * candidates — the NN-Descent init discipline applied within each
    * label (two md5 salts so no block is an island), so build cost stays
    * blocked-brute-force bounded at any corpus size and the whole stitch
    * is one label+block equi-join, never a per-label cartesian. Session
    * shared: the build inventory and the labeled search both read it.
    */
  private val sharedLabeledGraph = new SessionFrameCache(4, "knnLabeledGraph")
  def knnLabeledGraphShared(s: SparkSession, d: String): DataFrame = {
    // parent materialized OUTSIDE this cache's monitor (lock discipline)
    knnGraphShared(s, d)
    sharedLabeledGraph.getOrBuild(s, d) {
      val base = labeledBase(s, d)
      def blkOf(salt: String): Column =
        conv(substring(md5(concat(lit(salt), col("vec_id").cast("string"))), 1, 15),
          16, 10).cast("long") % LblBlocks
      val blk = base.select(col("vec_id"), col("label"),
        blkOf("lb1").as("b1"), blkOf("lb2").as("b2"))
      def pairs(bc: String): DataFrame =
        blk.select(col("label"), col(bc).as("bb"), col("vec_id"))
          .join(blk.select(col("label"), col(bc).as("bb"), col("vec_id").as("nbr")),
            Seq("label", "bb"))
          .filter(col("vec_id") =!= col("nbr"))
          .select(col("vec_id"), col("nbr"))
      val cand = pairs("b1").union(pairs("b2")).distinct()
      val wS = Window.partitionBy(col("vec_id")).orderBy(col("cos").desc, col("nbr"))
      val shortcuts = cand
        .join(base.select(col("vec_id"), col("v"), col("nrm")), Seq("vec_id"))
        .join(base.select(col("vec_id").as("nbr"), col("v").as("nv"),
          col("nrm").as("nn")), Seq("nbr"))
        .select(col("vec_id"), col("nbr"),
          round(dot(col("v"), col("nv")) / (col("nrm") * col("nn")), 6).as("cos"))
        .withColumn("rk", row_number().over(wS)).filter(col("rk") <= LblK)
        .select(col("vec_id"), col("nbr"))
      knnFinalGraphShared(s, d)
        .select(col("vec_id"), col("nbr"))
        .unionByName(shortcuts).distinct()
    }
  }

  /** The append-batch membership predicate of the incremental-maintenance
    * pair: ~1/8 of the corpus by a salted md5 bucket of vec_id — shared
    * verbatim with the DuckDB oracle, so both engines split identically.
    * The base graph is built WITHOUT these vectors; the incremental query
    * then inserts them and repairs the affected neighborhoods.
    */
  private def knnBatchPred =
    conv(substring(md5(concat(lit("inc"), col("vec_id").cast("string"))), 1, 15),
      16, 10).cast("long") % 8L === 0L

  /** Session-scoped cache of the BASE-corpus NN-Descent graph (final
    * round only) — the "index that already exists" the incremental
    * insert starts from, exactly like the staged IVF-PQ layout
    * `sim_ivfpq_recompaction` appends into.
    */
  private val sharedKnnBase = new SessionFrameCache(4, "sharedKnnBase")
  def knnBaseGraphShared(s: SparkSession, d: String): DataFrame =
    sharedKnnBase.getOrBuild(s, d) {
      nnDescentHistory(s, ivfBase(s, d).filter(!knnBatchPred))
        .filter(col("iter") === KnnIters)
        .select(col("vec_id"), col("nbr"), col("rank"), col("cos"))
    }

  /** The three-step incremental insert of the batch vectors into the
    * base graph — extracted so `sim_knn_graph_incremental` (the oracled
    * maintenance job, uncached: its benched cost IS the insert) and the
    * session-shared maintained graph [[knnIncGraphShared]] (what the
    * serving reads) run the identical steps. Returns (maintained graph
    * edges, affected base-node ids).
    */
  private def knnIncInsert(s: SparkSession, d: String,
      checkpoint: DataFrame => DataFrame): (DataFrame, DataFrame) = {
    val vecs = ivfBase(s, d)
    val base = knnBaseGraphShared(s, d).select(col("vec_id"), col("nbr"))
    // (1) new-node seeds: in-block mates under both salts, current corpus
    def seedPairs(salt: String): DataFrame = {
      val b = vecs.select(col("vec_id"),
        (conv(substring(md5(concat(lit(salt), col("vec_id").cast("string"))), 1, 15),
          16, 10).cast("long") % KnnBlocks).as("blk"))
      b.filter(knnBatchPred).select(col("vec_id"), col("blk"))
        .join(b.select(col("vec_id").as("nbr"), col("blk")), Seq("blk"))
        .filter(col("vec_id") =!= col("nbr"))
        .select(col("vec_id"), col("nbr"))
    }
    // Each step below is referenced several times by the next step and by
    // the consuming query (n1 appears in hop/aff/affCand/ginc; ginc and aff
    // each 3-4× in the cohort readout), so without truncation the final
    // logical plan nests the whole chain multiplicatively — measured r13:
    // a 20k-line / 1594-Exchange plan the driver re-analyzed per action.
    // LAZY checkpoints keep the insert's cost inside the caller's own
    // timed action while collapsing every re-reference to a LogicalRDD
    // leaf. The truncation's LIFECYCLE is the caller's to choose
    // (`checkpoint`): the per-invocation oracle query passes the BFS-idiom
    // loopCheckpoint (Bench/Verify free the blocks after each query);
    // the session-shared build passes the knn-lifecycle checkpoint —
    // nothing session-cached may derive from per-query loop frames, or a
    // post-release recompute (LRU eviction, stale stamp) walks freed
    // localCheckpoint RDDs and dies with checkpoint-block-not-found.
    val n0 = checkpoint(
      knnRank(seedPairs("b1").union(seedPairs("b2")).distinct(), vecs)
        .select(col("vec_id"), col("nbr")))
    // (2) one search hop through the base graph + re-rank
    val hop = n0
      .join(base.select(col("vec_id").as("nbr"), col("nbr").as("nbr2")), Seq("nbr"))
      .select(col("vec_id"), col("nbr2").as("nbr"))
      .filter(col("vec_id") =!= col("nbr"))
    val n1 = checkpoint(
      knnRank(n0.union(hop).distinct(), vecs)
        .select(col("vec_id"), col("nbr")))
    // (3) affected base neighborhoods: old edges ∪ reverse new edges
    val newIds = vecs.filter(knnBatchPred).select(col("vec_id"))
    val aff = checkpoint(
      n1.select(col("nbr").as("vec_id")).distinct()
        .join(newIds, Seq("vec_id"), "left_anti"))
    val affCand = base.join(aff, Seq("vec_id"))
      .union(n1.select(col("nbr").as("vec_id"), col("vec_id").as("nbr"))
        .join(aff, Seq("vec_id")))
      .distinct()
    val ga = checkpoint(knnRank(affCand, vecs).select(col("vec_id"), col("nbr")))
    val ginc = base.join(aff, Seq("vec_id"), "left_anti")
      .unionByName(ga).unionByName(n1)
    (ginc, aff)
  }

  /** Session-scoped cache of the MAINTAINED graph — the edge list the
    * incremental insert leaves behind, i.e. the index state a serving
    * tier actually reads between rebuilds. The serve-path comparison
    * starts here; `sim_knn_graph_incremental` itself stays uncached (it
    * IS the oracled maintenance job, the ccLabelsShared convention).
    */
  private val sharedKnnInc = new SessionFrameCache(4, "sharedKnnInc")
  def knnIncGraphShared(s: SparkSession, d: String): DataFrame = {
    // parents materialized OUTSIDE this cache's monitor (lock discipline)
    knnBaseGraphShared(s, d)
    // the shared build's truncation frames live under the KNN lifecycle
    // (freed in releaseKnnGraph with the cached frame), NEVER the
    // per-query loop registry: Bench/Verify free loop blocks after every
    // query, and a later eviction/stale-stamp recompute of this cached
    // frame would walk the freed checkpoint RDDs
    sharedKnnInc.getOrBuild(s, d)(knnIncInsert(s, d, knnLifecycleCheckpoint(s))._1)
  }

  /** Lazy lineage truncation whose blocks are registered under the KNN
    * session lifecycle ([[liveKnnCheckpoints]], freed in
    * [[releaseKnnGraph]]) — for truncation INSIDE session-shared builds,
    * where the per-query loop registry would free blocks the cached
    * frame's recompute path still needs.
    */
  private def knnLifecycleCheckpoint(s: SparkSession)(df: DataFrame): DataFrame = {
    val out = df.localCheckpoint(false)
    liveKnnCheckpoints.synchronized {
      liveKnnCheckpoints.getOrElseUpdate(s, scala.collection.mutable.Set.empty[Int]) ++=
        SessionCaches.checkpointRddIds(out)
    }
    out
  }

  /** One full NN-Descent history build over `vecs` — shared by the
    * full-corpus frame and the base-only frame. Returns the checkpointed
    * union (iter, vec_id, nbr, rank, cos), iter ∈ 0..KnnIters.
    */
  private def nnDescentHistory(s: SparkSession, vecs: DataFrame): DataFrame = {
      // TWO differently-salted block assignments: a single partition would
      // trap the whole build — neighbors, reverse neighbors, and two-hop
      // expansions of a one-block init all stay inside the init block, so
      // no round can ever cross it (measured: recall flat over rounds).
      // Overlapping a second salted partition makes every node a bridge
      // between two blocks, and the two-hop closure then mixes globally.
      def blkPairs(salt: String): DataFrame = {
        val b = vecs.select(col("vec_id"),
          (conv(substring(md5(concat(lit(salt), col("vec_id").cast("string"))), 1, 15),
            16, 10).cast("long") % KnnBlocks).as("blk"))
        b.join(b.withColumnRenamed("vec_id", "nbr"), Seq("blk"))
          .filter(col("vec_id") =!= col("nbr"))
          .select(col("vec_id"), col("nbr"))
      }
      val init = blkPairs("b1").union(blkPairs("b2")).distinct()
      // Each round references the previous graph THREE times (forward,
      // reverse, two-hop). persist() alone is NOT enough: the LOGICAL plan
      // still nests three copies of the prior round's plan, so by round t
      // the analyzer/canonicalizer walks 3^t nodes — measured 44 s to
      // "scan" an already-cached 4000-row result, all of it planning. The
      // connectedComponents discipline applies: localCheckpoint per round
      // truncates the plan to a constant-size LogicalRDD, and the round
      // blocks are freed deterministically once the unioned history has
      // materialized (after which, per the CC contract, the rounds cannot
      // be re-executed — only the cached union is ever read again). Each
      // frame's checkpoint ids are read off its OWN plan
      // ([[SessionCaches.checkpointRddIds]]), so a concurrent build
      // persisting blocks during this window is never swept.
      val rounds = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      var g = knnRank(init, vecs).withColumn("iter", lit(0)).localCheckpoint(true)
      rounds += g
      for (t <- 1 to KnnIters) {
        val edges = g.select(col("vec_id"), col("nbr"))
        val rev = edges.select(col("nbr").as("vec_id"), col("vec_id").as("nbr"))
        val hop = edges
          .join(edges.select(col("vec_id").as("nbr"), col("nbr").as("nbr2")), Seq("nbr"))
          .select(col("vec_id"), col("nbr2").as("nbr"))
          .filter(col("vec_id") =!= col("nbr"))
        val cand = edges.union(rev).union(hop).distinct()
        g = knnRank(cand, vecs).withColumn("iter", lit(t)).localCheckpoint(true)
        rounds += g
      }
      // the unioned history checkpoints too, so it owns its own blocks and
      // never re-reads a round frame; only then can the rounds be freed
      // (peak storage: the rounds plus one union of them, all K-bounded)
      val acc = rounds.reduce(_ unionByName _).localCheckpoint(true)
      val live = s.sparkContext.getPersistentRDDs
      rounds.flatMap(SessionCaches.checkpointRddIds).foreach(id =>
        live.get(id).foreach(_.unpersist(blocking = false)))
      // the history's own checkpoint blocks are registered for the
      // deterministic release path (the CC liveCcCheckpoints discipline —
      // SharedCacheLifecycleSpec's zero-persisted-blocks contract)
      liveKnnCheckpoints.synchronized {
        liveKnnCheckpoints.getOrElseUpdate(s, scala.collection.mutable.Set.empty[Int]) ++=
          SessionCaches.checkpointRddIds(acc)
      }
      acc
  }

  private val liveKnnCheckpoints =
    new scala.collection.mutable.WeakHashMap[SparkSession, scala.collection.mutable.Set[Int]]()

  /** Unpersist and drop the shared NN-Descent iteration frames of `s`,
    * including the history's localCheckpoint blocks (a released history
    * cannot be re-executed — checkpoint lineage is truncated).
    */
  def releaseKnnGraph(s: SparkSession): Unit = {
    sharedLabeledGraph.release(s) // derives from the full graph: derived first
    sharedKnnInc.release(s) // derives from the base graph: derived first
    sharedKnnFinal.release(s) // derives from the history: derived first
    sharedKnnGraph.release(s)
    sharedKnnBase.release(s)
    liveKnnCheckpoints.synchronized {
      liveKnnCheckpoints.remove(s).foreach { ids =>
        val live = s.sparkContext.getPersistentRDDs
        ids.foreach(id => live.get(id).foreach(_.unpersist(blocking = false)))
      }
    }
  }
}
