package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.tables.Tables._

/** Round-2 operator widening: multi-granularity aggregation (rollup), exact
  * percentiles, set operators, connected-components dedup clustering, and
  * streaming exact dedup. All oracle-checked against DuckDB.
  */
object Extended {

  type Q = (SparkSession, String) => DataFrame

  /** Banded Hamming pairing over a (media_id, hv: 64-bit hash) frame:
    * explode 4×16-bit bands, ONE groupBy(band, value) + in-bucket pair
    * expansion via higher-order functions (the same shape every text-side
    * banded family uses — never a posting self-join, which would
    * re-shuffle both sides and hand a hot bucket a quadratic reducer),
    * then exact Hamming verification at ≤ 6. Bucket sizes are bounded by
    * banding construction, so the k² expansion is bounded too.
    */
  private def bandedHammingPairs(hs: DataFrame): DataFrame =
    hs.select(col("media_id"), col("hv"),
        explode(array((0 until 4).map(j => struct(lit(j).as("bj"),
          shiftright(col("hv"), j * 16).bitwiseAND(lit(65535L)).as("bv"))): _*))
          .as("bd"))
      .select(col("media_id"), col("hv"),
        col("bd.bj").as("bj"), col("bd.bv").as("bv"))
      .groupBy(col("bj"), col("bv"))
      .agg(array_sort(collect_list(struct(col("media_id"), col("hv")))).as("ms"))
      .filter(size(col("ms")) > 1)
      .select(explode(expr(
        "flatten(transform(ms, (a, i) -> transform(slice(ms, i + 2, size(ms)), " +
          "b -> struct(a.media_id AS id_a, b.media_id AS id_b, " +
          "a.hv AS ha, b.hv AS hb))))")).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"),
        col("p.ha").as("ha"), col("p.hb").as("hb"))
      .distinct()
      .select(col("id_a"), col("id_b"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("int").as("hamming"))
      .filter(col("hamming") <= 6)

  val queries: Map[String, Q] = Map(
    // A12: ROLLUP — the (flag, status) aggregate at all three granularities
    // in ONE pass (Spark expands grouping sets inside a single shuffle
    // stage; no union of re-scans). The coalesce-to-'ALL' rendering relies
    // on the group keys being non-null (true for these tables); data with
    // real NULL keys would need grouping_id() to tell a NULL leaf from a
    // rolled-up subtotal.
    "a12_rollup" -> ((s, d) => {
      lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("n"),
          (sum(round(col("l_quantity") * 100).cast("long")) / 100.0).as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("status"),
          col("n"), col("sum_qty"))
    }),

    // A12b: CUBE — rollup's sibling grouping-sets expansion: all FOUR
    // granularities ((flag,status), (flag), (status), ()) from one pass.
    // Same single-shuffle execution as rollup (Spark expands the grouping
    // sets inside the Expand operator before the exchange, so each input
    // row fans to its 4 grouping-set replicas map-side and the aggregate
    // stays partial+final — never a union of re-scans). The (status)-only
    // slice is the one rollup can't produce. Same non-null-key caveat as
    // a12_rollup.
    "a12b_cube" -> ((s, d) => {
      lineitem(s, d)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("n"),
          (sum(round(col("l_quantity") * 100).cast("long")) / 100.0).as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("status"),
          col("n"), col("sum_qty"))
    }),

    // A22: explicit GROUPING SETS — the arbitrary-set selection neither
    // rollup's prefix chain nor cube's full lattice expresses: exactly the
    // two single-column slices ((flag), (status)), no combined and no
    // grand-total row. Same single-Expand single-shuffle execution as
    // rollup/cube; each input row fans to its 2 replicas map-side.
    "a22_grouping_sets" -> ((s, d) => {
      lineitem(s, d)
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
          col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("n"),
          (sum(round(col("l_quantity") * 100).cast("long")) / 100.0).as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("status"),
          col("n"), col("sum_qty"))
    }),

    // A17: equi-width histogram — 20 buckets over the price range, the
    // distribution profile every data-quality dashboard draws. The range
    // comes from a 1-row extrema aggregate broadcast back (no driver
    // collect, no second full scan materialized on one node) and the
    // bucket index is PURE INTEGER arithmetic over cents
    // (((pc−lo)·20) div (hi−lo+1) lands max exactly in bucket 19 — the
    // same monotone grid rule as the Z-order staging), so there is no
    // float boundary for engines to disagree on. One shuffle of 20
    // partial-aggregated buckets.
    "a17_histogram" -> ((s, d) => {
      val pc = round(col("l_extendedprice") * 100).cast("long")
      val bounds = lineitem(s, d).agg(min(pc).as("lo"), max(pc).as("hi"))
      lineitem(s, d).select(pc.as("pc"))
        .crossJoin(broadcast(bounds))
        .select(expr("((pc - lo) * 20) div (hi - lo + 1)").cast("int").as("bucket"),
          col("pc"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          (min(col("pc")) / 100.0).as("min_price"),
          (max(col("pc")) / 100.0).as("max_price"))
    }),

    // A13: exact interpolated percentiles per group (Spark `percentile` ==
    // DuckDB `quantile_cont`). Memory note at scale: exact percentile
    // buffers each group's values on one reducer — for the 100 TB path use
    // approx_percentile (t-digest, mergeable partial aggs); pinned here to
    // the exact variant because the oracle must hash-match.
    "a13_percentile" -> ((s, d) => {
      // expand the single-file scan to only 8 ways (not the full 32):
      // every map partition materializes a per-group value buffer the
      // final aggregation must merge, so extra map parallelism past a
      // point is spent merging buffers. (A multi-file dataset skips the
      // expansion and keeps its native scan parallelism — fanOut never
      // repartitions downward.)
      fanOut(lineitem(s, d), s, partitions = 8)
        .groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_extendedprice, array(0.5D, 0.95D))").as("ps"))
        .select(
          col("l_returnflag"),
          round(element_at(col("ps"), 1), 4).as("p50"),
          round(element_at(col("ps"), 2), 4).as("p95"))
    }),

    // A13b: the 100 TB percentile path — approx_percentile (KLL-style
    // sketch: bounded-size MERGEABLE partials, map-side combine, no
    // per-group value buffer on any reducer; see [[percentileApprox]],
    // whose partial aggregation PlanSpec pins). An approximate value can't
    // hash-match DuckDB, so the oracled output is the sketch's accuracy
    // CONTRACT: per group, the approx p50/p95 must land inside the exact
    // [q−ε, q+ε] interpolated-quantile bracket (rank error ≤ 1/accuracy =
    // 1e-4; ε = 1e-3 gives 10× slack). The oracle asserts `true` for every
    // group — any contract violation hash-mismatches the row.
    "a13b_percentile_approx" -> ((s, d) => {
      val li = lineitem(s, d)
      val approx = percentileApprox(li)
      val eps = 0.001
      val bracket = fanOut(li, s, partitions = 8)
        .groupBy(col("l_returnflag"))
        .agg(expr(s"percentile(l_extendedprice, array(${0.5 - eps}D, ${0.5 + eps}D, " +
          s"${0.95 - eps}D, ${0.95 + eps}D))").as("ps"))
      approx.join(bracket, "l_returnflag").select(
        col("l_returnflag"),
        col("a50").between(element_at(col("ps"), 1), element_at(col("ps"), 2))
          .as("p50_within"),
        col("a95").between(element_at(col("ps"), 3), element_at(col("ps"), 4))
          .as("p95_within"))
    }),

    // A13c: quantile-sketch MERGEABILITY — the ledger seed a13b left open:
    // a13b pins approx_percentile's accuracy contract, but the at-scale
    // REASON to run a quantile sketch is that slice partials MERGE
    // (per-file, per-hour, per-shard builds folded without revisiting
    // data). Spark's KLL partials are opaque binary, so the merge algebra
    // is asserted on a sketch this suite fully controls: a fixed-width
    // bucket histogram (W = 256 price units, ≈410 buckets per group at
    // any SF — bounded regardless of row count). Three deterministic
    // slices (l_orderkey % 3) build INDEPENDENT sketches; the merge is
    // counter ADDITION, and the output proves per group:
    // (1) merged ≡ one-pass sketch bucket-for-bucket (the mergeability
    //     law, hash-matched exactly — full-outer join so a bucket present
    //     on one side only fails loudly), and
    // (2) the merged sketch's p50/p95 estimates land within 2 bucket
    //     widths of the exact interpolated percentile (by construction:
    //     the estimate and the rank-target value share a bucket, and the
    //     exact quantile's ±1-rank interpolation reaches at most the
    //     adjacent bucket — the contract guards the cumulative-rank
    //     arithmetic, where an off-by-one silently shifts a bucket).
    // Estimates are integer micro-units via BIGINT floor-division so both
    // engines compute bit-identical values (long headroom is ample at
    // bench scale; a production build widens to DECIMAL(38), same
    // algebra). The rank targets are integer ceil: r_q = ceil(q·n)
    // computed as (n+1) div 2 and (19n+19) div 20 — no float rank.
    "a13c_quantile_merge" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      // The projected+repartitioned scan feeds THREE independent
      // aggregations (per-slice sketches, the one-pass sketch, the exact
      // percentile leg); without truncation each consumer re-ran the
      // repartition exchange (3 × ~37 shuffle-MB at sf0.1 — the whole
      // query's data motion). One lazy per-invocation checkpoint shares
      // the single 4-column pass; the blocks free after the query (r13,
      // guide §2.4: two operations keyed the same way share one exchange).
      val li = SessionCaches.loopCheckpoint(
        fanOut(lineitem(s, d), s, partitions = 8)
          .select(col("l_returnflag"), col("l_extendedprice"),
            floor(col("l_extendedprice") / 256).cast("long").as("b"),
            (col("l_orderkey") % 3).as("slice")))
      // independent per-slice sketches → merged by addition; the one-pass
      // sketch is built from the same scan for the equality audit
      val perSlice = li.groupBy(col("l_returnflag"), col("slice"), col("b"))
        .agg(count(lit(1)).as("c"))
      val merged = perSlice.groupBy(col("l_returnflag"), col("b"))
        .agg(sum(col("c")).as("c"))
      val onePass = li.groupBy(col("l_returnflag"), col("b"))
        .agg(count(lit(1)).as("c1"))
      val eq = merged.join(onePass, Seq("l_returnflag", "b"), "full_outer")
        .groupBy(col("l_returnflag"))
        .agg(expr("bool_and(coalesce(c = c1, false))").as("merged_eq_onepass"))
      // cumulative read-out over the MERGED sketch: per-group windows are
      // bounded by the bucket count (≈410 rows), never by the data
      val cum = merged
        .withColumn("cum",
          sum(col("c")).over(
            Window.partitionBy(col("l_returnflag")).orderBy(col("b"))))
        .withColumn("n",
          sum(col("c")).over(Window.partitionBy(col("l_returnflag"))))
        .withColumn("r50", expr("(n + 1) div 2"))
        .withColumn("r95", expr("(19 * n + 19) div 20"))
      def pickMicro(r: String) = min(when(
        col("cum") >= col(r) && col("cum") - col("c") < col(r),
        col("b") * lit(256000000L) +
          expr(s"(256000000 * ($r - (cum - c))) div c")))
      val est = cum.groupBy(col("l_returnflag"))
        .agg(pickMicro("r50").as("p50_micro"), pickMicro("r95").as("p95_micro"))
      val exact = li.groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_extendedprice, array(0.5D, 0.95D))").as("ps"))
        .select(col("l_returnflag"),
          element_at(col("ps"), 1).as("x50"), element_at(col("ps"), 2).as("x95"))
      eq.join(est, "l_returnflag").join(exact, "l_returnflag")
        .select(col("l_returnflag"), col("merged_eq_onepass"),
          col("p50_micro"), col("p95_micro"),
          (abs(col("p50_micro").cast("double") / 1e6 - col("x50")) <= 512)
            .as("p50_within_2w"),
          (abs(col("p95_micro").cast("double") / 1e6 - col("x95")) <= 512)
            .as("p95_within_2w"))
    }),

    // A6b: the 100 TB distinct-count path — approx_count_distinct (HLL++,
    // fixed-size mergeable sketch, rsd 2%) with the same boolean
    // accuracy-contract oracle as a13b: per group the approx count must be
    // within 5% of the exact one (2.5× the advertised rsd). Any contract
    // violation hash-mismatches its row.
    "a6b_count_distinct_approx" -> ((s, d) => {
      val li = lineitem(s, d)
      val ex = li.groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("exact"))
      val ap = li.groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_partkey"), 0.02).as("approx"))
      ex.join(ap, "l_returnflag").select(
        col("l_returnflag"),
        (abs(col("approx") - col("exact")).cast("double") / col("exact") <= 0.05)
          .as("within_5pct"))
    }),

    // A14: per-group statistical mode — count + windowed argmax with a
    // deterministic value tie-break; the shape any "most frequent value"
    // profiling query takes (two hash aggregations + one per-group rank,
    // never a global sort).
    "a14_mode" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val counts = lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_linenumber"))
        .agg(count(lit(1)).as("n_occurrences"))
      val w = Window.partitionBy(col("l_returnflag"))
        .orderBy(col("n_occurrences").desc, col("l_linenumber"))
      counts.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("l_returnflag"),
          col("l_linenumber").as("mode_linenumber"), col("n_occurrences"))
    }),

    // F16: date-part extraction + aggregation (year/month histograms of
    // order dates). Day-of-week is deliberately left out: Spark and DuckDB
    // number weekdays differently, and a portable query should not depend
    // on an engine-specific calendar convention.
    "f16_date_parts" -> ((s, d) => {
      orders(s, d)
        .groupBy(
          year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("m"))
        .agg(
          count(lit(1)).as("n"),
          (sum(round(col("o_totalprice") * 100).cast("long")) / 100.0).as("total"))
    }),

    // F17: JSON field extraction from a semi-structured string column via a
    // real JSON path (get_json_object — Jackson-backed, codegen-friendly),
    // not the regex shortcut f1 takes; missing keys become NULL, and the
    // per-key histogram pins parse parity with DuckDB's JSON extension.
    "f17_json_field" -> ((s, d) => {
      events(s, d)
        .select(get_json_object(col("props"), "$.k").cast("int").as("k"))
        .groupBy(col("k")).agg(count(lit(1)).as("n"))
    }),

    // Set operators (beyond the reference, which has none): nations with
    // customers but no suppliers (EXCEPT → planned as distinct + anti join)
    // and nations with both (INTERSECT → distinct + semi join).
    "set_except" -> ((s, d) => {
      customer(s, d).select(col("c_nationkey").as("nationkey"))
        .except(supplier(s, d).select(col("s_nationkey")))
    }),
    "set_intersect" -> ((s, d) => {
      customer(s, d).select(col("c_nationkey").as("nationkey"))
        .intersect(supplier(s, d).select(col("s_nationkey")))
    }),

    // Dedup clustering: connected components over the MinHash-LSH candidate
    // pairs — every document labeled with the min doc_id of its near-dup
    // cluster (the canonical representative a training-data pipeline keeps).
    // Large-star/small-star (see [[connectedComponents]]): O(log² n) rounds
    // instead of the O(component-diameter) of naive min-label propagation —
    // the difference between 5 and 50 shuffles on a web-scale chain.
    "dedup_cluster_cc" -> ((s, d) => {
      // starts from the shared, session-cached pair frame
      // (TextOps.minhashPairsShared) but runs the components iteration
      // itself: this IS the oracled CC query, so it stays uncached and its
      // benched cost measures the real iteration. Downstream consumers
      // share the converged labels via [[ccLabelsShared]] instead.
      val pairs = TextOps.minhashPairsShared(s, d)
      connectedComponents(s,
        pairs.select(col("da").as("src"), col("db").as("dst")))._1
    }),

    // INCREMENTAL cluster maintenance — the append→maintain composition:
    // `dedup_minhash_append` surfaces the batch's delta pairs; this query
    // folds them into the EXISTING cluster state without re-running CC
    // over the whole graph. Adding edges can only MERGE components, so a
    // base component untouched by any delta pair keeps its membership and
    // min-label EXACTLY — only the touched components' edges plus the
    // delta re-enter the large/small-star iteration (the relabel set is
    // bounded by the batch's reach, not the corpus). The output is every
    // clustered doc's (doc_id, cluster_id) — provably equal to the full
    // dedup_cluster_cc — plus a `recomputed` flag marking the rows the
    // incremental pass actually touched; the oracle re-derives BOTH
    // clusterings recursively and the flag from the base clustering, so
    // hash-matching proves the incremental path exact end to end.
    "dedup_cluster_cc_incremental" -> ((s, d) => {
      val pairs = TextOps.minhashPairsShared(s, d)
      val isA = isIncBatch(col("da"))
      val isB = isIncBatch(col("db"))
      val basePairs = pairs.filter(!isA && !isB)
      val deltaPairs = pairs.filter(isA || isB)
      val baseLabels = baseCcLabelsShared(s, d)
      // components the delta reaches (their docs re-enter the iteration)
      val touched = baseLabels
        .join(deltaPairs
          .select(explode(array(col("da"), col("db"))).as("doc_id")).distinct(),
          Seq("doc_id"))
        .select(col("cluster_id")).distinct()
      val touchedDocs = baseLabels.join(broadcast(touched), Seq("cluster_id"))
        .select(col("doc_id"))
      // a base pair's endpoints share a component, so pruning on da alone
      // keeps exactly the touched components' edges
      val rerunEdges = basePairs
        .join(broadcast(touchedDocs).withColumnRenamed("doc_id", "da"), Seq("da"))
        .select(col("da").as("src"), col("db").as("dst"))
        .unionByName(deltaPairs.select(col("da").as("src"), col("db").as("dst")))
      val relabeled = connectedComponents(s, rerunEdges)._1
      baseLabels.join(broadcast(touched), Seq("cluster_id"), "left_anti")
        .select(col("doc_id"), col("cluster_id"),
          lit(false).as("recomputed"))
        .unionByName(relabeled.select(col("doc_id"), col("cluster_id"),
          lit(true).as("recomputed")))
    }),

    // LEAKAGE-SAFE train/val/test SPLIT — the reason a training pipeline
    // clusters near-dups BEFORE splitting: sample_split's doc-level
    // md5(doc_id) assignment puts the two halves of a near-dup pair on
    // opposite sides of the split boundary with probability ≈ 2·p(1−p),
    // and every such pair is eval contamination you can't detect later
    // (the eval doc IS a training doc, modulo a few tokens). Assigning
    // the CLUSTER instead (md5 of the connected-component label, every
    // member inherits it) makes straddling IMPOSSIBLE by construction:
    // both endpoints of any candidate pair share a component, hence a
    // label, hence a split. The output carries the audit for BOTH
    // strategies — cluster_straddle_pairs is provably 0, and
    // doc_straddle_pairs measures what the naive split would have leaked.
    // Scale shape: the corpus joins the (bounded) cluster-label frame
    // once, the straddle audit broadcasts the candidate-pair frame onto
    // the corpus-keyed sides (the corpus never shuffles for the audit),
    // and the per-split stats are one keyed aggregation. Singleton docs
    // (no near-dup) are their own cluster: coalesce(label, doc_id).
    "pipeline_split_leakage_safe" -> ((s, d) => {
      val labels = ccLabelsShared(s, d)
      val assigned = documents(s, d).select(col("doc_id"))
        .join(labels, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      def splitOf(c: org.apache.spark.sql.Column) = {
        val bkt = conv(substring(
          md5(concat(lit("split"), c.cast("string"))), 1, 15), 16, 10)
          .cast("long") % 10
        when(bkt < 8, "train").when(bkt === 8, "val").otherwise("test")
      }
      val withSplits = assigned.select(col("doc_id"), col("cluster_id"),
        splitOf(col("cluster_id")).as("split"),
        splitOf(col("doc_id")).as("doc_split"))
      val pairs = TextOps.minhashPairsShared(s, d).select(col("da"), col("db"))
      val annA = withSplits.select(col("doc_id").as("da"),
        col("split").as("sa"), col("doc_split").as("dsa"))
        .join(broadcast(pairs), Seq("da"))
      val straddle = withSplits.select(col("doc_id").as("db"),
        col("split").as("sb"), col("doc_split").as("dsb"))
        .join(broadcast(annA), Seq("db"))
        .agg(
          sum(when(col("sa") =!= col("sb"), 1L).otherwise(0L))
            .as("cluster_straddle_pairs"),
          sum(when(col("dsa") =!= col("dsb"), 1L).otherwise(0L))
            .as("doc_straddle_pairs"))
      withSplits.groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("cluster_id")).as("n_clusters"))
        .crossJoin(broadcast(straddle))
    }),

    // The dedup pipeline's last mile: clusters alone don't tell a pipeline
    // WHICH copy to train on. Labels every document (singletons included,
    // via the left join + coalesce) with its cluster, the cluster's
    // canonical representative — longest text, tie-broken by min doc_id —
    // and a keep flag. Filtering `keep` yields the training corpus. Every
    // OUTPUT row needs the canonical, so this is a cluster-keyed window
    // (first over (n_chars desc, doc_id)), NOT a groupBy + join-back: the
    // join-back shape re-computes the whole labeled-docs subtree for both
    // consumers and shuffles it twice (verified in the captured plan); the
    // window is one shuffle + one per-cluster sort, sharded by cluster.
    // The labels come from the O(log² n) large-star/small-star CC, so the
    // path is bucketed end-to-end.
    // The converged CC labels come from the session-shared frame
    // ([[ccLabelsShared]]): cluster map and canonical keep-list are two
    // outputs of ONE components run in a production dedup DAG, so the
    // O(log² n) iteration pays once per (session, dataset) and this query
    // is just the keyed window over it.
    "dedup_canonical" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val labels = ccLabelsShared(s, d)
      val lab = documents(s, d).select(col("doc_id"), col("n_chars"))
        .join(labels, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
          col("n_chars"))
      val w = Window.partitionBy(col("cluster_id"))
        .orderBy(col("n_chars").desc, col("doc_id"))
      lab.withColumn("canonical_id", first(col("doc_id")).over(w))
        .select(col("doc_id"), col("cluster_id"), col("canonical_id"),
          (col("doc_id") === col("canonical_id")).as("keep"))
    }),

    // Batch-packing planner: assign every document to a power-of-two token-
    // length tier and account the padding a fixed-shape training batch would
    // waste per tier. Pure integer per-row math + one partial-aggregated
    // groupBy — nothing here changes shape at any scale. The tiers are
    // explicit CASE bounds (not pow(2, ceil(log2 n)): exact-power inputs sit
    // on a float boundary where engines' log2 may disagree by an ulp and
    // ceil would then disagree by a whole tier).
    "sample_length_buckets" -> ((s, d) => {
      val n = size(split(trim(col("text")), "\\s+")).cast("long")
      val bucket = when(n <= 16, 16L).when(n <= 32, 32L).when(n <= 64, 64L)
        .when(n <= 128, 128L).when(n <= 256, 256L).otherwise(512L)
      documents(s, d)
        .select(col("doc_id"), n.as("n_tokens"), bucket.as("bucket"))
        .groupBy(col("bucket"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          sum(col("bucket") - col("n_tokens")).as("padding_waste"))
    }),

    // Data-mixing rebalance: compute, per language, the deterministic
    // Bernoulli threshold that downsamples over-represented languages to a
    // uniform target share (min(1, (N/k)/n_g) in integer basis-points —
    // integer `div` end-to-end, so both engines compute the identical
    // threshold), then count the docs the md5-bucket rule actually keeps.
    // The per-group stats are a tiny post-aggregation frame (|langs| rows):
    // the unpartitioned window over it is bounded by the group count, never
    // by the data, and the join back to documents broadcasts it.
    "sample_mix_weights" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val counts = documents(s, d).groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"))
      val w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val thr = counts
        .withColumn("n_total", sum(col("n_docs")).over(w))
        .withColumn("k", count(lit(1)).over(w))
        .select(col("lang"), col("n_docs"),
          least(lit(10000L),
            expr("(10000 * n_total) div (k * n_docs)")).as("thr"))
      val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long") % 10000
      documents(s, d).select(col("doc_id"), col("lang"), bucket.as("b"))
        .join(broadcast(thr), "lang")
        .groupBy(col("lang"), col("n_docs"), col("thr"))
        .agg(sum(when(col("b") < col("thr"), 1L).otherwise(0L)).as("n_kept"))
    }),

    // Curriculum mixing SCHEDULE: per-source sampling weights
    // interpolated linearly from corpus share (epoch 0) to uniform (final
    // epoch) — the multi-epoch training-mix plan a data loader consumes,
    // generalizing sample_mix_weights' single static target. Every weight
    // is integer ppm via w_e = (share·(E−1−e) + uniform·e) div (E−1) with
    // only NON-NEGATIVE terms, so no truncate-vs-floor divergence between
    // engines can occur; |sources|·E output rows, the per-source counts
    // one keyed agg, the totals a 1-row broadcast annotate.
    "sample_mix_schedule" -> ((s, d) => {
      val E = 4
      val bySource = documents(s, d).groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"))
      val tot = bySource.agg(sum(col("n_docs")).as("total"),
        count(lit(1)).as("n_sources"))
      bySource.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"),
          expr("(n_docs * 1000000) div total").as("share_ppm"),
          expr("1000000 div n_sources").as("uniform_ppm"))
        .select(col("source"), col("n_docs"), col("share_ppm"), col("uniform_ppm"),
          explode(sequence(lit(0), lit(E - 1))).as("epoch"))
        .select(col("epoch").cast("int").as("epoch"), col("source"), col("n_docs"),
          expr(s"(share_ppm * (${E - 1} - epoch) + uniform_ppm * epoch) div ${E - 1}")
            .cast("long").as("weight_ppm"))
    }),

    // PageRank over the near-dup candidate graph (3 fixed power
    // iterations, d = 0.85, the unnormalized r = 0.15 + 0.85·Σ r_u/deg_u
    // formulation) — the link-centrality signal web-corpus pipelines rank
    // documents by, and the second iterative graph operator next to
    // connected components. ALL rank arithmetic is integer micro-units
    // with integer division, so the per-node in-neighbor sum is
    // addition-order-free and the oracle (the same math unrolled in SQL)
    // matches bit-for-bit at any parallelism. The degree-annotated edge
    // list builds once from the shared session pair frame and is session-
    // cached ([[pagerankEdgesShared]], SessionFrameCache lifecycle); each
    // iteration moves only the small, changing rank table to it — two
    // keyed shuffles per iteration, bounded plan depth, no checkpointing
    // needed at 3 rounds.
    "graph_pagerank" -> ((s, d) => {
      val withDeg = pagerankEdgesShared(s, d)
      var ranks = withDeg.select(col("src").as("node")).distinct()
        .withColumn("r", lit(1000000L))
      for (_ <- 1 to 3) {
        ranks = withDeg.join(ranks, col("src") === col("node"))
          .select(col("dst"), expr("r div deg").as("c"))
          .groupBy(col("dst")).agg(sum(col("c")).as("sc"))
          .select(col("dst").as("node"),
            (lit(150000L) + expr("(85 * sc) div 100")).as("r"))
      }
      ranks.select(col("node").as("doc_id"),
        round(col("r").cast("double") / 1000000.0, 6).as("pagerank"))
    }),

    // Label-propagation community detection (Raghavan et al. 2007) over
    // the near-dup graph: 3 synchronous rounds, each node adopting its
    // neighbors' most frequent label (count desc, label asc — the
    // deterministic tie-break that makes LPA oracle-able; canonical LPA's
    // random order is exactly what a distributed engine can't reproduce).
    // Complements the component/triangle reads: components say which docs
    // are transitively LINKED, communities say which cores are DENSELY
    // linked (a template clique collapses to one label in round 1; a
    // chain of borderline pairs keeps distinct labels). Each round is one
    // keyed edge join + one keyed argmax window — the rank table moves,
    // the edge list stays put, nothing is ever collected.
    "graph_label_propagation" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val pairs = TextOps.minhashPairsShared(s, d)
      val edges = pairs.select(col("da").as("src"), col("db").as("dst"))
        .union(pairs.select(col("db").as("src"), col("da").as("dst")))
      var labels = edges.select(col("src").as("node")).distinct()
        .withColumn("lbl", col("node"))
      for (_ <- 1 to 3) {
        val w = Window.partitionBy(col("dst")).orderBy(col("cnt").desc, col("lbl"))
        // per-round lineage truncation (the bfsFrom discipline): each round
        // nests the previous label plan under a join+agg+window, so three
        // untruncated rounds replay round 1's edge join per nesting level
        labels = SessionCaches.loopCheckpoint(
          edges.join(labels, col("src") === col("node"))
            .groupBy(col("dst"), col("lbl")).agg(count(lit(1)).as("cnt"))
            .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
            .select(col("dst").as("node"), col("lbl")))
      }
      labels.select(col("node").as("doc_id"), col("lbl").as("community"))
    }),

    // Multi-source BFS over the near-dup graph — the reachability read
    // next to CC/PageRank/LPA: from an md5-derived ~10% seed set, how far
    // does duplication influence propagate hop by hop (the "how many docs
    // are within k edits-of-edits of a known bad template" audit). Frontier
    // expansion is one keyed edge join + anti-join-vs-reached per hop —
    // the textbook distributed BFS: the edge list never moves, only the
    // frontier (monotonically shrinking) shuffles; each hop's frontier is
    // lineage-truncated inside bfsFrom (loopCheckpoint — the untruncated
    // loop replayed hop 1 ~2^hops times, 14.8 s / 270 jobs). The
    // read-out is the per-depth census with a membership checksum. The
    // oracle is a DuckDB RECURSIVE CTE walking the same edges — min(depth)
    // over the set-semantics expansion IS BFS depth — the first recursive
    // replay in the suite.
    "graph_bfs_depths" -> ((s, d) => {
      val edges = pagerankEdgesShared(s, d).select(col("src"), col("dst"))
      val isSeed = conv(substring(
        md5(concat(lit("bfs"), col("node").cast("string"))), 1, 15), 16, 10)
        .cast("long") % 10 === 0
      val seeds = edges.select(col("src").as("node")).distinct().filter(isSeed)
      bfsFrom(edges, seeds, 4)
        .groupBy(col("depth").cast("int").as("depth"))
        .agg(count(lit(1)).as("n_nodes"), sum(col("node")).as("sum_doc_id"))
    }),

    // WEIGHTED PageRank over the exact-Jaccard near-dup graph — the
    // binary adjacency above treats a 0.81 borderline pair and a 0.99
    // template clone identically; weighting each edge by its Jaccard
    // (integer ppm) makes rank flow proportional to duplication
    // STRENGTH, which is what a centrality-ranked dedup triage actually
    // wants at the top of the list. Same unnormalized d = 0.85 power
    // iteration as graph_pagerank with r·w/Σw contributions — all
    // integer arithmetic (r and w in micro-units, integer division), so
    // the in-neighbor sum is addition-order-free and the SQL unroll
    // matches bit for bit. Edges come from the session-shared weighted
    // frame (derived from nearDupPairsShared — no new corpus scan); each
    // round is lineage-truncated (the bfsFrom discipline).
    "graph_pagerank_weighted" -> ((s, d) => {
      val e = weightedEdgesShared(s, d)
      var ranks = e.select(col("src").as("node")).distinct()
        .withColumn("r", lit(1000000L))
      for (_ <- 1 to 3) {
        ranks = SessionCaches.loopCheckpoint(
          e.join(ranks, col("src") === col("node"))
            .select(col("dst"), expr("(r * w) div sw").as("c"))
            .groupBy(col("dst")).agg(sum(col("c")).as("sc"))
            .select(col("dst").as("node"),
              (lit(150000L) + expr("(85 * sc) div 100")).as("r")))
      }
      ranks.select(col("node").as("doc_id"),
        round(col("r").cast("double") / 1000000.0, 6).as("pagerank"))
    }),

    // WEIGHTED-THRESHOLD BFS — reachability along STRONG edges only
    // (jaccard ≥ 0.85): "which docs are within k hops of a known-bad
    // template through near-exact copies", the contagion audit where a
    // chain of borderline 0.81 pairs must NOT propagate influence. Same
    // frontier algorithm and per-depth census as graph_bfs_depths
    // (bfsFrom — per-hop lineage truncation included), over the
    // session-shared weighted frame filtered by weight; the oracle
    // replays the recursive expansion over the thresholded edge set.
    "graph_bfs_weighted" -> ((s, d) => {
      val strong = weightedEdgesShared(s, d)
        .filter(col("w") >= 850000L).select(col("src"), col("dst"))
      val isSeed = conv(substring(
        md5(concat(lit("bfsw"), col("node").cast("string"))), 1, 15), 16, 10)
        .cast("long") % 10 === 0
      val seeds = strong.select(col("src").as("node")).distinct().filter(isSeed)
      bfsFrom(strong, seeds, 4)
        .groupBy(col("depth").cast("int").as("depth"))
        .agg(count(lit(1)).as("n_nodes"), sum(col("node")).as("sum_doc_id"))
    }),

    // Triangle participation over the near-dup candidate graph — the
    // local-clustering signal that separates a dense duplicate clique
    // (template boilerplate, mirrored sites) from a chain of borderline
    // pairs: CC alone can't tell them apart, triangles can. Edges come
    // from the SAME session-shared MinHash pair frame every other graph
    // operator rides, already oriented da < db, so the classic ordered
    // triple join (a<b<c counts each triangle exactly once) needs no
    // orientation pass. The pair frame is the near-dup OUTPUT — orders of
    // magnitude smaller than the corpus — and AQE broadcasts it under the
    // threshold; at web scale the same two joins run as shuffle joins
    // keyed on the shared vertex, the standard distributed triangle
    // enumeration (degree-split optimizations only matter once a skewed
    // hub vertex appears, which the df-cap upstream already suppresses).
    "graph_triangles" -> ((s, d) => {
      val p = TextOps.minhashPairsShared(s, d)
      val tri = p.select(col("da").as("a"), col("db").as("b"))
        .join(p.select(col("da").as("b2"), col("db").as("c")),
          col("b") === col("b2"))
        .join(p.select(col("da").as("a3"), col("db").as("c3")),
          col("a") === col("a3") && col("c") === col("c3"))
        .select(col("a"), col("b"), col("c"))
      tri.select(explode(array(col("a"), col("b"), col("c"))).as("doc_id"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_tri"))
    }),

    // Temperature-based mixing weights (α = 0.5, the multilingual-LM
    // standard: p_g ∝ n_g^α flattens the language distribution without
    // going fully uniform — sample_mix_weights' uniform target is the
    // α → 0 limit). Each language's sqrt(n) rounds to integer micro-units
    // BEFORE the normalizing sums, so both engines add exact integers in
    // any order and divide the same two numbers at the end. The window
    // runs over the |langs|-row post-agg frame — bounded by group count,
    // never by data.
    "sample_temperature" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      documents(s, d).groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
        .withColumn("su", round(sqrt(col("n_docs")) * 1000000).cast("long"))
        .withColumn("n_total", sum(col("n_docs")).over(w))
        .withColumn("su_total", sum(col("su")).over(w))
        .select(col("lang"), col("n_docs"),
          round(col("n_docs").cast("double") / col("n_total"), 6).as("natural_share"),
          round(col("su").cast("double") / col("su_total"), 6).as("temp_share"),
          round((col("su").cast("double") / col("su_total")) /
            (col("n_docs").cast("double") / col("n_total")), 6).as("boost"))
    }),

    // Join-key skew profiler: the diagnostic a pipeline runs BEFORE deciding
    // to salt a join (j2s_salted_skew_join is the cure; this is the
    // detector). Per-key cardinalities are one partial-aggregated groupBy;
    // the heaviest 10 keys surface via orderBy+limit (TakeOrderedAndProject
    // — per-partition top-k merge, never a global sort) and their share of
    // the total comes from a window over the 10 surviving rows. At 100 TB
    // the full key histogram never materializes anywhere.
    "diag_key_skew" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val counts = events(s, d).groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"))
      val total = counts.agg(sum(col("n")).as("tot"))
      val top = counts.orderBy(col("n").desc, col("user_id")).limit(10)
      top.join(broadcast(total))
        .withColumn("rank",
          row_number().over(Window.orderBy(col("n").desc, col("user_id"))))
        .select(col("rank"), col("user_id"), col("n"),
          round(col("n") / col("tot").cast("double"), 6).as("share"))
    }),

    // Sequence-packing planner: training pipelines concatenate documents
    // into fixed-length (here 512-token) sequences in a deterministic order
    // and need the bin accounting — docs per sequence, tokens per sequence,
    // and how many docs straddle a boundary (get split across two training
    // sequences). Order is the md5(doc_id) shuffle rule (reproducible across
    // engines/runs, like every sample in this file); the running offset is a
    // window cumsum KEYED BY SOURCE — the per-shard packing a real pipeline
    // runs, so the sort shards per key and no task ever sees more than one
    // source's docs (an unpartitioned global pack would funnel the corpus
    // through one task). All integer math: bin = start div 512.
    "pack_sequences" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val B = 512L
      val doc = documents(s, d).select(
        col("doc_id"), col("source"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n"),
        md5(col("doc_id").cast("string")).as("ord"))
      val w = Window.partitionBy(col("source")).orderBy(col("ord"), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val placed = doc
        .withColumn("start", coalesce(sum(col("n")).over(w), lit(0L)))
        .withColumn("bin", expr(s"start div $B"))
        .withColumn("crosses", expr(s"(start + n - 1) div $B") > col("bin"))
      placed.groupBy(col("source"), col("bin"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n")).as("n_tokens"),
          sum(col("crosses").cast("long")).as("n_crossing"))
    }),

    // Numerically-exact distributed correlation (quantity vs price per
    // return flag): the naive corr() accumulates doubles whose value depends
    // on partition merge order — unacceptable where a pipeline gates on the
    // statistic. Instead the five moments (Σx, Σy, Σxy, Σx², Σy²) run in
    // integer cents — BIGINT for the sums, DECIMAL(38,0) for the products
    // (cents-squared exceeds a long's range around 10⁹ rows; decimal
    // partials are exact AND mergeable at any N) — and the closed form
    // divides the same exact integers in both engines. This is the pattern
    // for ANY exact second-order statistic at 100 TB: ship mergeable integer
    // moments, form the float once at the end.
    "a15_corr" -> ((s, d) => {
      import org.apache.spark.sql.types.DecimalType
      val dec = DecimalType(38, 0)
      val cents = lineitem(s, d).select(
        col("l_returnflag"),
        round(col("l_quantity") * 100).cast("long").as("qx"),
        round(col("l_extendedprice") * 100).cast("long").as("px"))
      val m = cents.groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("qx")).as("sx"), sum(col("px")).as("sy"),
          sum(col("qx").cast(dec) * col("px")).as("sxy"),
          sum(col("qx").cast(dec) * col("qx")).as("sxx"),
          sum(col("px").cast(dec) * col("px")).as("syy"))
      m.select(
        col("l_returnflag"), col("n"),
        round(
          (col("n") * col("sxy") - col("sx").cast(dec) * col("sy")).cast("double") /
            (sqrt((col("n") * col("sxx") - col("sx").cast(dec) * col("sx")).cast("double")) *
              sqrt((col("n") * col("syy") - col("sy").cast(dec) * col("sy")).cast("double"))),
          6).as("corr_qty_price"))
    }),

    // J8 at scale: the per-series as-of interpolation. The global-curve
    // variant (j8_interpolate_asof) mirrors the reference's per-file pTIC
    // and sorts one merged stream; THIS is the shape a 1000-executor
    // cluster runs — every window keyed by the series (user), so the sort
    // shards per key and no task ever sees more than one series' rows.
    "j8b_interpolate_per_series" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ev = events(s, d)
      val curve = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), unix_micros(col("ts")).as("us"))
        .agg(min(col("value")).as("v"))
        .select(col("user_id"), col("us"), col("v"),
          lit(null).cast("long").as("event_id"), lit(0).as("is_probe"))
      val probes = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("us"),
          lit(null).cast("double").as("v"), col("event_id"), lit(1).as("is_probe"))
      val merged = curve.unionByName(probes)
      val wFwd = Window.partitionBy(col("user_id")).orderBy(col("us"), col("is_probe"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val wBwd = Window.partitionBy(col("user_id")).orderBy(col("us").desc, col("is_probe").desc)
        .rowsBetween(Window.unboundedPreceding, 0)
      merged
        .withColumn("prev_v", last(col("v"), ignoreNulls = true).over(wFwd))
        .withColumn("prev_us",
          last(when(col("is_probe") === 0, col("us")), ignoreNulls = true).over(wFwd))
        .withColumn("next_v", last(col("v"), ignoreNulls = true).over(wBwd))
        .withColumn("next_us",
          last(when(col("is_probe") === 0, col("us")), ignoreNulls = true).over(wBwd))
        .filter(col("is_probe") === 1)
        .select(
          col("event_id"),
          round(
            when(col("prev_us").isNull, col("next_v"))
              .when(col("next_us").isNull, col("prev_v"))
              .otherwise(col("prev_v") +
                (col("next_v") - col("prev_v")) * (col("us") - col("prev_us")) /
                  (col("next_us") - col("prev_us"))), 6).as("interp_value"))
    }),

    // Multimodal frame sampling: every k-th frame index of each media
    // payload, exploded to one row per sampled frame — the batch shape of a
    // video pipeline (decode replaced by a deterministic frame count so the
    // oracle can reproduce it; the real decode slots into the same plan).
    "mm_frame_sample" -> ((s, d) => {
      fanOut(documents(s, d), s)
        .select(col("doc_id"), col("text").cast("binary").as("media"))
        .select(col("doc_id"),
          (lit(1) + pmod(length(col("media")), lit(240))).as("n_frames"))
        .select(col("doc_id"), col("n_frames"),
          explode(sequence(lit(0), col("n_frames") - 1, lit(10))).as("frame_idx"))
    }),

    // REAL multimodal decode (graft.ops.MediaCodec): 120 synthesized
    // PNG/BMP/WAV payloads decoded with JDK-only codecs per partition —
    // magic sniffed, pixels/samples folded to a position-weighted
    // checksum. Fixture content is arithmetic in media_id, so the oracle
    // is the generator's closed form as a VALUES literal: the engine must
    // actually decode every payload back to exactly that arithmetic.
    "mm_decode_meta" -> ((s, d) =>
      graft.ops.Multimodal.decodedFixtures(s, 120)),

    // The same decode over a REAL `media BINARY` parquet column: payloads
    // staged at "ingest" (8 part files), decoded from the columnar scan in
    // one pipelined stage — the 100-TB media-lake shape, with the
    // generator removed from the read path. Same closed-form oracle as
    // mm_decode_meta; what this row adds is the binary-column I/O
    // end-to-end.
    "mm_decode_scan" -> ((s, d) =>
      graft.ops.Multimodal.decodedScan(s, 120)),

    // IMAGE near-dup detection — the dedup family crossed into the
    // multimodal lake: every image payload is decoded and reduced to a
    // 64-bit DCT perceptual fingerprint (32×32 luma grid → fixed-point
    // DCT-II → 8×8 low-frequency block thresholded at the AC median —
    // the REAL pHash), the hashes are banded 4×16 bits (SimHash's
    // pigeonhole: a Hamming ≤ 6 pair must agree on ≥1 band unless its
    // differing bits spread 4-wide), in-bucket pairs are verified by
    // exact Hamming distance, and pairs at ≤ 6 emit. The fixture plants
    // exact duplicate uploads (media_id + 1000, same payload) which MUST
    // surface at Hamming 0; DuckDB replays hash + banding + Hamming from
    // the generator's closed-form pHash — the engine can only match by
    // really decoding and hashing every image.
    "mm_phash_dedup" -> ((s, d) =>
      bandedHammingPairs(
        graft.ops.Multimodal.imageHashes(s, 120)
          .select(col("media_id"), col("phash").as("hv")))),

    // AUDIO near-dup detection — mm_phash_dedup's audio twin, closing the
    // mm family's fingerprint gap: every WAV payload decodes to a 64-bit
    // peak-anchored sign-of-energy-delta fingerprint (Haitsma-Kalker
    // reduced to one sub-fingerprint; MediaCodec.audioFpOf documents why
    // each piece buys shift/requantization robustness), then the SAME
    // 4×16 banding + exact-Hamming verify as the image path. The fixture
    // plants the two edits a re-upload actually makes: TIME-SHIFTED
    // copies (leading silence, media_id + 1000) which must surface at
    // Hamming 0 (the peak anchor cancels the re-index), and REQUANTIZED
    // copies (low bit cleared, media_id + 2000) which surface within the
    // Hamming budget (sign-of-delta flips only near-ties). DuckDB
    // replays fingerprint + banding + Hamming from the generator's
    // closed form — matching requires really decoding every clip.
    "mm_audio_dedup" -> ((s, d) =>
      bandedHammingPairs(
        graft.ops.Multimodal.audioHashes(s, 120)
          .select(col("media_id"), col("afp").as("hv")))),

    // MULTIMODAL contamination gate — stream_contam_gate's media twin:
    // arriving payloads decode IN-STREAM to kind-routed perceptual
    // fingerprints (pHash / energy-delta) whose 4×16 bands probe the
    // eval media set's band literal; any overlap routes the arrival to
    // the contam sink. The fixture's planted time-shifted re-uploads
    // share ZERO bytes with their eval originals yet fingerprint
    // identically — the gate refuses them at arrival where a byte-hash
    // gate would wave them through. Audit hash-matches DuckDB replaying
    // fingerprints (closed forms), banding, and verdicts. See
    // streaming/MediaContamGate.
    "mm_contam_gate" -> ((s, d) =>
      graft.streaming.MediaContamGate.audit(s, d)),

    // The HASH-SCHEME audit — measure, don't guess, for the image dedup:
    // aHash (global-mean threshold) vs dHash (horizontal gradient
    // direction) vs DCT pHash (spectral median) over the identical
    // banding + Hamming ≤ 6 pipeline, on TWO corpora. On the linear-ramp
    // corpus the textbook prediction REVERSES: the horizontal gradient
    // direction is globally constant, so dHash degenerates to
    // near-constant codes and floods false pairs, while aHash still sees
    // the id-dependent mod-256 wrap positions. The textured corpus
    // (quadratic + cross-term pixels) is where the schemes actually
    // discriminate — gradient direction varies cell to cell and each
    // scheme's collision rate reflects its real selectivity. The
    // textbook intuition assumes natural images; on structured content
    // you must audit the scheme against YOUR corpus — which is exactly
    // what this 6-row table is. Planted duplicate uploads stay at 100%
    // recall under every scheme on both corpora (8 image pairs on ramp,
    // 12 on textured — spec-pinned).
    "mm_hash_scheme_audit" -> ((s, d) => {
      def auditRows(corpus: String, hs: DataFrame): DataFrame = {
        def row(scheme: String): DataFrame =
          bandedHammingPairs(hs.select(col("media_id"), col(scheme).as("hv")))
            .agg(
              count(lit(1)).as("n_pairs"),
              coalesce(sum(when(col("hamming") === 0, 1L)), lit(0L)).as("n_hamming0"),
              coalesce(sum(when(col("hamming") === 0 &&
                col("id_b") === col("id_a") + 1000, 1L)), lit(0L)).as("n_planted"))
            .select(lit(corpus).as("corpus"), lit(scheme).as("scheme"),
              col("n_pairs"), col("n_hamming0"), col("n_planted"))
        row("ahash").unionAll(row("dhash")).unionAll(row("phash"))
      }
      auditRows("ramp", graft.ops.Multimodal.perceptualHashes(s, 120))
        .unionAll(auditRows("textured", graft.ops.Multimodal.texturedHashes(s, 120)))
    }),

    // Image feature-extract: decode + nearest-neighbor resize to 12×8 per
    // partition; WAV rows route out of the image path (the mixed-modality
    // table shape). Every output pixel is an exact copy of one input
    // pixel, so the resized checksum replays in closed form.
    "mm_image_resize" -> ((s, d) =>
      graft.ops.Multimodal.resizedFixtures(s, 120, 12, 8)),

    // Audio feature-extract: 80-sample (10 ms @ 8 kHz) frame energies +
    // zero crossings, all integer arithmetic — the VAD/loudness front-end
    // of an audio pipeline over the decoded PCM.
    "mm_audio_features" -> ((s, d) =>
      graft.ops.Multimodal.audioFixtures(s, 120, 80)),

    // Stream-stream interval join: purchases ⋈ the same user's views from
    // the preceding 30 minutes, both sides watermarked so the state store
    // evicts rows once the event-time range can no longer match (the
    // condition bounds BOTH time columns — without that, stream-stream join
    // state grows forever). Inner join + finite input ⇒ output equals the
    // batch range join, which is the oracle. NOTE: that equivalence assumes
    // the single-file test input lands in ONE micro-batch; a multi-file
    // dataset processed across micro-batches could evict join state at the
    // 30-minute watermark and drop late cross-batch matches the batch
    // oracle keeps — the price of bounded state on an unbounded stream.
    "stream_join" -> ((s, d) => withShufflePartitions(s, 4) {
      val schema = s.read.parquet(s"$d/events.parquet").schema
      def src = s.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(d)
        .transform(graft.tables.Tables.toEventTime(_, "ts"))
      val views = src.filter(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("ts").as("vts"), col("value").as("v_value"))
        .withWatermark("vts", "30 minutes")
      val purchases = src.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts").as("pts"))
        .withWatermark("pts", "30 minutes")
      graft.streaming.Drain.toMemory(s, "stream_join",
        purchases.join(views,
            col("user_id") === col("v_user") &&
              col("vts") >= col("pts") - expr("interval 30 minutes") &&
              col("vts") <= col("pts"))
          .select(
            col("event_id"),
            unix_micros(col("vts")).as("view_us"),
            col("v_value")))
    }),

    // Reproducible stratified sampling: ~10% of every source, chosen by a
    // content-independent md5-derived hash of the key — the split is stable
    // across engines, re-runs, and repartitioning (no rand() anywhere),
    // which is what makes a training-data sample auditable.
    "sample_stratified" -> ((s, d) => {
      val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long") % 100
      documents(s, d)
        .filter(bucket < 10)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_sampled"), min(col("doc_id")).as("min_doc"))
    }),

    // Deterministic fixed-k per-stratum sample (a "frozen reservoir"): the
    // k smallest md5-ranks per language. Unlike the Bernoulli stratified
    // sample above (rate × N_g rows, variance included), this yields
    // EXACTLY min(k, N_g) rows per group whatever the group sizes — the
    // eval-set construction shape — and the md5 rank makes the choice
    // reproducible across engines, runs, and partitionings. rank-then-
    // filter over the keyed window compiles to WindowGroupLimit: each map
    // partition keeps only its local top-k BEFORE the group shuffle, so
    // the full corpus is never sorted (plan-pinned in PlanSpec).
    "sample_reservoir" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("lang"))
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      documents(s, d).select(col("doc_id"), col("lang"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 100)
    }),

    // Deterministic train/val/test split (80/10/10) by the same hash
    // family: every engine and every run assigns each doc to the same
    // split. Output is the per-(source, split) contingency table.
    "sample_split" -> ((s, d) => {
      val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long") % 10
      documents(s, d)
        .select(col("doc_id"), col("source"),
          when(bucket < 8, "train").when(bucket === 8, "val").otherwise("test")
            .as("split"))
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n"))
    }),

    // Streaming exact dedup: dropDuplicates with keyed state over a file
    // stream, drained with AvailableNow — the streaming twin of `SELECT
    // DISTINCT`. On an unbounded stream the same plan runs with
    // dropDuplicatesWithinWatermark to bound the state store; the finite
    // oracle check needs the unbounded-state variant (nothing may be
    // forgotten mid-run).
    "stream_dedup" -> ((s, d) => withShufflePartitions(s, 4) {
      val schema = s.read.parquet(s"$d/events.parquet").schema
      graft.streaming.Drain.toMemory(s, "stream_dedup",
        s.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet")
          .parquet(d)
          .select(col("user_id"), col("event_type"))
          .dropDuplicates("user_id", "event_type"))
    }),

    // A18: winsorized mean — the robust-mean gate every corpus-stats stage
    // runs before trusting an average (one wild document length or price
    // otherwise owns the mean). Per-group p05/p95 come from the same exact
    // interpolated percentile as a13 (bounded per-group buffers — the 100 TB
    // path swaps in approx_percentile, a13b), round to an INTEGER cent
    // boundary, and the clip + sum then run entirely in long cents: the
    // aggregate is addition-order-free, so the mean hash-matches at any
    // partitioning. One percentile pass + one broadcast-annotated clip pass.
    "a18_winsorize" -> ((s, d) => {
      val li = fanOut(lineitem(s, d), s, partitions = 8)
        .select(col("l_returnflag"),
          round(col("l_extendedprice") * 100).cast("long").as("pc"))
      val bounds = li
        .groupBy(col("l_returnflag"))
        .agg(expr("percentile(pc, array(0.05D, 0.95D))").as("ps"))
        .select(col("l_returnflag"),
          round(element_at(col("ps"), 1)).cast("long").as("lo_c"),
          round(element_at(col("ps"), 2)).cast("long").as("hi_c"))
      li.join(broadcast(bounds), "l_returnflag")
        .select(col("l_returnflag"), col("lo_c"), col("hi_c"), col("pc"),
          greatest(col("lo_c"), least(col("hi_c"), col("pc"))).as("wc"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          max(col("lo_c")).as("loc"), max(col("hi_c")).as("hic"),
          sum(col("pc")).as("spc"), sum(col("wc")).as("swc"))
        .select(col("l_returnflag"),
          (col("loc") / 100.0).as("p05"), (col("hic") / 100.0).as("p95"),
          col("n"),
          round(col("spc") / 100.0 / col("n"), 4).as("raw_mean"),
          round(col("swc") / 100.0 / col("n"), 4).as("winsor_mean"))
    }),

    // A19: median/MAD outlier gate — the robust-z-score anomaly detector
    // (median absolute deviation is breakdown-50% where stddev is 0%).
    // Exact MAD is inherently two DEPENDENT quantile passes (the deviation
    // needs the median first); both run the a13 percentile shape with the
    // |groups|-row result broadcast back, and the final count compares
    // doubles both engines derive from identical inputs with identical
    // operations, so the strict `>` boundary cannot diverge. 100 TB path:
    // approx_percentile for both passes (a13b's sketch), same plan shape.
    "a19_mad_outliers" -> ((s, d) => {
      // Examined r14: the 50 shuffle-MB is the percentile aggregations'
      // own partial value buffers across MAD's two-level floor (median →
      // deviations → MAD + outlier count) — three DISTINCT aggregation
      // exchanges, not a repeated scan exchange (fanOut never repartitions
      // the multi-file lineitem), so an a13c-style shared checkpoint
      // showed zero delta (jobs/shuffle/wall identical) and was dropped.
      val li = fanOut(lineitem(s, d), s, partitions = 8)
        .select(col("l_returnflag"), col("l_extendedprice"))
      val med = li.groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_extendedprice, 0.5D)").as("med"))
      val dev = li.join(broadcast(med), "l_returnflag")
        .withColumn("adev", abs(col("l_extendedprice") - col("med")))
      val mad = dev.groupBy(col("l_returnflag"))
        .agg(max(col("med")).as("med"),
          expr("percentile(adev, 0.5D)").as("mad"))
      dev.select(col("l_returnflag"), col("adev"))
        .join(broadcast(mad), "l_returnflag")
        .groupBy(col("l_returnflag"))
        .agg(round(max(col("med")), 4).as("median"),
          round(max(col("mad")), 4).as("mad"),
          count(lit(1)).as("n"),
          sum(when(col("adev") > lit(3.0) * col("mad"), 1L).otherwise(0L))
            .as("n_outliers"))
    }),

    // O5: Pareto front (skyline) over (price, recency) — the classic
    // "best tradeoff set" operator: keep an order iff NO other order has
    // totalprice ≥ AND orderdate ≥ with at least one strict (duplicate
    // (price, date) points keep the lowest orderkey — the scan rule makes
    // that dedup explicit). Two-phase so no corpus-sized frame ever crosses
    // one task: phase 1 computes a LOCAL skyline per hash bucket with a
    // KEYED window (domination inside a bucket implies global domination,
    // so the filter is safe); phase 2 runs the same scan globally over the
    // bucket survivors — expected O(buckets · log n) rows for independent
    // dims (measured: 206 of 15 000 at sf0.01), declared in PlanSpec's
    // tiny-frame allowlist. All comparisons in integer cents/micros.
    "o5_pareto" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val o = orders(s, d).select(col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("pc"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("dt"))
      def front(df: DataFrame, w: org.apache.spark.sql.expressions.WindowSpec) =
        df.withColumn("mx",
            max(col("dt")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
          .filter(col("mx").isNull || col("mx") < col("dt"))
          .drop("mx")
      val local = front(
        o.withColumn("b", pmod(xxhash64(col("o_orderkey")), lit(32))),
        Window.partitionBy(col("b"))
          .orderBy(col("pc").desc, col("dt").desc, col("o_orderkey")))
      front(local.select(col("o_orderkey"), col("pc"), col("dt")),
          Window.orderBy(col("pc").desc, col("dt").desc, col("o_orderkey")))
        .select(col("o_orderkey"), (col("pc") / 100.0).as("o_totalprice"),
          col("dt").as("order_micros"))
    }),

    // Weighted sample without replacement: k docs per language with
    // selection bias ∝ n_chars, via the u/w priority rule (the
    // integer-exact cousin of Efraimidis–Spirakis A-ES: rank by
    // hash64(id) div weight ascending — a doc with 2× the weight halves
    // its priority, and everything stays in BIGINT so every engine, run,
    // and partitioning draws the IDENTICAL sample). Same
    // WindowGroupLimit compilation as sample_reservoir: each map
    // partition keeps its local top-k before the per-language shuffle.
    "sample_weighted" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val h = conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long")
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("pri"), col("doc_id"))
      documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"), h.as("h"))
        .withColumn("pri", expr("h div n_chars"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 25)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("rk"))
    }),

    // A20: exact distributed least squares (price ~ quantity per flag) —
    // a15_corr's moment discipline extended to the regression closed form:
    // slope = (nΣxy − ΣxΣy)/(nΣxx − Σx²), intercept = (Σy − slope·Σx)/n.
    // The five moments ship as the same mergeable BIGINT/DECIMAL(38,0)
    // partials (exact at any N, any partitioning); the division forms the
    // float ONCE at the end from integers both engines agree on. Slope is
    // scale-invariant (cents/cents); the intercept converts back to
    // dollars once.
    "a20_linreg" -> ((s, d) => {
      import org.apache.spark.sql.types.DecimalType
      val dec = DecimalType(38, 0)
      val cents = lineitem(s, d).select(
        col("l_returnflag"),
        round(col("l_quantity") * 100).cast("long").as("qx"),
        round(col("l_extendedprice") * 100).cast("long").as("px"))
      val m = cents.groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("qx")).as("sx"), sum(col("px")).as("sy"),
          sum(col("qx").cast(dec) * col("px")).as("sxy"),
          sum(col("qx").cast(dec) * col("qx")).as("sxx"))
      m.select(col("l_returnflag"), col("n"), col("sx"), col("sy"),
          ((col("n") * col("sxy") - col("sx").cast(dec) * col("sy")).cast("double") /
            (col("n") * col("sxx") - col("sx").cast(dec) * col("sx")).cast("double"))
            .as("slope"))
        .select(col("l_returnflag"), col("n"),
          round(col("slope"), 6).as("slope"),
          round((col("sy") / col("n") - col("slope") * (col("sx") / col("n"))) / 100.0, 4)
            .as("intercept"))
    }),

    // Degree histogram of the near-dup graph — the structural profile next
    // to pagerank/triangles: how many documents have 1, 2, … near-dup
    // neighbors (a fat tail here means boilerplate clusters the pair
    // threshold is missing). Reads the session-shared pair frame; two
    // keyed aggregations; output bounded by the max degree.
    "graph_degree_stats" -> ((s, d) => {
      val p = TextOps.minhashPairsShared(s, d)
      val deg = p.select(col("da").as("node"))
        .union(p.select(col("db").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("degree"))
      deg.groupBy(col("degree"))
        .agg(count(lit(1)).as("n_nodes"), min(col("node")).as("min_node"))
    }),

    // K-ANONYMITY audit — the privacy gate run before a corpus (or its
    // metadata) is released or shared: every combination of
    // quasi-identifiers here (lang, source, length bucket — the columns
    // that survive "anonymization" and can be joined against external
    // data) must describe at least k=5 documents, or the group's members
    // are re-identifiable by intersection. Output is the per-group census
    // with the k verdict and the group's share of the corpus — the table
    // a release review reads top-to-bottom, generalizing or suppressing
    // the failing rows. One scan, one bounded keyed aggregation
    // (|langs| × |sources| × length buckets), corpus total as a 1-row
    // scalar annotate (the text_heavy_hitters shape).
    "diag_k_anonymity" -> ((s, d) => {
      val g = documents(s, d).select(col("lang"), col("source"),
        expr("n_chars div 500").as("len_bucket"))
        .groupBy(col("lang"), col("source"), col("len_bucket"))
        .agg(count(lit(1)).as("n"))
      val tot = g.agg(sum(col("n")).as("n_total"))
      g.crossJoin(broadcast(tot))
        .select(col("lang"), col("source"), col("len_bucket"), col("n"),
          (col("n") >= 5).as("k_anonymous"),
          round(col("n") / col("n_total"), 6).as("share"))
    }),

    // L-DIVERSITY audit — k-anonymity's necessary companion (Machanavajjhala
    // et al. 2007): a group can hold k=5+ documents and STILL leak if they
    // all share the sensitive value (the homogeneity attack — "I don't know
    // which row is yours, but they're all Russian"). Quasi-identifiers are
    // the k-anonymity audit's release columns minus the sensitive one
    // (source, length bucket); the sensitive attribute is lang. Per
    // equivalence class: size, the number of DISTINCT sensitive values
    // (distinct l-diversity), the majority value and its share — the row a
    // release review reads to decide between suppressing the class and
    // generalizing the bucket. Verdict at l ≥ 3. Same scale shape as the
    // k-audit: one scan, one keyed agg bounded by |sources| × buckets ×
    // |langs|, then a second bounded agg over the census itself.
    "diag_l_diversity" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val cls = documents(s, d).select(col("source"),
        expr("n_chars div 500").as("len_bucket"), col("lang"))
        .groupBy(col("source"), col("len_bucket"), col("lang"))
        .agg(count(lit(1)).as("nv"))
      val wTop = Window.partitionBy(col("source"), col("len_bucket"))
        .orderBy(col("nv").desc, col("lang"))
      cls.withColumn("rk", row_number().over(wTop))
        .groupBy(col("source"), col("len_bucket"))
        .agg(sum(col("nv")).as("n"),
          count(lit(1)).as("l_distinct"),
          max(when(col("rk") === 1, col("lang"))).as("top_lang"),
          max(when(col("rk") === 1, col("nv"))).as("top_n"))
        .select(col("source"), col("len_bucket"), col("n"), col("l_distinct"),
          col("top_lang"), col("top_n"),
          round(col("top_n") / col("n"), 6).as("top_share"),
          (col("l_distinct") >= 3).as("l_diverse"))
    }),

    // POPULATION STABILITY INDEX between two ingest slices — the standard
    // ML-ops distribution-drift metric (PSI = Σ_bins (p−q)·ln(p/q)) next
    // to emb_drift's vector-mean alarm: PSI catches SHAPE changes a mean
    // can't (a variance blow-up, a bimodal split) on any scalar column.
    // Slices are the event_id parity split; the odd slice carries a
    // PLANTED 1.5× scale-up on purchase values so the alarm demonstrably
    // fires while the other event types pin the stable path. Mechanics
    // chosen for exactness and scale: 20 fixed-width value bins with
    // Laplace (+1) smoothing over the full bin spine (an empty bin still
    // contributes its smoothed term); each bin's term is computed in
    // identical double arithmetic in both engines, rounded to integer
    // NANO-units, and summed as longs — the text_bigram_logprob trick
    // that makes a float reduction addition-order-free. One scan, one
    // keyed aggregation; the verdict (PSI > 0.1, the industry rule of
    // thumb) is an integer comparison.
    "diag_psi_drift" -> ((s, d) => {
      val ev = fanOut(events(s, d), s)
        .withColumn("grp", (col("event_id") % 2).cast("int"))
        .withColumn("v", when(col("grp") === 1 && col("event_type") === "purchase",
          col("value") * 1.5).otherwise(col("value")))
        .withColumn("b", least(lit(19L), floor(col("v") / 25).cast("long")))
      val counts = ev.groupBy(col("event_type"), col("b"))
        .agg(sum(when(col("grp") === 0, 1L).otherwise(0L)).as("ca"),
          sum(when(col("grp") === 1, 1L).otherwise(0L)).as("cb"))
      val tot = ev.groupBy(col("event_type"))
        .agg(sum(when(col("grp") === 0, 1L).otherwise(0L)).as("na"),
          sum(when(col("grp") === 1, 1L).otherwise(0L)).as("nb"))
      val spine = tot.select(col("event_type"), col("na"), col("nb"),
        explode(sequence(lit(0L), lit(19L))).as("b"))
      val terms = spine.join(counts, Seq("event_type", "b"), "left")
        .withColumn("p",
          (coalesce(col("ca"), lit(0L)) + 1).cast("double") / (col("na") + 20))
        .withColumn("q",
          (coalesce(col("cb"), lit(0L)) + 1).cast("double") / (col("nb") + 20))
        .withColumn("term_nano",
          round((col("p") - col("q")) * log(col("p") / col("q")) * 1e9).cast("long"))
      terms.groupBy(col("event_type"))
        .agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
          sum(col("term_nano")).as("psi_nano"))
        .select(col("event_type"), col("n_a"), col("n_b"),
          round(col("psi_nano").cast("double") / 1e9, 6).as("psi"),
          (col("psi_nano") > 100000000L).as("drifted"))
    }),

    // Data-quality column profiler — the per-column audit a pipeline runs
    // before trusting a new drop of data: null/blank counts, distinct
    // cardinality, value-length extrema, for every column in one pass.
    // stack() unpivots (6 columns → 6 rows per input row) map-side, so the
    // single shuffle carries (col_name)-keyed partial aggregates — never a
    // per-column scan. Non-string values stringify through deterministic
    // integer forms (cents, epoch micros): a raw double/timestamp cast
    // differs between engines, an integer never does.
    "diag_column_profile" -> ((s, d) => {
      val unpivoted = orders(s, d).select(expr(
        """stack(6,
           'o_orderkey', CAST(o_orderkey AS STRING),
           'o_custkey', CAST(o_custkey AS STRING),
           'o_orderstatus', o_orderstatus,
           'o_totalprice', CAST(CAST(round(o_totalprice * 100) AS LONG) AS STRING),
           'o_orderdate', CAST(unix_micros(CAST(o_orderdate AS TIMESTAMP)) AS STRING),
           'o_orderpriority', o_orderpriority) AS (col_name, val)"""))
      unpivoted.groupBy(col("col_name")).agg(
        count(lit(1)).as("n"),
        sum(when(col("val").isNull, 1L).otherwise(0L)).as("n_null"),
        sum(when(trim(coalesce(col("val"), lit(""))) === "", 1L).otherwise(0L))
          .as("n_blank"),
        countDistinct(col("val")).as("n_distinct"),
        min(length(col("val"))).as("min_len"),
        max(length(col("val"))).as("max_len"))
    }),

    // A21: two-level sketch rollup — the incremental-aggregation pattern a
    // 100 TB pipeline runs instead of re-scanning history: per-day HLL
    // sketches of the distinct-user set are built ONCE (Datasketches HLL,
    // lgConfigK=12 — a fixed-size binary, mergeable by construction), and
    // weekly distinct counts come from UNION-MERGING the 7 daily sketches,
    // never from a second pass over the raw events. This is the pattern
    // that turns a daily ETL into an incremental one: yesterday's sketches
    // are immutable artifacts, today's rollup unions them. Weeks key on
    // epoch_day div 7 (no calendar lookup). Oracle = the a6b accuracy
    // contract: every weekly estimate within 5% of exact (3× the ~1.6%
    // rsd of 2^12 buckets); the exact side exists only to audit.
    "a21_hll_partial_merge" -> ((s, d) => {
      val ev = events(s, d)
        .select(col("user_id"),
          expr("datediff(to_date(ts), date'1970-01-01') div 7").as("week"),
          to_date(col("ts")).as("day"))
      val daily = ev.groupBy(col("week"), col("day"))
        .agg(expr("hll_sketch_agg(user_id, 12)").as("sk"))
      val weekly = daily.groupBy(col("week"))
        .agg(count(lit(1)).as("n_days"),
          expr("hll_sketch_estimate(hll_union_agg(sk, false))").as("approx"))
      val exact = ev.groupBy(col("week"))
        .agg(countDistinct(col("user_id")).as("exact"))
      weekly.join(exact, "week").select(
        col("week").cast("long").as("week"), col("n_days"),
        (abs(col("approx") - col("exact")).cast("double") / col("exact") <= 0.05)
          .as("within_5pct"))
    }),

    // Balanced shard assignment — the training-data writer's last step:
    // deal documents into 8 output shards so each shard carries a near-
    // equal byte load. Longest-first round-robin WITHIN each language
    // (rank by n_chars desc inside a lang-keyed window, shard = rank % 8)
    // approximates LPT bin packing without any sequential greedy state:
    // every window is sharded by language, so no task ever sorts more than
    // one language's rows and the assignment is reproducible across
    // engines, runs, and partitioning. Output is the 8-row shard manifest
    // a writer would use to audit balance before the final write.
    "sample_shard_assign" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("n_chars").desc, col("doc_id"))
      documents(s, d)
        .withColumn("shard", (row_number().over(w) - 1) % 8)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          countDistinct(col("lang")).as("n_langs"),
          min(col("doc_id")).as("min_doc"))
    }),

    // Contrastive training triplets — the dataset-construction op behind
    // embedding-model training: every 10th document becomes an anchor
    // paired with a deterministic same-source POSITIVE (its cyclic
    // successor in the source's md5 shuffle order) and a cross-source
    // NEGATIVE (the same-rank document of the cyclically next source).
    // No RNG state and no pair explosion: one source-keyed window ranks
    // the corpus once, the source index/size table is |sources|-bounded
    // and broadcast, and positives/negatives attach by two equi joins on
    // (source, rank) — reproducible across engines, runs, and
    // partitioning like every sampler in this family.
    "sample_balanced_pairs" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("source"))
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      val ranked = documents(s, d)
        .select(col("doc_id"), col("source"))
        .withColumn("rk", row_number().over(w))
      val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val idx = ranked.groupBy(col("source")).agg(max(col("rk")).as("sz"))
        .withColumn("si", row_number().over(Window.orderBy(col("source"))))
        .withColumn("k", count(lit(1)).over(wAll))
      val nextSrc = idx.select(col("si").as("nsi"),
        col("source").as("neg_source"), col("sz").as("neg_sz"))
      val withNext = idx
        .select(col("source"), col("sz"), (col("si") % col("k") + 1).as("nsi"))
        .join(nextSrc, "nsi")
      val anchors = ranked.filter(col("doc_id") % 10 === 0)
        .join(broadcast(withNext), "source")
        .filter(col("sz") > 1) // a 1-doc source has no distinct positive
        .withColumn("prk", col("rk") % col("sz") + 1)
        .withColumn("nrk", (col("rk") - 1) % col("neg_sz") + 1)
      val pos = ranked.select(col("source"), col("rk").as("prk"),
        col("doc_id").as("positive_id"))
      val neg = ranked.select(col("source").as("neg_source"), col("rk").as("nrk"),
        col("doc_id").as("negative_id"))
      anchors
        .join(pos, Seq("source", "prk"))
        .join(neg, Seq("neg_source", "nrk"))
        .select(col("doc_id").as("anchor_id"), col("source").as("anchor_source"),
          col("positive_id"), col("negative_id"),
          col("neg_source").as("negative_source"))
    }),

    // Reproducible per-epoch shuffle — the data-loader contract that
    // every epoch visits the corpus in a DIFFERENT but fully
    // deterministic order (md5(epoch || '_' || doc_id) is the sort key a
    // real loader feeds to repartitionByRange; no RNG state, so any
    // worker/engine reproduces the same order). Verified output stays
    // bounded at any scale: per epoch the first 5 docs in shuffle order
    // (WindowGroupLimit prunes the top-5 map-side — never a global
    // sort), an order-free integer fingerprint XOR key24·doc_id38 that
    // flips if ANY doc's key changes (epoch-sensitivity proof), and the
    // count. bit_xor, not sum: a sum wraps silently in Spark longs but
    // errors in DuckDB's HUGEINT→BIGINT cast once the corpus is big
    // enough, so the engines would diverge exactly when it matters; XOR
    // never leaves 62 bits (24-bit key × 38-bit-masked doc_id), so the
    // fingerprint is overflow-free by construction at any corpus size.
    "sample_epoch_order" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val keyed = documents(s, d)
        .select(col("doc_id"), explode(sequence(lit(0), lit(2))).as("epoch"))
        .withColumn("k", md5(concat(
          col("epoch").cast("string"), lit("_"), col("doc_id").cast("string"))))
      val w = Window.partitionBy(col("epoch")).orderBy(col("k"), col("doc_id"))
      val head = keyed.withColumn("r", row_number().over(w)).filter(col("r") <= 5)
        .groupBy(col("epoch"))
        .agg(concat_ws(",",
          transform(array_sort(collect_list(struct(col("r"), col("doc_id")))),
            x => x.getField("doc_id").cast("string"))).as("head_docs"))
      val fp = keyed.groupBy(col("epoch"))
        .agg(count(lit(1)).as("n_docs"),
          bit_xor(conv(substring(col("k"), 1, 6), 16, 10).cast("long") *
              col("doc_id").bitwiseAND(lit((1L << 38) - 1)))
            .as("order_fp"))
      fp.join(head, Seq("epoch"))
        .select(col("epoch").cast("int").as("epoch"),
          col("n_docs"), col("order_fp"), col("head_docs"))
    }),

    // Declarative data-quality expectations (the dbt-test / Great
    // Expectations surface): one row per named check with its violation
    // count and verdict. The per-ROW predicates (range, accepted values,
    // non-blank, non-null) fold into ONE conditional-sum scan per table —
    // adding a check to a table costs an expression, never a pass — and
    // only the two checks that are genuinely relational (key uniqueness,
    // referential integrity) pay a shuffle: a keyed dup-count and a
    // LEFT ANTI probe of orders against the broadcast customer dim. The
    // verdict rows union into one bounded table; at 100 TB the suite's
    // cost is one scan per fact table plus those two keyed steps, which
    // is what lets a pipeline run its expectations on EVERY load instead
    // of sampling.
    "diag_expectations" -> ((s, d) => {
      def chk(name: String, tbl: String, sev: String,
          v: org.apache.spark.sql.Column) =
        struct(lit(name).as("check_name"), lit(tbl).as("tbl"),
          lit(sev).as("severity"), v.as("n_violations"))
      val li = lineitem(s, d).agg(
        sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1L).otherwise(0L))
          .as("qty"),
        sum(when(!col("l_returnflag").isin("A", "N", "R"), 1L).otherwise(0L))
          .as("flag"))
        .select(explode(array(
          chk("l_quantity_in_1_50", "lineitem", "error", col("qty")),
          chk("l_returnflag_accepted", "lineitem", "error", col("flag")))).as("c"))
        .select(col("c.*"))
      // the two length gates fire on real rows at every test scale (docs
      // run 47..560 chars), so the documents table demonstrably carries
      // BOTH severities: the hard floor (error — excluded from the gated
      // train mix) and the advisory floor (warn — kept but counted)
      val doc = documents(s, d).agg(
        sum(when(col("text").isNull || trim(col("text")) === "", 1L).otherwise(0L))
          .as("blank"),
        sum(when(col("n_chars") =!= length(col("text")), 1L).otherwise(0L))
          .as("len"),
        sum(when(col("n_chars") < 60, 1L).otherwise(0L)).as("floor60"),
        sum(when(col("n_chars") < 100, 1L).otherwise(0L)).as("floor100"))
        .select(explode(array(
          chk("text_nonblank", "documents", "error", col("blank")),
          chk("n_chars_consistent", "documents", "error", col("len")),
          chk("text_len_ge_60", "documents", "error", col("floor60")),
          chk("text_len_ge_100", "documents", "warn", col("floor100")))).as("c"))
        .select(col("c.*"))
      val dup = orders(s, d).groupBy(col("o_orderkey")).agg(count(lit(1)).as("n"))
        .agg(coalesce(sum(when(col("n") > 1L, col("n") - 1L)), lit(0L)).as("v"))
        .select(chk("o_orderkey_unique", "orders", "error", col("v")).as("c"))
        .select(col("c.*"))
      val orphans = orders(s, d)
        .join(broadcast(customer(s, d)),
          col("o_custkey") === col("c_custkey"), "left_anti")
        .agg(count(lit(1)).as("v"))
        .select(chk("o_custkey_refs_customer", "orders", "error", col("v")).as("c"))
        .select(col("c.*"))
      // a deliberately-failing expectation (values above 450 exist), so the
      // suite's output demonstrably carries BOTH verdicts and the counting
      // path is proven live, not vacuously zero. Severity 'warn': a warn
      // check reports and quarantines but would not fail the load — the
      // dbt-severity contract the quarantine twin below routes by.
      val ev = events(s, d).agg(
        sum(when(col("value").isNull || col("value") > 450.0, 1L).otherwise(0L))
          .as("v"))
        .select(chk("value_le_450", "events", "warn", col("v")).as("c"))
        .select(col("c.*"))
      li.unionByName(doc).unionByName(dup).unionByName(orphans).unionByName(ev)
        .select(col("check_name"), col("tbl"), col("severity"),
          col("n_violations"), (col("n_violations") === 0L).as("pass"))
    }),

    // The WRITE SIDE of the expectation suite: violating rows routed to a
    // quarantine side table in the same one-pass-per-table shape — each
    // row evaluates ALL of its table's per-row predicates in one scan and
    // explodes only its violated (check, severity) entries, so adding a
    // check still costs an expression, never a pass. The two relational
    // checks fold into the same single orders scan: duplicate keys via a
    // keyed count window, referential integrity via a broadcast LEFT join
    // null-probe (flagging, not dropping — quarantine needs the row). The
    // oracled output is the quarantine audit (rows per check + min/max
    // routed key); only violating checks appear, and a failing check's
    // count here must equal its n_violations in diag_expectations — the
    // two queries cross-pin each other. At 100 TB the quarantine WRITE is
    // a partitionBy(tbl, check_name) sink appended after this exact plan.
    "diag_quarantine" -> ((s, d) => {
      def route(tblName: String, df: DataFrame, key: org.apache.spark.sql.Column,
          checks: Seq[(String, String, org.apache.spark.sql.Column)]): DataFrame = {
        val arr = array(checks.map { case (n, sev, pred) =>
          when(pred, struct(lit(n).as("check_name"), lit(sev).as("severity")))
        }: _*)
        df.select(lit(tblName).as("tbl"), key.cast("string").as("row_key"),
            explode(filter(arr, x => x.isNotNull)).as("c"))
          .select(col("tbl"), col("row_key"),
            col("c.check_name").as("check_name"), col("c.severity").as("severity"))
      }
      val li = route("lineitem", lineitem(s, d),
        concat(col("l_orderkey"), lit("-"), col("l_linenumber")),
        Seq(
          ("l_quantity_in_1_50", "error",
            col("l_quantity") < 1 || col("l_quantity") > 50),
          ("l_returnflag_accepted", "error",
            !col("l_returnflag").isin("A", "N", "R"))))
      val doc = route("documents", documents(s, d), col("doc_id"),
        Seq(
          ("text_nonblank", "error",
            col("text").isNull || trim(col("text")) === ""),
          ("n_chars_consistent", "error",
            col("n_chars") =!= length(col("text"))),
          ("text_len_ge_60", "error", col("n_chars") < 60),
          ("text_len_ge_100", "warn", col("n_chars") < 100)))
      val ev = route("events", events(s, d), col("event_id"),
        Seq(("value_le_450", "warn",
          col("value").isNull || col("value") > 450.0)))
      // one orders scan carries BOTH relational checks: the dup flag is a
      // keyed count window, the orphan flag a broadcast LEFT join null
      // probe (quarantine keeps the row, so no anti-join here)
      val ow = org.apache.spark.sql.expressions.Window.partitionBy(col("o_orderkey"))
      val ord = route("orders",
        orders(s, d)
          .withColumn("kn", count(lit(1)).over(ow))
          .join(broadcast(customer(s, d).select(col("c_custkey"))),
            col("o_custkey") === col("c_custkey"), "left"),
        col("o_orderkey"),
        Seq(
          ("o_orderkey_unique", "error", col("kn") > 1L),
          ("o_custkey_refs_customer", "error", col("c_custkey").isNull)))
      li.unionByName(doc).unionByName(ev).unionByName(ord)
        .groupBy(col("tbl"), col("check_name"), col("severity"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("row_key")).as("min_key"), max(col("row_key")).as("max_key"))
    }),

    // The LONGITUDINAL read on the expectation suite — expectations run
    // per load, and the number a pipeline actually alarms on is the
    // DRIFT between consecutive loads, not the absolute count (a corpus
    // that always has 2% short docs is healthy; one that jumps from 2%
    // to 20% broke upstream). Two deterministic ingest slices (row-key
    // parity — the staged-load stand-in) are compared per check: each
    // table's per-slice violation counts fold into ONE keyless scalar
    // scan (slice-conditioned sums — adding a check or a slice costs an
    // expression, never a pass), and the drift verdict fires on a >50%
    // relative change. diag_snapshot_diff is this for schemas;
    // diag_expectations_trend is it for data quality.
    "diag_expectations_trend" -> ((s, d) => {
      def trend(tblName: String, df: DataFrame, slice: org.apache.spark.sql.Column,
          checks: Seq[(String, String, org.apache.spark.sql.Column)]): DataFrame = {
        val aggs = checks.zipWithIndex.flatMap { case ((_, _, pred), i) => Seq(
          sum(when(slice % 2 === 0 && pred, 1L).otherwise(0L)).as(s"a$i"),
          sum(when(slice % 2 === 1 && pred, 1L).otherwise(0L)).as(s"b$i")) }
        val entries = checks.zipWithIndex.map { case ((n, sev, _), i) =>
          struct(lit(tblName).as("tbl"), lit(n).as("check_name"),
            lit(sev).as("severity"),
            col(s"a$i").as("n_load0"), col(s"b$i").as("n_load1"))
        }
        df.agg(aggs.head, aggs.tail: _*)
          .select(explode(array(entries: _*)).as("c")).select(col("c.*"))
      }
      val doc = trend("documents", documents(s, d), col("doc_id"),
        Seq(
          ("text_nonblank", "error",
            col("text").isNull || trim(col("text")) === ""),
          ("n_chars_consistent", "error",
            col("n_chars") =!= length(col("text"))),
          ("text_len_ge_60", "error", col("n_chars") < 60),
          ("text_len_ge_100", "warn", col("n_chars") < 100)))
      val ev = trend("events", events(s, d), col("event_id"),
        Seq(("value_le_450", "warn",
          col("value").isNull || col("value") > 450.0)))
      doc.unionByName(ev)
        .select(col("tbl"), col("check_name"), col("severity"),
          col("n_load0"), col("n_load1"),
          (col("n_load1") - col("n_load0")).as("delta"),
          (abs(col("n_load1") - col("n_load0")) * 2 >
            greatest(col("n_load0"), lit(1L))).as("drifted"))
    }),
  )

  /** The pure approx-percentile aggregation a 100 TB job runs in place of
    * exact `percentile`: fixed-size quantile sketches as partial aggregates
    * (partial → shuffle of sketches, not values → merge), accuracy 10⁴ ⇒
    * rank error ≤ 1e-4·N per group. PlanSpec asserts the partial/final
    * split so a regression to buffer-everything is caught in CI.
    */
  def percentileApprox(lineitem: DataFrame): DataFrame =
    lineitem
      .groupBy(col("l_returnflag"))
      .agg(
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000)).as("a50"),
        percentile_approx(col("l_extendedprice"), lit(0.95), lit(10000)).as("a95"))

  /** Connected components by alternating large-star/small-star rounds
    * (the MapReduce CC algorithm of Kiveris et al., "Connected Components
    * in MapReduce and Beyond", SoCC'14): converges in O(log² n) rounds on
    * ANY graph — component diameter does not matter, unlike naive min-label
    * propagation. Each round is two grouped min-aggregations + joins, all
    * shuffle-parallel; no step ever materializes a neighborhood list, so a
    * web-scale hub node costs a min-aggregate, not a collect_set.
    *
    * Per round the edge set is `localCheckpoint(true)`ed (iterative lineage
    * otherwise balloons task binaries) and the PREVIOUS round's checkpoint
    * blocks are explicitly unpersisted once the new round has materialized —
    * peak storage is two edge sets, not O(rounds). The final round's blocks
    * back the returned (lazy) frame; they are registered in
    * [[liveCcCheckpoints]] so [[releaseCcCheckpoints]] can free them
    * DETERMINISTICALLY once the consumer has materialized (the
    * ContextCleaner would get there eventually via GC, but a bounded
    * pipeline frees its own state between stages).
    *
    * @param edges (src, dst) long pairs, undirected semantics
    * @return (labels frame (doc_id, cluster_id = component min), rounds run)
    */
  def connectedComponents(s: SparkSession, edges: DataFrame): (DataFrame, Int) = {
    val sc = s.sparkContext
    def free(ids: Set[Int]): Unit =
      ids.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
    // LAZY checkpoint: registration happens now, the blocks materialize on
    // the NEXT action — which is always the fingerprint below, so each
    // round runs ONE job, not checkpoint-count plus fingerprint. The ids
    // are read off the frame's OWN plan (SessionCaches.checkpointRddIds),
    // never a global persistent-set diff — a concurrent thread persisting
    // its own blocks in the window must not be swept by this build.
    def checkpoint(df: DataFrame): (DataFrame, Set[Int]) = {
      val out = df.localCheckpoint(false)
      (out, SessionCaches.checkpointRddIds(out))
    }

    // large-star: every node u sends its strictly-larger neighbors to
    // m(u) = min(Γ(u) ∪ {u}) — hangs big nodes under small ones. The
    // distinct is load-bearing: LSH cliques otherwise feed O(k²) duplicate
    // (v, m) edges into smallStar (measured 3-5× slower without it)
    def largeStar(e: DataFrame): DataFrame = {
      val und = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      val mins = und.groupBy(col("src"))
        .agg(min(col("dst")).as("mn"))
        .select(col("src"), least(col("mn"), col("src")).as("m"))
      und.join(mins, "src")
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .distinct()
    }
    // small-star: orient (big → small); every node u re-points its smaller
    // neighbors (and itself) at m(u) = min of them — flattens into stars
    def smallStar(e: DataFrame): DataFrame = {
      val o = e.select(
        greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      val mins = o.groupBy(col("src")).agg(min(col("dst")).as("m"))
      o.join(mins, "src")
        .filter(col("dst") =!= col("m"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .union(mins.select(col("src"), col("m").as("dst")))
        .distinct()
    }
    // order-insensitive set fingerprint (edges are distinct): fixpoint ⇔
    // edge set unchanged. bit_xor, not sum — no ANSI overflow at any n.
    // Doubles as the materializing action for the round's lazy checkpoint.
    def fingerprint(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)), bit_xor(xxhash64(col("src"), col("dst")))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    var (cur, held) = checkpoint(
      edges.filter(col("src") =!= col("dst")).distinct())
    var (cnt, sig) = fingerprint(cur) // materializes cur's checkpoint
    // nodes to label = every endpoint of the ORIGINAL edges; its own eager
    // checkpoint because round 1 frees cur's blocks out from under it
    val (nodes, nodesIds) = {
      val out = cur.select(col("src").as("node"))
        .union(cur.select(col("dst").as("node"))).distinct()
        .localCheckpoint(true)
      (out, SessionCaches.checkpointRddIds(out))
    }
    var converged = cnt == 0L
    var rounds = 0
    // log²(n) rounds suffice; the cap bounds only a logic bug and FAILS
    // LOUDLY — a silent cap would ship partially-merged (wrong) clusters
    val maxRounds = 100
    while (!converged && rounds < maxRounds) {
      val (next, newIds) = checkpoint(smallStar(largeStar(cur)))
      val (c2, s2) = fingerprint(next) // materializes next's checkpoint
      converged = c2 == cnt && s2 == sig
      free(held) // previous round's blocks — next is already materialized
      cur = next; held = newIds; cnt = c2; sig = s2
      rounds += 1
    }
    require(converged, s"connected-components did not converge in $maxRounds rounds")
    // converged star graph: each non-root has exactly one (node → root)
    // edge; roots label themselves
    val labels = nodes
      .join(cur.select(col("src").as("node"), col("dst").as("root")), Seq("node"), "left")
      .select(col("node").as("doc_id"), coalesce(col("root"), col("node")).as("cluster_id"))
    // the blocks that outlive this call (they back `labels`): registered
    // PER SESSION for deterministic release once the consumer is done
    liveCcCheckpoints.synchronized {
      liveCcCheckpoints.getOrElseUpdate(s, scala.collection.mutable.Set[Int]()) ++=
        (held ++ nodesIds.filter(sc.getPersistentRDDs.contains))
    }
    (labels, rounds)
  }

  /** Checkpoint RDD ids created by [[connectedComponents]] that outlive the
    * call (converged edge set + node list — they back the returned labels
    * frame, so the function cannot free them itself). Keyed by session:
    * one session's releaseAll must never free the checkpoint blocks that
    * back ANOTHER session's still-cached [[ccLabelsShared]] frame — a
    * truncated-lineage frame cannot recompute them. The weak keys let a
    * stopped session's entry die with it.
    */
  private val liveCcCheckpoints =
    new scala.collection.mutable.WeakHashMap[SparkSession, scala.collection.mutable.Set[Int]]()

  /** Free session `s`'s still-persisted CC checkpoint blocks. Call after
    * the consuming query has materialized — a released labels frame cannot
    * be re-executed (localCheckpoint truncates lineage).
    */
  def releaseCcCheckpoints(s: SparkSession): Unit = liveCcCheckpoints.synchronized {
    val live = s.sparkContext.getPersistentRDDs
    liveCcCheckpoints.remove(s).foreach(_.foreach(id =>
      live.get(id).foreach(r => try r.unpersist(blocking = true) catch { case _: Throwable => () })))
  }

  /** Session-scoped cache of the CONVERGED component labels over the
    * MinHash-LSH pairs (lifecycle: [[SessionFrameCache]]).
    *
    * The labels are the expensive stage shared by every downstream dedup
    * consumer — `dedup_canonical` derives its keep-list from them, and a
    * pipeline adding more outputs (cluster stats, per-cluster sampling)
    * starts here too. The frame is one (doc_id, cluster_id) row per
    * NON-SINGLETON document, orders of magnitude smaller than the corpus,
    * so it persists whole. `dedup_cluster_cc` itself stays uncached: it IS
    * the oracled components computation (the same contract as
    * `dedup_minhash_lsh` vs the shared pair frame), so its benched cost
    * keeps measuring the real large-star/small-star iteration.
    *
    * [[SessionCaches.releaseAll]] releases this BEFORE the CC checkpoint
    * blocks that back it; the persisted label blocks themselves are the
    * live copy, so checkpoint release while cached would only matter if a
    * lost executor forced recompute — on a cluster, release order is the
    * documented contract.
    */
  private val sharedCcLabels = new SessionFrameCache(4, "sharedCcLabels")
  def ccLabelsShared(s: SparkSession, d: String): DataFrame =
    sharedCcLabels.getOrBuild(s, d) {
      connectedComponents(s,
        TextOps.minhashPairsShared(s, d)
          .select(col("da").as("src"), col("db").as("dst")))._1
    }

  /** Unpersist and drop every shared label frame belonging to session `s`. */
  def releaseCcLabels(s: SparkSession): Unit = sharedCcLabels.release(s)

  /** The append-batch membership predicate — the SAME md5('inc'||id) % 8
    * split `dedup_minhash_append` / `dedup_winnowing_append` use, applied
    * here to cluster state (one hash scheme, one definition per layer).
    */
  private[queries] def isIncBatch(
      c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    conv(substring(md5(concat(lit("inc"), c.cast("string"))), 1, 15),
      16, 10).cast("long") % 8L === 0L

  /** Session-scoped cache of the BASE-corpus converged CC labels — the
    * cluster state that "already exists" when a batch arrives, exactly
    * like [[graft.queries.Similarity.knnBaseGraphShared]] for the graph.
    * Built over the base-base restriction of the shared pair frame (a
    * band-index pair survives the restriction iff both docs are base, so
    * no second banding pass is ever run).
    */
  private val sharedBaseCcLabels = new SessionFrameCache(4, "sharedBaseCcLabels")
  def baseCcLabelsShared(s: SparkSession, d: String): DataFrame = {
    // parent materialized OUTSIDE this cache's monitor (lock discipline)
    val pairs = TextOps.minhashPairsShared(s, d)
    sharedBaseCcLabels.getOrBuild(s, d) {
      connectedComponents(s,
        pairs.filter(!isIncBatch(col("da")) && !isIncBatch(col("db")))
          .select(col("da").as("src"), col("db").as("dst")))._1
    }
  }

  /** Unpersist and drop every shared base-label frame of session `s`. */
  def releaseBaseCcLabels(s: SparkSession): Unit = sharedBaseCcLabels.release(s)

  /** Session-scoped cache of the degree-annotated edge list PageRank
    * iterates over (lifecycle: [[SessionFrameCache]] — previously a bare
    * per-invocation `.cache()` that only `catalog.clearCache()` freed).
    * Built once from the shared pair frame; each power iteration joins the
    * small changing rank table against these cached blocks, so only the
    * rank table ever moves.
    */
  private val sharedPagerankEdges = new SessionFrameCache(4, "sharedPagerankEdges")
  /** Frontier BFS from `seeds` over directed `edges` (src, dst): one keyed
    * edge join + anti-join-vs-reached per hop; returns (node, depth) with
    * depth = the hop a node is FIRST reached (min-depth semantics by the
    * anti-join). Factored so the synthetic-chain spec can exercise the
    * multi-hop path the fixture graph's shallow cliques never reach.
    *
    * Each hop's frontier is lineage-truncated via
    * [[SessionCaches.loopCheckpoint]]: hop h references both the previous
    * frontier and the accumulated `reached` (itself a union over the
    * previous frontiers), so an untruncated plan re-evaluates hop 1's edge
    * join ~2^hops times — measured 14.8 s / 270 jobs for the 4-hop
    * graph_bfs_depths before the fix, all of it lineage replay over a tiny
    * cached edge list. With the checkpoint, every hop's plan bottoms out in
    * constant-size LogicalRDD leaves and `reached` is a flat union of them.
    */
  private[graft] def bfsFrom(edges: DataFrame, seeds: DataFrame,
      hops: Int): DataFrame = {
    var reached = seeds.withColumn("depth", lit(0))
    var frontier = SessionCaches.loopCheckpoint(seeds.select(col("node")))
    for (h <- 1 to hops) {
      val next = SessionCaches.loopCheckpoint(
        frontier.join(edges, col("node") === col("src"))
          .select(col("dst").as("node")).distinct()
          .join(reached.select(col("node")), Seq("node"), "left_anti"))
      reached = reached.unionByName(next.withColumn("depth", lit(h)))
      frontier = next
    }
    reached
  }

  def pagerankEdgesShared(s: SparkSession, d: String): DataFrame =
    sharedPagerankEdges.getOrBuild(s, d) {
      val pairs = TextOps.minhashPairsShared(s, d)
      val edges = pairs.select(col("da").as("src"), col("db").as("dst"))
        .union(pairs.select(col("db").as("src"), col("da").as("dst")))
      val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      edges.join(deg, "src")
    }

  /** Unpersist and drop every shared PageRank edge frame of session `s`. */
  def releasePagerankEdges(s: SparkSession): Unit = sharedPagerankEdges.release(s)

  /** Session-scoped cache of the WEIGHTED edge list — the near-dup graph
    * with each edge carrying its exact n-gram Jaccard as integer ppm
    * (jaccard is round(·, 6), so ×10⁶ is exact), symmetrized, annotated
    * with the per-source weight sum the weighted power iteration
    * normalizes by. Derives from [[TextOps.nearDupPairsShared]] — the
    * weighted family never re-scans the corpus ([[pagerankEdgesShared]]'s
    * lifecycle, one table over).
    */
  private val sharedWeightedEdges = new SessionFrameCache(4, "sharedWeightedEdges")
  def weightedEdgesShared(s: SparkSession, d: String): DataFrame = {
    // parent materialized OUTSIDE this cache's monitor (lock discipline)
    val pairs = TextOps.nearDupPairsShared(s, d)
    sharedWeightedEdges.getOrBuild(s, d) {
      val w = pairs.select(col("da"), col("db"),
        round(col("jaccard") * 1000000).cast("long").as("w"))
      val edges = w.select(col("da").as("src"), col("db").as("dst"), col("w"))
        .union(w.select(col("db").as("src"), col("da").as("dst"), col("w")))
      val sw = edges.groupBy(col("src")).agg(sum(col("w")).as("sw"))
      edges.join(sw, "src")
    }
  }

  /** Unpersist and drop every shared weighted edge frame of session `s`. */
  def releaseWeightedEdges(s: SparkSession): Unit = sharedWeightedEdges.release(s)
}
