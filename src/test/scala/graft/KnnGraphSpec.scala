package graft

/** Invariants of the NN-Descent build that the value-pinning oracle can't
  * state: per-node neighbor quality is MONOTONE over rounds (candidates
  * always include the current edges, so a re-rank can only improve), the
  * measured recall curve never falls, and the edge list is well-formed.
  */
class KnnGraphSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("nn-descent: well-formed edges and monotone per-node improvement") {
    val rows = graft.queries.Similarity.knnGraphShared(spark, sf)
      .collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("nbr"),
        r.getAs[Int]("rank"), r.getAs[Double]("cos"), r.getAs[Int]("iter")))
    assert(rows.nonEmpty, "empty NN-Descent history — test is vacuous")
    val iters = rows.map(_._5).distinct.sorted
    assert(iters.head == 0 && iters.length >= 3, s"unexpected rounds $iters")
    iters.foreach { t =>
      val edges = rows.filter(_._5 == t)
      // no self-loops, no duplicate neighbors per node, dense ranks
      edges.groupBy(_._1).foreach { case (v, es) =>
        assert(es.forall(_._2 != v), s"self-loop at node $v iter $t")
        assert(es.map(_._2).distinct.length == es.length, s"dup nbr at $v iter $t")
        assert(es.map(_._3).sorted.toSeq == (1 to es.length), s"ranks not dense at $v iter $t")
      }
    }
    // monotone: a node's summed neighbor cosine never decreases round over
    // round (current edges are always in the candidate set)
    val byIterNode = rows.groupBy(r => (r._5, r._1))
      .view.mapValues(_.map(_._4).sum).toMap
    var improved = false
    iters.sliding(2).foreach {
      case Array(a, b) =>
        byIterNode.keys.filter(_._1 == a).map(_._2).foreach { v =>
          val sa = byIterNode((a, v)); val sb = byIterNode((b, v))
          assert(sb >= sa - 1e-9, s"node $v degraded $sa -> $sb at iter $b")
          if (sb > sa + 1e-9) improved = true
        }
      case _ => ()
    }
    assert(improved, "no node ever improved — expansion is inert, test vacuous")
  }

  test("nn-descent: recall curve is non-decreasing and ends above init") {
    val curve = graft.queries.Similarity.queries("sim_knn_graph_curve")(spark, sf)
      .collect().map(r => r.getAs[Int]("iter") -> r.getAs[Double]("recall"))
      .sortBy(_._1).map(_._2)
    assert(curve.length >= 3)
    curve.sliding(2).foreach {
      case Array(a, b) => assert(b >= a - 1e-9, s"recall fell: ${curve.toSeq}")
      case _ => ()
    }
    assert(curve.last > curve.head, s"no net recall gain: $curve")
  }

  test("incremental insert: every cohort beats the batch curve's round-2 recall") {
    // the maintenance contract: absorbing a batch incrementally must leave
    // the graph at least as close to the full rebuild as two NN-Descent
    // rounds get to the exact answer — otherwise a rebuild-from-round-2
    // would be the cheaper repair and the incremental path is pointless
    val round2 = graft.queries.Similarity.queries("sim_knn_graph_curve")(spark, sf)
      .collect().map(r => r.getAs[Int]("iter") -> r.getAs[Double]("recall"))
      .toMap.apply(2)
    val inc = graft.queries.Similarity.queries("sim_knn_graph_incremental")(spark, sf)
      .collect()
      .map(r => r.getAs[String]("cohort") ->
        (r.getAs[Long]("n_nodes"), r.getAs[Long]("n_edges"), r.getAs[Double]("recall")))
      .toMap
    assert(inc.keySet === Set("new", "affected", "untouched", "overall"))
    // well-formed: K edges per node in every cohort, cohort sizes add up
    inc.foreach { case (c, (nodes, edges, _)) =>
      assert(edges === nodes * 8L, s"$c: $edges edges for $nodes nodes")
    }
    assert(inc("new")._1 + inc("affected")._1 + inc("untouched")._1
      === inc("overall")._1)
    inc.foreach { case (c, (_, _, recall)) =>
      assert(recall >= round2, s"cohort $c recall $recall below round-2 $round2")
    }
  }

  // Cross-query laws of the beam-walk family: two queries that run the
  // same walk by different routes must read the same number, so a walk
  // kernel that breaks the width-parameterized, two-graph or label-filtered
  // walk shows up here even where a query's own oracle is not run. Read at
  // the gate scale, whose corpus separates the walk's rounds at beam 8.
  private val gate = new java.io.File(sf).getParent + "/sf0.01"

  test("walk law: the sweep's (beam 8, rounds 3) cell is serve_maintained's rebuilt walk") {
    def q(name: String) = graft.queries.Similarity.queries(name)(spark, gate).collect()
    val beam8 = q("sim_knn_graph_search_sweep")
      .filter(_.getAs[Int]("beam") == 8)
      .map(r => r.getAs[Int]("rounds") -> r.getAs[Double]("recall_at_5")).toMap
    assert(beam8.keySet == Set(1, 2, 3), s"beam-8 sweep cells: ${beam8.keys}")
    assert(beam8(2) != beam8(3), "rounds 2 and 3 read alike — the law cannot pin the round count")
    val rebuilt = q("sim_knn_graph_serve_maintained")
      .filter(_.getAs[String]("variant") == "rebuilt")
    assert(rebuilt.length == 1, "one rebuilt row")
    assert(beam8(3) == rebuilt.head.getAs[Double]("frac"))
  }

  test("walk law: the labeled search's blind leg replays the filtered search's pre leg") {
    def recalls(name: String, leg: String): Map[Long, Double] =
      graft.queries.Similarity.queries(name)(spark, gate).collect()
        .map(r => r.getAs[Long]("q_id") -> r.getAs[Double](leg)).toMap
    val blind = recalls("sim_knn_graph_search_labeled", "blind_recall")
    val pre = recalls("sim_knn_graph_search_filtered", "pre_recall")
    assert(blind.size == 10, s"one row per probe: ${blind.keys}")
    assert(blind.values.exists(_ > 0.0), "no blind-walk hits — the law is vacuous")
    assert(blind == pre)
  }
}
