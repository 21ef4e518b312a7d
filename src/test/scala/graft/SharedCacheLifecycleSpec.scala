package graft

import graft.queries.TextOps

/** Lifecycle of session-scoped cached intermediates (judge r05 task 3):
  * after the dedup family runs and the pipeline releases its shared state,
  * NOTHING stays persisted — no shared pair frame, no SQL-cache entry, no
  * leaked checkpoint blocks. On a long-lived multi-tenant cluster session
  * these leftovers are the difference between bounded and unbounded
  * storage-memory residency.
  */
class SharedCacheLifecycleSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("dedup family + release leaves zero persisted blocks") {
    val sc = spark.sparkContext
    // both consumers of the shared MinHash pair frame, materialized fully
    SparkEntry.queries("dedup_cluster_cc")(spark, sf).count()
    SparkEntry.queries("dedup_canonical")(spark, sf).count()
    // while the family is live, the shared pair frame IS persisted (that is
    // the point of it) — this is the state the release API must clean up
    assert(sc.getPersistentRDDs.nonEmpty,
      "expected the dedup family to hold persisted blocks while live")

    // one call frees everything: shared pair frames, CC checkpoint blocks,
    // SQL-cache entries — deterministic, no GC/ContextCleaner race
    graft.queries.SessionCaches.releaseAll(spark)

    val left = sc.getPersistentRDDs
    assert(left.isEmpty,
      s"persisted RDDs left after release: ${left.keySet.toSeq.sorted}")
  }

  test("shared pair frame is reused within a session, rebuilt after release") {
    val first = TextOps.minhashPairsShared(spark, sf)
    val again = TextOps.minhashPairsShared(spark, sf)
    assert(first eq again, "same session+dir must return the cached frame")
    TextOps.releaseSharedPairs(spark)
    val rebuilt = TextOps.minhashPairsShared(spark, sf)
    assert(!(rebuilt eq first), "release must evict the cached frame")
    assert(rebuilt.count() == first.count())
    graft.queries.SessionCaches.releaseAll(spark)
  }

  test("every cache-backed query + release leaves zero persisted blocks") {
    // the four queries whose plans read session-cached frames: pagerank
    // (edge list), ppl bucketing (score table), and the two dedup consumers
    // (pair frame + CC labels) — after releaseAll, zero residency
    for (q <- Seq("graph_pagerank", "text_ppl_bucket",
        "dedup_canonical", "dedup_incremental"))
      SparkEntry.queries(q)(spark, sf).count()
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    graft.queries.SessionCaches.releaseAll(spark)
    val left = spark.sparkContext.getPersistentRDDs
    assert(left.isEmpty,
      s"persisted RDDs left after release: ${left.keySet.toSeq.sorted}")
  }

  test("shared band frame is reused by the LSH pair query within a session") {
    val bands = TextOps.minhashBandsShared(spark, sf)
    assert(bands eq TextOps.minhashBandsShared(spark, sf),
      "same session+dir must return the cached band frame")
    // pair build derives from the cached bands: count parity pins that the
    // in-bucket expansion reads the same index the incremental probe does
    val pairs = TextOps.minhashPairsShared(spark, sf)
    assert(pairs.count() ==
      SparkEntry.queries("dedup_minhash_lsh")(spark, sf).count())
    TextOps.releaseSharedPairs(spark)
    TextOps.releaseBands(spark)
    val rebuilt = TextOps.minhashBandsShared(spark, sf)
    assert(!(rebuilt eq bands), "release must evict the cached band frame")
    graft.queries.SessionCaches.releaseAll(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("content stamp: regenerating a dir in place forces a rebuild") {
    import graft.queries.SessionFrameCache
    val dir = java.nio.file.Files.createTempDirectory("graft_stamp_spec")
    try {
      val f = dir.resolve("part-0.txt")
      java.nio.file.Files.writeString(f, "v1")
      var builds = 0
      val cache = new SessionFrameCache(4)
      def build() = cache.getOrBuild(spark, dir.toString) {
        builds += 1
        spark.read.textFile(f.toString).toDF("v")
      }
      val first = build()
      assert(first.head().getString(0) == "v1" && builds == 1)
      assert(build() eq first, "unchanged dir must serve the cached frame")
      // regenerate the file at the same path (new size => new stamp even on
      // coarse-mtime filesystems); stamps are memoized for ~1 s so cache
      // HITS don't walk the directory — wait out the freshness window
      java.nio.file.Files.writeString(f, "v2-regenerated")
      Thread.sleep(1200)
      val rebuilt = build()
      assert(builds == 2, "stamp change must trigger a rebuild")
      assert(!(rebuilt eq first))
      assert(rebuilt.head().getString(0) == "v2-regenerated",
        "rebuilt frame must read the LIVE file, not stale blocks")
      cache.release(spark)
      assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    } finally graft.streaming.StagedEvents.deleteRecursively(dir)
  }

  test("shared CC labels: one components run feeds dedup_canonical, released clean") {
    import graft.queries.Extended
    val first = Extended.ccLabelsShared(spark, sf)
    // dedup_canonical must consume the SAME converged frame, not re-iterate
    val again = Extended.ccLabelsShared(spark, sf)
    assert(first eq again, "same session+dir must return the cached labels")
    val canonical = SparkEntry.queries("dedup_canonical")(spark, sf)
    assert(canonical.count() > 0)
    // labels agree with the oracled CC query run raw
    val raw = SparkEntry.queries("dedup_cluster_cc")(spark, sf)
    assert(raw.exceptAll(first).isEmpty && first.exceptAll(raw).isEmpty,
      "shared labels must equal the uncached dedup_cluster_cc result")
    graft.queries.SessionCaches.releaseAll(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "label release must leave zero persisted blocks")
  }

  test("StageBuildLog: a cache MISS records a named build, a HIT records nothing") {
    import spark.implicits._
    graft.queries.StageBuildLog.drain() // isolate from earlier tests
    val c = new graft.queries.SessionFrameCache(2, "probeStage")
    c.getOrBuild(spark, sf)(Seq(1L, 2L).toDF("x"))
    val miss = graft.queries.StageBuildLog.drain()
    assert(miss.map(_._1) == Seq("probeStage"), miss.toString)
    assert(miss.head._2 >= 0.0)
    // warm hit: no build, no log entry — the attribution channel only
    // fires when a bench rep actually absorbed a cold build
    c.getOrBuild(spark, sf)(fail("hit must not rebuild"))
    assert(graft.queries.StageBuildLog.drain().isEmpty)
    c.release(spark)
  }
}
