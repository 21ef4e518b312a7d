package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One-call release of every session-scoped cached intermediate the query
  * layer holds: the shared MinHash pair frames and converged CC label
  * frames ([[SessionFrameCache]] instances in TextOps / Extended),
  * connected-components checkpoint blocks (Extended), and the session's
  * SQL-cache entries (builder-internal `.cache()`s — postings, shingle
  * groups, quantizer bases).
  *
  * Call BETWEEN pipeline stages, after the stage's outputs are
  * materialized: released frames must not be re-executed (checkpointed
  * lineage is truncated; cached plans recompute from scratch). Bench and
  * Verify call this after their sweep; SharedCacheLifecycleSpec asserts the
  * result is zero persisted blocks — the bounded-residency contract a
  * long-lived multi-tenant session needs.
  */
object SessionCaches {

  /** The RDD ids persisted by `df`'s OWN `localCheckpoint` — read off the
    * plan's `LogicalRDD` leaves, never by diffing the context-global
    * persistent-RDD set before/after the build: the global set is shared
    * by every thread on the context, so a concurrent build persisting its
    * own checkpoint inside the diff window would be swept by this build's
    * release — and an unpersisted localCheckpoint block makes its owning
    * frame unrecoverable (lineage truncated).
    */
  private[queries] def checkpointRddIds(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }.toSet

  /** Truncate `df`'s lineage with a LAZY `localCheckpoint` and register the
    * resulting blocks for session-scoped release — the shared idiom of every
    * iterative var-DataFrame loop (BFS frontiers, label-propagation rounds,
    * beam-walk `visited` accumulation). Without it, a loop whose round
    * references the previous frame k times builds a k^rounds logical plan
    * and pays k^rounds recomputation of round 1 (measured: graph_bfs_depths
    * at 14.8 s / 270 jobs over a tiny cached edge list — pure lineage
    * replay, 0.165 MB of shuffle). LAZY, not eager: the blocks materialize
    * inside the consumer's one action instead of one job per round, and the
    * logical-plan truncation (the thing the loop needs) happens immediately
    * either way. The blocks back the loop's returned frame, so the loop
    * cannot free them itself — they are registered per session and freed by
    * [[releaseLoopCheckpoints]] / [[releaseAll]] once consumers are done
    * (after which the frame cannot be re-executed: lineage is truncated).
    */
  private[graft] def loopCheckpoint(df: DataFrame): DataFrame = {
    val out = df.localCheckpoint(false)
    liveLoopCheckpoints.synchronized {
      liveLoopCheckpoints.getOrElseUpdate(out.sparkSession,
        scala.collection.mutable.Set.empty[Int]) ++= checkpointRddIds(out)
    }
    out
  }

  /** Per-session loop-checkpoint blocks still alive (see [[loopCheckpoint]]).
    * Weak keys: a stopped session's entry dies with it.
    */
  private val liveLoopCheckpoints =
    new scala.collection.mutable.WeakHashMap[SparkSession, scala.collection.mutable.Set[Int]]()

  /** Free session `s`'s still-persisted loop-checkpoint blocks. Call after
    * the consuming queries have materialized — a released loop frame cannot
    * be re-executed (localCheckpoint truncates lineage).
    *
    * Non-blocking: a BLOCKING unpersist here raced the DAGScheduler's
    * task-completion drain (straggling task attempts of the query that
    * just finished report accumulators after their job completed; a
    * synchronous block-removal wait in that window surfaced as
    * `ERROR DAGScheduler: Failed to update accumulator ... non-existent
    * accumulator` in every sweep tail — r13 verdict item 3). The async
    * removal frees the same blocks without holding the caller across the
    * drain.
    */
  def releaseLoopCheckpoints(s: SparkSession): Unit = liveLoopCheckpoints.synchronized {
    val live = s.sparkContext.getPersistentRDDs
    liveLoopCheckpoints.remove(s).foreach(_.foreach(id =>
      live.get(id).foreach(r => try r.unpersist(blocking = false) catch { case _: Throwable => () })))
  }

  /** Materialize every session-shared stage for data dir `d` — the shared
    * MinHash pair frame, the converged CC label frame, the staged
    * events/bucketed layouts, and the synthesized mzML runs — so that no
    * consumer's TIMED reps ever contain a one-time build. Bench calls this
    * between warm-up and the timed loop; what each query then measures is
    * its steady-state cost, which is what a pipeline DAG consuming shared
    * stages actually sees (the r06 driver artifact read dedup_canonical at
    * 3.28 s because the cold label materialization landed in its reps —
    * builder-local steady state was 0.16 s).
    */
  def prewarm(s: SparkSession, d: String): Unit = {
    TextOps.minhashSignaturesShared(s, d)
    TextOps.minhashBandsShared(s, d)
    TextOps.minhashPairsShared(s, d)
    TextOps.minhashPairShinglesShared(s, d)
    TextOps.winnowSelectionsShared(s, d)
    TextOps.winnowAnchorsShared(s, d)
    TextOps.winnowPairsShared(s, d)
    TextOps.nearDupPairsShared(s, d)
    TextOps.filterSurvivorsShared(s, d)
    Extended.ccLabelsShared(s, d)
    Extended.baseCcLabelsShared(s, d)
    Extended.pagerankEdgesShared(s, d)
    Extended.weightedEdgesShared(s, d)
    TextOps.unigramScoresShared(s, d)
    TextOps.postingsShared(s, d)
    TextOps.docFreqsShared(s, d)
    TextOps.docLengthsShared(s, d)
    Similarity.pqCodebookShared(s, d)
    Similarity.pqCodesShared(s, d)
    Similarity.ivfpqCellsShared(s, d)
    Similarity.residualCentsShared(s, d)
    Similarity.residualCodesShared(s, d)
    Similarity.opqXuShared(s, d)
    Similarity.opqCentsShared(s, d)
    Similarity.opqCodesShared(s, d)
    Similarity.hybridLegsShared(s, d)
    Similarity.knnGraphShared(s, d)
    Similarity.knnFinalGraphShared(s, d)
    Similarity.knnBaseGraphShared(s, d)
    Similarity.knnIncGraphShared(s, d)
    Similarity.knnLabeledGraphShared(s, d)
    TextOps.bpeCorpusShared(s, d)
    Relational.prewarmStagedLayouts(s, d)
    // the encode-at-ingest arrival fixtures (stage-once, content-stamped)
    graft.streaming.EncodeIngest.stagedRing(s, d, 1)
    graft.streaming.EncodeIngest.stagedRing(s, d, 2)
    // the stage-once kNN and IVF-PQ serving layouts
    Similarity.knnLayoutDir(s, d)
    graft.streaming.CompactedProbe.compactedDir(s, d)
    graft.sources.mzml.MzmlSynth.stagedRuns(32, 96, 128)
    ()
  }

  def releaseAll(s: SparkSession): Unit = {
    // the hybrid legs derive from BOTH the posting tables and the rotated
    // code table — the most-derived frame in the graph, released first
    Similarity.releaseHybridLegs(s)
    // the NN-Descent history derives only from the raw embeddings scan
    // (its per-round checkpoints are freed at build time)
    Similarity.releaseKnnGraph(s)
    // label frames are backed by CC checkpoint blocks: release them before
    // the checkpoints so nothing cached ever points at freed lineage
    Extended.releaseCcLabels(s)
    Extended.releaseBaseCcLabels(s)
    Extended.releasePagerankEdges(s)
    TextOps.releaseUnigramScores(s)
    // df/dl derive from the posting frame: release the derived tables
    // first so nothing cached ever outlives its parent blocks
    TextOps.releaseDocFreqs(s)
    TextOps.releaseDocLengths(s)
    TextOps.releasePostings(s)
    // the MinHash chain derives signature → bands → pairs → pair-shingles:
    // release depth-first (most-derived first)
    TextOps.releasePairShingles(s)
    TextOps.releaseSharedPairs(s)
    TextOps.releaseBands(s)
    TextOps.releaseSignatures(s)
    // the near-dup chain derives pairs → {survivors, weighted edges}:
    // derived first
    Extended.releaseWeightedEdges(s)
    TextOps.releaseFilterSurvivors(s)
    TextOps.releaseNearDupPairs(s)
    // the winnowing chain derives selections → {anchors, pairs}: same order
    TextOps.releaseWinnowAnchors(s)
    TextOps.releaseWinnowPairs(s)
    TextOps.releaseWinnowSelections(s)
    // the code table derives from the codebook: same order discipline
    Similarity.releasePqCodes(s)
    Similarity.releasePqCodebook(s)
    // the residual stages derive from the cell assignment: derived first
    Similarity.releaseResidualCodes(s)
    Similarity.releaseResidualCents(s)
    Similarity.releaseIvfpqCells(s)
    // the rotated codes derive from the codebook, which derives from the
    // rotated coordinates: release depth-first
    Similarity.releaseOpqCodes(s)
    Similarity.releaseOpqCents(s)
    Similarity.releaseOpqXu(s)
    TextOps.releaseBpeCorpus(s)
    Extended.releaseCcCheckpoints(s)
    // per-invocation iterative-loop frames (BFS frontiers, LPA rounds,
    // beam-walk visited sets): nothing session-cached derives from them,
    // so they free after the cached frames they themselves derive from
    releaseLoopCheckpoints(s)
    Relational.releaseBucketedTables(s)
    s.catalog.clearCache()
  }
}

/** Append-only log of one-time SHARED-STAGE builds (SessionFrameCache
  * misses, [[graft.Fixtures]] stagings) with their wall seconds — the
  * attribution channel for bench swings the per-query counters cannot see: two
  * same-plan queries trade places round over round when a cold shared
  * stage lands in whichever one's reps first touch it (r11:
  * sim_ivfpq_residual_recall 2.20 → 5.71 s with identical jobs+shuffle
  * while the OPQ family moved oppositely). Bench drains this log around
  * each query's reps and writes any builds into that query's
  * BENCH_LOCAL entry, making "cold-stage absorption" a mechanical
  * verdict instead of a triage hypothesis.
  */
object StageBuildLog {
  private val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]

  def record(stage: String, secs: Double): Unit =
    buf.synchronized { buf += ((stage, secs)) }

  /** Return and clear everything recorded since the last drain. */
  def drain(): Seq[(String, Double)] = buf.synchronized {
    val out = buf.toList
    buf.clear()
    out
  }
}

/** Content fingerprint of a data directory: MD5 over the sorted
  * (relative-path, size, mtime) of every regular file under it. The same
  * stamp rule Relational's events staging uses — cheap (one directory walk,
  * no reads) and it flips whenever a dataset is regenerated in place, which
  * is exactly the staleness a path-only cache key cannot see.
  */
object ContentStamp {

  /** Freshness memo: computing a stamp walks the directory, and doing
    * that on EVERY cache hit would put a recursive listing inside every
    * timed bench rep (and, against an object store, a LIST call per
    * query). A short TTL keeps back-to-back hits metadata-free while an
    * in-place regeneration — which takes orders of magnitude longer than
    * the TTL — is still detected on the next use. The freshness contract
    * is therefore "stale frames survive at most [[ttlMs]] after a
    * regeneration", not "never observable".
    */
  private val ttlMs = 1000L
  private val memo = new java.util.concurrent.ConcurrentHashMap[String, (Long, String)]

  def of(dir: String): String = {
    val now = System.currentTimeMillis()
    val cached = memo.get(dir)
    if (cached != null && now - cached._1 < ttlMs) cached._2
    else {
      val s = compute(dir)
      memo.put(dir, (now, s))
      s
    }
  }

  private def compute(dir: String): String = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(dir)
    val listing =
      if (!java.nio.file.Files.exists(root)) "missing"
      else {
        val walk = java.nio.file.Files.walk(root)
        try walk.iterator().asScala
          .filter(java.nio.file.Files.isRegularFile(_))
          .map(p => s"${root.relativize(p)}:${java.nio.file.Files.size(p)}:" +
            s"${java.nio.file.Files.getLastModifiedTime(p).toMillis}")
          .toSeq.sorted.mkString("\n")
        finally walk.close()
      }
    java.security.MessageDigest.getInstance("MD5")
      .digest(s"$dir\n$listing".getBytes("UTF-8")).map("%02x".format(_)).mkString
  }
}

/** Session-scoped LRU cache of materialized intermediate frames — the
  * materialized-intermediate pattern a production pipeline DAG uses when
  * several downstream queries start from one expensive shared stage.
  *
  * Lifecycle (bounded — a long-lived multi-tenant session must not grow an
  * unbounded map of persisted frames):
  *  - keyed by a weak-ref per-session UUID + data dir. The UUID is stable
  *    and never reused, unlike `System.identityHashCode`, which the JVM may
  *    hand to a NEW session after the old one is collected — a collision
  *    would serve blocks bound to a stopped context.
  *  - LRU-capped at `maxEntries`; the evicted frame is unpersisted as it
  *    leaves.
  *  - [[release]] unpersists and drops every entry of a session, for
  *    pipelines that want the blocks back between stages (Bench and Verify
  *    do this via [[SessionCaches.releaseAll]] after their sweep).
  *  - keys carry a [[ContentStamp]] of the data dir, so a dataset
  *    regenerated at the same path can never be served a stale frame: the
  *    stamp flips, the old entry is unpersisted and dropped, and the frame
  *    rebuilds from the live files (Spark's own SQL cache would happily
  *    keep serving the old blocks here — this cache checks).
  */
final class SessionFrameCache(maxEntries: Int, name: String = "frame-cache") {

  /** Stable, never-reused id per live session: a WeakHashMap entry dies
    * with the session (no strong ref pinning stopped sessions), and the
    * UUID can never collide the way a recycled identityHashCode can.
    */
  private val sessionIds = new java.util.WeakHashMap[SparkSession, String]()
  private def sessionId(s: SparkSession): String = sessionIds.synchronized {
    Option(sessionIds.get(s)).getOrElse {
      val id = java.util.UUID.randomUUID().toString
      sessionIds.put(s, id)
      id
    }
  }

  /** A cached entry: the `served` truncated view every consumer gets, and
    * the `backing` persisted frame that owns the CacheManager entry (the
    * handle release/eviction must unpersist).
    */
  private final case class Entry(served: DataFrame, backing: DataFrame)

  private val cache =
    new java.util.LinkedHashMap[String, Entry](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Entry]): Boolean = {
        val evict = size() > maxEntries
        // stopped-session frames can't unpersist; eviction must still happen
        if (evict)
          try e.getValue.backing.unpersist(blocking = false)
          catch { case _: Throwable => () }
        evict
      }
    }

  /** The cached frame for (session, dir, dir-content-stamp), building +
    * persisting it on first use. The eager count() materializes the blocks
    * so reuse never re-plans the upstream pass, and consumers are handed a
    * [[org.apache.spark.sql.GraftDatasetShim.truncated]] view — a
    * `LogicalRDD` leaf over the materialized scan that carries the real
    * post-materialization statistics. persist() alone kept the full build
    * tree in every consumer's plan (measured r13:
    * sim_knn_graph_incremental at 20k plan lines / 1594 Exchange nodes,
    * re-analyzed per action); an eager localCheckpoint would truncate too,
    * but it destroys lineage, so a released or LRU-evicted frame crashes
    * still-held references instead of recomputing, and its missing stats
    * degrade auto-broadcast joins to SortMergeJoin. The truncated view
    * keeps persist's graceful-recompute and stats semantics with
    * checkpoint's constant-size consumer plans. A stamp change (the dir
    * was regenerated in place) unpersists and drops the stale entry before
    * building against the live files.
    */
  def getOrBuild(s: SparkSession, d: String)(build: => DataFrame): DataFrame =
    cache.synchronized {
      val prefix = sessionId(s) + "|" + d + "|"
      val key = prefix + ContentStamp.of(d)
      Option(cache.get(key)).map(_.served).getOrElse {
        // same (session, dir) under an older stamp → stale: free it now
        // rather than leaving dead blocks pinned until LRU eviction
        val it = cache.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          if (e.getKey.startsWith(prefix)) {
            try e.getValue.backing.unpersist(blocking = true)
            catch { case _: Throwable => () }
            it.remove()
          }
        }
        val t0 = System.nanoTime()
        val df = build.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        df.count()
        val served = org.apache.spark.sql.GraftDatasetShim.truncated(df)
        // a cache MISS is a one-time shared-stage build: log it so bench
        // reps that absorb it carry the attribution (StageBuildLog)
        StageBuildLog.record(name, (System.nanoTime() - t0) / 1e9)
        cache.put(key, Entry(served, df))
        served
      }
    }

  /** Unpersist and drop every cached frame belonging to session `s`. */
  def release(s: SparkSession): Unit = cache.synchronized {
    val it = cache.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey.startsWith(sessionId(s) + "|")) {
        try e.getValue.backing.unpersist(blocking = true)
        catch { case _: Throwable => () }
        it.remove()
      }
    }
  }
}
