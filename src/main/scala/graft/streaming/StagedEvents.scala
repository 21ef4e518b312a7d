package graft.streaming

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared staging for the finite-input stateful streaming oracles
  * (sessionize, latest-state): the real event files plus ONE far-future
  * sentinel row per user (event_id = -1, ts = max(ts) + 1 year), so every
  * per-key state is closed by DATA rather than by wall-clock and the
  * drained output equals the batch answer exactly. Only the tiny sentinel
  * table is written; the real event files enter the staging dir as
  * symlinks — no copy of the actual data. On an unbounded stream the
  * sentinel path is never taken and the event-time timeout does the
  * closing instead.
  */
object StagedEvents {

  /** Stage-once ARRIVAL FIXTURE dir for a streaming replay whose staged
    * files are a pure function of one source table: keyed by the source's
    * content fingerprint (the Relational partitionedEventsDir discipline),
    * `_SUCCESS`-marked, built in temp + atomically renamed, and shared by
    * every invocation until the dataset is regenerated (stamp flips →
    * re-stage). Mod-time ordering within the dir is relative (strictly
    * decreasing modSecsAgo at build time), so the file-source batch
    * composition is frozen with the fixture. ONLY for read-only input
    * fixtures — tables a query mutates (StreamForgetKeys), checkpoint
    * dirs, and applied logs stay per-invocation.
    *
    * `version` is the fixture's format version, folded into the dir name
    * next to the content stamp: bump it whenever `build` changes what it
    * writes, or the stale fixture of the old `build` is silently reused
    * until the dataset is regenerated.
    *
    * `build` writes into the temp dir; the root `_SUCCESS` commit marker
    * (hidden to batch and stream readers) is then written last, replacing
    * any that `build` left there (a Spark write straight into the temp dir
    * does, and writes its `._SUCCESS.crc` after it), so no file in the
    * fixture is newer than its commit.
    *
    * The dir is named `graft_<name>_<source>_v<version>_<stamp>`, where
    * `<source>` is [[sourceKey]] of the path it was keyed on, so a
    * fixture's source is read off its name and nothing but `build`'s
    * output and `_SUCCESS` lands in it.
    *
    * A cold stage first evicts the fixtures it supersedes: `name`'s dirs of
    * any other version and its legacy unversioned dirs, whatever their
    * stamp or source, and its dirs of the same version and source under
    * another stamp (the dataset there changed since). Dirs of the same
    * version built from other sources (such as another scale) stay, and
    * so do same-version dirs named before the source joined the name
    * (their source is unknown), and every dir this JVM has handed out,
    * since a lazily read frame may still scan it. Eviction is best effort
    * and is not part of the build: a dir that cannot be listed or deleted
    * (another user's, or one another JVM is evicting too) stays.
    */
  def stageOnceFixture(name: String, version: Int, sourcePath: String)(
      build: Path => Unit): Path = {
    val key = graft.queries.ContentStamp.of(sourcePath)
    val source = sourceKey(sourcePath)
    val tmpDir = Paths.get(sys.props("java.io.tmpdir"))
    val dir = tmpDir.resolve(s"graft_${name}_${source}_v${version}_$key")
    if (!Files.exists(dir.resolve("_SUCCESS"))) evictSuperseded(dir, name, version, source)
    // logged under `graft_<name>_v<version>`, the same on every host and scale
    graft.ops.Multimodal.stageOnce(dir.toString, logBuild = false) { tmp =>
      val t0 = System.nanoTime()
      val t = Paths.get(tmp)
      build(t)
      val done = t.resolve("_SUCCESS")
      Files.deleteIfExists(done)
      Files.createFile(done)
      graft.queries.StageBuildLog.record(s"graft_${name}_v$version",
        (System.nanoTime() - t0) / 1e9)
    }
    handedOut.add(dir.getFileName.toString)
    dir
  }

  /** The 16 hex digits that name `sourcePath` in its fixtures' dir names:
    * a hash of the absolute, normalized path, so two spellings of one path
    * share their fixtures.
    */
  private[graft] def sourceKey(sourcePath: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(Paths.get(sourcePath).toAbsolutePath.normalize.toString.getBytes("UTF-8"))
      .take(8).map("%02x".format(_)).mkString

  /** Names of the fixture dirs [[stageOnceFixture]] has returned in this JVM. */
  private val handedOut = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def evictSuperseded(dir: Path, name: String, version: Int,
      source: String): Unit = {
    import scala.jdk.CollectionConverters._
    // the stamp is ContentStamp's 32 hex digits, matched exactly, so a name
    // never claims a longer name's dirs (events_zonemap vs events_zonemap_base)
    val fixture =
      s"graft_${java.util.regex.Pattern.quote(name)}(?:_([0-9a-f]{16}))?(?:_v(\\d+))?_[0-9a-f]{32}".r
    def quietly(io: => Unit): Unit =
      try io catch { case _: java.io.IOException | _: java.io.UncheckedIOException => () }
    quietly {
      val listing = Files.list(dir.getParent)
      val stale =
        try listing.iterator().asScala.filter { p =>
          val n = p.getFileName.toString
          n match {
            case fixture(s, v) => !handedOut.contains(n) && p != dir &&
              (v == null || v.toInt != version || s == source)
            case _ => false
          }
        }.toVector
        finally listing.close()
      stale.foreach(p => quietly(deleteRecursively(p)))
    }
  }

  /** The event-time stream over `sfDir`'s events plus the per-user
    * sentinels — a pure function of the events table, staged ONCE per
    * content stamp via [[stageOnceFixture]] and shared by the five
    * sentinel-closed stateful replays (sessionize, session-window,
    * latest-state, scd2, asof). `ts` is already event time
    * ([[graft.tables.Tables.toEventTime]]).
    */
  def eventStream(spark: SparkSession, sfDir: String): DataFrame = {
    val src = java.nio.file.Paths.get(sfDir, "events.parquet").toString
    val schema = spark.read.parquet(src).schema
    val dir = stageOnceFixture("staged_events", version = 1, src) { tmp =>
      stageInto(spark, sfDir, tmp)
    }
    spark.readStream.schema(schema).parquet(dir.toString)
      .transform(graft.tables.Tables.toEventTime(_, "ts"))
  }

  /** `hours` past the max `ts` of `raw`, in the SAME Spark (and thus
    * parquet physical) type as its `ts` — epoch-nanos long or timestamp —
    * so a staged sentinel reads under the raw file's schema: nanos
    * arithmetic in the long form, interval arithmetic otherwise.
    */
  private[streaming] def futureTs(raw: DataFrame, hours: Long): Any =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.agg(max(col("ts"))).head().getLong(0) + hours * 3600 * 1000000000L
      case _ =>
        raw.agg((max(col("ts")) + expr(s"INTERVAL $hours HOURS")).as("t")).head().get(0)
    }

  private def stageInto(spark: SparkSession, sfDir: String, stage: Path): Unit = {
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    // An empty events table has no max(ts): the long branch would NPE and
    // the timestamp branch would stage a NullType `ts` whose parquet schema
    // conflicts with the declared stream schema. Fail fast with the real
    // reason instead.
    require(raw.head(1).nonEmpty,
      s"$sfDir/events.parquet is empty — cannot stage a streaming sentinel")
    // one year past the data: the sentinel closes every per-key state
    val sentinelTs = futureTs(raw, 365L * 24)
    val sentinel = raw.select(col("user_id")).distinct()
      .select(
        lit(-1L).as("event_id"),
        lit(sentinelTs).as("ts"),
        col("user_id"),
        lit(null).cast("string").as("event_type"),
        lit(null).cast("double").as("value"),
        lit(null).cast("string").as("props"))
    // a flat staging dir (no subdirectories) so the file stream's listing
    // sees exactly two parquet files
    val tmp = stage.resolve("_sentinel_tmp")
    sentinel.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    import scala.jdk.CollectionConverters._
    val paths = Files.list(tmp)
    val partFile =
      try paths.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
      finally paths.close()
    Files.move(partFile, stage.resolve("sentinel.parquet"))
    deleteRecursively(tmp)
    def stageFile(f: Path, name: String): Unit =
      try Files.createSymbolicLink(stage.resolve(name), f)
      catch { case _: UnsupportedOperationException | _: java.io.IOException =>
        // filesystems without symlink support fall back to a real copy
        Files.copy(f, stage.resolve(name))
      }
    val src = java.nio.file.Paths.get(sfDir, "events.parquet").toAbsolutePath
    if (Files.isDirectory(src)) {
      // directory-shaped dataset (the cluster-scale layout): walk
      // RECURSIVELY (hive-partitioned layouts nest part files) and flat-link
      // each part file so the staging dir stays a single-level file listing
      val ps = Files.walk(src)
      val parts =
        try ps.iterator().asScala
          .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
          .toVector
        finally ps.close()
      require(parts.nonEmpty,
        s"no *.parquet part files found under $src — cannot stage streaming input")
      parts.zipWithIndex
        .foreach { case (p, i) => stageFile(p, f"events_$i%05d.parquet") }
    } else stageFile(src, "events.parquet")
    ()
  }

  /** Write `df` as a single parquet file `name` under `dir`, with its
    * modification time set `modSecsAgo` seconds in the past — the staging
    * primitive for multi-batch replays (the file source lists oldest
    * first, so strictly decreasing `modSecsAgo` values fix batch order).
    */
  def writePart(df: org.apache.spark.sql.DataFrame, dir: Path, name: String,
      modSecsAgo: Long): Unit = {
    val tmp = dir.resolve(s"_tmp_$name")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    import scala.jdk.CollectionConverters._
    val ps = Files.list(tmp)
    val part =
      try ps.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
      finally ps.close()
    val dst = dir.resolve(name)
    Files.move(part, dst, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    deleteRecursively(tmp)
    Files.setLastModifiedTime(dst,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - modSecsAgo * 1000))
  }

  /** Like [[writePart]] but stages the slice as `n` part files sharing
    * one mtime (names `prefix_0.parquet` … `prefix_{n-1}.parquet`). A
    * single-file arrival serializes the micro-batch's map work onto one
    * input partition — a per-shingle hashing gate was paying its whole
    * hot path on one task because of it (a test-fixture artifact: real
    * ingest arrives as many files). Consumed with maxFilesPerTrigger = n
    * so each arrival batch is the whole slice, n-way parallel.
    */
  def writeParts(df: org.apache.spark.sql.DataFrame, dir: Path, prefix: String,
      n: Int, modSecsAgo: Long): Unit = {
    val tmp = dir.resolve(s"_tmp_$prefix")
    df.repartition(n).write.mode("overwrite").parquet(tmp.toString)
    import scala.jdk.CollectionConverters._
    val ps = Files.list(tmp)
    val parts =
      try ps.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet"))
        .toSeq.sortBy(_.getFileName.toString)
      finally ps.close()
    require(parts.nonEmpty, s"repartition($n) wrote no part files under $tmp")
    parts.zipWithIndex.foreach { case (part, i) =>
      val dst = dir.resolve(s"${prefix}_$i.parquet")
      Files.move(part, dst, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - modSecsAgo * 1000))
    }
    deleteRecursively(tmp)
  }

  def deleteRecursively(p: Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (Files.exists(p)) {
      val paths = Files.walk(p)
      try paths.iterator().asScala.toSeq.reverseIterator.foreach(Files.deleteIfExists(_))
      finally paths.close()
    }
  }
}
