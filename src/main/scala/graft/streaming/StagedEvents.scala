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

  /** The event-time stream over `sfDir`'s events plus the per-user
    * sentinels — a pure function of the events table, staged ONCE per
    * content stamp via [[graft.Fixtures.stage]] and shared by the five
    * sentinel-closed stateful replays (sessionize, session-window,
    * latest-state, scd2, asof). `ts` is already event time
    * ([[graft.tables.Tables.toEventTime]]).
    */
  def eventStream(spark: SparkSession, sfDir: String): DataFrame = {
    val src = Paths.get(sfDir, "events.parquet").toString
    val schema = spark.read.parquet(src).schema
    val dir = graft.Fixtures.stage("staged_events", 1, graft.Fixtures.Source(src)) { tmp =>
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
    val src = Paths.get(sfDir, "events.parquet").toAbsolutePath
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
