package graft.streaming

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** The streaming replay scaffold's two boundaries, run on every query
  * whose stream writes a real sink (foreachBatch or the parquet file
  * sink): every stream it starts reaches [[ProgressLog]] through
  * [[Drain.run]], and nothing a run writes (sink, checkpoint, mutation)
  * lands in a stage-once fixture dir — each versioned `graft_*` fixture
  * keeps its content fingerprint across a query's second run.
  */
class ReplayScaffoldSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private val sinkStreams = Seq("stream_quarantine", "stream_psi_gate",
    "stream_postings_ingest", "stream_contam_gate", "stream_forget_keys",
    "mm_contam_gate", "stream_zonemap_ingest")

  /** Every [[graft.Fixtures]] dir under the temp root
    * (`graft_<name>_<key>_v<N>`, then `_<stamp>` for a source key), with
    * each regular file's (size, mtime) — the listing
    * [[graft.queries.ContentStamp]] hashes, kept readable here so a
    * failure names the file that changed.
    */
  private def fixtures(): Map[Path, Map[String, (Long, Long)]] = {
    val root = Paths.get(sys.props("java.io.tmpdir"))
    val ls = Files.list(root)
    val dirs =
      try ls.iterator().asScala
        .filter(p => Files.isDirectory(p) &&
          p.getFileName.toString.matches("graft_.+_v\\d+(?:_[0-9a-f]{32})?"))
        .toVector
      finally ls.close()
    dirs.map { d =>
      val walk = Files.walk(d)
      val files =
        try walk.iterator().asScala.filter(Files.isRegularFile(_))
          .map(p => d.relativize(p).toString ->
            (Files.size(p), Files.getLastModifiedTime(p).toMillis))
          .toMap
        finally walk.close()
      d -> files
    }.toMap
  }

  private def run(q: String): Unit =
    graft.SparkEntry.queries(q)(spark, sf).collect()

  test("each sink-based stream records its progress, and its second run " +
      "leaves every stage-once fixture unchanged") {
    (sinkStreams :+ "zonemap_recompaction").foreach { q =>
      val untouched = fixtures()
      run(q) // stages whatever fixture the query reads, once
      ProgressLog.drain()
      val staged = fixtures()
      run(q)
      val progress = ProgressLog.drain()
      if (sinkStreams.contains(q)) {
        val mine = progress.filter(_._1 == q)
        assert(mine.size === 1, s"$q: ${progress.map(_._1)}")
        assert(mine.head._2.nonEmpty, s"$q recorded no micro-batch progress")
      } else assert(progress.isEmpty, s"$q started a stream: ${progress.map(_._1)}")
      val after = fixtures()
      assert(staged.nonEmpty, "no stage-once fixture dir found")
      staged.foreach { case (d, files) =>
        assert(after.get(d) === Some(files), s"$q's second run changed the fixture $d")
      }
      // whatever the two runs wrote into a fixture dir belongs to its
      // staging: no file is newer than the dir's commit marker
      after.filter { case (d, files) => untouched.get(d) != Some(files) }
        .foreach { case (d, files) =>
          val committed = files("_SUCCESS")._2
          files.foreach { case (f, (_, mtime)) =>
            assert(mtime <= committed, s"$q wrote $f into the fixture $d after its commit")
          }
        }
    }
  }
}
