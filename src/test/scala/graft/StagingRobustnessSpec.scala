package graft

import java.nio.file.{Files, Paths}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import graft.sources.mzml.MzmlSynth

/** Concurrent/crash robustness of the staging that shares directories
  * across JVMs. There is one stage-once protocol, [[graft.Fixtures]]:
  * build in a temp dir, atomic rename, one key, commit and eviction rule
  * for every fixture, whether keyed on a source path (the event layouts,
  * the replays' arrival dirs) or on a generator's parameters (the mzML
  * and idXML runs, the media tables). Beside it stands the UUID-named
  * bucketed-table staging that replaced the old check-then-delete
  * `clearOrphan` (a name fresh per JVM can never collide with a live
  * catalog's location, so no deletion of possibly-live dirs ever happens).
  */
class StagingRobustnessSpec extends SparkSpec {

  test("mzml staging: an incomplete crash remnant is rebuilt, byte-identical") {
    // params distinct from the bench's (32, 96, 128) set: this test mutates
    // its staged dir
    val paths = MzmlSynth.stagedRuns(3, 4, 8)
    assert(paths.length == 3 && paths.forall(p => Files.exists(Paths.get(p))))
    val contents = paths.map(p => Files.readString(Paths.get(p)))
    // simulate a writer that died mid-stage: the dir exists but is missing
    // a file — the next staging must replace it wholesale via the tmp-dir
    // + atomic-rename path, never scan the half-written remnant
    Files.delete(Paths.get(paths.last))
    val again = MzmlSynth.stagedRuns(3, 4, 8)
    assert(again == paths, "staging paths are deterministic")
    assert(again.forall(p => Files.exists(Paths.get(p))))
    assert(again.map(p => Files.readString(Paths.get(p))) == contents,
      "re-staged content must be byte-identical (pure arithmetic generator)")
  }

  test("mzml staging: concurrent callers all observe complete runs") {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      // generous bound: under a loaded box (parallel sbt JVMs, bench
      // sweeps) the 8 concurrent stagings have flaked a 60s limit — the
      // assertion is about correctness, not latency
      val futs = (1 to 8).map(_ => Future(MzmlSynth.stagedRuns(2, 3, 6)))
      val all = Await.result(Future.sequence(futs), Duration("240s"))
      assert(all.distinct.size == 1, "every caller sees the same staged paths")
      assert(all.head.forall(p => Files.exists(Paths.get(p))))
    } finally pool.shutdown()
  }

  test("bucketed staging: concurrent prewarms are idempotent; release drops every table") {
    val sf = "/root/testdata/sf0.001"
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futs = (1 to 4).map(_ =>
        Future(graft.queries.Relational.prewarmStagedLayouts(spark, sf)))
      Await.result(Future.sequence(futs), Duration("300s"))
    } finally pool.shutdown()
    // exactly one (orders, customer) bucketed pair exists for this JVM —
    // concurrent staging never doubled up or errored
    val staged = spark.catalog.listTables().collect()
      .map(_.name).filter(_.contains("_bck_"))
    assert(staged.count(_.startsWith("orders_bck_")) == 1, staged.mkString(","))
    assert(staged.count(_.startsWith("customer_bck_")) == 1, staged.mkString(","))
    // the bucketed consumers still answer (sanity that the tables are live)
    assert(SparkEntry.queries("q3b_bucketed_topk")(spark, sf).count() > 0)
    // release drops the managed tables AND their warehouse dirs
    graft.queries.Relational.releaseBucketedTables(spark)
    val left = spark.catalog.listTables().collect().map(_.name).filter(_.contains("_bck_"))
    assert(left.isEmpty, s"tables left after release: ${left.mkString(",")}")
  }

  test("stageOnce: a winner committing mid-write is kept, the loser's tmp discarded") {
    // The r11 ADVICE race: JVM A passes the !exists(_SUCCESS) gate, then
    // JVM B commits `root` while A is still writing its tmp. A must NOT
    // delete B's just-committed layout (a reader mid-scan would see files
    // vanish) — it must re-check the marker, keep the winner's dir, and
    // discard its own tmp. Simulated in-process: the write callback plays
    // JVM B by committing root itself before returning.
    val dir = s"${sys.props("java.io.tmpdir")}/graft_stageonce_race_${java.util.UUID.randomUUID()}"
    val root = Paths.get(dir)
    try {
      val committed = graft.Fixtures.commit(dir) { tmp =>
        // "JVM B" commits the real dir while "JVM A" is mid-write
        Files.createDirectories(root)
        Files.writeString(root.resolve("winner.txt"), "committed-by-winner")
        Files.writeString(root.resolve("_SUCCESS"), "")
        // A's own (losing) staged content
        Files.createDirectories(Paths.get(tmp))
        Files.writeString(Paths.get(tmp).resolve("loser.txt"), "from-loser")
      }
      assert(!committed, "the loser must not report the commit")
      assert(Files.exists(root.resolve("_SUCCESS")), "winner's marker survives")
      assert(Files.readString(root.resolve("winner.txt")) == "committed-by-winner",
        "winner's committed content must never be deleted")
      assert(!Files.exists(root.resolve("loser.txt")), "loser's content never lands")
      // the loser's tmp dir is cleaned up
      val leftovers = Option(root.getParent.toFile.listFiles()).getOrElse(Array.empty)
        .map(_.getName).filter(n => n.startsWith(root.getFileName.toString + ".") && n.endsWith(".tmp"))
      assert(leftovers.isEmpty, s"tmp dirs left behind: ${leftovers.mkString(",")}")
      // a second call is a pure no-op read of the winner's dir
      graft.Fixtures.commit(dir) { _ => fail("must not re-stage a committed dir") }
    } finally graft.streaming.StagedEvents.deleteRecursively(root)
  }

  test("stage-once fixture: the same version reuses the dir, a bumped version re-stages") {
    import graft.Fixtures.Source
    import graft.streaming.StagedEvents.deleteRecursively
    val src = Files.createTempFile("graft-fixture-src", ".txt")
    Files.writeString(src, java.util.UUID.randomUUID().toString)
    val key = Source(src.toString)
    var builds = 0
    def stage(version: Int) = graft.Fixtures.stage("spec_versioned", version, key) { tmp =>
      builds += 1
      Files.createDirectories(tmp)
      Files.writeString(tmp.resolve("v.txt"), version.toString)
    }
    val v1 = stage(1)
    try {
      assert(stage(1) == v1 && builds == 1, "same version + stamp must reuse the fixture")
      val v2 = stage(2)
      try {
        assert(v2 != v1 && builds == 2, "a bumped version must stage a new fixture")
        assert(Files.readString(v2.resolve("v.txt")) == "2")
        assert(Files.readString(v1.resolve("v.txt")) == "1")
      } finally deleteRecursively(v2)
    } finally {
      deleteRecursively(v1)
      Files.delete(src)
    }
  }

  test("stage-once fixture: a cold stage evicts the versions it supersedes") {
    import graft.Fixtures.{Source, stage}
    import graft.streaming.StagedEvents.deleteRecursively
    val tmpDir = Paths.get(sys.props("java.io.tmpdir"))
    val name = s"spec_evict_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val src = Files.createTempFile("graft-fixture-src", ".txt")
    Files.writeString(src, name)
    val stamp = graft.queries.ContentStamp.of(src.toString)
    val otherStamp = stamp.reverse
    // left by earlier processes: superseded, the old layout, and a longer name
    def fixture(dir: String) = {
      val d = tmpDir.resolve(dir)
      Files.createDirectories(d)
      Files.createFile(d.resolve("_SUCCESS"))
      d
    }
    val superseded = Seq(s"graft_${name}_v1_$stamp", s"graft_${name}_$stamp",
      s"graft_${name}_v1_$otherStamp").map(fixture)
    val oldLayout = fixture(s"graft_${name}_v2_$otherStamp")
    val longerName = fixture(s"graft_${name}_base_v1_$stamp")
    try {
      val v2 = stage(name, 2, Source(src.toString))(Files.createDirectories(_))
      assert(superseded.forall(!Files.exists(_)), "superseded versions must be evicted")
      assert(!Files.exists(oldLayout), "an old-layout dir with no source must be evicted")
      assert(Files.exists(longerName), "another name's dirs must stay")
      val left = tmpDir.toFile.list().toSeq.filter(n =>
        n.startsWith(s"graft_${name}_") && n.endsWith(stamp) && !n.contains("_base_"))
      assert(left === Seq(v2.getFileName.toString))
      deleteRecursively(v2)
    } finally {
      (superseded ++ Seq(oldLayout, longerName)).foreach(deleteRecursively)
      Files.delete(src)
    }
  }

  test("stage-once fixture: a cold stage evicts its source's dirs under other stamps only") {
    import graft.Fixtures.{Source, sourceKey, stage}
    import graft.streaming.StagedEvents.deleteRecursively
    val tmpDir = Paths.get(sys.props("java.io.tmpdir"))
    val name = s"spec_source_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val src = Files.createTempFile("graft-fixture-src", ".txt")
    val otherSrc = Files.createTempFile("graft-fixture-src", ".txt")
    Files.writeString(src, name)
    val stamp = graft.queries.ContentStamp.of(src.toString)
    // left by earlier processes: the same version under stamps of older contents
    def fixture(dir: String) = {
      val d = tmpDir.resolve(dir)
      Files.createDirectories(d)
      Files.createFile(d.resolve("_SUCCESS"))
      d
    }
    val changed = fixture(s"graft_${name}_${sourceKey(src.toString)}_v1_${stamp.reverse}")
    val otherSource = fixture(s"graft_${name}_${sourceKey(otherSrc.toString)}_v1_${"0" * 32}")
    try {
      val v1 = stage(name, 1, Source(src.toString))(Files.createDirectories(_))
      try {
        assert(!Files.exists(changed), "the same source under another stamp must be evicted")
        assert(Files.exists(otherSource), "another source's dir must stay")
        assert(v1.getFileName.toString === s"graft_${name}_${sourceKey(src.toString)}_v1_$stamp")
        assert(sourceKey(src.toString) ===
          sourceKey(src.getParent.resolve(".").resolve(src.getFileName).toString),
          "two spellings of one path must name the same source")
        // a dir this JVM handed out stays, even once its source changes
        Files.writeString(src, name + "-changed")
        Thread.sleep(1100) // ContentStamp serves a memoized stamp for 1 s
        val v1b = stage(name, 1, Source(src.toString))(Files.createDirectories(_))
        try {
          assert(v1b != v1, "changed contents must stage under a new stamp")
          assert(Files.exists(v1), "a handed-out dir must stay")
        } finally deleteRecursively(v1b)
      } finally deleteRecursively(v1)
    } finally {
      Seq(changed, otherSource).foreach(deleteRecursively)
      Files.delete(src)
      Files.delete(otherSrc)
    }
  }

  test("stage-once fixture: parameter-keyed fixtures follow the same version rule") {
    import graft.Fixtures.{Params, dirName, stage}
    import graft.streaming.StagedEvents.deleteRecursively
    val tmpDir = Paths.get(sys.props("java.io.tmpdir"))
    val name = s"spec_params_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    // left by earlier processes: version 1 of these params, version 2 of others
    def fixture(dir: String) = {
      val d = tmpDir.resolve(dir)
      Files.createDirectories(d)
      Files.createFile(d.resolve("_SUCCESS"))
      d
    }
    val oldVersion = fixture(dirName(name, 1, Params(3, 4)))
    val otherParams = fixture(dirName(name, 2, Params(5, 6)))
    var builds = 0
    def stageV2() = stage(name, 2, Params(3, 4), Seq("v.txt")) { tmp =>
      builds += 1
      Files.createDirectories(tmp)
      Files.writeString(tmp.resolve("v.txt"), "2")
    }
    val v2 = tmpDir.resolve(dirName(name, 2, Params(3, 4)))
    try {
      assert(stageV2() == v2 && builds == 1, "a bumped version must stage a new fixture")
      assert(Files.readString(v2.resolve("v.txt")) == "2")
      assert(!Files.exists(oldVersion), "a bumped version must evict the old version")
      assert(Files.exists(otherParams), "other params' dirs of the same version must stay")
      assert(stageV2() == v2 && builds == 1, "the same params must reuse the dir")
      assert(dirName(name, 2, Params(34)) != dirName(name, 2, Params(3, 4)))
      // a committed fixture missing one of its named files is re-staged
      Files.delete(v2.resolve("v.txt"))
      assert(stageV2() == v2 && builds == 2 && Files.exists(v2.resolve("v.txt")))
    } finally Seq(oldVersion, otherParams, v2).foreach(deleteRecursively)
  }

  test("only Fixtures names the JVM temp root in main code") {
    import scala.jdk.CollectionConverters._
    // every stage-once dir goes through one store: a file that builds its
    // own temp-root path is a staging mechanism beside it
    val main = Paths.get("src", "main", "scala")
    val walk = Files.walk(main)
    val naming =
      try walk.iterator().asScala
        .filter(p => p.toString.endsWith(".scala"))
        .filter(p => Files.readString(p).contains("java.io.tmpdir"))
        .map(main.relativize(_).toString).toVector
      finally walk.close()
    assert(naming === Vector(Paths.get("graft", "Fixtures.scala").toString))
  }
}
