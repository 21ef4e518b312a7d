package graft

import java.nio.file.{FileSystemException, Files, Path, Paths, StandardCopyOption}

import graft.queries.{ContentStamp, StageBuildLog}
import graft.streaming.StagedEvents.deleteRecursively

/** The one stage-once fixture store: every read-only input the harness
  * builds once and shares across invocations and JVMs (the streaming
  * replays' arrival dirs, the partitioned and range-clustered event
  * layouts, the serving layouts, the media tables and the synthetic mzML
  * and idXML runs) is staged here, under one key, commit and eviction
  * rule. ONLY for read-only inputs: tables a query mutates
  * (StreamForgetKeys), checkpoint dirs and applied logs stay
  * per-invocation.
  *
  * A fixture is a pure function of its [[Key]] and its format `version`;
  * its dir under the JVM temp root is `graft_<name>_<key>_v<version>`,
  * followed by `_<stamp>` when the key is a source. `version` must be
  * bumped whenever a build changes what it writes, or the stale fixture of
  * the old build is silently reused.
  */
object Fixtures {

  /** What a fixture is a pure function of. */
  sealed trait Key

  /** The files under `path`. The key is [[sourceKey]] of the path, and
    * the dir name ends in the source's [[ContentStamp]], so a regenerated
    * dataset (stamp flips) re-stages.
    */
  final case class Source(path: String) extends Key

  object Source {
    /** The file or table dir `name` under `dir`. */
    def apply(dir: String, name: String): Source = Source(Paths.get(dir, name).toString)
  }

  /** A generator's parameters: a hash of the tuple is the key. */
  final case class Params(values: Any*) extends Key

  private val root = Paths.get(sys.props("java.io.tmpdir"))

  /** The fixture dir of `name` at `version` under `key`, staged by `build`
    * if it is not committed yet, and returned.
    *
    * `build` writes into a temp dir beside the fixture; the root `_SUCCESS`
    * marker (hidden to batch and stream readers) is then written last,
    * replacing any that `build` left there (a Spark write straight into
    * the temp dir does, and writes its `._SUCCESS.crc` after it), so no
    * file in the fixture is newer than its commit. The temp dir is then
    * renamed into place (see [[commit]]), and the build is recorded in
    * [[StageBuildLog]] as `graft_<name>_v<version>`, the same on every
    * host, scale and key.
    *
    * A committed fixture missing one of `files` (a crash remnant of an
    * older layout, or a file deleted under it) is re-staged.
    *
    * A cold stage first evicts the fixtures it supersedes: `name`'s dirs
    * of any other version, whatever their key, its dirs of the same key
    * under another stamp (the dataset there changed since), and its
    * old-layout dirs that carry no key (`graft_<name>_<stamp>` and
    * `graft_<name>_v<N>_<stamp>`). Dirs of the same version under other
    * keys (another scale, other parameters) stay, and so does every dir
    * this JVM has handed out, since a lazily read frame may still scan it.
    * Eviction is best effort and is not part of the build: a dir that
    * cannot be listed or deleted (another user's, or one another JVM is
    * evicting too) stays.
    */
  def stage(name: String, version: Int, key: Key, files: Seq[String] = Nil)(
      build: Path => Unit): Path = {
    val dir = root.resolve(dirName(name, version, key))
    def complete =
      Files.exists(dir.resolve("_SUCCESS")) && files.forall(f => Files.exists(dir.resolve(f)))
    if (!complete) {
      evictSuperseded(dir, name, version, keyId(key))
      commitWhen(dir, complete) { tmp =>
        val t0 = System.nanoTime()
        build(tmp)
        val done = Files.createDirectories(tmp).resolve("_SUCCESS")
        Files.deleteIfExists(done)
        Files.createFile(done)
        StageBuildLog.record(s"graft_${name}_v$version", (System.nanoTime() - t0) / 1e9)
      }
    }
    handedOut.add(dir.getFileName.toString)
    dir
  }

  /** Commit `write`'s output as `dir` once: true iff THIS call performed
    * the atomic move that committed it. False means either `dir`'s
    * `_SUCCESS` marker already existed (nothing written) or another JVM
    * won the commit race and this call's temp dir was discarded, so a
    * caller that promises "true iff this call staged the data" (the
    * idempotent micro-batch sink) keys off this, not off whether `write`
    * ran. `write` must leave the `_SUCCESS` marker in the path it is given.
    */
  def commit(dir: String)(write: String => Unit): Boolean = {
    val target = Paths.get(dir)
    commitWhen(target, Files.exists(target.resolve("_SUCCESS")))(t => write(t.toString))
  }

  /** Build into a UNIQUE temp dir beside `target`, then atomically rename
    * it into place, unless `committed` holds. A reader can therefore never
    * observe a partially (re)written dir: `target` either does not exist
    * yet or is one complete committed write. The rename is the cross-JVM
    * guard: two concurrent builds race, the loser's move fails against the
    * winner's committed dir and its temp is discarded. The JVM-local lock
    * serializes the common single-JVM case.
    */
  private def commitWhen(target: Path, committed: => Boolean)(write: Path => Unit): Boolean =
    lock.synchronized {
      if (committed) false
      else {
        val tmp = target.resolveSibling(
          s"${target.getFileName}.${java.util.UUID.randomUUID()}.tmp")
        write(tmp)
        try {
          // RE-CHECK before touching `target`: another JVM may have
          // committed while we were writing tmp, and deleting its
          // just-committed dir would yank files out from under a reader
          // mid-scan. An uncommitted `target` can only be a crash remnant
          // (nothing writes into it directly): clear it so the atomic move
          // can land; a committed one is the winner's, so discard our tmp.
          if (committed) {
            deleteRecursively(tmp)
            false
          } else {
            deleteRecursively(target)
            Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
            true
          }
        } catch {
          case _: FileSystemException =>
            // another JVM committed between our check and the move: keep
            // the winner's dir, discard ours; a still-uncommitted dir
            // means something else broke, and that must fail loudly
            deleteRecursively(tmp)
            require(committed, s"staging race left $target without a committed fixture")
            false
        }
      }
    }

  private val lock = new Object

  /** The name of `name`'s fixture dir at `version` under `key`. */
  private[graft] def dirName(name: String, version: Int, key: Key): String = {
    val stamp = key match {
      case Source(path) => s"_${ContentStamp.of(path)}"
      case _: Params => ""
    }
    s"graft_${name}_${keyId(key)}_v$version$stamp"
  }

  private def keyId(key: Key): String = key match {
    case Source(path) => sourceKey(path)
    case Params(values @ _*) => hash16(values.mkString("(", ",", ")"))
  }

  /** The 16 hex digits that name `sourcePath` in its fixtures' dir names:
    * a hash of the absolute, normalized path, so two spellings of one path
    * share their fixtures.
    */
  private[graft] def sourceKey(sourcePath: String): String =
    hash16(Paths.get(sourcePath).toAbsolutePath.normalize.toString)

  private def hash16(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .take(8).map("%02x".format(_)).mkString

  /** Names of the fixture dirs [[stage]] has returned in this JVM. */
  private val handedOut = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def evictSuperseded(dir: Path, name: String, version: Int, id: String): Unit = {
    import scala.jdk.CollectionConverters._
    // the key and the stamp are matched by exact length, so a name never
    // claims a longer name's dirs (events_zonemap vs events_zonemap_base);
    // group 1 is the key, absent in the old layouts
    val fixture = ("graft_" + java.util.regex.Pattern.quote(name) +
      "(?:_([0-9a-f]{16})_v(\\d+)(?:_[0-9a-f]{32})?|(?:_v\\d+)?_[0-9a-f]{32})").r
    def quietly(io: => Unit): Unit =
      try io catch { case _: java.io.IOException | _: java.io.UncheckedIOException => () }
    quietly {
      val listing = Files.list(root)
      val stale =
        try listing.iterator().asScala.filter { p =>
          val n = p.getFileName.toString
          n match {
            case fixture(k, v) => !handedOut.contains(n) && p != dir &&
              (k == null || v.toInt != version || k == id)
            case _ => false
          }
        }.toVector
        finally listing.close()
      stale.foreach(p => quietly(deleteRecursively(p)))
    }
  }
}
