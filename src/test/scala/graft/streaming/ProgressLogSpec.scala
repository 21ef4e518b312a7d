package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

/** ProgressLog is bounded: a JVM that never drains it keeps only the
  * newest [[ProgressLog.Cap]] streams.
  */
class ProgressLogSpec extends AnyFunSuite {

  test("past the cap the oldest entries are dropped; drain returns the newest in order") {
    ProgressLog.drain()
    val k = 5
    (1 to ProgressLog.Cap + k).foreach(i => ProgressLog.record(s"s$i", Nil))
    val got = ProgressLog.drain().map(_._1)
    assert(got == (k + 1 to ProgressLog.Cap + k).map(i => s"s$i"))
    assert(ProgressLog.drain().isEmpty, "drain empties the log")
  }
}
