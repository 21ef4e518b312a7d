package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import graft.SparkSpec

/** A drained memory sink leaves no session temp view behind: the frame
  * Drain returns has already resolved the sink, so the view is dropped and
  * the drained rows stay pinned only while a caller holds that frame.
  */
class DrainSpec extends SparkSpec {

  private def views(prefix: String): Seq[String] =
    spark.catalog.listTables().collect().map(_.name).filter(_.startsWith(prefix)).toSeq

  test("toMemory drops the sink's temp view and the frame still yields its rows") {
    import spark.implicits._
    val dir = Files.createTempDirectory("drain-spec")
    try {
      val rows = (1 to 20).map(i => (i.toLong, s"k${i % 3}"))
      rows.toDF("id", "k").coalesce(1).write.mode("overwrite").parquet(s"$dir/src")
      val schema = spark.read.parquet(s"$dir/src").schema
      val out = Drain.toMemory(spark, "drain_spec_view",
        spark.readStream.schema(schema).parquet(s"$dir/src"))
      assert(views("drain_spec_view").isEmpty)
      val got = out.collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
      assert(got === rows)
      // a frame derived after the drop still reads the sink
      assert(out.filter($"k" === "k0").count() === rows.count(_._2 == "k0"))
      assert(out.collect().length === rows.size, "a second read sees the same rows")
    } finally StagedEvents.deleteRecursively(dir)
  }

  test("a ReplayMemo-held drain reads the same on its second use (DedupIngest apply/metrics)") {
    import spark.implicits._
    def ts(h: Int): Timestamp = Timestamp.valueOf(f"2026-01-01 $h%02d:00:00")
    val dir = Files.createTempDirectory("drain-spec-memo")
    try {
      Seq((1L, ts(0), "view", 1.0), (3L, ts(1), "view", 2.0),
        (4L, ts(5), "click", 3.0), (2L, ts(10), "view", 6.0))
        .toDF("event_id", "ts", "event_type", "value")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
      val sf = dir.toString
      def rows = DedupIngest(spark, sf).collect().map(_.toString).sorted.toSeq
      val first = rows
      assert(first.nonEmpty)
      assert(views("stream_dedup_ingest").isEmpty)
      assert(DedupIngest.metrics(spark, sf).count() > 0)
      assert(rows === first, "the memo-held frame reads the same rows again")
    } finally StagedEvents.deleteRecursively(dir)
  }
}
