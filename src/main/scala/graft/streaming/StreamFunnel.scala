package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The conversion funnel as a LEFT OUTER stream-stream join — the state
  * machine the inner `stream_join` cannot exercise: a view with no
  * purchase inside its 30-minute window must STILL emit (null-matched),
  * and it can only do so once the watermark proves no future purchase can
  * match — the outer row's emission is driven by state EVICTION, not by
  * data arrival. That makes this the streaming twin of `w4_funnel`'s
  * left join: every view row comes out exactly once, matched or not.
  *
  * Plumbing: events arrive in one staged batch; a second batch delivers
  * one far-future sentinel PER LEG (each must survive its leg's filter —
  * Catalyst pushes the filters below the watermark nodes, see the inline
  * note) whose only job is to advance the watermark past every view's
  * upper bound — the house "nudge batch" that lets the final no-data
  * micro-batch flush all unmatched state. Without it the query would
  * terminate with unmatched views still buffered and the batch oracle
  * could never match. Both legs bound each other's event time in
  * the join condition, so state is evicted at the watermark horizon — at
  * 100 TB/day this is what keeps a forever-running funnel's store at
  * O(events within the window), not O(history).
  *
  * The drained pairs aggregate batch-side to the per-user read-out
  * (views, conversions, fastest conversion) — the oracle replays the
  * identical left join + rollup from the raw table.
  */
object StreamFunnel {

  def audit(spark: SparkSession, sfDir: String): DataFrame =
    graft.tables.Tables.withShufflePartitions(spark, 4) {
      // the arrival fixture (events copy + per-leg sentinels) is a pure
      // function of the events table — staged once per content stamp and
      // shared across invocations (graft.Fixtures); each
      // invocation still runs the full 3-trigger drain
      val staged = graft.Fixtures.stage("funnel_src", 1,
        graft.Fixtures.Source(sfDir, "events.parquet")) { tmp =>
        val ev = spark.read.parquet(s"$sfDir/events.parquet")
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"), col("props"))
        require(ev.head(1).nonEmpty, s"$sfDir/events.parquet is empty")
        StagedEvents.writePart(ev, tmp, "b0_events.parquet", 60)
        // the nudge: one sentinel PER LEG, 2 h past the max event time.
        // Catalyst pushes each leg's event_type filter BELOW its
        // EventTimeWatermark node (measured: a sentinel with a type
        // outside both filters advances NEITHER node and the global
        // watermark — the min across all nodes — stalls at the smaller
        // leg's max, leaving the last views buffered forever). So each
        // sentinel must SURVIVE its leg's filter: a far-future 'view' for
        // user −1 and a far-future 'purchase' for user −2. They can never
        // join (distinct users) and the view-sentinel can never emit (its
        // own 30-minute window closes only past the watermark's ceiling),
        // so the output stays sentinel-free by construction.
        val sentinelTs = StagedEvents.futureTs(ev, 2)
        val sentinel = spark.range(2)
          .select((-col("id") - 1).as("user_id"))
          .select(lit(-1L).as("event_id"), lit(sentinelTs).as("ts"),
            col("user_id"),
            when(col("user_id") === -1L, lit("view")).otherwise(lit("purchase"))
              .as("event_type"),
            lit(0.0).as("value"), lit("").as("props"))
        StagedEvents.writePart(sentinel, tmp, "b1_nudge.parquet", 45)
      }
      locally {
        val schema =
          spark.read.parquet(staged.resolve("b0_events.parquet").toString).schema
        def src = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(staged.toString)
          .transform(graft.tables.Tables.toEventTime(_, "ts"))
          .withWatermark("ts", "1 second")
        val views = src.filter(col("event_type") === "view")
          .select(col("user_id").as("v_user"), col("event_id").as("v_id"),
            col("ts").as("vts"))
        val purchases = src.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("ts").as("pts"))
        val joined = views.join(purchases,
          col("v_user") === col("p_user") &&
            col("pts") >= col("vts") &&
            col("pts") <= col("vts") + expr("interval 30 minutes"),
          "left_outer")
        val pairs = Drain.toMemory(spark, "stream_funnel",
          joined.select(col("v_user").as("user_id"), col("v_id"),
            unix_micros(col("vts")).as("v_us"),
            unix_micros(col("pts")).as("p_us")))
        pairs
          .groupBy(col("user_id"), col("v_id"), col("v_us"))
          .agg(min(col("p_us")).as("p_us"))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_views"),
            sum(when(col("p_us").isNotNull, 1L).otherwise(0L)).as("n_conv"),
            min(col("p_us") - col("v_us")).as("min_latency_us"))
      }
    }
}
