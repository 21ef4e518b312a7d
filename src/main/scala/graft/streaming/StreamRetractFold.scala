package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** STREAMED RETRACTION FOLD — the streaming twin of
  * `agg_incremental_retract` (the batch IVM retraction), closing the IVM
  * surface: a CDC stream carries rows with MULTIPLICITY (+1 insert, −1
  * retraction — the Flink/Materialize retract-stream contract), and a
  * `flatMapGroupsWithState` fold per (day, event_type) group absorbs both
  * signs IN-STREAM for the invertible aggregates — count and sum subtract
  * exactly — while the NON-invertible min/max, which cannot un-see a
  * retracted extremum, are only MAINTAINED over inserts and the group is
  * FLAGGED `touched` the moment any retraction lands. After the drain,
  * the flagged groups (and only those) get the deferred batch re-scan
  * over their surviving rows — the same bounded touched-group recompute
  * `agg_incremental_retract` runs — so the served rollup is exact while
  * the stream state stays one tiny record per live group.
  *
  * Why this split is the 100 TB shape: the in-stream fold keeps the
  * always-fresh n/sum/avg a dashboard reads at arrival latency with
  * O(groups) state, and the expensive extremum repair is deferred,
  * batched, and proportional to the TOUCHED groups' surviving rows —
  * never the history. A group whose every row retracts vanishes (n = 0
  * filtered, exactly the batch rule).
  *
  * Determinism for the oracle: arrivals are the full events table as +1
  * in two user-parity files, then the deterministic ~5% md5 slice
  * (`agg_incremental_retract`'s is_rt rule, verbatim) re-arrives as −1,
  * then a per-group sentinel file (mult = 0) flushes final rows — data-
  * driven emission, never wall-clock. The composed output hash-matches
  * the SAME DuckDB oracle as the batch retraction query: subtraction
  * in-stream ≡ subtraction in-batch ≡ a plain recompute over survivors.
  */
object StreamRetractFold {

  case class Cdc(day: String, event_type: String, cents: Long, mult: Long)
  case class RState(n: Long, sum: Long, mn: Long, mx: Long, touched: Boolean)
  case class FoldRow(day: String, event_type: String, n: Long,
      sum_cents: Long, min_maint: Long, max_maint: Long, touched: Boolean)

  /** The per-group CDC fold. Inserts absorb into all four primitives;
    * retractions subtract n/sum and set `touched` (min/max keep their
    * possibly-stale maintained values — the flag is the contract that
    * they must not be served without the deferred re-scan). A sentinel
    * (mult = 0) emits the group's final record and clears its state.
    * A retraction for a never-inserted group fails loudly — a malformed
    * CDC stream must not silently produce negative state.
    */
  private[streaming] def onGroup(key: (String, String), it: Iterator[Cdc],
      state: GroupState[RState]): Iterator[FoldRow] = {
    var cur = state.getOption
    val out = scala.collection.mutable.ArrayBuffer.empty[FoldRow]
    it.foreach { e =>
      if (e.mult == 0L) { // sentinel: flush
        cur.foreach(s => out +=
          FoldRow(key._1, key._2, s.n, s.sum, s.mn, s.mx, s.touched))
        cur = None
      } else if (e.mult > 0L) cur = Some(cur match {
        case None => RState(1L, e.cents, e.cents, e.cents, touched = false)
        case Some(s) => RState(s.n + 1L, s.sum + e.cents,
          math.min(s.mn, e.cents), math.max(s.mx, e.cents), s.touched)
      })
      else cur match {
        case None => throw new IllegalStateException(
          s"retraction for group $key with no standing state — malformed CDC stream")
        case Some(s) =>
          cur = Some(RState(s.n - 1L, s.sum - e.cents, s.mn, s.mx, touched = true))
      }
    }
    cur match {
      case Some(s) => state.update(s)
      case None => if (state.exists) state.remove()
    }
    out.iterator
  }

  def apply(spark: SparkSession, sfDir: String): DataFrame =
    applyWithProgress(spark, sfDir)._1

  /** As [[apply]], plus the micro-batch progress — the state-store
    * counters the boundedness spec pins (state rows ≤ live groups).
    */
  def applyWithProgress(spark: SparkSession, sfDir: String)
      : (DataFrame, Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]) =
    graft.tables.Tables.withShufflePartitions(spark, 4) {
      import spark.implicits._
      val ev = graft.tables.Tables.events(spark, sfDir).select(
        date_format(to_date(col("ts")), "yyyy-MM-dd").as("day"),
        col("event_type"), col("event_id"), col("user_id"),
        round(col("value") * 100).cast("long").as("cents"))
      // agg_incremental_retract's retraction rule, verbatim
      val isRt = conv(substring(
        md5(concat(lit("rt"), col("event_id").cast("string"))), 1, 15), 16, 10)
        .cast("long") % 20 === 0
      // the CDC arrival fixture is a pure function of the events table —
      // staged once per content stamp (graft.Fixtures) and
      // shared across invocations; each invocation still drains all 4
      // triggers through the stateful fold
      val staged = graft.Fixtures.stage("retract_src", 1,
        graft.Fixtures.Source(sfDir, "events.parquet")) { tmp =>
        require(ev.head(1).nonEmpty, s"$sfDir/events.parquet is empty")
        def cdc(df: DataFrame, mult: Long) = df.select(
          col("day"), col("event_type"), col("cents"), lit(mult).as("mult"))
        // arrivals: the standing load as +1 (two user-parity files), the
        // correction as −1, then the per-group sentinel flush
        StagedEvents.writePart(cdc(ev.filter(col("user_id") % 2 === 0), 1L),
          tmp, "b0_ins_even.parquet", 75)
        StagedEvents.writePart(cdc(ev.filter(col("user_id") % 2 =!= 0), 1L),
          tmp, "b1_ins_odd.parquet", 60)
        StagedEvents.writePart(cdc(ev.filter(isRt), -1L),
          tmp, "b2_retract.parquet", 45)
        StagedEvents.writePart(
          ev.select(col("day"), col("event_type")).distinct()
            .select(col("day"), col("event_type"),
              lit(0L).as("cents"), lit(0L).as("mult")),
          tmp, "b3_sentinel.parquet", 30)
      }
      locally {
        val schema = spark.read
          .parquet(staged.resolve("b0_ins_even.parquet").toString).schema
        val folded = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(staged.toString)
          .as[Cdc]
          .groupByKey(r => (r.day, r.event_type))
          .flatMapGroupsWithState(
            OutputMode.Append(), GroupStateTimeout.NoTimeout())(onGroup)
        val (drained, progress) =
          Drain.toMemoryWithProgress(spark, "stream_retract_fold", folded.toDF())
        // DEFERRED TOUCHED-GROUP RE-SCAN (the batch retract's bounded
        // recompute, composed): min/max re-derived over ONLY the flagged
        // groups' surviving rows; untouched groups serve their maintained
        // extrema verbatim. Bounded: the broadcast spine is one row per
        // touched group.
        val touched = drained.filter(col("touched"))
          .select(col("day"), col("event_type"))
        val rescan = ev.filter(!isRt)
          .join(broadcast(touched), Seq("day", "event_type"))
          .groupBy(col("day"), col("event_type"))
          .agg(min(col("cents")).as("min_s"), max(col("cents")).as("max_s"))
        val outDf = drained
          .join(rescan, Seq("day", "event_type"), "left")
          .filter(col("n") > 0) // a fully-retracted group vanishes
          .select(col("day"), col("event_type"), col("n"), col("sum_cents"),
            when(col("touched"), col("min_s")).otherwise(col("min_maint"))
              .as("min_cents"),
            when(col("touched"), col("max_s")).otherwise(col("max_maint"))
              .as("max_cents"),
            col("touched").as("recomputed"),
            round(col("sum_cents") / col("n") / 100.0, 6).as("avg_value"))
        (outDf, progress)
      }
    }
}
