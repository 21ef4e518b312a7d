package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.streaming.StagedEvents.deleteRecursively
import graft.tables.Tables._

/** Relational operator inventory mapped onto the driver test tables.
  *
  * Each entry implements one operator class from SURVEY.md §2 (the id is the
  * name prefix: p* = projection/filter, j* = join, a* = aggregation,
  * w* = window, o* = sort/limit, f* = scalar function, s* = source). The
  * proteomics-specific instances of the same operators (q-value filters,
  * design joins, precursor as-of lookups, ...) live in the `graft.ops` /
  * `graft.pipelines` layers; these queries prove the operator semantics
  * against the DuckDB oracle on the shared tables.
  *
  * Determinism contract with the oracle: every floating-point aggregate is
  * computed in integer "cents" (`sum(cast(round(x * 100) as bigint))`) so the
  * result is independent of partitioning / addition order, then scaled back.
  * Window sums order by a unique key so sequential fp addition is
  * order-stable in both engines.
  */
object Relational {

  type Q = (SparkSession, String) => DataFrame

  /** Exact money sum: doubles carry 2dp values, so sum in integer cents. */
  private def centsSum(c: Column): Column =
    sum(round(c * 100).cast("long"))
  /** Same, 4 decimal places (for products of 2dp values). */
  private def dmilSum(c: Column): Column =
    sum(round(c * 10000).cast("long"))

  /** Stage-once events copy written `partitionBy(event_type)` for S11.
    * Keyed by the sfDir path AND a content fingerprint of the source files
    * (name, size, mtime of every data file under the events table): the
    * tmpdir survives JVM restarts, so a path-only key would silently serve
    * a STALE layout after the events dataset is regenerated at the same
    * path (new round, new seed) while the DuckDB oracle reads the live
    * table. A content change flips the key, which re-stages; the
    * `_SUCCESS` marker makes same-content re-runs a no-op. The nanos ts
    * column is written as a plain long (micros) — partitioned rewrites
    * shouldn't depend on timestamp logical-type handling.
    */
  private def partitionedEventsDir(s: SparkSession, d: String): String =
    // build-in-temp + atomic rename (graft.Fixtures): concurrent
    // stagings — two prewarms in one JVM or two JVMs — never write the
    // same output dir, which is how a racing FileOutputCommitter corrupts
    // a check-then-write-in-place layout
    eventsFixture("events_by_type", d) { tmp =>
      events(s, d)
        .withColumn("ts", unix_micros(col("ts")))
        .write.partitionBy("event_type").mode("overwrite").parquet(tmp)
    }

  /** A stage-once layout of `d`'s events table: version 1 of fixture
    * `name` (see [[graft.Fixtures.stage]]);
    * `build` writes into the temp dir path.
    */
  private def eventsFixture(name: String, d: String)(build: String => Unit): String =
    graft.Fixtures.stage(name, 1, graft.Fixtures.Source(d, "events.parquet"))(
      t => build(t.toString)).toString

  /** Stage-once events copy in TWO SCHEMA GENERATIONS — the schema-drift
    * layout every long-lived 100 TB dataset grows: gen=1 partitions
    * predate the `props` column (written without it), gen=2 partitions
    * carry the full schema. Split deterministically by event_id parity so
    * the oracle can replay the generation rule against the live table.
    * Same content-fingerprint staging key as [[partitionedEventsDir]].
    */
  private def schemaEvolvedEventsDir(s: SparkSession, d: String): String =
    eventsFixture("events_schema_gens", d) { tmp =>
      val base = events(s, d).withColumn("ts", unix_micros(col("ts")))
      base.filter(col("event_id") % 2 === 0).drop("props")
        .write.mode("overwrite").parquet(s"$tmp/gen=1")
      base.filter(col("event_id") % 2 === 1)
        .write.mode("overwrite").parquet(s"$tmp/gen=2")
    }

  /** Stage-once "v2" snapshot of the documents table with deterministic
    * churn — every doc_id % 17 == 0 row deleted, every % 13 == 0 row's
    * n_chars bumped (an update), and a cloned row with a shifted id for
    * every % 19 == 0 (an insert) — so the snapshot-diff operator has all
    * three change kinds to find. The churn rule is pure id arithmetic,
    * which is what lets the oracle replay the diff against the live v1
    * table alone.
    */
  private def snapshotV2Dir(s: SparkSession, d: String): String =
    graft.Fixtures.stage("docs_snapshot", 2,
      graft.Fixtures.Source(d, "documents.parquet")) { tmp =>
      val v1 = documents(s, d).select(col("doc_id"), col("source"), col("n_chars"))
      val kept = v1.filter(col("doc_id") % 17 =!= 0)
        .withColumn("n_chars",
          when(col("doc_id") % 13 === 0, col("n_chars") + 1000)
            .otherwise(col("n_chars")))
      val added = v1.filter(col("doc_id") % 19 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("source"), col("n_chars"))
      kept.union(added).write.mode("overwrite").parquet(s"$tmp/data")
    }.resolve("data").toString

  /** (user_id, ts) extrema of the events table — the rescale constants both
    * the Z-order staging and the s12 query's cell enumeration derive their
    * grid from. One column-pruned scan collecting FOUR longs; at warehouse
    * scale these come from table-level statistics instead of a scan, and
    * the grid constants are part of the layout's metadata.
    */
  private def zorderBounds(s: SparkSession, d: String): (Long, Long, Long, Long) = {
    val r = events(s, d).agg(
      min(col("user_id")), max(col("user_id")),
      min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
  }

  /** Scale `v` in [lo, hi] to a 4-bit grid index 0..15 (monotone, exact
    * integer arithmetic — the same `div` both the staging expression and
    * the query-side cell enumeration use).
    */
  private def zbucket(v: Long, lo: Long, hi: Long): Int =
    (((v - lo) * 16) / (hi - lo + 1)).toInt

  /** Interleave two 4-bit grid indices into the 8-bit Z-value (Morton
    * code): user bits land on odd positions, time bits on even, so a range
    * box on EITHER dimension maps to a bounded set of z-cells.
    */
  private def zinterleave(ub: Int, tb: Int): Int =
    (0 until 4).map(i => (((ub >> i) & 1) << (2 * i + 1)) | (((tb >> i) & 1) << (2 * i))).sum

  /** Stage-once events copy CLUSTERED BY Z-ORDER of (user_id, ts) — the
    * multi-dimensional layout lever next to partitionBy (s11, one
    * dimension) and bucketBy (q3b/q5b, join co-location): each 8-bit
    * Morton cell becomes a partition directory, so a BOX predicate over
    * BOTH dimensions prunes to the cells its corners span at planning
    * time — the Delta/Iceberg `OPTIMIZE ZORDER BY` layout, expressed with
    * stock Spark partitioned writes. Same content-fingerprint staging key
    * as [[partitionedEventsDir]] (regenerated data can never serve a stale
    * layout); ts is stored as plain micros so partition dirs stay
    * timestamp-logic-free.
    */
  private def zorderedEventsDir(s: SparkSession, d: String): String =
    eventsFixture("events_zorder", d) { tmp =>
      val (umin, umax, tmin, tmax) = zorderBounds(s, d)
      val ub = expr(s"((user_id - $umin) * 16) div ${umax - umin + 1}")
      val tb = expr(s"((ts - $tmin) * 16) div ${tmax - tmin + 1}")
      val zcell = (0 until 4).map(i =>
        shiftleft(shiftright(ub, i).bitwiseAND(lit(1)), 2 * i + 1) +
          shiftleft(shiftright(tb, i).bitwiseAND(lit(1)), 2 * i))
        .reduce(_ + _)
      events(s, d)
        .withColumn("ts", unix_micros(col("ts")))
        .withColumn("zcell", zcell.cast("int"))
        .write.partitionBy("zcell").mode("overwrite").parquet(tmp)
    }

  /** Stage-once events copy RANGE-CLUSTERED by `value` with a per-file
    * min/max MANIFEST beside it (s14's zone-map layout). The manifest
    * stores bare file NAMES, not paths: Fixtures builds in a temp dir
    * and atomically renames, so an absolute path recorded at write time
    * would dangle after the commit. Same content-fingerprint key as the
    * sibling layouts.
    */
  private def zonemapEventsDir(s: SparkSession, d: String): String =
    eventsFixture("events_zonemap", d) { tmp =>
      events(s, d)
        .withColumn("ts", unix_micros(col("ts")))
        .repartitionByRange(8, col("value"))
        .sortWithinPartitions(col("value"))
        .write.mode("overwrite").parquet(s"$tmp/data")
      // the manifest is an INGEST artifact — written once with the data,
      // read instead of the data at query time
      s.read.parquet(s"$tmp/data")
        .groupBy(regexp_extract(input_file_name(), "([^/]+)$", 1).as("file"))
        .agg(min(col("value")).as("min_value"),
          max(col("value")).as("max_value"), count(lit(1)).as("n_rows"))
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/manifest")
    }

  /** Stage-once (per session) bucketed `orders`/`customer` tables for the
    * q3b co-located join: both sides written `bucketBy(8, custkey)` +
    * per-bucket sorted, so every subsequent orders⋈customer join reads the
    * two sides pre-co-partitioned and plans ZERO join exchanges — the
    * bucketing shuffle is paid once at write time and amortized over every
    * run (the 100 TB layout for a recurring large×large join; BucketedJoinSpec
    * pins the same property at spec scale). The session catalog is
    * in-memory, so the tables are re-staged per JVM — which also means a
    * regenerated testdata dir can never serve a stale layout. coalesce(1)
    * keeps one file per bucket (Spark only trusts the on-disk sort for
    * single-file buckets); a production multi-task write simply adds a
    * linear per-task re-sort, still no exchange.
    */
  /** Per-JVM tag baked into staged table names: the warehouse DIRECTORY
    * outlives the JVM and is shared across processes, so a name derived only
    * from the data dir could collide with a live table of another catalog —
    * the check-then-delete-then-write window a prior round's `clearOrphan`
    * opened. A UUID-fresh name can never exist in any catalog, so no
    * deletion of potentially-live locations ever happens; the tables this
    * JVM staged are dropped (with their dirs) via [[releaseBucketedTables]].
    */
  private val jvmTag = java.util.UUID.randomUUID().toString.take(8)
  private val stagedBucketTables = scala.collection.mutable.LinkedHashSet.empty[String]
  // Crash insurance for the UUID naming: a JVM that dies before
  // releaseAll would leak its uniquely-named warehouse dirs FOREVER (no
  // later JVM ever reuses the name, so nothing overwrites them). Two
  // reclaim paths: a shutdown hook removes this JVM's staged dirs on any
  // orderly exit (ctrl-C included), and staging sweeps foreign-tag
  // residue old enough (6 h) that no live bench/verify session can still
  // be reading it — which also retires pre-UUID legacy orphans.
  private val stagedBucketDirs = scala.collection.mutable.LinkedHashSet.empty[java.nio.file.Path]
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      Relational.synchronized {
        stagedBucketDirs.foreach(p => try deleteRecursively(p) catch { case _: Throwable => () })
      }, "graft-bucketed-staging-cleanup"))
  }

  /** Remove bucketed-staging residue of DEAD runs: dirs matching the
    * staging name pattern whose jvmTag is not ours and whose last
    * modification is older than [[staleBucketMs]].
    */
  private val staleBucketMs = 6L * 3600 * 1000
  private def sweepStaleBucketDirs(warehouse: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (!java.nio.file.Files.isDirectory(warehouse)) return
    // tagged dirs of other (dead) JVMs, plus untagged pre-UUID legacy names
    val pat = ("^(?:orders|customer|postings)_bck_[0-9a-f]{8}(?:_(?!" + jvmTag + ")[0-9a-f]{8})?$").r
    val cutoff = System.currentTimeMillis() - staleBucketMs
    val listing = java.nio.file.Files.list(warehouse)
    try listing.iterator().asScala.foreach { p =>
      val stale = pat.findFirstIn(p.getFileName.toString).isDefined &&
        java.nio.file.Files.getLastModifiedTime(p).toMillis < cutoff
      if (stale) try deleteRecursively(p) catch { case _: Throwable => () }
    } finally listing.close()
  }

  private def bucketedOrdersCustomer(s: SparkSession, d: String): (String, String) = {
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
    val (o, c) = (s"orders_bck_${key}_$jvmTag", s"customer_bck_${key}_$jvmTag")
    synchronized {
      val wh = java.nio.file.Paths.get(
        s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
      if (!s.catalog.tableExists(o) || !s.catalog.tableExists(c))
        sweepStaleBucketDirs(wh)
      if (!s.catalog.tableExists(o)) {
        orders(s, d).coalesce(1).write
          .bucketBy(8, "o_custkey").sortBy("o_custkey")
          .mode("overwrite").saveAsTable(o)
        stagedBucketTables += o
        stagedBucketDirs += wh.resolve(o)
      }
      if (!s.catalog.tableExists(c)) {
        customer(s, d).coalesce(1).write
          .bucketBy(8, "c_custkey").sortBy("c_custkey")
          .mode("overwrite").saveAsTable(c)
        stagedBucketTables += c
        stagedBucketDirs += wh.resolve(c)
      }
    }
    (o, c)
  }

  /** Materialize the staged layouts (events-by-type dir, bucketed
    * orders/customer tables) for `d` so no consumer query ever pays the
    * one-time write inside a timed region — Bench calls this via
    * [[SessionCaches.prewarm]] after warm-up, before the timed loop.
    */
  def prewarmStagedLayouts(s: SparkSession, d: String): Unit = {
    partitionedEventsDir(s, d)
    zorderedEventsDir(s, d)
    bucketedOrdersCustomer(s, d)
    bucketedPostings(s, d)
    ()
  }

  /** The posting table written `bucketBy(16, term)` + sorted — the
    * lexical index's co-located layout: term-keyed aggregations and
    * joins read buckets in place with ZERO exchange on the posting side
    * (Lucene's per-shard term locality as Spark bucketing; the
    * shuffle-free twin of [[bucketedOrdersCustomer]]'s key-join story).
    * Same staging lifecycle: per-(dir, JVM) managed table, dropped in
    * [[releaseBucketedTables]], stale foreign-tag dirs swept.
    */
  def bucketedPostings(s: SparkSession, d: String): String = {
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
    val t = s"postings_bck_${key}_$jvmTag"
    // parent materialized OUTSIDE this monitor (the lock discipline)
    val postings = TextOps.postingsShared(s, d)
    synchronized {
      val wh = java.nio.file.Paths.get(
        s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
      if (!s.catalog.tableExists(t)) {
        sweepStaleBucketDirs(wh)
        postings.coalesce(1).write
          .bucketBy(16, "term").sortBy("term")
          .mode("overwrite").saveAsTable(t)
        stagedBucketTables += t
        stagedBucketDirs += wh.resolve(t)
      }
    }
    t
  }

  /** Drop every bucketed table this JVM staged (managed tables: the DROP
    * removes their warehouse dirs too). Called from
    * [[SessionCaches.releaseAll]] so a bench/verify run leaves no residue.
    */
  def releaseBucketedTables(s: SparkSession): Unit = synchronized {
    stagedBucketTables.foreach { t =>
      try s.sql(s"DROP TABLE IF EXISTS $t") catch { case _: Throwable => () }
    }
    stagedBucketTables.clear()
    stagedBucketDirs.clear() // DROP removed the managed dirs; nothing left for the hook
  }

  val queries: Map[String, Q] = Map(
    // S3: parquet scan with projection + filter — Catalyst pushes both into
    // the scan (check: PushedFilters + 3-column ReadSchema in explain).
    "s3_scan_prune" -> ((s, d) => {
      lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
        .filter(col("l_extendedprice") > 3000.0)
    }),

    // S11: directory-partitioned layout + partition pruning, IN the bench
    // path (not only PartitionPruningSpec): the events table is staged once
    // per sfDir as `partitionBy(event_type)` — the 100 TB layout where a
    // predicate on the partition column prunes whole directories at
    // planning time, before any I/O — and the query's event_type filter
    // must show up as a PartitionFilter (PlanSpec pin), never a row filter.
    "s11_partition_pruned_scan" -> ((s, d) => {
      val dir = partitionedEventsDir(s, d)
      s.read.parquet(dir)
        .filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
    }),

    // S12: Z-order clustered scan — a BOX predicate (user range × time
    // range) over the Morton-cell layout [[zorderedEventsDir]] prunes to
    // the cells the box's grid corners span (the coarse-grid form of the
    // BIGMIN z-range decomposition): the cell set is enumerated from 4
    // collected extrema (bounded driver work), lands in the plan as a
    // PartitionFilter — whole directories skipped before any I/O — and the
    // residual exact box filter keeps the answer identical to the flat
    // scan the oracle runs. One-dimension layouts can only prune one of
    // the two predicates; the interleaving prunes on BOTH at once (16/256
    // cells for this quarter×quarter box). The box bounds are integer
    // percent arithmetic over the extrema, repeated verbatim in the
    // oracle's SQL, so the literals agree bit-for-bit.
    "s12_zorder_scan" -> ((s, d) => {
      val dir = zorderedEventsDir(s, d)
      val (umin, umax, tmin, tmax) = zorderBounds(s, d)
      def pct(lo: Long, hi: Long, p: Long) = lo + (hi - lo) * p / 100
      val (ulo, uhi) = (pct(umin, umax, 25), pct(umin, umax, 50))
      val (tlo, thi) = (pct(tmin, tmax, 25), pct(tmin, tmax, 50))
      val cells = for {
        ub <- zbucket(ulo, umin, umax) to zbucket(uhi, umin, umax)
        tb <- zbucket(tlo, tmin, tmax) to zbucket(thi, tmin, tmax)
      } yield zinterleave(ub, tb)
      s.read.parquet(dir)
        .filter(col("zcell").isin(cells: _*))
        .filter(col("user_id").between(ulo, uhi) && col("ts").between(tlo, thi))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          (sum(round(col("value") * 100).cast("long")) / 100.0).as("value_sum"))
    }),

    // S14: ZONE-MAP (manifest) data skipping — the third lakehouse layout
    // lever next to partitionBy (s11, categorical) and Z-order (s12,
    // multi-dim boxes): per-FILE min/max statistics written AT INGEST
    // (the Iceberg manifest / Delta transaction-log stats, expressed with
    // stock Spark) let a range predicate select intersecting files at
    // planning time without a catalog partition column. The staged layout
    // range-clusters events by `value` (repartitionByRange + within-file
    // sort, so each file owns a tight value interval) and writes the
    // 8-row manifest beside it; the query reads the MANIFEST first
    // (bounded: one row per file), collects the intersecting file list
    // (≤ 8 paths — the planning step every table format runs driver-side),
    // and scans ONLY those files with the residual filter. At 100 TB the
    // manifest is millions of rows but still 6 orders smaller than the
    // data — the skip ratio is the whole economics of a lakehouse scan.
    // ZonemapSpec pins files-read < files-total; the oracle is the plain
    // full-scan predicate on the live table.
    "s14_zonemap_scan" -> ((s, d) => {
      val dir = zonemapEventsDir(s, d)
      val (lo, hi) = (100.0, 150.0)
      val files = s.read.parquet(s"$dir/manifest")
        .filter(col("max_value") >= lo && col("min_value") <= hi)
        .select(col("file")).collect().map(r => s"$dir/data/${r.getString(0)}")
        .sorted
      require(files.nonEmpty, s"zone-map selected no files for [$lo, $hi]")
      s.read.parquet(files: _*)
        .filter(col("value") >= lo && col("value") <= hi)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("sum_cents"))
    }),

    // S1B: the many-runs mzML scan as a BENCHED query — one DSv2 scan over
    // 32 synthesized runs, one input partition per file (the shape
    // MzmlManyFilesSpec pins at N=6), aggregated per run. On a cluster this
    // is the "1000 runs on 1000 cores" path: per-file parallelism with no
    // driver loop, map-side partial aggregation, one tiny 32-row shuffle.
    // DuckDB can't read mzML, but the synthesized runs are closed-form
    // deterministic, so the oracle below is a VALUES literal computed from
    // the generator's own arithmetic (MzmlSynth.expectedRunStats) — a full
    // hash-match, not rows-only; per-spectrum semantics are additionally
    // pinned by the fixture specs.
    "s1b_mzml_many_runs" -> ((s, d) => {
      val paths = graft.sources.mzml.MzmlSynth.stagedRuns(32, 96, 128)
      graft.ops.MzmlStats.readSpectra(s, paths)
        .groupBy(col("file_name"))
        .agg(count(lit(1)).as("n_spectra"),
          sum(when(col("ms_level") === 1, 1L).otherwise(0L)).as("n_ms1"),
          sum(expr("aggregate(intensity_array, 0D, (a, x) -> a + x)"))
            .cast("long").as("tic_units"))
    }),

    // S13: schema-evolution merged scan — the drifted layout a long-lived
    // dataset grows (old partitions predate the `props` column, new ones
    // carry it). `mergeSchema` unifies the footers at planning time; rows
    // from pre-`props` files read the column as null, and the partition
    // column `gen` tells the generations apart. The aggregate checks all
    // three: unified row count, null-backfill behavior, and generation
    // attribution — the oracle replays the generation rule (event_id
    // parity) against the live single-schema table.
    "s13_schema_merge" -> ((s, d) => {
      val dir = schemaEvolvedEventsDir(s, d)
      s.read.option("mergeSchema", "true").parquet(dir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("props").isNotNull, 1L).otherwise(0L)).as("n_with_props"),
          sum(when(col("gen") === 1, 1L).otherwise(0L)).as("n_old_schema"))
    }),

    // Snapshot diff — the change-data audit between two dataset versions
    // (what changed since the last ingest?): one keyed FULL OUTER join on
    // the id classifies every row as added / removed / changed / same,
    // rolled up to per-status counts with an order-free id-sum
    // fingerprint. The v2 snapshot is staged with deterministic churn
    // ([[snapshotV2Dir]]), so the oracle replays the churn rule against
    // the live v1 table alone — no second table in DuckDB.
    "diag_snapshot_diff" -> ((s, d) => {
      val v1 = documents(s, d).select(col("doc_id"), col("n_chars").as("c1"))
      val v2 = s.read.parquet(snapshotV2Dir(s, d))
        .select(col("doc_id"), col("n_chars").as("c2"))
      v1.join(v2, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          when(col("c1").isNull, "added")
            .when(col("c2").isNull, "removed")
            .when(col("c1") =!= col("c2"), "changed")
            .otherwise("same").as("status"))
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("id_sum"))
    }),

    // S2B: the many-runs idXML scan + PSM assembly as an ORACLED query —
    // one DSv2 scan over 12 synthesized runs (one input partition per
    // file, the same shape as s1b), hits exploded, scores dispatched,
    // decoys kept so is_decoy is exercised both ways. DuckDB can't read
    // idXML, but the runs are closed-form deterministic, so the oracle is
    // a VALUES literal computed from the generator's own arithmetic
    // (IdXmlSynth.expectedPsms) — a full hash-match of the assembled PSM
    // table (reference contract: psm_conversion.py:13-35,87-108). List
    // columns are '|'-joined so every array participates in the hash.
    "s2b_idxml_many_runs" -> ((s, d) => {
      val paths = graft.sources.idxml.IdXmlSynth.stagedRuns(12, 8, 2)
      graft.ops.PsmConvert.convert(
          graft.ops.PsmConvert.readIdXml(s, paths), None, exportDecoyPsm = true)
        .select(
          col("file_name"), col("scan_number"), col("sequence"), col("peptidoform"),
          col("charge"), col("retention_time"), col("exp_mass_to_charge"),
          col("is_decoy"), col("global_qvalue"), col("consensus_support"),
          col("reference_file_name"),
          array_join(col("search_engines"), "|").as("engines"),
          array_join(col("id_scores"), "|").as("scores"),
          array_join(col("protein_accessions"), "|").as("proteins"))
    }),

    // P1: isin filter (ref: ms_level ∈ {1,2}, mzml_statistics.py:141-143)
    "p1_isin_filter" -> ((s, d) => {
      lineitem(s, d)
        .filter(col("l_linenumber").isin(1, 2))
        .select(col("l_orderkey"), col("l_linenumber"))
    }),

    // P2: strict threshold filter (ref: Q.Value < t, diann2msstats.py:263)
    "p2_threshold_filter" -> ((s, d) => {
      lineitem(s, d)
        .filter(col("l_discount") < 0.05)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_discount"))
    }),

    // P6: non-null + non-blank filter (ref: diann2msstats.py:88-89)
    "p6_nonblank_filter" -> ((s, d) => {
      events(s, d)
        .filter(col("props").isNotNull && trim(col("props")) =!= "")
        .select(col("event_id"))
    }),

    // P12: literal column attachment (ref: diann2msstats.py:84-85,95)
    "p12_literal_columns" -> ((s, d) => {
      orders(s, d)
        .select(
          col("o_orderkey"),
          lit("NA").as("fragment_ion"),
          lit(0).as("product_charge"),
          lit("L").as("isotope_label"))
    }),

    // A4 + F13: grouped aggregation with exact sums (TPC-H Q1 shape; ref
    // global TIC aggregation ms1_feature_finder.py:54-73).
    "q1_agg" -> ((s, d) => {
      lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          (centsSum(col("l_quantity")) / 100.0).as("sum_qty"),
          (centsSum(col("l_extendedprice")) / 100.0).as("sum_base"),
          (dmilSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))) / 10000.0)
            .as("sum_disc_price"),
          round(centsSum(col("l_quantity")) / count(lit(1)) / 100.0, 6).as("avg_qty"),
          count(lit(1)).as("n"))
    }),

    // J1: broadcast inner join with a small dimension (ref: sample ⋈ file
    // design join, diann2msstats.py:103-106). No broadcast() hint: customer
    // scales with sf, so the choice belongs to AQE — it broadcasts while the
    // side fits (which the plan test pins at test scale) and degrades to a
    // shuffle join instead of an executor OOM at 100×. The reference's
    // genuinely-bounded side (the design table, bounded by run count) is no
    // join at all in DiannToMsstats: it is resolved on the driver and probed
    // per row as a hash table (graft.expressions.HashLookup).
    "j1_broadcast_inner" -> ((s, d) => {
      orders(s, d)
        .join(customer(s, d), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(
          count(lit(1)).as("n"),
          (centsSum(col("o_totalprice")) / 100.0).as("total"))
    }),

    // J2: left many-to-one join (ref: report ⋈ design on Run,
    // diann2msstats.py:92-98,117); right side unique on key. NO broadcast
    // hint: orders grows with scale factor, so pinning it broadcast would
    // OOM an executor at 100× — AQE picks broadcast only while the side
    // actually fits (the reference's design lookup, which IS bounded, is a
    // driver-built hash table in DiannToMsstats, not a join).
    "j2_left_m2one" -> ((s, d) => {
      lineitem(s, d)
        .join(orders(s, d), col("l_orderkey") === col("o_orderkey"), "left")
        .groupBy(coalesce(col("o_orderpriority"), lit("UNMATCHED")).as("priority"))
        .agg(count(lit(1)).as("n"))
    }),

    // J4: anti join (ref: unmatched-run diagnostic, diann2msstats.py:119-127)
    "j4_anti_join" -> ((s, d) => {
      customer(s, d)
        .join(orders(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"))
    }),

    // J5: semi join (ref: sample→mixture existence check, extract_sample.py:47-57)
    "j5_semi_join" -> ((s, d) => {
      supplier(s, d)
        .join(lineitem(s, d), col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_suppkey"))
    }),

    // J7: band/range join (ref: feature→scans interval join,
    // ms1_feature_finder.py:186-187): equi key + range predicate, so Spark
    // plans a hash join with the range as a post-filter — no BNLJ.
    "j7_range_join" -> ((s, d) => {
      val bands = supplier(s, d)
        .groupBy(col("s_nationkey"))
        .agg(min(col("s_acctbal")).as("lo"), max(col("s_acctbal")).as("hi"))
      customer(s, d)
        .join(
          broadcast(bands),
          col("c_nationkey") === col("s_nationkey") &&
            col("c_acctbal").between(col("lo"), col("hi")))
        .groupBy(col("s_nationkey").as("nationkey"))
        .agg(count(lit(1)).as("n_in_band"))
    }),

    // J7 (pure-range variant): interval join with NO equi key — the shape
    // Spark would plan as BroadcastNestedLoopJoin (O(n*m)). Our injected
    // RangeJoinStrategy (graft.plans) plans BroadcastRangeJoinExec instead:
    // broadcast intervals sorted by lo + prefix-max(hi) index, binary-search
    // per probe. Same answer, near-linear work.
    "j7b_interval_join" -> ((s, d) => {
      val bands = supplier(s, d)
        .groupBy(col("s_nationkey"))
        .agg(min(col("s_acctbal")).as("lo"), max(col("s_acctbal")).as("hi"))
      customer(s, d)
        .join(broadcast(bands), col("c_acctbal").between(col("lo"), col("hi")))
        .groupBy(col("s_nationkey").as("nationkey"))
        .agg(count(lit(1)).as("n_in_band"))
    }),

    // J2 (skew variant): salted shuffle join. A hot key would send one
    // entire join key's rows to a single reducer; salting splits each key
    // into N deterministic sub-keys (fact side: pmod(hash(unique cols), N);
    // dim side: exploded ×N) so the hot key spreads over N tasks. AQE's
    // skew-join split handles this adaptively for sort-merge joins; salting
    // is the static variant that also works under windows/aggregations.
    // Oracle = the UNsalted join, proving the rewrite is answer-preserving.
    "j2s_salted_skew_join" -> ((s, d) => {
      val nsalt = 8
      val fact = lineitem(s, d).withColumn(
        "salt", pmod(hash(col("l_linenumber"), col("l_partkey")), lit(nsalt)))
      val dim = fanOut(orders(s, d), s).withColumn(
        "dsalt", explode(array((0 until nsalt).map(lit): _*)))
      fact
        .join(dim, col("l_orderkey") === col("o_orderkey") &&
          col("salt") === col("dsalt"))
        .groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n"),
          (centsSum(col("l_extendedprice")) / 100.0).as("sum_price"))
    }),

    // J6/W1: as-of lookup via window last(ignoreNulls) (ref: precursor
    // spectrum as-of join, mzml_statistics.py:253-260). For every non-view
    // event: value of the latest preceding 'view' event of the same user.
    "j6_asof_last_prev" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      events(s, d)
        .withColumn(
          "prev_view_value",
          last(when(col("event_type") === "view", col("value")), ignoreNulls = true).over(w))
        .filter(col("event_type") =!= "view")
        .select(col("event_id"), col("prev_view_value"))
    }),

    // W2/A5: exclusive prefix sum (ref: pTIC running sum,
    // ms1_feature_finder.py:75-102). Exact via cents.
    "w2_prefix_sum_excl" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      events(s, d)
        .select(
          col("event_id"),
          (coalesce(sum(round(col("value") * 100).cast("long")).over(w), lit(0L)) / 100.0)
            .as("running_value"))
    }),

    // A6: multiplex detection = distinct count per group (diann2msstats.py:61)
    "a6_count_distinct" -> ((s, d) => {
      events(s, d)
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"))
    }),

    // A7: dedup on a column subset (ref: drop_duplicates, diann2msstats.py:206)
    "a7_drop_duplicates" -> ((s, d) => {
      lineitem(s, d).select(col("l_returnflag"), col("l_linestatus")).dropDuplicates()
    }),

    // A8: functional-dependency violation check (diann2msstats.py:205-213)
    "a8_fd_violations" -> ((s, d) => {
      orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(countDistinct(col("o_orderpriority")).as("n_variants"))
        .filter(col("n_variants") > 1)
    }),

    // A9: group-merge of sorted distinct values (ref: mod-site concat,
    // dianncfg.py:150-169)
    "a9_sorted_set_concat" -> ((s, d) => {
      lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(concat_ws("", array_sort(collect_set(col("l_linestatus")))).as("statuses"))
    }),

    // A10: conditional ratio aggregation (ref: precursor purity target/total,
    // mzml_statistics.py:262-270). Exact integer sums; one final division.
    "a10_ratio_agg" -> ((s, d) => {
      val disc = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(
          dmilSum(when(col("l_returnflag") === "R", disc)).as("target_i"),
          dmilSum(disc).as("total_i"))
        .select(
          col("l_orderkey"),
          round(col("target_i") / col("total_i"), 6).as("purity"))
    }),

    // A11: validation-error fold (ref: check_samplesheet.py:49-61): emit the
    // violating rows; the CLI layer turns count>0 into the exit code.
    "a11_validation_errors" -> ((s, d) => {
      customer(s, d)
        .filter(col("c_acctbal") < 0)
        .select(col("c_custkey"), lit("negative_acctbal").as("error"))
    }),

    // O1: global sort with deterministic rank (ref: features by intensity
    // desc, ms1_feature_finder.py:213-214). A Window.orderBy with no
    // partition key would drag every row into ONE task; instead the rank is
    // computed scale-out: range-partitioned sort (what orderBy plans) +
    // zipWithIndex, which adds per-partition offsets in a light count pass.
    // Two passes over sorted data, but both fully parallel — the standard
    // global-ranking shape on a cluster.
    "o1_sort_desc_rank" -> ((s, d) => {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types.LongType
      val sorted = part(s, d)
        .select(col("p_partkey"), col("p_retailprice"))
        .orderBy(col("p_retailprice").desc, col("p_partkey"))
      // rank is Long: zipWithIndex counts past 2^31-1 rows at cluster scale
      val schema = sorted.schema.add("rank", LongType, nullable = false)
      s.createDataFrame(
        sorted.rdd.zipWithIndex().map { case (r, i) =>
          Row.fromSeq(r.toSeq :+ (i + 1L))
        },
        schema)
    }),

    // O2: head-of-group (ref: first precursor, mzml_statistics.py:169-172).
    // min(struct) keeps it a hash aggregate (no window/global sort) and is
    // deterministic under (linenumber, partkey) ties.
    "o2_first_per_group" -> ((s, d) => {
      lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(min(struct(col("l_linenumber"), col("l_partkey"))).as("first"))
        .select(col("l_orderkey"), col("first.l_partkey").as("first_partkey"))
    }),

    // O3: deterministic top-k (ties broken by unique keys). orderBy + limit
    // plans TakeOrderedAndProject — every partition keeps its local top-100
    // and only those merge — instead of the single-task global-window sort a
    // rank-then-filter formulation would. The rank window then runs over
    // just the 100 surviving rows.
    "o3_topk" -> ((s, d) => {
      val ord = Seq(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      val top = lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
        .orderBy(ord: _*)
        .limit(100)
      top.withColumn("rank", row_number().over(Window.orderBy(ord: _*)))
    }),

    // O4: ntile + percent_rank — the rank-family completion next to
    // o1 (global rank), o2 (head-of-group) and o3 (top-k). Both windows
    // ride ONE per-group total order ((price, orderkey, linenumber) —
    // ntile is order-dependent under ties, so the tiebreak is part of the
    // semantics), then the per-row frame collapses to the 6×4 quartile
    // summary. Scale note: an exact per-group ntile sorts each group on
    // one reducer — fine for bounded groups like these few flags; for a
    // high-cardinality rank at 100 TB the mergeable-sketch path is
    // a13b_percentile_approx's bucketing, not a bigger window.
    "o4_ntile_quartiles" -> ((s, d) => {
      val w = Window.partitionBy(col("l_returnflag"))
        .orderBy(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
      lineitem(s, d)
        .select(col("l_returnflag"), col("l_extendedprice"),
          col("l_orderkey"), col("l_linenumber"))
        .withColumn("q", ntile(4).over(w))
        .withColumn("pr", percent_rank().over(w))
        .groupBy(col("l_returnflag"), col("q"))
        .agg(count(lit(1)).as("n"),
          min(col("l_extendedprice")).as("min_price"),
          max(col("l_extendedprice")).as("max_price"),
          round(max(col("pr")), 6).as("max_pr"))
    }),

    // P13: pivot / wide conditional aggregation — long-to-wide reshape
    // over a FIXED value set (the values are declared, so the schema is
    // static and no discovery pass runs; an undeclared pivot costs an
    // extra distinct scan and makes the schema data-dependent — the 100 TB
    // anti-pattern). Spark compiles the declared pivot to one hash
    // aggregate with a conditional-sum per value — identical execution to
    // the FILTER-clause SQL the oracle spells out, one shuffle, no joins.
    "p13_pivot_wide" -> ((s, d) => {
      lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O", "P"))
        .agg((centsSum(col("l_quantity")) / 100.0))
        .select(col("l_returnflag"),
          coalesce(col("F"), lit(0.0)).as("qty_f"),
          coalesce(col("O"), lit(0.0)).as("qty_o"),
          coalesce(col("P"), lit(0.0)).as("qty_p"))
    }),

    // F1/F2: regex extract with cast (ref: scan-id extraction, openms.py:4-24)
    "f1_regex_extract" -> ((s, d) => {
      events(s, d)
        .select(
          col("event_id"),
          regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("int").as("k"))
    }),

    // F4: filename stem with .d.zip double-stem (the engine's real
    // Peptides.trueStem over fabricated run paths; diann2msstats.py:133-138)
    "f4_true_stem" -> ((s, d) => {
      val path = concat(
        lit("s3://runs/"), col("source"), lit("/doc_"), col("doc_id"),
        when(col("doc_id") % 3 === 0, ".d.zip").otherwise(lit(".mzML")))
      documents(s, d).select(
        col("doc_id"),
        graft.functions.Peptides.trueStem(path).as("run"))
    }),

    // F18: URL parsing — host / path / query-param extraction, the
    // web-corpus normalization stage upstream of per-domain dedup and
    // source mixing. URLs are fabricated deterministically from doc fields
    // (same device as f4's run paths — the corpus carries no real URLs,
    // so both engines build then parse identical strings and every row
    // exercises a real extraction). Pure codegen regexp over one scan;
    // patterns stay in the Java-regex ∩ RE2 subset.
    "f18_url_parse" -> ((s, d) => {
      val tld = element_at(array(lit("com"), lit("org"), lit("net")),
        (col("doc_id") % 3 + 1).cast("int"))
      val url = concat(lit("https://"), col("source"), lit(".example."), tld,
        lit("/p/"), col("doc_id").cast("string"), lit("?ref="), col("lang"))
      documents(s, d).select(col("doc_id"),
        regexp_extract(url, "^https?://([^/?#]+)", 1).as("host"),
        regexp_extract(url, "^https?://[^/?#]+([^?#]*)", 1).as("path"),
        regexp_extract(url, "[?&]ref=([^&#]*)", 1).as("ref"))
    }),

    // F5: literal-pattern strip (ref: drop "(SILAC)", diann2msstats.py:267-269)
    "f5_regex_replace" -> ((s, d) => {
      part(s, d)
        .select(col("p_partkey"), regexp_replace(col("p_name"), "[aeiou]", "").as("consonants"))
    }),

    // F7: dictionary label mapping via when-chain (diann2msstats.py:182-199)
    "f7_label_map" -> ((s, d) => {
      orders(s, d)
        .select(
          col("o_orderkey"),
          when(col("o_orderpriority") === "1-URGENT", 1)
            .when(col("o_orderpriority") === "2-HIGH", 2)
            .when(col("o_orderpriority") === "3-MEDIUM", 3)
            .when(col("o_orderpriority") === "4-NOT SPECIFIED", 4)
            .otherwise(5).as("priority_code"))
    }),

    // F10/F11: rounding + explicit floor-cast (Spark/DuckDB double→int cast
    // semantics differ — floor() first keeps them identical)
    "f10_round_cast" -> ((s, d) => {
      lineitem(s, d)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice") * col("l_discount"), 4).as("disc_amount"),
          floor(col("l_quantity")).cast("int").as("qty_floor"))
    }),

    // F13: conditional row shaping with typed nulls (mzml_statistics.py:153-218)
    "f13_conditional_shape" -> ((s, d) => {
      events(s, d)
        .select(
          col("event_id"),
          when(col("event_type") === "purchase", col("value")).as("purchase_value"),
          when(col("event_type") === "purchase", col("user_id")).as("buyer_id"))
    }),

    // F14: per-engine score label dispatch (psm_conversion.py:143-158):
    // concat(prefix, score) through a when-chain.
    "f14_score_dispatch" -> ((s, d) => {
      events(s, d)
        .select(
          col("event_id"),
          concat(
            when(col("event_type") === "purchase", lit("Purchase:amount:"))
              .when(col("event_type") === "error", lit("Error:code:"))
              .otherwise(lit("Other:score:")),
            floor(col("value")).cast("long").cast("string")).as("score_label"))
    }),

    // TPC-H Q3 shape: filtered join + aggregation + global top-10 by
    // revenue. Both date filters push to the scans; the final top-k is a
    // TakeOrderedAndProject over the aggregated rows, never a global sort.
    // Dates are emitted as formatted strings (raw timestamps don't
    // round-trip the oracle compare).
    "q3_topk_join" -> ((s, d) => {
      val cutoff = lit("1998-06-01").cast("timestamp")
      val rev = (dmilSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))) / 10000.0)
      val agg = customer(s, d).filter(col("c_mktsegment") === "BUILDING")
        .join(orders(s, d), col("c_custkey") === col("o_custkey"))
        .filter(col("o_orderdate") < cutoff)
        .join(lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
        .filter(col("l_shipdate") > cutoff)
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(rev.as("revenue"))
      val ord = Seq(col("revenue").desc, col("l_orderkey"))
      agg
        .select(col("l_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
          col("o_orderpriority"), col("revenue"))
        .orderBy(ord: _*)
        .limit(10)
        .withColumn("rank", row_number().over(Window.orderBy(ord: _*)))
    }),

    // Q3B: the q3 orders⋈customer join served by the BUCKETED layout in the
    // bench/oracle path (not only BucketedJoinSpec). Both scans come out
    // pre-co-partitioned by custkey (bucketBy(8) at write), the merge hint
    // keeps the planner on the co-located SortMergeJoin even where the dim
    // would broadcast at test scale, and the groupBy is on the SAME key, so
    // the whole query — scan, join, aggregate — plans zero hash exchanges;
    // the only data movement is the constant-size TakeOrdered top-k gather.
    // The trailing rank window runs over the already-limited 10-row frame.
    "q3b_bucketed_topk" -> ((s, d) => {
      val (o, c) = bucketedOrdersCustomer(s, d)
      val ord = Seq(col("revenue").desc, col("c_custkey"))
      s.table(o).hint("merge")
        .join(s.table(c), col("o_custkey") === col("c_custkey"))
        .filter(col("c_mktsegment") === "BUILDING")
        .groupBy(col("c_custkey"))
        .agg((centsSum(col("o_totalprice")) / 100.0).as("revenue"),
          count(lit(1)).as("n_orders"))
        .orderBy(ord: _*)
        .limit(10)
        .withColumn("rank", row_number().over(Window.orderBy(ord: _*)))
    }),

    // TPC-H Q17 shape: the CORRELATED-subquery classic ("lineitems below
    // 20% of their part's average quantity") — written decorrelated from
    // the start: one keyed agg builds the per-part (sum, count) stats,
    // one equi join applies the threshold. The 0.2·avg comparison runs in
    // PURE integers (5·qc·n < Σqc — the multiply-through form of
    // qc < sum/(5n)), so no float boundary decides a row in either
    // engine. This is the plan Catalyst's decorrelation rewrites a
    // correlated scalar subquery into; declaring it directly keeps the
    // same shape at any optimizer version.
    "q17_small_qty_revenue" -> ((s, d) => {
      val l = lineitem(s, d).select(col("l_partkey"),
        round(col("l_quantity") * 100).cast("long").as("qc"),
        round(col("l_extendedprice") * 100).cast("long").as("pc"))
      val stats = l.groupBy(col("l_partkey"))
        .agg(sum(col("qc")).as("sq"), count(lit(1)).as("n"))
      l.join(stats, "l_partkey")
        .filter(col("qc") * 5 * col("n") < col("sq"))
        .agg(round(sum(col("pc")).cast("double") / 100.0 / 7.0, 6).as("avg_yearly"))
    }),

    // TPC-H Q13 shape: order-count distribution INCLUDING zero-order
    // customers — the left-outer + double-aggregation pattern an inner
    // join silently gets wrong (the zero bucket vanishes). count(col)
    // null-skipping semantics turn the unmatched left rows into the 0
    // bucket in both engines.
    "q13_custdist" -> ((s, d) => {
      customer(s, d).select(col("c_custkey"))
        .join(orders(s, d).select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_custkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
    }),

    // TPC-H Q5 shape: the flagship multi-join — two broadcast dims, two
    // shuffle joins, exact revenue sums.
    "q5_multijoin" -> ((s, d) => {
      val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      customer(s, d)
        .join(orders(s, d), col("c_custkey") === col("o_custkey"))
        .join(lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
        .join(supplier(s, d), col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg((dmilSum(rev) / 10000.0).as("revenue"))
    }),

    // Q5B: q5's join tree with its dominating customer⋈orders edge read
    // from the bucketed layout — that edge plans as a zero-exchange
    // SortMergeJoin (the bucketing shuffle was paid once at write time),
    // demonstrating the layout composes through a deeper join tree:
    // lineitem still shuffles on l_orderkey as it must, the dims still
    // broadcast. Same oracle as q5 (the staged tables hold identical
    // rows).
    "q5b_bucketed_multijoin" -> ((s, d) => {
      val (o, c) = bucketedOrdersCustomer(s, d)
      val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      s.table(c).hint("merge")
        .join(s.table(o), col("c_custkey") === col("o_custkey"))
        .join(lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
        .join(supplier(s, d), col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg((dmilSum(rev) / 10000.0).as("revenue"))
    }),
  )
}
