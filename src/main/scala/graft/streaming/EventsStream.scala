package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Structured-Streaming pipelines over the `events` table (north-star
  * extension — the reference is batch-only, SURVEY.md §2.8; the importer
  * shape S10→F6→K4 maps to readStream → normalize → sink).
  *
  * Local runs drive a parquet directory through a memory sink with
  * AvailableNow, which processes the backlog exactly like a live stream
  * (same incremental planner, same state store); on a cluster the same
  * code tails an arriving directory/Kafka topic. */
object EventsStream {
  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Tumbling-window counts per event_type, APPEND mode: a window row is
    * emitted exactly once, when the watermark finalizes it — the live
    * production shape (complete mode would re-emit the whole result table
    * every micro-batch). Watermark bounds state: at 100 TB/day the state
    * store only keeps windows newer than the watermark horizon, so state
    * is O(active windows), not O(history). The drain sentinel finalizes
    * the trailing windows on a finite run. */
  def tumblingCounts(spark: SparkSession, dir: String,
                     windowSec: Int = 300,
                     statePartitions: Int = 8): DataFrame = {
    val wmDelaySec = 3600L
    val evs = drainedEvents(spark, dir, Seq("ts", "event_type", "value"),
        wmDelaySec + windowSec + 60)
      .withWatermark("ts", s"$wmDelaySec seconds")
    val agg = evs
      .groupBy(window(col("ts"), s"$windowSec seconds"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.functions.Numeric.sumExactD(col("value"), 2).as("total_value"))
      .select(unix_timestamp(col("window.start")).as("win_start"),
        col("event_type"), col("n"), col("total_value"))
    // drain filter OUTSIDE the streaming plan: inside it Catalyst pushes
    // the predicate below the EventTimeWatermark node and the sentinel
    // never reaches the watermark stats (its window also never finalizes,
    // so this only guards the pathological case)
    runToTable(agg, statePartitions)
      .where(col("event_type") =!= DrainType)
  }

  /** Streaming fixed-bin value histogram per (tumbling window, type) —
    * the state that makes continuous QUANTILE monitoring affordable: an
    * exact streaming percentile would buffer every value per window,
    * while this holds ≤ `bins` counters per open (window, type) group
    * (the q170 histogram-quantile argument, continuous form). Bin edges
    * are FIXED a priori (lo/hi/bins as pipeline constants), not
    * data-dependent — a streaming operator cannot see the future min/max,
    * and fixed edges make histograms mergeable across windows, days and
    * reruns. Values clamp into the edge bins; readers interpolate
    * quantiles batch-side from the drained state (the state-table +
    * report split of q150): approx = lo + w·(bin + (n·q − cumBefore)/cnt)
    * — every input to that form is an exact integer count or the exact
    * bin width, so the report is engine-reproducible. */
  def streamValueHistogram(spark: SparkSession, dir: String,
                           windowSec: Int = 600,
                           lo: Double = 0.0, hi: Double = 1000.0,
                           bins: Int = 50,
                           statePartitions: Int = 8): DataFrame = {
    require(bins > 0 && hi > lo, s"bad histogram domain [$lo,$hi)/$bins")
    val wmDelaySec = 3600L
    val w = (hi - lo) / bins
    val evs = drainedEvents(spark, dir, Seq("ts", "event_type", "value"),
        wmDelaySec + windowSec + 60)
      .withWatermark("ts", s"$wmDelaySec seconds")
      .where(col("value").isNotNull)
    val bin = least(greatest(floor((col("value") - lit(lo)) / lit(w)), lit(0.0)),
      lit((bins - 1).toDouble)).cast("int")
    val agg = evs
      .groupBy(window(col("ts"), s"$windowSec seconds"), col("event_type"),
        bin.as("bin"))
      .agg(count(lit(1)).as("cnt"))
      .select(unix_timestamp(col("window.start")).as("win_start"),
        col("event_type"), col("bin"), col("cnt"))
    runToTable(agg, statePartitions)
      .where(col("event_type") =!= DrainType)
  }

  private def eventsStream(spark: SparkSession, dir: String) = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    // spark.graft.streaming.maxFilesPerTrigger splits the backlog into
    // real micro-batches (AvailableNow honors source read limits) — the
    // steady-state mode of a live stream. Default (unset)
    // keeps the whole-backlog single batch the oracle queries run.
    // The events table exists in two layouts and each needs a different
    // source spelling: the driver testdata ships events.parquet as a
    // single FILE (a file can't be a stream basePath → stream the parent
    // dir with pathGlobFilter on the name), while scaled/prepared dirs
    // ship it as a DIRECTORY of part files (stream the directory ITSELF
    // — pathGlobFilter matches leaf-file NAMES, so filtering the parent
    // dir by "events.parquet" dropped every part-*.parquet and the
    // stream read zero rows, found the first time a prepared dir ran).
    val evPath = new org.apache.hadoop.fs.Path(s"$dir/events.parquet")
    val isDir = evPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(evPath).isDirectory
    val rs = spark.readStream.schema(schema)
    val rs2 = spark.conf.getOption("spark.graft.streaming.maxFilesPerTrigger")
      .fold(rs)(v => rs.option("maxFilesPerTrigger", v))
    graft.core.Tables.normalizeEventTs(
      if (isDir) rs2.parquet(evPath.toString)
      else rs2.option("pathGlobFilter", "events.parquet").parquet(dir))
  }

  /** Put a parquet backlog's modification times into EVENT-time order,
    * so a multi-batch replay (`maxFilesPerTrigger`) consumes files in
    * the order the watermark assumes — the REMEDY for the round-10 dry
    * run's silent loss, shipped as code instead of a log warning:
    * `FileStreamSource` consumes oldest-modTime-first, and a backlog
    * whose modTimes don't track event time (rsync'd, re-copied,
    * re-compacted — any of which rewrite mtimes) advances the watermark
    * past whole files, whose rows then drop as "late" with exit 0.
    *
    * Ordering keys come from the parquet FOOTERS (min/max statistics of
    * `tsColumn` per row group — metadata-only, no data read); a file
    * without usable stats falls back to a one-column Spark scan, applied
    * to every file so all keys share one unit. ModTimes are rewritten
    * ascending from the backlog's current max (2 s apart — distinct
    * values, because equal mtimes fall back to path order, which is the
    * same accident this exists to fix).
    *
    * Returns the per-file report (file, min_ts, max_ts, old/new mtime,
    * rank) and logs the residual risk the ordering CANNOT remove: when
    * files overlap in event time, the watermark delay must still exceed
    * the largest overlap (max over later files of an earlier file's
    * max_ts minus the later file's min_ts) or the overlapped rows drop
    * anyway. The report is driver-sized by construction: one row per
    * backlog FILE, and a backlog directory has at most thousands of
    * those (a 100 TB corpus replays as date-partitioned directories, not
    * one flat dir). */
  def orderBacklogByEventTime(spark: SparkSession, dir: String,
                              tsColumn: String = "ts"): DataFrame = {
    import spark.implicits._
    val hconf = spark.sparkContext.hadoopConfiguration
    val base = new org.apache.hadoop.fs.Path(dir)
    val fs = base.getFileSystem(hconf)
    val files = fs.listStatus(base).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet") &&
        !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
    require(files.nonEmpty, s"orderBacklogByEventTime: no parquet files under $dir")
    // footer stats first: raw min/max per file (INT64 micros/nanos both
    // order correctly as raw longs — no unit conversion needed to SORT)
    val fromFooters = files.map(s => s -> footerRange(hconf, s.getPath, tsColumn))
    val keyed: Seq[(org.apache.hadoop.fs.FileStatus, Long, Long)] =
      if (fromFooters.forall(_._2.isDefined))
        fromFooters.map { case (s, mm) => (s, mm.get._1, mm.get._2) }
      else {
        // one file without stats poisons unit consistency — scan them ALL
        // through one Spark plan (second-precision keys; overlaps at
        // sub-second scale are inside any sane watermark delay anyway)
        log.info(s"orderBacklogByEventTime: footer stats unusable for " +
          s"${fromFooters.count(_._2.isEmpty)} of ${files.size} files — " +
          "falling back to a one-column scan for the ordering keys")
        files.map { s =>
          val mm = spark.read.parquet(s.getPath.toString)
            .agg(min(col(tsColumn).cast("timestamp").cast("long")),
              max(col(tsColumn).cast("timestamp").cast("long"))).head()
          (s, mm.getLong(0), mm.getLong(1))
        }
      }
    val ordered = keyed.sortBy { case (s, mn, _) => (mn, s.getPath.getName) }
    val t0 = files.map(_.getModificationTime).max
    val report = ordered.zipWithIndex.map { case ((s, mn, mx), i) =>
      val newM = t0 + (i + 1) * 2000L
      fs.setTimes(s.getPath, newM, -1)
      (s.getPath.toString, mn, mx, s.getModificationTime, newM, i)
    }
    // the residual the ordering can't fix: event-time overlap ACROSS files
    val overlap = worstOverlap(ordered.map { case (_, mn, mx) => (mn, mx) })
    if (overlap > 0)
      log.warn(s"orderBacklogByEventTime: files OVERLAP in event time by up " +
        s"to $overlap (raw $tsColumn units). ModTime order is now " +
        "correct, but the replay's watermark delay must exceed that " +
        "overlap or the overlapped rows will still drop as late.")
    report.toDF("file", "min_ts", "max_ts", "old_mtime", "new_mtime", "rank")
  }

  /** Worst event-time overlap across a backlog already ordered by min ts:
    * the max over files 2..n of (largest max_ts of any EARLIER file minus
    * this file's min_ts), clamped at 0 — 0 means no file starts before a
    * predecessor ends (and a 0/1-file backlog trivially has none). Pure
    * for StreamingSpec. The first release let the scanLeft SEED pair into
    * the max, so the first file's `Long.MinValue - min_ts` underflowed to
    * ~9.2e18 and the overlap warning fired on EVERY backlog with a
    * nonsense magnitude (round-12 ADVICE) — the seed pair carries no
    * prior file and must be excluded, not compared. */
  def worstOverlap(orderedMinMax: Seq[(Long, Long)]): Long = {
    val priorMax = orderedMinMax.map(_._2).scanLeft(Long.MinValue)(math.max).init
    orderedMinMax.zip(priorMax).collect {
      case ((mn, _), prior) if prior != Long.MinValue => prior - mn
    }.foldLeft(0L)(math.max)
  }

  // memory-sink tables accumulate per call; cap the leak at one pending
  // table by dropping the previous run's (consumers hold their result as
  // a DataFrame over the sink's rows; dropping the VIEW of an earlier
  // query that someone still lazily holds is the documented tradeoff —
  // consume results before starting the next streaming query)
  private val lastMemTable =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** Start-run-drain a streaming query into a memory table, in append
    * mode (every query here emits each row once, when it is final).
    *
    * `statePartitions` sizes the state-store width: streaming state
    * instantiates one store per shuffle partition (×4 for a stream-stream
    * join), each paying snapshot/maintenance overhead per micro-batch, so
    * the width should track state volume and stateful-key parallelism —
    * NOT the batch-side shuffle default (inheriting local[32]'s 32 made
    * the interval join spend 10 of 12 seconds on store machinery; 8 runs
    * the same query in 3). The conf is captured at query START, so
    * restoring after start() cannot affect the running query. */
  private def runToTable(df: DataFrame, statePartitions: Int): DataFrame = {
    val spark = df.sparkSession
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    val name = s"events_stream_${System.nanoTime()}"
    val prev = lastMemTable.getAndSet(name)
    if (prev != null)
      try spark.catalog.dropTempView(prev) catch { case _: Exception => () }
    // The state-store backend is the session's own
    // spark.sql.streaming.stateStore.providerClass, read at query start:
    // the HDFS-backed default holds all state on-heap, RocksDB keeps it
    // off-heap and on local disk (GraftConf.recommended picks it when
    // state approaches heap; StreamingSpec pins equal results).
    val q =
      try {
        spark.conf.set(key, statePartitions)
        df.writeStream.outputMode("append").format("memory")
          .queryName(name).trigger(Trigger.AvailableNow()).start()
      } finally spark.conf.set(key, saved)
    q.awaitTermination()
    // Late data drops SILENTLY by the streaming contract — correct on a
    // live stream, but on a backlog replay it usually means the files
    // were not event-time-ordered (the round-10 dry run lost half an
    // unordered backlog to exactly this, with exit 0). Surface the count
    // loudly; the remedy is in the message. recentProgress retains the
    // last ~100 batches — ample for AvailableNow runs at any sane
    // maxFilesPerTrigger, and a truncated count would still be non-zero.
    val dropped = q.recentProgress.iterator
      .flatMap(_.stateOperators.iterator.map(_.numRowsDroppedByWatermark))
      .sum
    if (dropped > 0)
      log.warn(s"$name: $dropped input rows were LATE (behind the watermark) " +
        "and dropped. On a live stream this is the contract; replaying a " +
        "file backlog, it means the files are not event-time-ordered - " +
        "replay an unordered backlog as one batch (unset " +
        "spark.graft.streaming.maxFilesPerTrigger) or run " +
        "EventsStream.orderBacklogByEventTime(spark, dir) first (sets " +
        "file modTimes into event-time order from the parquet footers)")
    spark.table(name)
  }

  /** Sliding windows (overlapping), APPEND mode — each event lands in
    * window/slide buckets; a bucket emits once when finalized; watermark
    * bounds state exactly as in the tumbling case. */
  def slidingCounts(spark: SparkSession, dir: String,
                    windowSec: Int = 600, slideSec: Int = 300,
                    statePartitions: Int = 8): DataFrame = {
    val wmDelaySec = 3600L
    val evs = drainedEvents(spark, dir, Seq("ts", "event_type", "value"),
        wmDelaySec + windowSec + 60)
      .withWatermark("ts", s"$wmDelaySec seconds")
    val agg = evs
      .groupBy(window(col("ts"), s"$windowSec seconds", s"$slideSec seconds"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_timestamp(col("window.start")).as("win_start"),
        col("event_type"), col("n"))
    // drain filter outside the streaming plan — see tumblingCounts
    runToTable(agg, statePartitions)
      .where(col("event_type") =!= DrainType)
  }

  /** Stream-static dimension enrichment: the stream broadcast-joins a
    * static dimension INSIDE the streaming plan (stateless — no state
    * store grows; Spark re-plans the static side per micro-batch, which
    * is also what picks up dim-table updates between batches), then the
    * stateful windowed agg runs over the enriched rows. This is the
    * streaming spelling of J4 metadata enrichment: at 100 TB/day the
    * dimension stays model-sized and broadcast, so the stream side never
    * shuffles for the join — only for the windowed agg. */
  def enrichedWindowTotals(spark: SparkSession, dir: String,
                           dim: DataFrame,
                           windowSec: Int = 600,
                           statePartitions: Int = 8): DataFrame = {
    val wmDelaySec = 3600L
    val evs = drainedEvents(spark, dir, Seq("ts", "event_type", "value"),
        wmDelaySec + windowSec + 60)
      .withWatermark("ts", s"$wmDelaySec seconds")
    val joined = evs.join(broadcast(dim), Seq("event_type"), "left")
    val agg = joined
      .groupBy(window(col("ts"), s"$windowSec seconds"),
        coalesce(col("category"), lit("unknown")).as("category"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.functions.Numeric.sumExactD(col("value") * col("weight"), 2)
          .as("weighted_value"))
      .select(unix_timestamp(col("window.start")).as("win_start"),
        col("category"), col("event_type"), col("n"), col("weighted_value"))
    // drain filter outside the streaming plan — see tumblingCounts
    runToTable(agg, statePartitions)
      .where(col("event_type") =!= DrainType)
  }

  /** Streaming exact dedup within the watermark horizon — the streaming
    * spelling of U2 (state store keeps one entry per key until the
    * watermark passes; unbounded-history dedup at 100 TB is a non-goal by
    * design). */
  def dedupedEvents(spark: SparkSession, dir: String,
                    statePartitions: Int = 8): DataFrame = {
    val deduped = eventsStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select(col("event_id"), col("user_id"), col("event_type"))
    runToTable(deduped, statePartitions)
  }

  /** Windowed distinct-user sketches in streaming: per-event register
    * (idx, rho) is a STATELESS projection ([[graft.operators.Sketches]]
    * portable HLL), and the only state kept is the windowed register-max
    * — at most 256 ints per (window, event_type), independent of how many
    * events or distinct users the window sees. That bounded, merge-by-max
    * state is precisely the aggregate shape streaming state stores want:
    * `max` partials fold per micro-batch with no buffer growth, where a
    * windowed `approx_count_distinct` would carry engine-private HLL++
    * buffers and an exact `collect_set` would hold every key. Emission is
    * append-mode on watermark passage, same contract as [[tumblingCounts]];
    * the estimate/digest read is a BATCH step over the drained registers
    * (estimation is presentation, not state). */
  def windowedHllRegisters(spark: SparkSession, dir: String,
                           windowSec: Int = 3600,
                           statePartitions: Int = 8): DataFrame = {
    import graft.operators.Sketches
    val wmDelaySec = 3600L
    val evs = drainedEvents(spark, dir, Seq("ts", "event_type", "user_id"),
        wmDelaySec + windowSec + 60)
      .withWatermark("ts", s"$wmDelaySec seconds")
    val agg = evs
      .withColumn("idx", Sketches.hllIdx(col("user_id")))
      .withColumn("rho", Sketches.hllRho(col("user_id")))
      .groupBy(window(col("ts"), s"$windowSec seconds"),
        col("event_type"), col("idx"))
      .agg(max(col("rho")).cast("int").as("rho"))
      .select(unix_timestamp(col("window.start")).as("win_start"),
        col("event_type"), col("idx"), col("rho"))
    // drain filter outside the streaming plan — see tumblingCounts
    runToTable(agg, statePartitions)
      .where(col("event_type") =!= DrainType)
  }

  /** Streaming CDC apply: maintain a per-user SNAPSHOT table from the
    * event changelog — latest row per user by (ts, event_id) wins,
    * 'error' is the tombstone (q99's compaction semantics, maintained
    * incrementally). Each micro-batch runs
    * [[graft.operators.Merge.applyChangelogVersioned]], so the result is
    * ORDER-INDEPENDENT across batch boundaries: a late batch carrying
    * older events cannot regress the snapshot (tombstones persist as
    * `__deleted` ghosts, so a late update older than an applied delete
    * loses instead of resurrecting the key), and replaying a batch is a
    * no-op — the final table equals the batch compaction of the whole
    * changelog however the files were split into triggers (the property
    * StreamingSpec pins with shuffled multi-file input). Read the
    * logical snapshot with `.where(!col("__deleted"))`.
    *
    * The snapshot commits through [[graft.sources.Sinks.writeStaged]]
    * (write a hidden stage, swap it in, drop the old copy): the merged
    * plan reads the live snapshot while writing only staging, so no
    * self-overwrite materialization barrier is needed. Each batch runs
    * the sink's recovery before it reads the snapshot, so a crash at any
    * point of the swap resumes from the last committed snapshot.
    * Per-batch work is O(batch ∪ snapshot) — the snapshot is keys-sized,
    * not history-sized. */
  def streamCdcApply(spark: SparkSession, dir: String, targetPath: String,
                     glob: String = "events*.parquet",
                     maxFilesPerTrigger: Int = 1): Unit = {
    // same legacy-nanos tolerance as eventsStream; normalizeEventTs
    // adapts to whichever shape the files carry
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.option("pathGlobFilter", glob).parquet(dir).schema
    val events = graft.core.Tables.normalizeEventTs(
        spark.readStream.schema(schema)
          .option("pathGlobFilter", glob)
          .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
          .parquet(dir))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("ts"))
    mergeEachBatch(events, targetPath)({ b =>
      val existing = readTarget(b, targetPath)
      // first batch applies onto an empty snapshot (NOT a tombstone-
      // dropping compaction — ghosts must survive from batch one)
      graft.operators.Merge.applyChangelogVersioned(
        existing.getOrElse(b.where(lit(false))), b, Seq("user_id"),
        Seq("ts", "event_id"), col("event_type") === "error")
    }, graft.sources.Sinks.writeStaged(_, targetPath))
  }

  /** The reference's import loop (S10 → F6 → K4) in streaming form:
    * readStream → foreachBatch MERGE into a parquet table keyed by event_id
    * and PARTITIONED BY event_date. Each micro-batch:
    *   1. prunes the target read to the batch's own dates (partition
    *      pruning — untouched history is never scanned),
    *   2. merges the batch over just those partitions,
    *   3. commits through [[graft.sources.Sinks.writePartitionedStaged]]:
    *      the merged content lands in a hidden staging directory first,
    *      then swaps in with per-partition atomic renames — the table is
    *      readable at every instant, and any crash point is repaired by
    *      the recovery pass the next batch runs before it reads the
    *      target (see the sink's protocol note).
    * Replaying a batch (at-least-once delivery) cannot duplicate rows —
    * the exactly-once-by-key contract of the reference's updateOrCreate —
    * and per-batch work is O(batch dates), not O(table history). The
    * merged plan reads the live partitions while WRITING only the staging
    * directory, so no self-overwrite materialization barrier is needed. */
  def streamingUpsert(spark: SparkSession, dir: String, targetPath: String): Unit = {
    val events = eventsStream(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
        to_date(col("ts")).as("event_date"))
    mergeEachBatch(events, targetPath)({ b =>
      val dates = b.select("event_date").distinct().collect()
        .map(_.getAs[java.sql.Date](0))
      readTarget(b, targetPath)
        .map(t => graft.operators.Merge.upsert(
          t.where(col("event_date").isin(dates.toSeq: _*)), b, Seq("event_id")))
        .getOrElse(b)
    }, graft.sources.Sinks.writePartitionedStaged(_, targetPath, "event_date"))
  }

  /** The micro-batch frame [[streamCdcApply]] and [[streamingUpsert]]
    * share: each batch is persisted, the target's interrupted swap is
    * recovered (a crash between the swap's renames leaves the table only
    * in its backup: restore it before `merge` reads it, or the merge
    * starts empty), `merge`'s result goes to `commit`, and the batch is
    * released. The backlog runs with AvailableNow; returns when it is
    * drained. */
  private def mergeEachBatch(events: DataFrame, targetPath: String)(
      merge: DataFrame => DataFrame, commit: DataFrame => Unit): Unit =
    events.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val b = batch.toDF().persist()
        try {
          graft.sources.Sinks.recoverStaged(b.sparkSession, targetPath)
          commit(merge(b))
        } finally b.unpersist()
      }
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** The merge target as of this batch; None before its first commit. */
  private def readTarget(b: DataFrame, targetPath: String): Option[DataFrame] =
    try Some(b.sparkSession.read.parquet(targetPath))
    catch { case _: org.apache.spark.sql.AnalysisException => None }

  /** Stateful sessionization: per-user session = events with < `gapSec`
    * between them (flatMapGroupsWithState with event-time timeout — custom
    * state beyond built-in windows, the KeyValueGroupedDataset path). */
  final case class SessionRow(user_id: Long, session_start_epoch: Long,
                              n_events: Long, total_value: Double)
  final case class Ev(user_id: Long, epoch: Long, value: Double,
                      ts: java.sql.Timestamp)
  // total accumulates as exact CENTS (graft.functions.Numeric money
  // policy): a double accumulator's value would depend on fold order
  // across batches and diverge from a sequential oracle
  final case class SessState(start: Long, last: Long, n: Long, totalCents: Long)

  /** Half-away-from-zero cent rounding — the same tie policy as SQL
    * ROUND and graft.functions.Numeric (math.round is half-up toward
    * +inf, which diverges on negative ties). */
  private def roundCents(v: Double): Long = {
    val x = v * 100
    (if (x >= 0) math.floor(x + 0.5) else math.ceil(x - 0.5)).toLong
  }

  /** Pure streaming sessionization transform — the live-stream-correct
    * core. EventTimeTimeout: a closed session is emitted EXACTLY ONCE,
    * either when a later event of the same user breaks the gap, or when
    * the event-time watermark passes `last + gap` (timeout). Open sessions
    * are never emitted early, so a multi-batch run cannot duplicate them.
    * State per user is the single open session (constant size); each group
    * call sorts only its own micro-batch slice, which a watermarked
    * production source keeps bounded. */
  def sessionizeStream(evs: org.apache.spark.sql.Dataset[Ev],
                       gapSec: Int): org.apache.spark.sql.Dataset[SessionRow] = {
    import evs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    evs.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, SessionRow](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, it: Iterator[Ev], state: GroupState[SessState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionRow(user, s.start, s.n, s.totalCents / 100.0))
          } else {
            // interval merge, not a forward-only fold: a late-but-within-
            // watermark event may precede the OPEN session entirely (its
            // own earlier session), fall inside it, or extend it backwards
            // — sorting the open interval together with the batch's event
            // points and coalescing on the gap rule handles all three
            // (the old `e.epoch - s.last <= gapSec` guard was vacuously
            // true for any late event and silently absorbed them)
            val sorted = it.toArray.sortInPlaceBy(e => (e.epoch, e.value))
            val intervals = (state.getOption.toArray ++ sorted.map(e =>
              SessState(e.epoch, e.epoch, 1, roundCents(e.value))))
              .sortBy(s => (s.start, s.last))
            val merged = scala.collection.mutable.ArrayBuffer.empty[SessState]
            intervals.foreach { s =>
              merged.lastOption match {
                case Some(p) if s.start - p.last <= gapSec =>
                  merged(merged.length - 1) = SessState(
                    math.min(p.start, s.start), math.max(p.last, s.last),
                    p.n + s.n, p.totalCents + s.totalCents)
                case _ => merged += s
              }
            }
            val open = merged.last
            state.update(open)
            // timeout strictly after last+gap; never behind the current
            // watermark (a session already past it times out next batch)
            state.setTimeoutTimestamp(math.max(
              (open.last + gapSec) * 1000L + 1000L,
              state.getCurrentWatermarkMs() + 1000L))
            merged.init.iterator.map(s =>
              SessionRow(user, s.start, s.n, s.totalCents / 100.0))
          }
      }
  }

  /** Sentinel user id / event type carried by the drain row (filtered
    * from every output). */
  private val DrainUser = Long.MinValue
  private val DrainType = "__drain"

  /** The events stream projected to `cols`, unioned with the drain
    * sentinel carrying the same columns — the input of every drained
    * operator. Each caller puts its own watermark (delay) on the result
    * and passes its own horizon as `aheadSec`. */
  private def drainedEvents(spark: SparkSession, dir: String, cols: Seq[String],
                            aheadSec: Long): DataFrame =
    eventsStream(spark, dir).select(cols.map(col): _*)
      .unionByName(drainSentinel(spark, dir, aheadSec, cols))

  /** `column`'s raw (min, max, unit) in one parquet file's footer
    * ([[graft.core.ParquetFooters]]); None when the footer has no range or
    * can't be read, and each caller falls back to a scan. */
  private def footerRange(conf: org.apache.hadoop.conf.Configuration,
                          p: org.apache.hadoop.fs.Path, column: String)
      : Option[(Long, Long, Option[(Long, Boolean)])] =
    scala.util.Try(graft.core.ParquetFooters.read(conf, p, Some(column)).range)
      .toOption.flatten

  /** Max `ts` as EPOCH SECONDS across the parquet footers — O(files)
    * metadata reads, no row scan ([[footerRange]]), divided by the unit
    * the column declares rather than assuming nanos. An
    * `isAdjustedToUTC = false` column (Spark's TIMESTAMP_NTZ) stores
    * WALL-CLOCK values; `normalizeEventTs` casts those through the
    * session time zone, so this path applies the same shift — otherwise
    * the drain sentinel would sit a UTC-offset behind the true max event
    * instant and trailing windows would never finalize. None (the caller
    * scans) if any footer lacks ts stats or a timestamp unit. */
  private def maxTsEpochSecFromFooters(spark: SparkSession, dir: String): Option[Long] = try {
    val conf = spark.sparkContext.hadoopConfiguration
    val sessionZone = java.time.ZoneId.of(
      spark.conf.get("spark.sql.session.timeZone",
        java.util.TimeZone.getDefault.getID))
    val root = new org.apache.hadoop.fs.Path(s"$dir/events.parquet")
    val fs = root.getFileSystem(conf)
    val files = (if (fs.getFileStatus(root).isDirectory)
        fs.listStatus(root).toSeq.filter(_.getPath.getName.endsWith(".parquet"))
      else Seq(fs.getFileStatus(root))).map(_.getPath)
    val maxes = files.map(footerRange(conf, _, "ts").collect {
      case (_, mx, Some((d, wallClock))) =>
        val raw = mx / d
        if (!wallClock) raw
        else java.time.LocalDateTime.ofEpochSecond(raw, 0, java.time.ZoneOffset.UTC)
          .atZone(sessionZone).toEpochSecond
    })
    if (maxes.exists(_.isEmpty)) None // a file without stats → scan
    else maxes.flatten.reduceOption(_ max _)
  } catch { case _: Exception => None } // unreadable listing → scan path

  /** A one-row sentinel stream whose event time sits `aheadSec` past the
    * directory's max event time, with `cols` filled by sentinel values.
    * Unioned with the file stream BEFORE `withWatermark`, it advances the
    * single watermark past end-of-input on the final batch (the Flink
    * drain-on-stop pattern), so append-mode windows finalize and
    * event-time timeouts fire on a finite run.
    *
    * Multi-batch runs (`spark.graft.streaming.maxFilesPerTrigger` set)
    * get a forever-empty source instead: the sentinel row would land in
    * batch 1 and jump the watermark past end-of-input, so every later
    * batch's events would read as late and drop silently (the round-10
    * DEPLOY dry run lost the late half of a non-time-ordered backlog that
    * way, exit 0). Such runs advance the watermark naturally, and their
    * trailing windows and sessions stay unemitted, exactly as on a live
    * stream. Reads `nanosAsLong` parquet, which [[eventsStream]] (always
    * built first by [[drainedEvents]]) switches on. */
  private def drainSentinel(spark: SparkSession, dir: String, aheadSec: Long,
                            cols: Seq[String]): DataFrame = {
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Long](org.apache.spark.sql.Encoders.scalaLong, spark.sqlContext)
    if (spark.conf.getOption("spark.graft.streaming.maxFilesPerTrigger").isEmpty) {
      // empty input → max(ts) is NULL; fall back to epoch 0 so the drained
      // operators return an empty result instead of throwing on .getLong
      val maxEpochSec = maxTsEpochSecFromFooters(spark, dir)
        .orElse(Option(
          graft.core.Tables.normalizeEventTs(
              spark.read.parquet(s"$dir/events.parquet"))
            .agg(max(unix_seconds(col("ts")))).first().get(0))
          .map(_.asInstanceOf[Long]))
        .getOrElse(0L)
      mem.addData(maxEpochSec + aheadSec)
    }
    val values = Map("ts" -> timestamp_seconds(col("value")),
      "event_type" -> lit(DrainType), "value" -> lit(0.0),
      "user_id" -> lit(DrainUser), "event_id" -> lit(-1L))
    mem.toDF().select(cols.map(c => values(c).as(c)): _*)
  }

  /** Stream-stream interval join (§2.8 extension): each purchase matched
    * to the same user's clicks within the trailing `windowSec`, with `how`
    * one of the watermarked join types:
    *   - `inner`: matched pairs only. Both sides carry watermarks and the
    *     join condition is time-bounded, so each side's state is
    *     O(watermark + window horizon) — Spark drops a buffered click once
    *     the purchase-side watermark passes `click_ts + windowSec`; a
    *     matched pair emits exactly once in append mode.
    *   - `left_outer`: the state-eviction-emits-null semantics the inner
    *     join doesn't exercise. A purchase with no qualifying click cannot
    *     emit when it arrives (a match may still come), so Spark holds it
    *     in state and emits the null-extended row only when the watermark
    *     passes its eviction point — outer results are driven by
    *     watermark progress, not by input order.
    *   - `left_semi`: "purchases that HAD a qualifying click", emitted
    *     WITHOUT the click payload — the existence-check shape (J1's
    *     streaming form). Semi-join state is cheaper than inner: a
    *     purchase emits on its FIRST match and leaves state immediately
    *     (no multiplicity, no click columns), and unmatched purchases
    *     evict silently at the watermark.
    *   - `full_outer`: both sides' unmatched rows surface null-extended,
    *     each only when the watermark passes that row's eviction point.
    *     The click side's unmatched rows are the new semantics vs left
    *     outer: a click with no purchase within the FOLLOWING window emits
    *     with null purchase columns. Either side may be null, so `user_id`
    *     (and the drain filter) is `coalesce(p_user, c_user)`.
    * Every type keeps O(watermark + window) state per side. The drain
    * sentinel rides BOTH sides: the global watermark is the MIN across
    * watermark operators, so both must advance past end-of-input for the
    * trailing matches and unmatched rows to flush.
    *
    * Returns `user_id, purchase_id, click_id, purchase_us, click_us`;
    * the semi join returns `user_id, purchase_id, purchase_us`. Times
    * join and emit as integer MICROSECONDS (`unix_micros`): the parquet
    * source is nanos, truncated micros compare identically in any
    * engine, and second-level rounding never reorders a boundary pair. */
  def clickPurchaseJoin(spark: SparkSession, dir: String, how: String,
                        windowSec: Int = 1800,
                        statePartitions: Int = 8): DataFrame = {
    require(Seq("inner", "left_outer", "left_semi", "full_outer").contains(how),
      s"clickPurchaseJoin: join type '$how' is not inner, left_outer, " +
        "left_semi or full_outer")
    val wmDelaySec = 3600L
    val evs = drainedEvents(spark, dir,
      Seq("ts", "event_type", "user_id", "event_id"), wmDelaySec + windowSec + 60)
    // the sentinel passes each side's filter (isin) — it must reach both
    // watermark operators; the output filter below runs on the sink table
    def side(eventType: String, p: String, id: String) = evs
      .where(col("event_type").isin(eventType, DrainType))
      .select(col("ts").as(s"${p}_ts"), col("user_id").as(s"${p}_user"),
        col("event_id").as(id))
      .withWatermark(s"${p}_ts", s"$wmDelaySec seconds")
    val joined = side("purchase", "p", "purchase_id").join(
      side("click", "c", "click_id"),
      col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr(s"INTERVAL $windowSec SECONDS") &&
        col("c_ts") <= col("p_ts"),
      how)
    val user =
      if (how == "full_outer") coalesce(col("p_user"), col("c_user"))
      else col("p_user")
    val out = runToTable(joined, statePartitions).where(user =!= DrainUser)
    if (how == "left_semi")
      out.select(user.as("user_id"), col("purchase_id"),
        unix_micros(col("p_ts")).as("purchase_us"))
    else
      out.select(user.as("user_id"), col("purchase_id"), col("click_id"),
        unix_micros(col("p_ts")).as("purchase_us"),
        unix_micros(col("c_ts")).as("click_us"))
  }

  /** Stateful sessionization over the events directory with DRAIN
    * semantics: a sentinel event past end-of-input advances the watermark
    * (multipleWatermarkPolicy=max across the two sources) so every real
    * session closes via its event-time timeout — the streaming equivalent
    * of Flink's drain on stop. A live deployment omits the sentinel and
    * sessions close as the watermark advances naturally. */
  def sessionize(spark: SparkSession, dir: String, gapSec: Int = 1800,
                 statePartitions: Int = 8): DataFrame = {
    import spark.implicits._
    val wmDelaySec = 7200L

    // sentinel far enough that wm = sentinel - delay > max(last + gap);
    // ts stays in the record: the watermarked column must survive the
    // projection feeding flatMapGroupsWithState
    val evs = drainedEvents(spark, dir,
        Seq("ts", "event_type", "value", "user_id"), wmDelaySec + gapSec + 60)
      .withWatermark("ts", s"$wmDelaySec seconds")
      .select(col("user_id"), unix_timestamp(col("ts")).as("epoch"),
        col("value"), col("ts"))
      .as[Ev]

    val sessions = sessionizeStream(evs, gapSec)
    runToTable(sessions.toDF(), statePartitions)
      .where(col("user_id") =!= DrainUser)
  }
}
