package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Upsert / replace-all-sync semantics on plain DataFrames
  * (SURVEY.md §2.1 K6, §2.3 J2/J3).
  *
  * The reference upserts row-at-a-time (`updateOrCreate`,
  * PublicApiController.php:158-167; BolApiController.php:332-401). The
  * set-based equivalent is a keyed MERGE:
  *   upsert      = updates ∪ (existing ⟕anti updates)
  *   replaceAll  = incoming, plus the delete-set (existing ⟕anti incoming)
  *
  * Scale notes: both sides shuffle on the natural key once; with the target
  * table bucketed/partitioned by the key (SURVEY §7.4.6 — partition by
  * fiscal_year/date), only affected partitions need rewriting. When `updates`
  * is small (an incremental batch) Spark broadcasts it in the anti-join
  * automatically under AQE; the big `existing` side never shuffles. */
object Merge {

  /** J3/K6 keyed upsert: rows from `updates` win over `existing` on `keys`;
    * unmatched existing rows are kept. Columns are aligned by name. */
  def upsert(existing: DataFrame, updates: DataFrame, keys: Seq[String]): DataFrame = {
    val kept = existing.join(updates.select(keys.map(col): _*).distinct(),
      keys, "left_anti")
    kept.unionByName(updates.select(existing.columns.map(col): _*))
  }

  /** J2 replace-all sync: returns (synced, deleted) — `synced` is the new
    * table state (incoming replaces everything for matched keys; existing
    * keys absent from incoming are dropped), `deleted` is the drop-set the
    * reference logs before deleting (BolApiController.php:233-246,288-300). */
  def replaceAllSync(existing: DataFrame, incoming: DataFrame,
                     keys: Seq[String]): (DataFrame, DataFrame) = {
    val deleted = existing.join(incoming.select(keys.map(col): _*).distinct(),
      keys, "left_anti")
    (incoming, deleted)
  }

  /** J2 scoped replace-all sync: deletes apply only WITHIN the parent keys
    * present in `incoming` — the reference's actual shape: a sync payload
    * for one company replaces that company's directors
    * (BolApiController.php:233-246) or its fiscal years (:405-409) and
    * leaves every other company untouched.
    *
    * Returns (synced, deleted): for in-scope parents the new state is
    * exactly `incoming`; out-of-scope existing rows pass through; `deleted`
    * is the in-scope drop-set. Scale: the scope semi/anti joins broadcast
    * the (small) incoming parent-key set; with the table partitioned by a
    * scope key only affected partitions rewrite. */
  def replaceAllSyncScoped(existing: DataFrame, incoming: DataFrame,
                           scopeKeys: Seq[String],
                           keys: Seq[String]): (DataFrame, DataFrame) = {
    val parents = incoming.select(scopeKeys.map(col): _*).distinct()
    val inScope  = existing.join(parents, scopeKeys, "left_semi")
    val outScope = existing.join(parents, scopeKeys, "left_anti")
    val fullKeys = (scopeKeys ++ keys).distinct
    val deleted = inScope.join(
      incoming.select(fullKeys.map(col): _*).distinct(), fullKeys, "left_anti")
    val synced = outScope.unionByName(
      incoming.select(existing.columns.map(col): _*))
    (synced, deleted)
  }

  /** The latest row per key in descending `ordCols` order: one
    * `row_number` window over a single shuffle by key. */
  private def latestPerKey(log: DataFrame, keys: Seq[String],
                           ordCols: Seq[String]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(ordCols.map(c => col(c).desc): _*)
    log.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn")
  }

  /** CDC changelog compaction: reduce an append-only change stream to
    * current state — latest row per key in (ordCols) order wins, rows
    * matching `deletePred` are tombstones that erase their key. The
    * batch form of what `streamingUpsert` does per micro-batch. One
    * shuffle by key; the window streams each key's rows without
    * buffering beyond the row counter. */
  def compactChangelog(log: DataFrame, keys: Seq[String],
                       ordCols: Seq[String],
                       deletePred: org.apache.spark.sql.Column): DataFrame =
    latestPerKey(log, keys, ordCols)
      // a NULL predicate is NOT a tombstone match — keep the row
      .where(!coalesce(deletePred, lit(false)))

  /** Full MERGE / CDC-apply: advance a base snapshot by an append-only
    * changelog carrying inserts, updates AND deletes — the three-clause
    * `MERGE INTO` (WHEN MATCHED UPDATE / WHEN MATCHED AND tombstone
    * DELETE / WHEN NOT MATCHED INSERT) that `upsert` (no deletes) and
    * `compactChangelog` (no base) each cover half of.
    *
    * The changelog compacts FIRST (latest row per key in `ordCols` order,
    * tombstones competing like any other row — a delete followed by a
    * re-insert resurrects the key), then one anti-join removes every
    * touched key from the base and the surviving non-tombstone rows union
    * in. Scale: the base never shuffles — the touched-key set is the
    * compacted changelog's keys, broadcast by AQE when the batch is small
    * relative to the table; the only wide exchange is the changelog's own
    * per-key compaction window. `log` must carry all of `base`'s columns
    * (extra changelog-only columns — op flags, sequence numbers — are
    * allowed and dropped from the result). */
  def applyChangelog(base: DataFrame, log: DataFrame, keys: Seq[String],
                     ordCols: Seq[String],
                     deletePred: org.apache.spark.sql.Column): DataFrame = {
    require(keys.nonEmpty, "applyChangelog needs at least one key column")
    // cut: `latest` feeds both the anti-join (untouched base rows) and
    // the survivor filter — uncut, the changelog window-compaction runs
    // twice, once per consumer
    val latest = graft.core.Checkpoints.cut(latestPerKey(log, keys, ordCols))
    val untouched = base.join(
      latest.select(keys.map(col): _*), keys, "left_anti")
    val survivors = latest
      // NULL predicate is NOT a tombstone — keep the row (same contract
      // as compactChangelog)
      .where(!coalesce(deletePred, lit(false)))
      .select(base.columns.map(col): _*)
    untouched.unionByName(survivors)
  }

  /** Versioned CDC apply — [[applyChangelog]] hardened for OUT-OF-ORDER
    * batches. Every snapshot row carries its version (the `ordCols`
    * values it was written with) plus a `__deleted` tombstone flag; a
    * changelog row only wins when its version is `>=` the row's (struct
    * comparison in `ordCols` order; `>=` makes replaying a batch a
    * no-op). Deletes persist as GHOST rows (`__deleted = true`) rather
    * than vanishing — the retention that makes the merge commutative: a
    * late update OLDER than an applied delete loses to the ghost instead
    * of resurrecting the key. So apply(b2) ∘ apply(b1) = apply(b1) ∘
    * apply(b2) = apply(b1 ∪ b2) for ANY batch split, and the logical
    * table is always `.where(!col("__deleted"))`. A maintenance pass may
    * purge ghosts older than the pipeline's max lateness (the
    * Kafka-compaction / Delta tombstone-retention discipline); keeping
    * them forever costs keys-ever-deleted rows.
    *
    * `base` is a prior output (with `__deleted`) or any initial snapshot
    * without it (all rows then count as live). Scale: one changelog
    * compaction window + one full-outer join on the key — payloads ride
    * as structs through a single exchange each.
    *
    * Returns payload columns + `__deleted`. */
  def applyChangelogVersioned(base: DataFrame, log: DataFrame,
                              keys: Seq[String], ordCols: Seq[String],
                              deletePred: org.apache.spark.sql.Column): DataFrame = {
    require(keys.nonEmpty, "applyChangelogVersioned needs at least one key column")
    require(ordCols.nonEmpty, "applyChangelogVersioned needs version columns")
    val payload = base.columns.filter(_ != "__deleted").toSeq
    val base1 =
      if (base.columns.contains("__deleted")) base
      else base.withColumn("__deleted", lit(false))
    val latest = latestPerKey(log, keys, ordCols)
      .withColumn("__del", coalesce(deletePred, lit(false)))
    val bs = base1.select(keys.map(col) ++ Seq(
      struct(payload.map(col): _*).as("__b"), col("__deleted").as("__bdel")): _*)
    val ls = latest.select(keys.map(col) ++ Seq(
      struct(payload.map(col): _*).as("__l"), col("__del")): _*)
    val bVer = struct(ordCols.map(c => col("__b").getField(c)): _*)
    val lVer = struct(ordCols.map(c => col("__l").getField(c)): _*)
    val logWins = col("__b").isNull || (col("__l").isNotNull && lVer >= bVer)
    val winner = when(logWins, col("__l")).otherwise(col("__b"))
    val outDel = when(logWins, col("__del")).otherwise(col("__bdel"))
    bs.join(ls, keys, "full_outer")
      .select(payload.map(c => winner.getField(c).as(c)) :+
        outDel.as("__deleted"): _*)
  }

  /** SCD type-2 history build from a stream of keyed snapshots: collapse
    * consecutive snapshots whose tracked attributes are unchanged, then
    * stamp each surviving version with its validity interval
    * [valid_from, valid_to) — valid_to null on the current version.
    *
    * Change detection is null-safe (`<=>`): a NULL→value transition is a
    * version change. Scale: one shuffle (partition by key); the change-
    * detect lag and the valid_to lead windows both run on that exchange;
    * no joins, no state beyond one row of lookback. */
  def scd2(snapshots: DataFrame, keyCol: String, tsCol: String,
           attrCols: Seq[String]): DataFrame = {
    require(attrCols.nonEmpty, "scd2 needs at least one tracked attribute")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col(tsCol))
    val changed = snapshots
      .withColumn("__chg",
        attrCols.map(c => !(col(c) <=> lag(col(c), 1).over(w)))
          .reduce(_ || _))
      // the first snapshot of a key has lag = null on every attribute →
      // NOT(null <=> x) is true for non-null x; force it explicitly so an
      // all-null first snapshot still opens a version
      .withColumn("__first", lag(col(tsCol), 1).over(w).isNull)
    val versions = changed
      .where(col("__chg") || col("__first"))
      .drop("__chg", "__first")
    versions
      .withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
      .drop(tsCol)
  }

  /** Targeted delete on a plain-parquet table — the delete-compliance
    * (GDPR erasure) shape at 100 TB: rewrite ONLY the physical files
    * that contain a victim key, leave every other file untouched.
    *
    * Phases:
    *   1. LOCATE — one scan filtered to the victim keys (row-group
    *      min/max pruning serves this; with the table laid out on the
    *      delete key — the q122 z-order/range-sort lever — victims
    *      cluster into few files). The exchange carries distinct file
    *      NAMES, bounded by file count.
    *   2. REWRITE + SWAP — read only the affected files, anti-join the
    *      victims and hand the survivors to
    *      [[graft.sources.Sinks.swapFiles]]: staged in a dot-prefixed
    *      dir, moved in under unique names, THEN the affected originals
    *      are deleted. All non-victim data stays visible at every instant
    *      (a concurrent reader may transiently double-count survivors of
    *      the swap — the documented trade for running on plain parquet; a
    *      transactional table format makes this step atomic).
    * A crash before the swap leaves the table unchanged (staging is
    * dot-prefixed). A crash mid-swap leaves the moved survivors next to
    * their originals; the next run first rolls that swap forward
    * ([[graft.sources.Sinks.recoverStaged]] finishes the delete the
    * stage's manifest records), so no survivor is rewritten twice.
    *
    * Returns one stats row: (files_total, files_rewritten, rows_deleted,
    * rows_kept_rewritten). Victim sets ride as a plain semi/anti join —
    * AQE broadcasts them when small; a forced broadcast would OOM on a
    * large erasure backlog. */
  def targetedDelete(spark: org.apache.spark.sql.SparkSession, path: String,
                     keyCol: String, victims: DataFrame): DataFrame = {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    val target = new Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.sources.Sinks.recoverStaged(spark, path)
    val filesTotal = fs.listStatus(target)
      .count(s => s.isFile && !s.getPath.getName.startsWith("_"))
    val table = spark.read.parquet(path)
    val vkeys = victims.select(col(keyCol)).distinct()
    val affected = table.join(vkeys, Seq(keyCol), "left_semi")
      .select(input_file_name().as("f")).distinct().as[String].collect()
    if (affected.isEmpty)
      return Seq((filesTotal.toLong, 0L, 0L, 0L))
        .toDF("files_total", "files_rewritten", "rows_deleted", "rows_kept_rewritten")
    val sub = spark.read.parquet(affected.toSeq: _*)
    val kept = sub.join(vkeys, Seq(keyCol), "left_anti")
      .select(table.columns.map(col): _*)
    val subCount = sub.count()
    val (_, keptCount) = graft.sources.Sinks.swapFiles(kept, path,
      affected.toSeq.map(f => new Path(new java.net.URI(f).getPath)))
    Seq((filesTotal.toLong, affected.length.toLong, subCount - keptCount, keptCount))
      .toDF("files_total", "files_rewritten", "rows_deleted", "rows_kept_rewritten")
  }

  /** Small-file compaction — the maintenance op that keeps a 100 TB
    * table scannable: streaming ingest and partitioned MERGEs leave
    * thousands of KB-sized part files, and every future scan pays one
    * task + one open per file. Compaction reads ONLY the files below
    * `smallBytes`, rewrites their union into ceil(bytes/targetBytes)
    * right-sized files (coalesce — a rebalance, no shuffle), and swaps
    * them in through [[graft.sources.Sinks.swapFiles]] (survivors added
    * before originals drop, same visibility contract and crash repair as
    * [[targetedDelete]]). Files already at size are never touched —
    * compaction cost tracks the SMALL fraction, not the table.
    *
    * Returns one stats row: (files_before, files_compacted, files_added,
    * rows_moved). Idempotent: a second run finds nothing under the
    * threshold (newly written files exceed it) and does zero work. */
  def compactSmallFiles(spark: org.apache.spark.sql.SparkSession, path: String,
                        smallBytes: Long, targetBytes: Long): DataFrame = {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    require(smallBytes <= targetBytes, "small threshold above target size")
    val target = new Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.sources.Sinks.recoverStaged(spark, path)
    val dataFiles = fs.listStatus(target).filter(s => s.isFile &&
      !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
    val small = dataFiles.filter(_.getLen < smallBytes)
    if (small.length <= 1)
      return Seq((dataFiles.length.toLong, 0L, 0L, 0L))
        .toDF("files_before", "files_compacted", "files_added", "rows_moved")
    val totalBytes = small.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val sub = spark.read.parquet(small.map(_.getPath.toString).toIndexedSeq: _*)
    val (added, moved) = graft.sources.Sinks.swapFiles(sub.coalesce(nOut), path,
      small.toSeq.map(_.getPath))
    Seq((dataFiles.length.toLong, small.length.toLong, added.toLong, moved))
      .toDF("files_before", "files_compacted", "files_added", "rows_moved")
  }

  /** Snapshot diff — change-data-feed emission between two keyed table
    * states: full-outer join on the natural key, classify each key as
    * inserted / deleted / updated / unchanged (null-safe column
    * compare, the scd2 change predicate). The audit/replication
    * primitive the reference approximates by re-importing and counting
    * (`count_req` vs `count_output`, `PublicApiController.php:296-299`)
    * — this emits WHICH keys changed and how, and its output feeds
    * [[compactChangelog]]/[[upsert]] downstream.
    *
    * One shuffle per side on the key; comparing columns row-wise costs
    * nothing extra. `valueCols` defaults to every non-key column shared
    * by both snapshots (schema drift between snapshots is q128's job —
    * here extra columns on one side are ignored). */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame,
                   keys: Seq[String],
                   valueCols: Seq[String] = Nil): DataFrame = {
    val vals =
      if (valueCols.nonEmpty) valueCols
      else oldSnap.columns.toSeq.intersect(newSnap.columns.toSeq)
        .filterNot(keys.contains)
    val o = oldSnap.select((keys ++ vals).map(col): _*)
      .withColumn("__old", lit(true))
    val n = newSnap.select((keys ++ vals).map(col): _*)
      .withColumn("__new", lit(true))
    val renamedO = vals.foldLeft(o)((d, c) => d.withColumnRenamed(c, s"__o_$c"))
    val renamedN = vals.foldLeft(n)((d, c) => d.withColumnRenamed(c, s"__n_$c"))
    val changed = vals.map(c => !(col(s"__o_$c") <=> col(s"__n_$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    renamedO.join(renamedN, keys, "full_outer")
      .withColumn("change_type",
        when(col("__old").isNull, lit("inserted"))
          .when(col("__new").isNull, lit("deleted"))
          .when(changed, lit("updated"))
          .otherwise(lit("unchanged")))
      .select(keys.map(col) :+ col("change_type"): _*)
  }
}
