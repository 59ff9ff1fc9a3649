package graft.sources

import java.io.IOException
import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Sinks (SURVEY.md §2.1 K-ops), re-expressed for a columnar lake.
  *
  * The reference's MySQL tables become partitioned parquet: the
  * table-per-year scheme (gec_inv_2023/24/25) collapses into one table
  * partitioned by year (SURVEY §4), so year predicates prune directories
  * and a MERGE rewrites only affected partitions. Every replace of live
  * data goes through one staged swap: stage hidden, rename in, drop the
  * old copy. */
object Sinks {

  /** K1: JSON record-array sink → JSON-lines (the scalable spelling of the
    * reference's pretty-printed arrays; non-ASCII preserved — Spark writes
    * UTF-8 without escaping by default). */
  def writeJsonRecords(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** K2: CSV sink with header (bs/ic combined matrix shape). */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  /** ORC sink — the second columnar interchange format next to parquet
    * (warehouses mixing Spark/Hive/Trino read both). Spark's native ORC
    * writer keeps column stats, so min/max row-group pruning and
    * predicate pushdown work on read-back just as with parquet;
    * `sortWithinPartitions` on a filter key before this sink is the
    * same clustering lever. */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  /** K4/K5/K6 target: partitioned parquet table keyed by a year column;
    * [[writePartitionedStaged]] replaces the years present in `df`. */
  def writePartitionedByYear(df: DataFrame, path: String, yearCol: String): Unit =
    writePartitionedStaged(df, path, yearCol)

  /** K4 staged commit, the one publish path: replace exactly the
    * partitions present in `df`, and the live table stays readable at
    * every instant (staging and backup directories start with '.', which
    * parquet readers ignore).
    *
    * Protocol, per affected partition P (df must carry P's FULL intended
    * content — for a MERGE, existing ∪ batch):
    *   1. write df under `path/.staging_<uuid>/P` (one parquet job)
    *   2. rename live P → `.backup_P`
    *   3. rename staged P → live P
    *   4. delete `.backup_P`, then the staging dir
    * Each rename is a single atomic directory move. Crash anywhere leaves
    * a recoverable state, and [[recoverStaged]] (run at the start of every
    * write) repairs it: a `.backup_P` whose live P is missing is restored
    * (the crash hit between 2 and 3 — the backup holds the only copy),
    * any other backup/staging leftovers are stale and dropped. A caller
    * that reads the live table to build `df` runs [[recoverStaged]] before
    * that read, or a partition caught between 2 and 3 is missing from its
    * MERGE input. */
  def writePartitionedStaged(df: DataFrame, path: String, partCol: String): Unit = {
    val target = new Path(path)
    val fs = target.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    recoverStaged(df.sparkSession, path)
    fs.mkdirs(target)
    val stage = new Path(target, s".staging_${UUID.randomUUID()}")
    df.write.mode(SaveMode.Overwrite).partitionBy(partCol).parquet(stage.toString)
    fs.listStatus(stage).map(_.getPath).filter(_.getName.startsWith(partCol + "="))
      .foreach(p => swapIn(fs, p, new Path(target, p.getName)))
    fs.delete(stage, true)
  }

  /** Whole-table staged commit: the same swap on the table directory
    * itself, staged in the hidden sibling `.staging_<name>` and backed up
    * as `.backup_<name>`, so between the two renames the table is absent
    * and a caller that reads it to build `df` runs [[recoverStaged]]
    * first. */
  def writeStaged(df: DataFrame, path: String): Unit = {
    val live = new Path(path)
    recoverStaged(df.sparkSession, path)
    val stage = sibling(live, ".staging_")
    df.write.mode(SaveMode.Overwrite).parquet(stage.toString)
    swapIn(live.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration), stage, live)
  }

  /** Crash repair for all three staged commits — idempotent, safe to run
    * any time: restores the table or partitions whose only copy sits in a
    * `.backup_` directory, drops superseded backups, rolls a
    * [[swapFiles]] stage that holds its manifest forward, then clears
    * stale staging leftovers. */
  def recoverStaged(spark: SparkSession, path: String): Unit = {
    val live = new Path(path)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    restoreOrDrop(fs, live)
    fs.delete(sibling(live, ".staging_"), true)
    if (fs.exists(live)) fs.listStatus(live).map(_.getPath).foreach { p =>
      val n = p.getName
      if (n.startsWith(".backup_")) restoreOrDrop(fs, new Path(live, n.stripPrefix(".backup_")))
      else if (n.startsWith(".staging_")) {
        if (fs.exists(new Path(p, Manifest))) finishSwap(fs, p)
        fs.delete(p, true)
      }
    }
  }

  /** Add-then-drop file swap inside a flat parquet table: writes `df` to a
    * hidden staging dir and records there the `replaced` files (the
    * manifest, written whole by a rename once the stage is complete), then
    * moves the staged part files in under the stage's token prefix,
    * deletes the replaced files and drops the stage. Every surviving row
    * stays visible at every instant; a reader between the add and the drop
    * may count the moved rows twice (plain parquet has no atomic
    * multi-file swap). A crash before the manifest leaves the table as it
    * was; after it, [[recoverStaged]] finishes the moves and the deletes,
    * so a caller that reads the table to build `df` runs it before that
    * read. Returns (files added, rows added). */
  def swapFiles(df: DataFrame, path: String, replaced: Seq[Path]): (Int, Long) = {
    val target = new Path(path)
    val fs = target.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val stage = new Path(target, s".staging_${UUID.randomUUID().toString.take(8)}")
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("n")).write.parquet(stage.toString)
    val staged = fs.listStatus(stage).count(_.getPath.getName.startsWith("part-"))
    val pending = new Path(stage, Manifest + ".tmp")
    val out = fs.create(pending)
    try out.write(replaced.map(_.toString + "\n").mkString.getBytes("UTF-8"))
    finally out.close()
    move(fs, pending, new Path(stage, Manifest))
    finishSwap(fs, stage)
    fs.delete(stage, true)
    (staged, obs.get("n").asInstanceOf[Long])
  }

  private val Manifest = "_replaces"

  /** The committed half of [[swapFiles]], run again by [[recoverStaged]]:
    * move what is left of the stage's part files in, then delete the files
    * its manifest names (a file already gone is skipped). */
  private def finishSwap(fs: FileSystem, stage: Path): Unit = {
    val token = stage.getName.stripPrefix(".staging_")
    fs.listStatus(stage).map(_.getPath).filter(_.getName.startsWith("part-"))
      .foreach(p => move(fs, p, new Path(stage.getParent, s"$token-${p.getName}")))
    val in = fs.open(new Path(stage, Manifest))
    val replaced = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    replaced.split('\n').filter(_.nonEmpty).foreach(f => fs.delete(new Path(f), false))
  }

  /** The one directory swap: live → `.backup_`, staged → live, drop backup. */
  private def swapIn(fs: FileSystem, staged: Path, live: Path): Unit = {
    val backup = sibling(live, ".backup_")
    if (fs.exists(live)) move(fs, live, backup)
    move(fs, staged, live)
    fs.delete(backup, true)
  }

  /** Recovery for one [[swapIn]] target: a lone backup is the only copy
    * and goes back live; a backup next to a live directory is stale. */
  private def restoreOrDrop(fs: FileSystem, live: Path): Unit = {
    val backup = sibling(live, ".backup_")
    if (fs.exists(backup)) {
      if (fs.exists(live)) fs.delete(backup, true) else move(fs, backup, live)
    }
  }

  private def sibling(p: Path, prefix: String): Path =
    new Path(p.getParent, prefix + p.getName)

  // a failed rename must stop the commit before it drops the only copy
  private def move(fs: FileSystem, from: Path, to: Path): Unit =
    if (!fs.rename(from, to)) throw new IOException(s"rename $from -> $to failed")

  /** K3: HTTP POST sink — each partition posts its rows as JSON-array
    * batches (the reference POSTs `to_json(orient="records")` payloads,
    * main.py:31-76, send_dbd_company_supplier.py:85-144; server-side bulk
    * insert chunks at 1000, PublicApiController.php:392-408).
    *
    * The transport is pluggable — `(url, jsonArrayBody) => status` — so the
    * sink is unit-testable offline and a deployment passes a real
    * java.net.http-based function. Rows stream per partition (no driver
    * collect); returns (okRows, failedRows) via accumulators, counting a
    * batch failed when the transport returns a non-2xx status. */
  def postJsonBatches(df: DataFrame, url: String,
                      transport: (String, String) => Int,
                      batchSize: Int = 1000): (Long, Long) = {
    val ok = df.sparkSession.sparkContext.longAccumulator("http_sink_ok")
    val failed = df.sparkSession.sparkContext.longAccumulator("http_sink_failed")
    df.toJSON.foreachPartition { (it: Iterator[String]) =>
      it.grouped(batchSize).foreach { batch =>
        val status = transport(url, batch.mkString("[", ",", "]"))
        if (status >= 200 && status < 300) ok.add(batch.size.toLong)
        else failed.add(batch.size.toLong)
      }
    }
    (ok.value, failed.value)
  }

  /** K6 relational spelling: JDBC batch insert — the reference's
    * `updateOrCreate` loops become one batched `df.write.jdbc`
    * (ImportInvoiceReport.php:199-257 inserts row-by-row inside a
    * transaction; Spark executes per-partition prepared-statement batches
    * of `batchSize`). MERGE-by-key against an existing table composes as
    * `Merge.upsert` → `writeJdbc(SaveMode.Overwrite)`. Exercised offline
    * against embedded Derby (SinksSpec round-trip) — the same wiring
    * drives MySQL with the URL/driver swapped. */
  def writeJdbc(df: DataFrame, url: String, table: String,
                driver: String, batchSize: Int = 1000,
                mode: SaveMode = SaveMode.Append): Unit = {
    val props = new java.util.Properties()
    props.setProperty("driver", driver)
    df.write.mode(mode)
      .option("batchsize", batchSize.toString)
      .jdbc(url, table, props)
  }

  /** F6 reject channel: valid rows to the main table, rejects (with their
    * rule names) to a side path — the bulk equivalent of the reference's
    * per-row error taxonomy + `--dump-fail` files
    * (ImportInvoiceReport.php:199-291). The (validCount, rejectCount)
    * summary rides the write passes themselves via `observe`, so neither
    * output is read back. The input lineage runs once: the call caches
    * the tagged frame both sides of a [[graft.operators.Validation.split]]
    * read, the valid write fills it, the reject write reads it, and the
    * call unpersists exactly that frame before it returns. Other caches in
    * the session, the caller's own and another split's, are not touched. */
  def writeWithRejects(valid: DataFrame, rejects: DataFrame,
                       mainPath: String, rejectPath: String): (Long, Long) = {
    val obsValid  = Observation()
    val obsReject = Observation()
    val tagged = cacheSplitFrame(rejects)
    try {
      valid.observe(obsValid, count(lit(1)).as("n"))
        .write.mode(SaveMode.Overwrite).parquet(mainPath)
      rejects.withColumn("_failed_rules",
          concat_ws(",", col("_failed_rules")))
        .observe(obsReject, count(lit(1)).as("n"))
        .write.mode(SaveMode.Overwrite).json(rejectPath)
    } finally tagged.foreach(_.unpersist(false))
    (obsValid.get("n").asInstanceOf[Long],
      obsReject.get("n").asInstanceOf[Long])
  }

  /** Persists the tagged frame of the split `rejects` came from: the plan
    * whose projection defines `rejects`' `_failed_rules` column. Returns
    * it for the caller to unpersist, or None when there is no such plan
    * or it is already cached — a cache this call did not make, and so
    * leaves alone. */
  private def cacheSplitFrame(rejects: DataFrame): Option[DataFrame] = {
    val plan = rejects.queryExecution.analyzed
    val failed = plan.output.find(_.name == "_failed_rules").map(_.exprId)
    plan.collectFirst {
      case p: Project if p.projectList.exists {
          case a: Alias => failed.contains(a.exprId)
          case _ => false
        } => org.apache.spark.sql.graftglue.ColumnGlue.dataFrame(rejects.sparkSession, p)
    }.filter(_.storageLevel == StorageLevel.NONE).map(_.persist())
  }
}
