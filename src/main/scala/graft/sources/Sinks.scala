package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Sinks (SURVEY.md §2.1 K-ops), re-expressed for a columnar lake.
  *
  * The reference's MySQL tables become partitioned parquet: the
  * table-per-year scheme (gec_inv_2023/24/25) collapses into one table
  * partitioned by year (SURVEY §4), so year predicates prune directories
  * and a MERGE rewrites only affected partitions. */
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

  /** K4/K5/K6 target: partitioned parquet table keyed by a year column.
    * Dynamic partition overwrite = the bounded-rewrite MERGE target
    * (only partitions present in `df` are replaced — the plain-Spark
    * equivalent of upserting into the year tables). */
  def writePartitionedByYear(df: DataFrame, path: String, yearCol: String): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(yearCol)
      .parquet(path)

  /** K4 staged-commit variant: replace exactly the partitions present in
    * `df` via write-to-staging + per-partition atomic renames — no reliance
    * on dynamic-overwrite's deferred deletion, and the live table stays
    * readable at every instant (staging and backup directories start with
    * '.', which parquet readers ignore).
    *
    * Protocol, per affected partition P (df must carry P's FULL intended
    * content — for a MERGE, existing ∪ batch):
    *   1. write df under `path/.staging_token/P` (a normal parquet job)
    *   2. rename live P → `.backup_P`
    *   3. rename staged P → live P
    *   4. delete `.backup_P`, then the staging dir
    * Each rename is a single atomic directory move. Crash anywhere leaves
    * a recoverable state, and [[recoverStagedPartitions]] (run at the start
    * of every write) repairs it: a `.backup_P` whose live P is missing is
    * restored (the crash hit between 2 and 3 — the backup holds the only
    * copy), any other backup/staging leftovers are stale and dropped. A
    * replayed streaming batch then redoes the merge idempotently — keyed
    * upsert makes replay convergent, so at-least-once delivery plus this
    * commit yields an exactly-once-by-key table. */
  def writePartitionedStaged(df: DataFrame, path: String, partCol: String,
                             token: String = java.util.UUID.randomUUID().toString): Unit = {
    import org.apache.hadoop.fs.Path
    val target = new Path(path)
    val fs = target.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    fs.mkdirs(target)
    recoverStagedPartitions(df.sparkSession, path)
    val stage = new Path(target, s".staging_$token")
    df.write.mode(SaveMode.Overwrite).partitionBy(partCol).parquet(stage.toString)
    val parts = fs.listStatus(stage).map(_.getPath)
      .filter(_.getName.startsWith(partCol + "="))
    parts.foreach { p =>
      val dest = new Path(target, p.getName)
      val backup = new Path(target, ".backup_" + p.getName)
      if (fs.exists(dest)) fs.rename(dest, backup)
      fs.rename(p, dest)
      fs.delete(backup, true)
    }
    fs.delete(stage, true)
  }

  /** Crash repair for [[writePartitionedStaged]] — idempotent, safe to run
    * any time: restores partitions whose only copy sits in a `.backup_`
    * directory, then clears stale staging/backup leftovers. */
  def recoverStagedPartitions(spark: org.apache.spark.sql.SparkSession,
                              path: String): Unit = {
    import org.apache.hadoop.fs.Path
    val target = new Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(target)) return
    fs.listStatus(target).foreach { s =>
      val n = s.getPath.getName
      if (n.startsWith(".backup_")) {
        val dest = new Path(target, n.stripPrefix(".backup_"))
        if (!fs.exists(dest)) fs.rename(s.getPath, dest) // only surviving copy
        else fs.delete(s.getPath, true)                  // superseded backup
      }
    }
    fs.listStatus(target).foreach { s =>
      if (s.getPath.getName.startsWith(".staging_")) fs.delete(s.getPath, true)
    }
  }

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
    * summary rides the write passes themselves via `observe` — no
    * re-reading of either output, zero extra scans. */
  def writeWithRejects(valid: DataFrame, rejects: DataFrame,
                       mainPath: String, rejectPath: String): (Long, Long) = {
    val obsValid  = org.apache.spark.sql.Observation()
    val obsReject = org.apache.spark.sql.Observation()
    valid.observe(obsValid, count(lit(1)).as("n"))
      .write.mode(SaveMode.Overwrite).parquet(mainPath)
    rejects.withColumn("_failed_rules",
        concat_ws(",", col("_failed_rules")))
      .observe(obsReject, count(lit(1)).as("n"))
      .write.mode(SaveMode.Overwrite).json(rejectPath)
    (obsValid.get("n").asInstanceOf[Long],
      obsReject.get("n").asInstanceOf[Long])
  }
}
