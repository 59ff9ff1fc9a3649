package graft.core

import org.apache.spark.sql.DataFrame

/** Lineage truncation for iterative loops (connected components, PageRank),
  * and the materialized result an operator returns when it ends its own
  * caches before returning (the prefix-filter and banded pair joins,
  * keep-best dedup, phrase search, local OCR).
  *
  * Two materialization modes, selected by the runtime conf
  * `spark.graft.reliableCheckpoint`:
  *
  *   - default (`false`): `localCheckpoint(eager)` — executor-local blocks,
  *     no extra I/O. Right for local runs and benchmarks, where losing an
  *     executor kills the whole app anyway.
  *   - `true`: `checkpoint(eager)` to the SparkContext's checkpoint dir —
  *     blocks live on the DFS and survive executor loss. Right for cluster
  *     runs: a multi-hour dedup over 100 TB must not abort because ONE
  *     executor died mid-iteration with the only copy of the labels, and an
  *     iterative loop cannot recompute lost blocks from lineage precisely
  *     because the point of the cut is that the lineage is gone. Costs one
  *     DFS write + read per iteration — small next to the join work, and
  *     the price of fault tolerance.
  *
  * Callers must set a checkpoint dir before enabling the flag — either
  * `SparkContext.setCheckpointDir` in code or (spark-submit-friendly, and
  * what the round-10 DEPLOY dry run used) `--conf spark.checkpoint.dir=
  * <DFS path>`, which SparkContext applies at startup. This fails loudly
  * (not a silent local fallback) if neither was done, because a user who
  * asked for fault tolerance and silently didn't get it would discover
  * that only when the multi-hour job aborts.
  *
  * STORAGE LIFECYCLE of the reliable mode: Spark does NOT delete reliable
  * checkpoint files on its own — the dir grows by one labels-table-sized
  * snapshot per iteration until the application ends. Point
  * `setCheckpointDir` at a per-job path and delete it after the job, or
  * submit with `spark.cleaner.referenceTracking.cleanCheckpoints=true`
  * (a static conf) to let the ContextCleaner reap superseded snapshots.
  * The growth is O(iterations × |labels|) — ids and component longs, tiny
  * next to the corpus — but unmanaged it accumulates across jobs.
  */
object Checkpoints {
  val ReliableConf = "spark.graft.reliableCheckpoint"

  def cut(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    if (spark.conf.get(ReliableConf, "false").toBoolean) {
      require(spark.sparkContext.getCheckpointDir.isDefined,
        s"$ReliableConf=true requires SparkContext.setCheckpointDir " +
          "(a DFS path on a cluster) before running the iterative operator")
      df.checkpoint(true)
    } else df.localCheckpoint(true)
  }
}
