package graft.core

/** DEPLOY.md's conf quick-reference as code — every value here restates
  * a measured clause from that playbook (PLANS rounds 6–9 artifacts:
  * evidence/SKEW_sf1.jsonl, evidence/STREAM_sf10.jsonl,
  * evidence/ROCKSDB_TUNE.jsonl, the q94 sf30 partition-width campaign),
  * so a user gets the measured settings from one call instead of reading
  * 187 lines. Nothing here changes results — only where time and memory
  * go.
  *
  * Also runnable: `runMain graft.core.GraftConf <totalCores>
  * [largestShuffleGB] [maxStateGB] [executorHeapGB]` prints
  * `--conf k=v` lines to paste into spark-submit.
  */
object GraftConf {

  /** What the conf depends on. `totalCores`: cluster total (executors ×
    * cores). `executorHeapBytes`: one executor's heap. `multiExecutor`:
    * false only for local[] runs. `remoteCheckpointStore`: checkpoints
    * on an object store (S3/GCS) rather than local/cluster disk. */
  case class ClusterShape(totalCores: Int,
                          executorHeapBytes: Long = 8L << 30,
                          multiExecutor: Boolean = true,
                          remoteCheckpointStore: Boolean = false)

  /** Shuffle width per DEPLOY's partition-width clause: ≈2–3× total
    * cores at minimum (so the average post-shuffle partition lands near
    * AQE's 64 MB advisory and AQE coalesces DOWN), and scaled WITH the
    * data — AQE never splits ABOVE this value except for skew, so a
    * fixed width lets per-partition sorts deepen with every data step.
    * The round-10 measurement (evidence/WIDTH_sf30.jsonl) bounds what
    * this buys:
    * width is SPILL INSURANCE — once partitions outgrow the in-memory
    * sort budget the cliff is real, but below it extra width measured
    * as pure overhead (+21% shuffle bytes, ~1.1× wall at sf30), so the
    * formula aims at the advisory size rather than "as wide as
    * possible". `largestShuffleBytes` is the caller's estimate of the
    * biggest exchange — for the dedup family that is digests + band
    * keys, never text (~16–24 B/row), a few percent of corpus bytes. */
  def shufflePartitions(totalCores: Int, largestShuffleBytes: Long): Int = {
    val floor = 2 * math.max(1, totalCores)
    val advisory = 64L << 20 // AQE advisory partition size
    val fromData = (largestShuffleBytes + advisory - 1) / advisory
    math.min(math.max(floor.toLong, fromData), 1L << 20).toInt
  }

  /** The measured conf for a cluster shape and workload estimates.
    * `largestShuffleBytes` 0 = unknown (cores floor alone);
    * `maxStreamingStateBytes` 0 = no stateful streaming. */
  def recommended(shape: ClusterShape,
                  largestShuffleBytes: Long = 0L,
                  maxStreamingStateBytes: Long = 0L): Map[String, String] = {
    val base = Map(
      // AQE + skew-join: measured to engage and flatten stragglers at
      // 27%/52% hot-key share while costing ~nothing un-engaged
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.shuffle.partitions" ->
        shufflePartitions(shape.totalCores, largestShuffleBytes).toString,
      // let AQE split a data-scaled width back down to its advisory
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum" ->
        shufflePartitions(shape.totalCores, largestShuffleBytes).toString)
    val checkpoint =
      // localCheckpoint holds blocks on executors: an executor loss
      // mid-CC/PageRank fails the job instead of recomputing — fine in
      // one JVM, not at 1000 executors
      if (shape.multiExecutor) Map("spark.graft.reliableCheckpoint" -> "true")
      else Map.empty[String, String]
    val streaming =
      if (maxStreamingStateBytes <= 0) Map.empty[String, String]
      else if (maxStreamingStateBytes * 2 >= shape.executorHeapBytes) {
        // max state approaching heap: RocksDB drops heap residency ~3×
        // at a 1.12–1.46× tuned premium; the tuning (no per-put
        // read-before-write) is the evidence/ROCKSDB_TUNE.jsonl preset
        Map(
          "spark.sql.streaming.stateStore.providerClass" ->
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
          "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows" -> "false") ++
          // changelog checkpointing pays only when the snapshot upload
          // it replaces crosses a remote store (measured ~neutral on
          // local disk)
          (if (shape.remoteCheckpointStore)
            Map("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")
          else Map.empty[String, String])
      } else Map.empty[String, String]
    base ++ checkpoint ++ streaming
  }

  def main(args: Array[String]): Unit = {
    val (flags, pos) = args.partition(_.startsWith("--"))
    if (pos.isEmpty) {
      System.err.println(
        "usage: GraftConf <totalCores> [largestShuffleGB] [maxStateGB] [executorHeapGB] [--local]")
      sys.exit(2)
    }
    // --local = single-JVM run (spark-submit --master local[n]): reliable
    // checkpointing buys nothing there (losing the executor kills the app),
    // so the flag suppresses it — found by the round-10 DEPLOY dry run,
    // where the CLI had no way to express the shape it was being run on
    val local = flags.contains("--local")
    // an unrecognized flag (a typo of --local) must not silently yield
    // the multi-executor conf — the wrong-shape output the flag prevents
    flags.filterNot(_ == "--local").foreach { f =>
      System.err.println(s"GraftConf: unknown flag '$f' (did you mean --local?)")
      sys.exit(2)
    }
    val cores = pos(0).toInt
    def gb(i: Int): Long =
      if (pos.length > i) (pos(i).toDouble * (1L << 30)).toLong else 0L
    val heap = if (pos.length > 3) gb(3) else 8L << 30
    val conf = recommended(
      ClusterShape(cores, executorHeapBytes = heap, multiExecutor = !local),
      gb(1), gb(2))
    conf.toSeq.sortBy(_._1).foreach { case (k, v) => println(s"--conf $k=$v") }
    // stdout stays paste-clean; operator notes go to stderr
    if (conf.contains("spark.graft.reliableCheckpoint"))
      System.err.println(
        "note: spark.graft.reliableCheckpoint=true needs a checkpoint dir - " +
          "add --conf spark.checkpoint.dir=<DFS path> (or call " +
          "SparkContext.setCheckpointDir); iterative operators fail loudly without one")
  }
}
