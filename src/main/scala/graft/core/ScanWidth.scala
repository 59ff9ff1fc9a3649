package graft.core

import org.apache.spark.sql.DataFrame

/** Guard against parquet row-group starvation of scan-stage parallelism.
  *
  * Parquet assigns every row of a row group to the byte-range split
  * containing the group's midpoint, so a table written as few large row
  * groups caps the width of any stage fused onto its scan REGARDLESS of
  * `spark.sql.files.maxPartitionBytes` — the planner happily makes 19
  * splits of a one-row-group file and 18 of them carry zero rows. For
  * exchange-bound operators this costs only the (cheap) scan; for the
  * gram-dense dedup family, whose tokenize/shingle/minhash/md5 work is
  * deliberately fused into the scan stage, it serializes the whole
  * corpus pass: measured on a 74 MB single-row-group documents table at
  * sf10, q124's probe stage ran 19 tasks with stage wall = summed task
  * time (95 s, concurrency 1.0 on local[32]); the same stage on a
  * 32-file layout ran at concurrency 28.3 (14.8 s).
  *
  * Spark cannot see row-group boundaries at planning time and no
  * session conf splits within a row group, so the only in-engine remedy
  * is an explicit repartition — worth one exchange of the raw text
  * exactly when the layout is provably starved, and a no-op otherwise.
  * Detection is bounded: row-group counts come from parquet footers,
  * read only when the file count is already below the target width
  * (so at most `width − 1` footer reads, metadata-only).
  */
object ScanWidth {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Bytes of fused work one scan slot should carry before widening pays
    * for the exchange it inserts — for the FINGERPRINT family (one
    * kernel pass per doc: minhash/simhash/dHash signatures, prefix
    * tokens), measured at well under 0.5 s of CPU per MB, so a sub-2 MB
    * corpus serialized is cheaper than any exchange (the round-9
    * toy-scale price: q34 0.55→1.05 s on a 0.6 MB corpus repartitioned
    * 32-way for nothing). */
  val FingerprintSlotBytes: Long = 2L << 20

  /** Slot size for the GRAM-EXPLODE family (contaminatedIds, the bloom
    * prefilter, passage dedup): tokenize + explode every n-gram + md5
    * per gram runs ~1.3 s of CPU per MB of text (the round-9 q124
    * measurement), so even a 256 KB slot carries ~0.3 s of work — far
    * above per-slot exchange overhead. The round-10 bench gate caught
    * exactly this split: one 2 MB threshold for both families recovered
    * the cheap ops (q34 0.69×) but serialized the heavy ones on the
    * sub-MB sf0.1 corpus (q124 1.81×, q90 1.80×, q95 1.62×, q117
    * 1.32×) — density is a property of the OPERATOR, so the call site
    * declares it. */
  val GramExplodeSlotBytes: Long = 256L << 10


  /** `df`, repartitioned iff its file layout provably caps scan width
    * below what the input's SIZE warrants. The width is proportional to
    * input bytes (one slot per `slotBytes` — the caller's work-density
    * constant, [[FingerprintSlotBytes]] or [[GramExplodeSlotBytes]] —
    * capped at the default
    * parallelism) rather than a blanket `defaultParallelism`: a 0.6 MB
    * toy corpus with one row group passes through untouched (its
    * serialized scan is cheaper than any exchange), a 74 MB
    * single-row-group corpus still widens to the full 32-way that the
    * round-9 measurement showed it needs. Non-file inputs (in-memory
    * test frames, cached-only plans) and unreadable/non-parquet files
    * pass through untouched — when the layout can't be judged, the
    * engine doesn't shuffle on suspicion. */
  def ensure(df: DataFrame,
             slotBytes: Long = FingerprintSlotBytes): DataFrame = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    val files = df.inputFiles
    if (files.isEmpty || files.length >= target) df
    else {
      val conf = spark.sparkContext.hadoopConfiguration
      var groups = 0L
      var bytes = 0L
      files.foreach { f =>
        val path = new org.apache.hadoop.fs.Path(f)
        scala.util.Try {
          val g = ParquetFooters.read(conf, path).rowGroups
          val len = path.getFileSystem(conf).getFileStatus(path).getLen
          (g.toLong, len)
        // unreadable or non-parquet (csv/json split by bytes) => treat
        // as splittable so the sum clears any threshold
        } match {
          case scala.util.Success((g, len)) => groups += g; bytes += len
          case scala.util.Failure(_)        => groups += target
        }
      }
      // slots the work warrants: one per slotBytes of input, at least
      // the layout's own width, at most the box width
      val want = math.min(target.toLong,
        math.max(1L, (bytes + slotBytes - 1) / slotBytes)).toInt
      // pass when the layout already provides the warranted width (or
      // half the box, the round-9 "not starved" bar, whichever is less)
      if (groups >= math.min(want.toLong, math.max(1L, target / 2L))) df
      else {
        // WIDTH ≠ decision threshold: `want` (one slot per slotBytes)
        // only decides WHETHER the exchange pays; once it is being
        // inserted its cost is ~width-independent, so repartition to the
        // FULL box width and let every core amortize the fused per-row
        // work. Using `want` as the width was the round-10 regression: a
        // 0.57 MB gram corpus computed want=3 and went THREE-way where
        // round-9 code went 32-way — ~0.25 s of fused gram work per slot
        // landed on the critical path that 32 slots amortize (q124/q90/
        // q95 read 1.1–1.2x vs round-9 code, 6/6 alternating-JVM samples
        // in the same direction). The pass-through above (no exchange at
        // all — what q34/q29 need at toy scale) is untouched, and at
        // scale `want` hits the cap so the firing plan (e.g. q124's
        // sf10) is `target`-wide either way.
        log.info(s"ScanWidth: ${files.length} file(s) / $groups row " +
          s"group(s) cap the scan below the $want-way its ${bytes >> 20}" +
          s" MB warrants — repartitioning $target-way (one exchange of " +
          "the input, cheaper than a serialized scan stage)")
        df.repartition(target)
      }
    }
  }
}
