package perfbench

import org.apache.spark.sql.SparkSession

/** A benchmark workload over the library's public functions. */
trait Workload {
  /** Register the workload's tables with a fresh session (load or touch
    * each once): the part of set-up that repeats with every session. */
  def register(spark: SparkSession): Unit

  /** Untimed warm-up on the real inputs (outputs are still checked). */
  def warm(spark: SparkSession, res: Result): Unit

  /** Timed operations for `seconds`; samples are named with `prefix`. */
  def measure(spark: SparkSession, tracer: Tracer, res: Result, seconds: Double,
              prefix: String): Unit
}

object Workload {
  /** Run `op` at least once, then again while another run of the same
    * length still ends within `seconds` of the start. */
  def fill(seconds: Double)(op: => Unit): Unit = {
    val t0 = Proc.now()
    var last = 0.0
    do {
      val t = Proc.now()
      op
      last = Proc.now() - t
    } while (Proc.now() - t0 + last <= seconds)
  }
}

/** Entry point of the benchmark JVM. One process, one local[nproc]
  * session at a time:
  *   1. seeded input generation, or the ground truth alone when the inputs
  *      are cached; plain Scala, no Spark, untimed
  *   2. set-up: a SparkSession, table registration and an untimed warm-up
  *      operation on real inputs; setup_s is the time from JVM start to the
  *      first timed operation, less step 1
  *   3. the untraced timed phase; with --trace 1 the same phase traced,
  *      then three set-ups of a new session in the warm JVM
  * Raw samples go to --out as JSON; run.py turns them into metrics. */
object Main {
  val WarmSetups = 3

  private def phase(what: String): Unit =
    System.err.println(f"[perfbench] ${Proc.sinceJvmStart()}%.1f s after JVM start: $what")

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val res = new Result(a.workload)
    res.info("load_start") = Proc.loadAvg()
    val inputs = s"${a.work}/inputs/${a.workload}-seed${a.seed}"
    val out = s"${a.work}/out/${a.workload}"
    Fs.rmrf(out)
    Fs.mkdirs(out)

    val tg = Proc.now()
    val wl: Workload = a.workload match {
      case "etl_batch" => new EtlWorkload(EtlGen.generate(a.seed, inputs), out)
      case "corpus_dedup" => new CorpusWorkload(CorpusGen.generate(a.seed, inputs), out)
      case other => sys.error(s"unknown workload $other")
    }
    // generation is not the workload: peak RSS counts from here on
    System.gc()
    Proc.resetPeakRss()
    val generateS = Proc.now() - tg
    res.scalars("generate_s") = generateS
    phase("generated")

    var spark = Session.create(a)
    wl.register(spark)
    wl.warm(spark, res)
    // the warm-up's garbage is not charged to the first timed operation
    System.gc()
    res.scalars("setup_s") = Proc.sinceJvmStart() - generateS
    phase("set up and warmed up")
    wl.measure(spark, new Tracer(false), res, a.seconds, "")
    phase("measured")
    if (a.trace) {
      val tracer = new Tracer(true)
      tracer.attach(spark)
      wl.measure(spark, tracer, res, a.seconds, "traced.")
      tracer.detach(spark)
      Layers.compute(tracer, res)
      Fs.write(s"${a.work}/trace-${a.workload}-seed${a.seed}.json", tracer.dumpJson())
      phase("traced")
    }
    res.scalars("persisted_bytes_end") =
      spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum.toDouble
    res.scalars("peak_rss_mb") = Proc.statusMb("VmHWM")
    res.info ++= Seq("nproc" -> a.nproc, "master" -> spark.sparkContext.master,
      "spark" -> spark.version, "jdk" -> System.getProperty("java.version"),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20))

    if (a.trace) for (_ <- 0 until WarmSetups) {
      Session.stop(spark)
      // garbage of the previous session is collected before timing, so a
      // set-up is not charged for a collection it did not cause
      System.gc()
      val t0 = Proc.now()
      spark = Session.create(a)
      wl.register(spark)
      res.sample("warm_setup_s", Proc.now() - t0)
    }
    Session.stop(spark)
    phase("stopped")
    res.info("load_end") = Proc.loadAvg()
    Fs.write(a.out, res.toJson)
  }
}

/** Per-layer metrics of a traced phase, from its spans and the Spark
  * counters the listener attributed to them. Layers a workload does not
  * exercise read 0. */
object Layers {
  val SelfLayers = Seq("op", "sources", "pipelines", "validation", "merge", "sinks",
    "queries", "text", "dedup")

  def compute(t: Tracer, res: Result): Unit = {
    val spans = t.spans
    def named(n: String) = spans.filter(_.name == n)
    def dur(n: String) = named(n).map(_.dur).sum
    def attr(ss: Seq[Span], k: String) = ss.flatMap(_.attrs.get(k)).sum
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    val L = res.layers
    val src = t.total(_.layer == "sources")
    L("sources.json_read_s") = dur("sources.json_read")
    L("sources.csv_read_s") = dur("sources.csv_read")
    L("sources.bytes_read") = src.bytesRead.toDouble
    L("sources.records_read") = attr(spans.filter(_.layer == "sources"), "rows")
    L("pipelines.invoice_clean_s") = dur("pipelines.invoice_clean")
    // poCsvMany reads its files itself: the separately timed read comes off
    L("pipelines.po_clean_s") = math.max(0.0, dur("pipelines.po_clean") - dur("sources.csv_read"))
    L("pipelines.dbd_pivot_s") = dur("pipelines.dbd_pivot")
    L("pipelines.executor_cpu_s") = t.total(_.layer == "pipelines").cpuNs / 1e9
    L("validation.split_s") = dur("validation.split")
    val valid = attr(spans, "valid")
    L("validation.valid_ratio") = ratio(valid, valid + attr(spans, "rejects"))
    val merges = spans.filter(_.layer == "merge")
    L("merge.upsert_s") = dur("merge.upsert")
    L("merge.rewrite_amplification") = ratio(attr(merges, "rows_written"), attr(merges, "rows_changed"))
    L("merge.shuffle_bytes") = t.total(_.layer == "merge").shuffleWriteBytes.toDouble
    val sinks = named("sinks.write")
    L("sinks.write_s") = dur("sinks.write")
    L("sinks.bytes_written") = t.total(_.name == "sinks.write").bytesWritten.toDouble
    L("sinks.files_written") = attr(sinks, "files")
    val plans = named("queries.plan")
    val execs = named("queries.exec")
    val q = t.total(_.layer == "queries")
    L("queries.plan_ms") = ratio(attr(plans, "plan_ms"), plans.size)
    L("queries.exec_ms") = ratio(execs.map(_.dur).sum * 1e3, execs.size)
    L("queries.jobs_per_request") = ratio(q.jobs.toDouble, execs.size)
    L("queries.bytes_read_per_request") = ratio(q.bytesRead.toDouble, execs.size)
    L("queries.rows_scanned_per_row_returned") = ratio(q.recordsRead.toDouble, attr(execs, "rows_returned"))
    val filters = named("text.filter")
    L("text.filter_s") = dur("text.filter")
    L("text.kept_ratio") = ratio(attr(filters, "rows"), attr(filters, "rows_in"))
    L("dedup.exact_s") = dur("dedup.exact")
    L("dedup.pairs_s") = dur("dedup.pairs")
    L("dedup.pairs_found") = attr(named("dedup.pairs"), "rows")
    L("dedup.pairs_shuffle_bytes") = t.total(_.name == "dedup.pairs").shuffleWriteBytes.toDouble
    L("dedup.components_s") = dur("dedup.components")
    L("dedup.components_jobs") = t.total(_.name == "dedup.components").jobs.toDouble
    L("dedup.keep_best_s") = dur("dedup.keep_best")
    val all = t.total(_ => true)
    L("spark.tasks") = all.tasks.toDouble
    L("spark.executor_run_s") = all.runMs / 1e3
    L("spark.executor_cpu_s") = all.cpuNs / 1e9
    L("spark.scheduler_delay_s") = all.schedDelayMs / 1e3
    L("spark.shuffle_write_bytes") = all.shuffleWriteBytes.toDouble
    L("spark.spill_bytes") = all.spillBytes.toDouble
    L("spark.gc_s") = all.gcMs / 1e3
    L("spark.failed_tasks") = all.failedTasks.toDouble
    val self = t.selfTimes
    SelfLayers.foreach { l =>
      L(s"self.${l}_s") = spans.filter(_.layer == l).map(s => self(s.id)).sum
    }
    L("trace.spans") = spans.size.toDouble
  }
}
