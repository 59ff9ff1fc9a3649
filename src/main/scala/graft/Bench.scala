package graft

/** Driver-run benchmark: one JSON line with per-query seconds.
  *
  * One untimed warm-up pass (JIT, codegen and file-index caches load once,
  * as they would in any long-running service), then
  * SPARK_GRAFT_BENCH_RUNS timed passes, with every cache drained after
  * each query. The passes are INTERLEAVED (whole suite, then the whole
  * suite again) rather than back-to-back per query, so a burst of host
  * load lasting a few minutes lands on at most one sample of each query.
  * Each query reports the median of its samples (one-bad-sample armor)
  * and the min (the least-contended sample). The 1-minute load average
  * is stamped at start and after every pass.
  *
  * Settings: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS and
  * SPARK_GRAFT_EXTRA_CONF (see [[DriverSession.build]]),
  * SPARK_GRAFT_BENCH_ONLY=q29,q53 (prefix match: time just those queries)
  * and SPARK_GRAFT_BENCH_RUNS (timed passes, default 3). */
object Bench {
  /** Per-query (name, median, min) seconds over the timed samples, in the
    * given order. A failed sample (-1) or a recorded error sets both to
    * -1: a query that fails mid-bench is broken, not fast. */
  def stats(samples: Seq[(String, Seq[Double])],
            errors: collection.Set[String]): Seq[(String, Double, Double)] =
    samples.map { case (name, ss) =>
      if (ss.exists(_ < 0) || errors(name)) (name, -1.0, -1.0)
      else { val s = ss.sorted; (name, s(s.size / 2), s.head) }
    }

  /** The metric value: the sum of the working queries' medians. A broken
    * query (-1) drops out rather than subtracting from the total. */
  def total(stats: Seq[(String, Double, Double)]): Double =
    stats.map(_._2).filter(_ >= 0).sum

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val runs = sys.env.get("SPARK_GRAFT_BENCH_RUNS").map { v =>
      v.trim.toIntOption.filter(_ >= 1).getOrElse {
        System.err.println(s"SPARK_GRAFT_BENCH_RUNS='$v' is not a positive integer"); sys.exit(2)
      }
    }.getOrElse(3)
    val spark = DriverSession.build(cpus)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.exists(n.startsWith)) }
    def loadAvg(): Double =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble
      catch { case _: Throwable => -1.0 }
    val load0 = loadAvg()
    // a throwing query must read as an ERROR, never as a (fast) timing:
    // its sample records -1 and the message lands in the errors map
    val errors = scala.collection.mutable.Map.empty[String, String]
    val samples = scala.collection.mutable.Map.empty[String, List[Double]]
      .withDefaultValue(Nil)
    def pass(timed: Boolean): Unit = ordered.foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).count(); true }
        catch { case t: Throwable =>
          errors.getOrElseUpdate(name,
            t.toString.replaceAll("[\"\\\\\\p{Cntrl}]", " ").take(200))
          false
        }
      if (timed) samples(name) ::= (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
      DriverSession.drain(spark)
    }
    pass(timed = false)
    val passLoads = (1 to runs).map { _ => pass(timed = true); loadAvg() }
    val results = stats(ordered.map { case (n, _) => n -> samples(n) }, errors.keySet)
    def qjson(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val errJson = errors.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    val master = spark.sparkContext.master
    println(s"""{"metric":"total","value":${total(results)},"unit":"sec","queries":${qjson(results.map(r => r._1 -> r._2))},"queries_min":${qjson(results.map(r => r._1 -> r._3))},"errors":$errJson,"n_errors":${errors.size},"sf":"$sfDir","runs_per_query":$runs,"stat":"median","interleaved":true,"loadavg_start":$load0,"loadavg_pass_end":${passLoads.mkString("[", ",", "]")},"cpus":"$cpus","shuffle_partitions":"$shuffle","master":"$master"}""")
    spark.stop()
  }
}
