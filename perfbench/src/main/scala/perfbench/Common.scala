package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.GraftConf

/** Command line of the benchmark JVM (run.py passes these). */
final case class Args(workload: String, seed: Long, seconds: Double,
                      trace: Boolean, work: String, out: String, nproc: Int)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), need("out"),
      m.get("nproc").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()))
  }
}

/** Everything a run reports: raw samples (stats are computed by run.py),
  * scalar metrics, per-layer metrics, operation accounting and the first
  * few failure messages. */
final class Result(val workload: String) {
  val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  val scalars = mutable.LinkedHashMap[String, Double]()
  val layers = mutable.LinkedHashMap[String, Double]()
  val info = mutable.LinkedHashMap[String, Any]()
  private val failures = mutable.ArrayBuffer[String]()
  @volatile var attempted = 0L
  @volatile var failed = 0L

  def sample(name: String, v: Double): Unit = synchronized {
    samples.getOrElseUpdate(name, mutable.ArrayBuffer()) += v
  }

  /** Account one operation: a timed one always counts as attempted, an
    * untimed warm-up one only when it fails; any problem fails it. */
  def outcome(timed: Boolean, problems: Seq[String], what: => String): Unit = synchronized {
    if (timed || problems.nonEmpty) attempted += 1
    if (problems.nonEmpty) {
      failed += 1
      if (failures.size < 20) failures += s"$what: ${problems.mkString("; ")}"
    }
  }

  def toJson: String = {
    import scala.jdk.CollectionConverters._
    def jmap(m: collection.Map[String, _]): java.util.Map[String, Any] = {
      val j = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, v) => j.put(k, v) }
      j
    }
    val root = new java.util.LinkedHashMap[String, Any]()
    root.put("workload", workload)
    root.put("attempted", attempted)
    root.put("failed", failed)
    root.put("failures", failures.asJava)
    root.put("samples", jmap(samples.map { case (k, v) => k -> v.map(Double.box).asJava }))
    root.put("scalars", jmap(scalars))
    root.put("layers", jmap(layers))
    root.put("info", jmap(info))
    Json.mapper.writeValueAsString(root)
  }
}

object Json {
  val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** JSON string literal (the generators write their inputs by hand). */
  def str(s: String): String = {
    val b = new java.lang.StringBuilder(s.length + 2)
    b.append('"')
    s.foreach {
      case '"'  => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
}

object Fs {
  def write(path: String, text: String): Unit = {
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    Files.write(p, text.getBytes(StandardCharsets.UTF_8))
  }

  def writeBytes(path: String, bytes: Array[Byte]): Unit = {
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    Files.write(p, bytes)
  }

  def rmrf(path: String): Unit = {
    val f = new File(path)
    if (f.exists()) {
      val it = Files.walk(f.toPath)
      try it.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
      finally it.close()
    }
  }

  def mkdirs(path: String): String = { Files.createDirectories(Paths.get(path)); path }

  /** Data files under a written table directory (hidden and marker files
    * excluded) — the sink's files-written count. */
  def dataFiles(path: String): Seq[File] = {
    val root = new File(path)
    if (!root.exists()) Nil
    else {
      val it = Files.walk(root.toPath)
      try {
        val b = mutable.ArrayBuffer[File]()
        it.forEach { p =>
          val f = p.toFile
          val n = f.getName
          if (f.isFile && !n.startsWith(".") && !n.startsWith("_")) b += f
        }
        b.toSeq
      } finally it.close()
    }
  }

  /** Map independent generation steps on a thread each (there are only a
    * few); rethrows the first failure. */
  def parallelMap[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    val results = new Array[Any](xs.size)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = xs.zipWithIndex.map { case (x, i) =>
      new Thread(() => try results(i) = f(x) catch { case e: Throwable => errors.add(e) })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    if (!errors.isEmpty) throw errors.peek()
    results.toSeq.map(_.asInstanceOf[B])
  }

  /** Generated inputs are cached per seed behind a marker file: `gen`
    * writes them only when the marker is missing. */
  def cached(dir: String)(gen: => Unit): Unit = {
    val marker = new File(dir, "_COMPLETE")
    if (!marker.exists()) {
      rmrf(dir)
      mkdirs(dir)
      gen
      Files.write(marker.toPath, Array[Byte]())
    }
  }
}

object Session {
  /** A local session with the library's recommended configuration for a
    * single-JVM run of `nproc` cores; nothing is hand-tuned here. */
  def create(a: Args): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${a.nproc}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", Fs.mkdirs(s"${a.work}/spark-local"))
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
    GraftConf.recommended(GraftConf.ClusterShape(a.nproc, multiExecutor = false))
      .foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def stop(s: SparkSession): Unit = {
    graft.core.InternalCaches.release()
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}

object Proc {
  /** A line of /proc/self/status in MB (VmHWM = peak resident set). */
  def statusMb(key: String): Double = {
    val f = new File("/proc/self/status")
    if (!f.exists()) return Double.NaN
    val src = scala.io.Source.fromFile(f)
    try src.getLines().find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }

  /** Reset VmHWM to the current resident set (Linux clear_refs "5"). */
  def resetPeakRss(): Unit =
    try java.nio.file.Files.write(Paths.get("/proc/self/clear_refs"), "5".getBytes)
    catch { case _: Exception => () }

  def loadAvg(): String = {
    val f = new File("/proc/loadavg")
    if (!f.exists()) "" else {
      val src = scala.io.Source.fromFile(f)
      try src.mkString.trim finally src.close()
    }
  }

  /** Seconds since this JVM started. */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  def now(): Double = System.nanoTime() / 1e9
}

object Frames {
  /** Force a frame with the noop sink and return its row count. */
  def force(df: DataFrame): Long = {
    val obs = org.apache.spark.sql.Observation()
    df.observe(obs, count(lit(1)).as("n")).write.format("noop").mode("overwrite").save()
    obs.get("n").asInstanceOf[Long]
  }

  /** Exact money sum of a double column as integer cents. */
  def cents(c: String) = sum(round(col(c) * 100).cast("long"))
}
