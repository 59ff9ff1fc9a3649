package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core.GraftConf
import graft.core.GraftConf.ClusterShape

/** [[graft.core.GraftConf]] — DEPLOY.md's measured clauses as code.
  * Asserts the documented keys appear (and only when their trigger
  * condition holds), so the playbook and the helper cannot drift apart
  * silently. Pure maps, no Spark. */
class GraftConfSpec extends AnyFunSuite {

  private val cluster = ClusterShape(totalCores = 4000,
    executorHeapBytes = 16L << 30, multiExecutor = true)

  test("baseline always carries AQE + skew-join + a cores-floored width") {
    val c = GraftConf.recommended(cluster)
    assert(c("spark.sql.adaptive.enabled") == "true")
    assert(c("spark.sql.adaptive.skewJoin.enabled") == "true")
    assert(c("spark.sql.shuffle.partitions").toInt == 8000, "2x total cores floor")
    assert(c("spark.sql.adaptive.coalescePartitions.initialPartitionNum").toInt == 8000)
  }

  test("width scales WITH data past the cores floor (the q94 sf30 clause)") {
    // 3 TB through the largest exchange: fixed 2x-cores width would go
    // 3x-deeper per partition on a 3x data step; the helper widens
    val small = GraftConf.shufflePartitions(4000, 100L << 30)
    val big = GraftConf.shufflePartitions(4000, 3L << 40)
    assert(small == 8000, "100 GB sits under the cores floor")
    assert(big > 8000 && big == (3L << 40) / (64L << 20) + (if ((3L << 40) % (64L << 20) == 0) 0 else 1),
      "past the floor, one partition per 64 MB AQE advisory")
    // a 3x data step now yields ~3x the partitions, not 3x the depth
    assert(math.abs(GraftConf.shufflePartitions(4000, 9L << 40).toDouble / big - 3.0) < 0.01)
  }

  test("multi-executor clusters get reliable checkpoints; local runs don't") {
    assert(GraftConf.recommended(cluster)
      .get("spark.graft.reliableCheckpoint").contains("true"))
    assert(!GraftConf.recommended(ClusterShape(32, multiExecutor = false))
      .contains("spark.graft.reliableCheckpoint"))
  }

  test("RocksDB engages only when max state approaches heap, with the tuned preset") {
    val none = GraftConf.recommended(cluster, maxStreamingStateBytes = 1L << 30)
    val provider = "spark.sql.streaming.stateStore.providerClass"
    assert(!none.contains(provider),
      "1 GB state on a 16 GB heap stays on-heap (hdfs provider)")
    val big = GraftConf.recommended(cluster, maxStreamingStateBytes = 12L << 30)
    assert(big(provider) ==
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    assert(big("spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows") == "false",
      "the ROCKSDB_TUNE preset (no per-put read-before-write) must ride along")
  }

  test("changelog checkpointing only for remote checkpoint stores") {
    val local = GraftConf.recommended(cluster, maxStreamingStateBytes = 12L << 30)
    assert(!local.contains(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"),
      "measured ~neutral on local disk — do not enable there")
    val remote = GraftConf.recommended(
      cluster.copy(remoteCheckpointStore = true), maxStreamingStateBytes = 12L << 30)
    assert(remote("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled") == "true")
  }

  test("width is clamped: a petabyte estimate cannot demand millions of partitions") {
    assert(GraftConf.shufflePartitions(4000, 1L << 50) == (1 << 20))
  }

  test("every spark.graft.* key the library reads has a DEPLOY.md conf row, and no more") {
    // a key is read wherever src/main names it in a string literal
    val key = "spark\\.graft\\.[A-Za-z0-9_.]*[A-Za-z0-9_]".r
    val literal = ("\"(" + key.regex + ")").r
    val read = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
      .toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".scala"))
      .flatMap(f => literal.findAllMatchIn(java.nio.file.Files.readString(f)).map(_.group(1)))
      .toSet
    val rowKey = ("^\\| `(" + key.regex + ")` \\|").r
    val documented = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("DEPLOY.md"))
      .toArray.flatMap(l => rowKey.findFirstMatchIn(l.toString).map(_.group(1))).toSet
    assert(read == documented,
      s"read but undocumented: ${read -- documented}; documented but unread: ${documented -- read}")
    assert(read.nonEmpty, "no spark.graft.* literal found: run from the repository root")
  }
}
