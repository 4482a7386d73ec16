package graft.core

import org.apache.spark.sql.SparkSession

/** The library's session front door: a builder pre-tuned for the engine's
  * workload shape. Every main, perfbench and the test suites build their
  * session here and add only their own settings. The production flags are
  * the ones a 1000-executor deployment needs — RocksDB-backed streaming
  * state (delayed-delivery/TableView state can exceed heap), AQE with
  * skew-join handling, and the nanos-parquet compatibility flag for this
  * dataset family.
  *
  * '''Local I/O without forks.''' `file:` resolves to [[ForkFreeLocalFs]]
  * (`FileContext`: offset and commit logs, state-store deltas and
  * snapshots) and [[ForkFreeLocalFileSystem]] (`FileSystem`: parquet and
  * other writes). Without the native Hadoop library, Hadoop's local
  * filesystem forks `chmod` for every file it creates and `readlink` for
  * every `FileContext` rename: a 22 s perfbench `stream` run started
  * 2,848 processes, about 12 per partition per micro-batch, and the state
  * commit was 318 ms of a 339 ms trigger. Checksums, `.crc` sidecars,
  * rename semantics and permissions are Hadoop's own. Known limit:
  * `FileSystem.get` caches one instance per scheme, so a JVM that touches
  * `file:` through `FileSystem` before the session is built keeps
  * Hadoop's class for `FileSystem` calls; `FileContext` paths are not
  * cached and always get the fork-free class.
  *
  * '''Broadcast block size 256 KB.''' Every job broadcasts its task
  * binary, and `TorrentBroadcast` allocates its first chunk at the full
  * block size (4 MB by default). Under G1 with 1 MB regions (heaps up to
  * about 3 GB) that chunk is a humongous object: faster micro-batches run
  * more jobs per second, and one 10 s run allocated 492 MB of humongous
  * buffers on that path, raising peak RSS by 8%. A 256 KB chunk stays
  * below half a region.
  */
object GraftSession {

  def builder(master: String = "local[*]",
              shufflePartitions: Option[Int] = None,
              rocksdbState: Boolean = false): SparkSession.Builder = {
    var b = SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl",
        classOf[ForkFreeLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[ForkFreeLocalFs].getName)
      .config("spark.broadcast.blockSize", "256k")
      .withExtensions(new graft.GraftExtensions)
    shufflePartitions.foreach(p =>
      b = b.config("spark.sql.shuffle.partitions", p.toString))
    if (rocksdbState)
      b = b.config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    b
  }
}
