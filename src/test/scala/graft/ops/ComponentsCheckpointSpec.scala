package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** With a session checkpoint dir configured (the real-cluster deployment
  * shape), the closure's per-round materialization must use RELIABLE
  * checkpoints — localCheckpoint blocks die with a decommissioned executor
  * and would fail the whole job — and still produce the same labels. */
class ComponentsCheckpointSpec extends SparkSuite {
  import spark.implicits._

  test("closure uses reliable checkpoints when a checkpoint dir is set") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-cc-ckpt").toFile.getAbsolutePath
    val before = spark.sparkContext.getCheckpointDir
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
      val got = Components.connected(pairs, "doc_a", "doc_b")
        .as[(Long, Long)].collect().toMap
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
      // a path needs several rounds, each discarding a non-final labelling
      val (path, rounds) = Components.connectedWithRounds(
        (0L until 63L).map(i => (i, i + 1)).toDF("doc_a", "doc_b"),
        "doc_a", "doc_b")
      assert(rounds > 1)
      assert(path.as[(Long, Long)].collect().toMap ==
        (0L until 64L).map(_ -> 0L).toMap)
      // reliable materializations landed under the configured dir, and the
      // footprint is BOUNDED: after the call, exactly the final round's
      // file set remains (earlier rounds deleted as they became unreachable)
      // setCheckpointDir resolves to a UUID subdir — list the RESOLVED dir
      val resolved = new java.io.File(
        new java.net.URI(spark.sparkContext.getCheckpointDir.get).getPath)
      val calls = Option(new java.io.File(resolved, "graft-cc").listFiles())
        .getOrElse(Array.empty)
      assert(calls.nonEmpty,
        "no reliable materializations written — closure stayed on localCheckpoint")
      calls.foreach { u =>
        val roundDirs = u.listFiles().filter(_.getName.startsWith("r"))
        assert(roundDirs.length == 1,
          s"leaked round materializations: ${roundDirs.map(_.getName).toSeq}")
      }
    } finally restoreCheckpointDir(before)
  }

  test("an eager consumer's compact leaves no residue under the checkpoint dir") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-cc-ckpt2").toFile.getAbsolutePath
    val before = spark.sparkContext.getCheckpointDir
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val idxDir = java.nio.file.Files
        .createTempDirectory("graft-cc-idx2").toFile.getAbsolutePath
      val idx = new ComponentsIndex(spark, idxDir)
      idx.addPairs(Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b"), ord = 1)
      idx.compact()
      val resolved = new java.io.File(
        new java.net.URI(spark.sparkContext.getCheckpointDir.get).getPath)
      val residue = Option(new java.io.File(resolved, "graft-cc").listFiles())
        .getOrElse(Array.empty)
      assert(residue.isEmpty,
        s"compact left closure residue: ${residue.map(_.getName).toSeq}")
      // and the compacted state still resolves
      assert(idx.resolveAll().as[(Long, Long)].collect().toMap ==
        Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    } finally restoreCheckpointDir(before)
  }

  /** The session is shared JVM-wide across suites and SparkContext has no
    * public unset — restore the previous value (usually None) via the
    * generated setter so later suites keep their localCheckpoint behavior. */
  private def restoreCheckpointDir(before: Option[String]): Unit =
    spark.sparkContext.getClass.getMethods
      .find(_.getName == "checkpointDir_$eq").get
      .invoke(spark.sparkContext, before)
}
