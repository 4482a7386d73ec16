package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide SparkSession via getOrCreate). */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.GraftSession
    .builder("local[4]", shufflePartitions = Some(4))
    .appName("graft-test")
    .getOrCreate()

  def ts(s: String): java.sql.Timestamp = {
    // Parse as UTC regardless of JVM default zone.
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss")
    java.sql.Timestamp.from(java.time.LocalDateTime.parse(s, fmt)
      .atZone(java.time.ZoneOffset.UTC).toInstant)
  }

  /** Runs `body` with one SQL conf set, restoring the previous value. */
  def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** The number of Spark jobs `body` starts, counted by a listener under a
    * job group. A sentinel job after `body` is the listener barrier:
    * events arrive in order, so once its start is seen every job of
    * `body` has been counted. */
  def jobsRunBy(body: => Unit): Int = {
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val sentinel = s"$group-end"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    @volatile var sawSentinel = false
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.add(js.jobId)
          case Some(`sentinel`) => sawSentinel = true
          case _ =>
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try body
      finally sc.clearJobGroup()
      sc.setJobGroup(sentinel, "listener barrier")
      try spark.range(1).collect()
      finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30e9.toLong
      while (!sawSentinel && System.nanoTime() < deadline) Thread.sleep(10)
      assert(sawSentinel, "listener never saw the barrier job")
    } finally sc.removeSparkListener(listener)
    jobs.size
  }

  /** The ids of RDDs persisted by `body` and still persisted after it. */
  def persistedBy(body: => Unit): Set[Int] = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    body
    spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
  }
}
