package newspipe

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Shared local SparkSession for all suites (one per forked test JVM). */
trait SparkTestBase extends AnyFunSuite with Matchers {
  lazy val spark: SparkSession = SparkTestBase.session

  /** Spark jobs started while `body` runs. The listener bus is drained
    * before the listener joins (earlier jobs' queued events must not
    * count) and again after `body` (a sleep fails OPEN under load: events
    * delivered late are never counted and the assertion passes
    * spuriously).
    */
  def jobsDuring(body: => Any): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    org.apache.spark.NewspipeTestBridge.waitListenerBusEmpty(sc)
    sc.addSparkListener(listener)
    try {
      body
      org.apache.spark.NewspipeTestBridge.waitListenerBusEmpty(sc)
    } finally sc.removeSparkListener(listener)
    jobs.get()
  }
}

object SparkTestBase {
  lazy val session: SparkSession = {
    // REAL Hive metastore (Hive 2.3.10 jars in the image, derby-backed,
    // rooted in a temp dir) so catalog operations — writeAndPublish,
    // saveAsTable, bucketed tables — run against HiveExternalCatalog, not
    // the in-memory stub
    val tmp = java.nio.file.Files.createTempDirectory("newspipe-hive").toString
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("newspipe-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .config("javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=$tmp/metastore_db;create=true")
      .enableHiveSupport()
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
