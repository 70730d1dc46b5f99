package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM per `sbt test`). */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"

  /** `f`'s result and the local properties of every job started while
    * it ran, from any thread. The listener bus delivers events in
    * order, so once a marker job submitted after `f` is seen, every
    * earlier job has been counted. */
  def jobsDuring[A](f: => A): (A, Seq[java.util.Properties]) = {
    val marker = s"jobs-during-${java.util.UUID.randomUUID}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[java.util.Properties]
    val drained = new java.util.concurrent.CountDownLatch(1)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val p = Option(j.properties).getOrElse(new java.util.Properties)
        if (p.getProperty("spark.jobGroup.id") == marker) drained.countDown()
        else seen.add(p)
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val out = f
      spark.sparkContext.setJobGroup(marker, marker)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.clearJobGroup()
      require(drained.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus did not drain")
      import scala.jdk.CollectionConverters._
      (out, seen.asScala.toSeq)
    } finally spark.sparkContext.removeSparkListener(l)
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  val sfDir: String = SparkSpec.sfDir

  /** VERSION-PINNED file matcher for a lake change table, for the
    * file-exactness assertions on incremental-maintenance frames:
    * matches the manifest layout's `_data/<table>-%08d` dir (a change
    * table is always written BY its version's publish, so the dir
    * version IS the table's version) or the legacy per-version
    * `/v<v>/<table>/` layout. A bare table-name substring would also
    * match the WRONG version's change table and hide an off-by-one
    * maintenance read. */
  def changeTableFile(table: String, v: Long)(f: String): Boolean =
    f.contains(f"_data/$table-$v%08d") || f.contains(s"/v$v/$table/")
}
