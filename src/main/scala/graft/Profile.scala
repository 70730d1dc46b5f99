package graft

import java.util.Properties
import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** The one Spark metrics listener: what the jobs started while a block
  * ran cost the cluster, from any thread (broadcast and subquery jobs
  * run on pool threads, a REST handler's on the server's).
  *
  * The bus is drained exactly, never by polling or sleeping: after the
  * block returns, a one-task marker job tagged with this profile's id
  * is submitted. The listener bus delivers events in order, so when the
  * marker's start event arrives every earlier event — each counted
  * job's task ends included, since a job's tasks end before its action
  * returns — has been seen. Marker jobs are never counted, by this
  * profile or by any enclosing one.
  *
  * Callbacks arrive on the bus's single dispatch thread, so the
  * listener keeps plain fields; the latch publishes the snapshot taken
  * at the marker to the caller.
  */
final class Profile private (private val marker: String) extends SparkListener {
  import Profile._

  private val owned = scala.collection.mutable.HashSet.empty[Int]
  private var counts = Counts()
  private var props = Vector.empty[Properties]
  private val drained = new CountDownLatch(1)
  @volatile private var seen: (Counts, Seq[Properties]) = null

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    val p = Option(j.properties).getOrElse(new Properties)
    Option(p.getProperty(MarkerKey)) match {
      case Some(m) =>
        if (m == marker) { seen = (counts, props); drained.countDown() }
      case None =>
        owned ++= j.stageIds
        props :+= p
        counts = counts.copy(jobs = counts.jobs + 1,
          stages = counts.stages + j.stageInfos.size)
    }
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
    if (owned.contains(t.stageId)) {
      val m = t.taskMetrics
      val c = counts.copy(tasks = counts.tasks + 1)
      counts =
        if (m == null) c
        else c.copy(
          inputBytes = c.inputBytes + m.inputMetrics.bytesRead,
          shuffleReadBytes = c.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
          shuffleWriteBytes = c.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
          outputBytes = c.outputBytes + m.outputMetrics.bytesWritten,
          memorySpillBytes = c.memorySpillBytes + m.memoryBytesSpilled,
          diskSpillBytes = c.diskSpillBytes + m.diskBytesSpilled,
          peakExecutionMemory = math.max(c.peakExecutionMemory, m.peakExecutionMemory))
    }
}

object Profile {

  /** Totals over the counted jobs. `stages` is what each job declared
    * at its start (stages skipped because their shuffle output already
    * exists included); the byte counts sum the tasks that ran;
    * `peakExecutionMemory` is the largest single task's peak. */
  final case class Counts(
      jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
      inputBytes: Long = 0, shuffleReadBytes: Long = 0,
      shuffleWriteBytes: Long = 0, outputBytes: Long = 0,
      memorySpillBytes: Long = 0, diskSpillBytes: Long = 0,
      peakExecutionMemory: Long = 0) {
    def fields: Seq[(String, Long)] = Seq(
      "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
      "input_bytes" -> inputBytes,
      "shuffle_read_bytes" -> shuffleReadBytes,
      "shuffle_write_bytes" -> shuffleWriteBytes,
      "output_bytes" -> outputBytes,
      "memory_spill_bytes" -> memorySpillBytes,
      "disk_spill_bytes" -> diskSpillBytes,
      "peak_execution_memory" -> peakExecutionMemory)
  }

  private val MarkerKey = "graft.profile.marker"

  /** `f`'s result, the [[Counts]] of every job started while it ran,
    * and those jobs' local properties (job group, description, …) in
    * start order. */
  def during[A](spark: SparkSession)(f: => A): (A, Counts, Seq[Properties]) = {
    val sc = spark.sparkContext
    val l = new Profile(java.util.UUID.randomUUID.toString)
    sc.addSparkListener(l)
    try {
      val out = f
      val outer = sc.getLocalProperty(MarkerKey)
      sc.setLocalProperty(MarkerKey, l.marker)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(MarkerKey, outer)
      require(l.drained.await(30, TimeUnit.SECONDS), "listener bus did not drain")
      val (counts, props) = l.seen
      (out, counts, props)
    } finally sc.removeSparkListener(l)
  }
}
