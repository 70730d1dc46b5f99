package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Maps a Spark call-site file name to the graft module that holds it.
  * Derived from the source tree's directory listing
  * (`src/main/scala/graft/<module>/File.scala`), so a new module or a
  * moved file is attributed without editing a table here. Files directly
  * under `graft/` belong to module `core`. */
final class ModuleMap(srcRoot: java.io.File) {
  val modules: Map[String, String] = {
    def scalaFiles(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.sortBy(_.getName)
    val top = scalaFiles(srcRoot).filter(_.getName.endsWith(".scala"))
      .map(_.getName -> "core")
    val nested = scalaFiles(srcRoot).filter(_.isDirectory).flatMap { d =>
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) scalaFiles(f).flatMap(walk) else Seq(f)
      walk(d).filter(_.getName.endsWith(".scala")).map(_.getName -> d.getName)
    }
    (top ++ nested).toMap
  }
  private val Frame = """([A-Za-z0-9_$]+\.scala):\d+""".r
  /** Module of the first graft source file named in a call site (a
    * stage name, or a long call site listing frames innermost first). */
  def of(callSite: String): Option[String] =
    Frame.findAllMatchIn(String.valueOf(callSite)).flatMap(m => modules.get(m.group(1)))
      .nextOption()
}

/** One finished Spark job as the listener saw it. */
final case class JobRecord(module: String, layer: String, span: String,
    callSite: String, op: Long, startNs: Long, wallMs: Double, stages: Int, tasks: Int, taskRunMs: Double,
    taskOverheadMs: Double, shuffleWrite: Long, shuffleRead: Long,
    spill: Long, gcMs: Double, inputBytes: Long, outputBytes: Long)

/** A timed interval around a call into the program. Spans of one
  * operation share `op`; `parent` is the enclosing span's id (0 = root). */
final case class SpanRecord(id: Long, parent: Long, op: Long, name: String,
    layer: String, startNs: Long, endNs: Long)

private final case class Ctx(span: Long, op: Long, layer: String, name: String)

/** The benchmark's own tracing: a SparkListener that attributes every
  * job to a graft module, and an in-memory span recorder. Both are off
  * unless `enabled`; then `span` only runs its body. */
final class Tracer(val enabled: Boolean, modules: ModuleMap) {
  private val spans = new ConcurrentLinkedQueue[SpanRecord]()
  private val jobs = new ConcurrentLinkedQueue[JobRecord]()
  private val ids = new AtomicLong(0)
  private val opIds = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Ctx]] {
    override def initialValue(): List[Ctx] = Nil
  }
  @volatile private var sc: Option[SparkContext] = None

  def attach(context: SparkContext): Unit = if (enabled) {
    sc = Some(context)
    context.addSparkListener(listener)
  }

  /** A new operation id: every span opened on this thread until the
    * next `newOp` shares it. */
  def newOp(): Long = {
    val op = opIds.incrementAndGet()
    stack.set(Nil)
    opStart.set(op)
    op
  }
  private val opStart = new ThreadLocal[Long] { override def initialValue(): Long = 0L }

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body else {
      val parent = stack.get()
      val id = ids.incrementAndGet()
      val op = parent.headOption.map(_.op).getOrElse(opStart.get())
      val ctx = Ctx(id, op, layer, name)
      stack.set(ctx :: parent)
      setLocal(Some(ctx))
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(SpanRecord(id, parent.headOption.map(_.span).getOrElse(0L),
          op, name, layer, t0, System.nanoTime()))
        stack.set(parent)
        setLocal(parent.headOption)
      }
    }

  private def setLocal(c: Option[Ctx]): Unit = sc.foreach { s =>
    s.setLocalProperty("perfbench.layer", c.map(_.layer).orNull)
    s.setLocalProperty("perfbench.span", c.map(_.name).orNull)
    s.setLocalProperty("perfbench.op", c.map(_.op.toString).orNull)
  }

  private final class Acc(val module: String, val layer: String,
      val span: String, val callSite: String, val op: Long, val start: Long,
      val stages: Int) {
    val startNs: Long = System.nanoTime()
    var tasks = 0; var run = 0.0; var overhead = 0.0
    var sw = 0L; var sr = 0L; var spill = 0L; var gc = 0.0
    var in = 0L; var out = 0L
  }
  private val open = new java.util.concurrent.ConcurrentHashMap[Int, Acc]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  // SQL executions run their jobs on pool threads whose stage names
  // carry no user frame; the execution's start event holds the stack of
  // the thread that started it, so its module is resolved there
  private val sqlModule = new java.util.concurrent.ConcurrentHashMap[Long, String]()

  private val listener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        modules.of(s.details).foreach(m => sqlModule.put(s.executionId, m))
      case _ => ()
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val layer = prop("perfbench.layer").getOrElse("none")
      val callSite =
        if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      // a job launched inside graft belongs to the module of its
      // innermost graft frame; one launched from the harness's own files
      // (a timed sink, a collect of a route's rows) to the layer of the
      // span that launched it
      val module = modules.of(callSite)
        .orElse(prop("spark.sql.execution.id").flatMap(id => Option(sqlModule.get(id.toLong))))
        .getOrElse(layer)
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      open.put(e.jobId, new Acc(module, layer, prop("perfbench.span").getOrElse(""),
        callSite, prop("perfbench.op").map(_.toLong).getOrElse(0L), e.time, e.stageInfos.size))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).flatMap(j => Option(open.get(j))).foreach { a =>
        val m = e.taskMetrics
        a.synchronized {
          a.tasks += 1
          if (m != null) {
            a.run += m.executorRunTime
            a.overhead += math.max(0L, e.taskInfo.duration - m.executorRunTime)
            a.sw += m.shuffleWriteMetrics.bytesWritten
            a.sr += m.shuffleReadMetrics.totalBytesRead
            a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            a.gc += m.jvmGCTime
            a.in += m.inputMetrics.bytesRead
            a.out += m.outputMetrics.bytesWritten
          }
        }
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(open.remove(e.jobId)).foreach { a =>
        a.synchronized {
          jobs.add(JobRecord(a.module, a.layer, a.span, a.callSite, a.op,
            a.startNs, (e.time - a.start).toDouble, a.stages, a.tasks, a.run, a.overhead,
            a.sw, a.sr, a.spill, a.gc, a.in, a.out))
        }
      }
  }

  /** Wait until the listener bus has delivered every event so far. */
  def drain(): Unit = sc.foreach { _ =>
    val deadline = System.nanoTime() + 10000000000L
    while (!open.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
  }

  def jobList: Seq[JobRecord] = jobs.asScala.toSeq
  def spanList: Seq[SpanRecord] = spans.asScala.toSeq
}
