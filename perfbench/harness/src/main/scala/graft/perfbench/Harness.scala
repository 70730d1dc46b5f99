package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** JVM side of the graft benchmark. `perfbench/run.py` generates the
  * inputs, launches this main once per run, and turns the record it
  * writes into metrics and output checks.
  *
  * Usage: Harness --workload W --trace 0|1 --inputs DIR
  *                --work DIR --src DIR --out FILE
  *
  * Every operation is timed from outside the program, through graft's
  * public functions and REST routes; the record lists each operation
  * with its latency, the set-up times, values the checks need, and, in
  * a traced run, every span and every Spark job the listener saw. */
object Harness {

  final case class Op(kind: String, name: String, ms: Double, ok: Boolean,
      err: String = "", constructMs: Double = 0.0)

  final class Record {
    val ops = mutable.ArrayBuffer.empty[Op]
    val values = mutable.LinkedHashMap.empty[String, String] // raw JSON
    def put(k: String, v: Any): Unit = synchronized { values(k) = Json.of(v) }
    def add(o: Op): Unit = synchronized { ops += o }
  }

  final case class Args(workload: String, trace: Boolean,
      inputs: String, work: String, src: String, out: String)

  def main(argv: Array[String]): Unit = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(m("workload"), m("trace") == "1",
      m("inputs"), m("work"), m("src"), m("out"))
    val tracer = new Tracer(a.trace, new ModuleMap(new File(a.src)))
    val rec = new Record
    val cores = Runtime.getRuntime.availableProcessors()
    val w: Workload = a.workload match {
      case "query-suite" => new QuerySuite(a, tracer, rec)
      case "pipeline-serve" => new PipelineServe(a, tracer, rec)
      case other => sys.error(s"unknown workload $other")
    }
    rec.put("nproc", cores)
    rec.put("load_start", loadAvg())
    val t0 = System.nanoTime()
    println(s"perfbench: harness up after ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime} ms")
    try w.run()
    catch { case e: Throwable =>
      e.printStackTrace()
      rec.put("error", s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}")
    } finally {
      rec.put("load_end", loadAvg())
      rec.put("run_s", (System.nanoTime() - t0) / 1e9)
      // after the run, so that the probe's own time stays out of set-up
      rec.put("cpu_probe_ms", cpuProbeMs())
      tracer.drain()
      rec.put("live_heap_mb", liveHeapMb())
      val t1 = System.nanoTime()
      w.session.foreach(_.stop())
      write(a.out, rec, tracer)
      println(s"perfbench: run ${(t1 - t0) / 1e9} s, stop ${(System.nanoTime() - t1) / 1e9} s")
    }
  }

  def loadAvg(): Double = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.getSystemLoadAverage

  /** Heap in use after forced collections: what the process holds. */
  def liveHeapMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    mx.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** `graft.Bench`'s single-core probe: a fixed integer loop whose time
    * tells one boot's per-core speed from another's. */
  def cpuProbeMs(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      var i = 0L; var s = 0L
      while (i < 20000000L) { s += i * i; i += 1 }
      if (s == 42L) println("")
      (System.nanoTime() - t0) / 1e6
    }
    once()
    Seq(once(), once(), once()).sorted.apply(1)
  }

  private def write(path: String, rec: Record, tracer: Tracer): Unit = {
    val sb = new StringBuilder("{")
    sb ++= "\"ops\":[" + rec.ops.map { o =>
      s"""{"kind":${Json.of(o.kind)},"name":${Json.of(o.name)},"ms":${o.ms},""" +
        s""""construct_ms":${o.constructMs},"ok":${o.ok},"err":${Json.of(o.err)}}"""
    }.mkString(",") + "],"
    sb ++= "\"values\":{" + rec.values.map { case (k, v) => s"${Json.of(k)}:$v" }
      .mkString(",") + "},"
    sb ++= "\"jobs\":[" + tracer.jobList.map { j =>
      s"""{"module":${Json.of(j.module)},"layer":${Json.of(j.layer)},""" +
        s""""span":${Json.of(j.span)},"call_site":${Json.of(j.callSite)},""" +
        s""""op":${j.op},"start_ns":${j.startNs},"ms":${j.wallMs},""" +
        s""""stages":${j.stages},"tasks":${j.tasks},"task_run_ms":${j.taskRunMs},""" +
        s""""task_overhead_ms":${j.taskOverheadMs},"shuffle_write":${j.shuffleWrite},""" +
        s""""shuffle_read":${j.shuffleRead},"spill":${j.spill},"gc_ms":${j.gcMs},""" +
        s""""input_bytes":${j.inputBytes},"output_bytes":${j.outputBytes}}"""
    }.mkString(",") + "],"
    sb ++= "\"spans\":[" + tracer.spanList.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":${Json.of(s.name)},""" +
        s""""layer":${Json.of(s.layer)},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }.mkString(",") + "]}"
    Files.write(Paths.get(path), sb.toString.getBytes(UTF_8))
  }
}

/** Minimal JSON encoding for the record (no library beyond the JDK). */
object Json {
  def of(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => of(x)
    case RawJson(j) => j
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => of(f.toDouble)
    case n @ (_: Int | _: Long | _: Short | _: java.math.BigDecimal) => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => m.map { case (k, x) => of(k.toString) + ":" + of(x) }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(of).mkString("[", ",", "]")
    case xs: Array[_] => xs.map(of).mkString("[", ",", "]")
    case other => of(other.toString)
  }
}

/** One workload: set-up, then timed operations. */
abstract class Workload(val a: Harness.Args, val tracer: Tracer,
    val rec: Harness.Record) {
  var session: Option[SparkSession] = None
  def run(): Unit

  def dir(name: String): String = {
    val d = new File(a.work, name); d.mkdirs(); d.getAbsolutePath
  }

  /** Non-empty lines of an input file the generators wrote. */
  def lines(rel: String): Seq[String] =
    Files.readAllLines(Paths.get(a.inputs, rel), UTF_8)
      .toArray(new Array[String](0)).toSeq.filter(_.nonEmpty)

  /** The `GraftSession.builder` posture (AQE on, local[nproc]) with
    * every directory Spark writes under this run's work root. */
  def startSession(): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val s = graft.GraftSession.builder(cores)
      .master(s"local[$cores]").appName("graft-perfbench")
      .config("spark.local.dir", dir("spark-local"))
      .config("spark.sql.warehouse.dir", dir("warehouse"))
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    tracer.attach(s.sparkContext)
    session = Some(s)
    s
  }

  /** Ends set-up: `setup_s` is the time from JVM start to here, just
    * before the first timed operation (JVM boot, class loading, session
    * start and whatever the workload prepares). */
  def setUpDone(): Unit = rec.put("setup_s",
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0)

  /** A small job through the scan, join, aggregate, window and write
    * paths, so that the JVM's first-query costs land in set-up and not
    * on whichever operation a seeded order happens to run first. */
  def warmUp(s: SparkSession): Unit = {
    val path = s"${dir("warmup")}/t.parquet"
    s.range(2000).selectExpr("id", "id % 97 as k", "cast(id as string) as v")
      .write.parquet(path)
    val t = s.read.parquet(path)
    noop(t.join(t.groupBy("k").count(), "k").withColumn("r",
      org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("k").orderBy("id"))))
  }

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** Runs one operation; an exception is recorded as a failed op. */
  def op(kind: String, name: String)(body: => Unit): Boolean = {
    tracer.newOp()
    val t0 = System.nanoTime()
    val err = try { tracer.span(kind, "op")(body); "" }
      catch { case e: Throwable =>
        s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}" }
    rec.add(Harness.Op(kind, name, (System.nanoTime() - t0) / 1e6, err.isEmpty, err))
    err.isEmpty
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Drops RDDs persisted since `before` (queries checkpoint their
    * grains; the next operation must not inherit them). */
  def unpersistSince(s: SparkSession, before: Set[Int]): Unit =
    s.sparkContext.getPersistentRDDs
      .filterNot { case (id, _) => before.contains(id) }
      .values.foreach(_.unpersist(blocking = true))
}

/** Bytes of the regular data files under a directory. */
object DiskUsage {
  def bytesUnder(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(bytesUnder).sum
    else if (f.getName.startsWith(".") || f.getName.endsWith(".crc")) 0L
    else f.length()
}

/** A pre-encoded JSON value carried through the record verbatim. */
final case class RawJson(json: String)


/** Blocking HTTP helper for in-process route calls. */
object Http {
  def post(port: Int, path: String, body: String): (Int, String) = {
    val c = new java.net.URL(s"http://127.0.0.1:$port$path").openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    c.setRequestMethod("POST")
    c.setReadTimeout(600000)
    c.setDoOutput(true)
    c.getOutputStream.write(body.getBytes(UTF_8))
    c.getOutputStream.close()
    val code = c.getResponseCode
    val in = if (code < 400) c.getInputStream else c.getErrorStream
    val text = if (in == null) "" else new String(in.readAllBytes(), UTF_8)
    c.disconnect()
    (code, text)
  }
}
