package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.json4s.JsonAST.{JLong, JObject}
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, render}

/** The measurement runner: `runMain graft.Probe <cell> <sfDir> [query...]`
  * on the one session posture ([[GraftSession.local]] over every core).
  * With no query named, a cell covers every declared query. Never
  * writes bench mirrors — this is a diagnosis tool, not the bench.
  *
  * Cells:
  *  - `queries`: per query, one cold run, then [[WarmRuns]] warm runs;
  *    one JSON line with the cold ms, the median warm CONSTRUCT ms (the
  *    `fn(spark, dir)` call: driver-side plan building, artifact checks
  *    and any eager jobs before the sink) and EXEC ms (the noop-sink
  *    write), and the [[Profile]] counts of the cold run and of the last
  *    warm run. Artifact builds are charged to the cold run of the first
  *    query that needs them. An unknown or failing query gives an
  *    `error` entry.
  *  - `shapes`: plan-shape census, counted from the printed physical
  *    plan without executing it — scan leaves, exchanges, broadcasts,
  *    generates, checkpoint reads, and `DUP[...]` for a table scanned
  *    more than once.
  *  - `plan`: the formatted physical plan after a noop-sink run (under
  *    AQE, the final adaptive plan).
  *
  * The noop sink, not `count()`: `count()` lets Catalyst prune every
  * unreferenced column, so a window query collapses to a bare scan;
  * noop materializes every output column as a real writer would.
  */
object Probe {
  val WarmRuns = 3

  private val Cells = Set("queries", "shapes", "plan")

  def main(args: Array[String]): Unit = args.toList match {
    case cell :: sfDir :: names if Cells(cell) =>
      val spark = GraftSession.local(Runtime.getRuntime.availableProcessors())
      spark.sparkContext.setLogLevel("ERROR")
      try run(spark, cell, sfDir, names)(println)
      finally spark.stop()
    case _ =>
      System.err.println(
        s"usage: graft.Probe ${Cells.toSeq.sorted.mkString("|")} <sfDir> [query...]")
      sys.exit(2)
  }

  /** Run `cell` over `names` (every declared query if empty), handing
    * each output line to `emit` as soon as it is ready. */
  def run(spark: SparkSession, cell: String, sfDir: String,
      names: Seq[String])(emit: String => Unit): Unit = {
    val all = SparkEntry.queries
    for (name <- if (names.isEmpty) all.keys.toSeq.sorted else names) {
      val out =
        try all.get(name).toRight("unknown query").map(fn => released(spark) {
          cell match {
            case "queries" => timings(spark, sfDir, name, fn)
            case "shapes" => shape(name, fn(spark, sfDir))
            case "plan" => plan(name, fn(spark, sfDir))
          }
        }) catch { case NonFatal(t) => Left(t.toString.take(300)) }
      emit(out.fold(err => cell match {
        case "queries" => compact(render(("query" -> name) ~ ("error" -> err)))
        case "shapes" => s"SHAPE $name ERR $err"
        case "plan" => s"===== PLAN $name ERR $err"
      }, identity))
    }
  }

  private def timings(spark: SparkSession, sfDir: String, name: String,
      fn: (SparkSession, String) => DataFrame): String = {
    val ((cc, ce), cold, _) = Profile.during(spark)(invoke(spark, sfDir, fn))
    val warm = (1 to WarmRuns).map(_ => Profile.during(spark)(invoke(spark, sfDir, fn)))
    def med(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
    def ms(x: Double) = math.round(x * 10) / 10.0
    def counts(c: Profile.Counts) =
      JObject(c.fields.map { case (k, v) => k -> JLong(v) }: _*)
    compact(render(("query" -> name) ~ ("cold_ms" -> ms(cc + ce)) ~
      ("construct_ms" -> ms(med(warm.map(_._1._1)))) ~
      ("exec_ms" -> ms(med(warm.map(_._1._2)))) ~
      ("cold" -> counts(cold)) ~ ("warm" -> counts(warm.last._2))))
  }

  /** One invocation's construct and exec ms; persisted RDDs it created
    * are released so repeated runs do not accumulate cached blocks. */
  private def invoke(spark: SparkSession, sfDir: String,
      fn: (SparkSession, String) => DataFrame): (Double, Double) =
    released(spark) {
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val t1 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      ((t1 - t0) / 1e6, (System.nanoTime() - t1) / 1e6)
    }

  private def released[A](spark: SparkSession)(f: => A): A = {
    val pre = spark.sparkContext.getPersistentRDDs.keySet
    try f
    finally spark.sparkContext.getPersistentRDDs
      .filterNot { case (id, _) => pre.contains(id) }
      .values.foreach(_.unpersist(blocking = true))
  }

  // Counted from the printed tree rather than a TreeNode traversal:
  // under adaptive execution the root is an AdaptiveSparkPlanExec whose
  // `children` is Nil (the inner plan only appears in its tree string).
  private def shape(name: String, df: DataFrame): String = {
    val lines = df.queryExecution.executedPlan.toString.linesIterator.toSeq
    def cnt(mark: String) = lines.count(_.contains(mark))
    val scanPaths = lines.filter(_.contains("FileScan ")).map(l =>
      "InMemoryFileIndex\\(\\d+ paths\\)\\[([^\\],]+)".r.findFirstMatchIn(l)
        .map(m => new java.io.File(m.group(1)).getName).getOrElse("?"))
    val dup = scanPaths.groupBy(identity).collect {
      case (k, v) if v.size > 1 => s"$k x${v.size}"
    }.toSeq.sorted.mkString(",")
    s"SHAPE $name scans=${scanPaths.size} " +
      s"exch=${cnt("- Exchange ")} bcast=${cnt("BroadcastExchange")} " +
      s"gen=${cnt("- Generate ")} ckpt=${cnt("Scan ExistingRDD")}" +
      (if (dup.nonEmpty) s" DUP[$dup]" else "")
  }

  private def plan(name: String, df: DataFrame): String = {
    df.write.format("noop").mode("overwrite").save()
    s"===== PLAN $name =====\n" + df.queryExecution.explainString(FormattedMode)
  }
}
