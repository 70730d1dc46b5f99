package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

// ------------------------------------------------------------ query-suite

/** Closed loop, one caller, one pass: a fixed sample of
  * `SparkEntry.queries` stratified by query module, in seeded order, each
  * timed through the noop sink, then the reference's charges ETL:
  * publish-mode `EtlRunner.run` on the generated CSV followed by
  * `ChargesEtl.dailyTotalsAt` on the published version (the job
  * `q39_etl_parity` runs on an input outside the repository). Each
  * family's first query pays its artifact builds, as on a fresh
  * deployment. A sampled name that the engine no longer declares is
  * skipped and counted. */
final class QuerySuite(a: Harness.Args, t: Tracer, r: Harness.Record)
    extends Workload(a, t, r) {
  def run(): Unit = {
    val tables = s"${a.inputs}/tables"
    val csv = s"${a.inputs}/charges/charges.csv"
    val queries = graft.SparkEntry.queries
    val listed = lines("query_order.txt")
    val order = listed.filter(queries.contains)
    rec.put("queries_missing", listed.filterNot(queries.contains))
    val s = startSession()
    warmUp(s)
    setUpDone()
    val out = dir("etl")
    var etl: Option[graft.etl.ChargesEtl.Result] = None
    val (_, suiteMs) = time {
      order.foreach { name =>
        val before = s.sparkContext.getPersistentRDDs.keySet.toSet
        tracer.newOp()
        val t0 = System.nanoTime()
        var constructMs = 0.0
        val err = try {
          tracer.span("query", "queries") {
            val df = tracer.span("construct", "queries") {
              val (d, ms) = time(queries(name)(s, tables)); constructMs = ms; d
            }
            tracer.span("exec", "spark")(noop(df))
          }
          ""
        } catch { case e: Throwable =>
          s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}" }
        rec.add(Harness.Op("query", name, (System.nanoTime() - t0) / 1e6, err.isEmpty, err,
          constructMs))
        try unpersistSince(s, before) catch { case _: Throwable => () }
      }
      op("etl", "charges") {
        etl = Some(tracer.span("etl.run", "etl")(graft.etl.EtlRunner.run(s, csv, out)))
        tracer.span("etl.view", "etl") {
          val base = s"$out/tables"
          val v = graft.sources.Versioned.currentVersion(s, base).get
          graft.etl.ChargesEtl.dailyTotalsAt(s, base, v).collect()
        }
      }
    }
    rec.put("suite_ms", suiteMs)
    // outside the timed pass: what the checks and byte counts need
    etl.foreach { res =>
      rec.put("clean", res.clean.count())
      rec.put("quarantine", res.critical.groupBy("_critical_reason").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
      rec.put("input_bytes", new java.io.File(csv).length())
      rec.put("output_bytes", DiskUsage.bytesUnder(new java.io.File(out)))
      res.release()
    }
    if (a.trace) {
      // the oracle check's inputs: each sampled query's rows, written once
      val out = dir("query-out")
      order.filter(graft.SparkEntry.oracleSql.contains).foreach { name =>
        try queries(name)(s, tables).write.mode("overwrite").parquet(s"$out/$name")
        catch { case _: Throwable => () }
      }
      Files.write(Paths.get(out, "oracle_sql.json"), Json.of(
        graft.SparkEntry.oracleSql.filter { case (k, _) => order.contains(k) })
        .getBytes(UTF_8))
    }
  }
}
