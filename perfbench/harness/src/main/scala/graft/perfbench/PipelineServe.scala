package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The corpus pipeline, then open-loop serving over the lake it built.
  *
  * The timed batch operation `pipeline` is `POST /index/maintain` on the
  * raw corpus dir: it publishes the corpus and its embeddings as lake
  * versions and walks all ten derived-index chains to the head version,
  * which `/search`, `/knn` and `/quality` then serve and `/lake/point` and
  * `/lake/remove` read and write. Then `RestApi`, started in this JVM,
  * serves while a separate load-generator process replays the seeded
  * schedule; this harness waits for it and, in a traced run, calls the
  * routes' seams directly. */
final class PipelineServe(a: Harness.Args, t: Tracer, r: Harness.Record)
    extends Workload(a, t, r) {
  def run(): Unit = {
    val corpus = s"${a.inputs}/corpus"
    val s = startSession()
    val api = new graft.service.RestApi(Some(s), 0).start()
    setUpDone()
    try {
      op("pipeline", "corpus") {
        val (code, body) = tracer.span("pipeline.maintain", "service") {
          Http.post(api.boundPort, "/index/maintain", s"""{"dir":"$corpus"}""")
        }
        rec.put("maintain", RawJson(body))
        if (code != 200) sys.error(s"maintain answered $code: ${body.take(300)}")
      }
      // for the check: the head cluster of every planted exact duplicate
      // and of its original
      val dupIds = lines("corpus_dups.txt").map(_.toLong)
      val lake = graft.queries.Dedup.versionedCorpus(s, corpus)
      val head = graft.sources.Versioned.currentVersion(s, lake).get
      rec.put("clusters", graft.queries.Dedup.clusterAssignmentAt(s, lake, head)
        .filter(org.apache.spark.sql.functions.col("doc_id").isin(dupIds: _*))
        .select("doc_id", "cluster_id").collect()
        .map(r => r.getLong(0).toString -> r.getLong(1)).toMap)
      rec.put("input_bytes", DiskUsage.bytesUnder(new File(corpus)))
      rec.put("output_bytes", Seq(dir("index"), dir("ivf"))
        .map(d => DiskUsage.bytesUnder(new File(d))).sum)

      val probes = lines("serve_probe.txt").map(_.toLong)
      if (a.trace) pointMs(s, lake, probes, "before")
      serve(s, api, corpus, lake)
      if (a.trace) {
        pointMs(s, lake, probes, "after")
        direct(s, corpus, lake, probes)
        Kernels.measure(s, tracer, rec, corpus)
      }
    } finally api.stop()
  }

  /** Publishes where the generator should aim, then waits for it. The
    * wait is one operation: the jobs the server's threads run meanwhile
    * carry no span and are placed in it by time. */
  private def serve(s: SparkSession, api: graft.service.RestApi, corpus: String,
      lake: String): Unit = {
    Files.write(Paths.get(a.work, "ready.tmp"),
      s"""{"port":${api.boundPort},"dir":${Json.of(corpus)},"lake":${Json.of(lake)}}"""
        .getBytes(UTF_8))
    Files.move(Paths.get(a.work, "ready.tmp"), Paths.get(a.work, "ready.json"),
      StandardCopyOption.ATOMIC_MOVE)
    val done = Paths.get(a.work, "done")
    val giveUp = System.nanoTime() + 150e9.toLong
    tracer.newOp()
    tracer.span("serve", "op") {
      while (!Files.exists(done) && System.nanoTime() < giveUp) Thread.sleep(20)
      tracer.drain()
    }
    rec.put("persisted_rdds_served", s.sparkContext.getPersistentRDDs.size)
  }

  /** `Versioned.readPointAt` called directly, median over the probes. */
  private def pointMs(s: SparkSession, lake: String, ids: Seq[Long], tag: String): Unit = {
    import graft.sources.Versioned
    val v = Versioned.currentVersion(s, lake).get
    val ms = ids.take(5).map { id =>
      tracer.newOp()
      tracer.span("sources.point", "sources") {
        time(Versioned.readPointAt(s, lake, "documents", v, "doc_id", id).collect())._2
      }
    }.sorted
    rec.put(s"point_ms_$tag", ms(ms.size / 2))
  }

  /** The seams behind each route, called in-process: the HTTP-free
    * baseline that `service.<route>.http_ms` is compared against. */
  private def direct(s: SparkSession, corpus: String, lake: String, ids: Seq[Long]): Unit = {
    import graft.queries.{Similarity, TextOps}
    val terms = lines("serve_terms.txt")
    val vec = s.read.parquet(s"$corpus/embeddings.parquet").select("embedding")
      .head().getSeq[Float](0).toArray
    def med(name: String, n: Int)(body: Int => Unit): Unit = {
      val ms = (0 until n).map { i =>
        tracer.newOp()
        tracer.span(s"direct.$name", "service")(time(body(i))._2)
      }.sorted
      rec.put(s"direct_ms.$name", ms(ms.size / 2))
    }
    med("search", 3)(i => TextOps.searchBm25(s, corpus, terms(i % terms.size), 10).toJSON.collect())
    med("knn", 3)(_ => Similarity.searchKnn(s, corpus, vec, 5).toJSON.collect())
    med("tokenize", 5)(i => TextOps.tokenizeText(s, corpus, terms(i % terms.size)))
    med("quality", 3)(i => TextOps.qualityServe(s, corpus, Some(ids(i % ids.size))).toJSON.collect())
    val v = graft.sources.Versioned.currentVersion(s, lake).get
    med("point", 3)(i => graft.sources.Versioned
      .readPointAt(s, lake, "documents", v, "doc_id", ids(i % ids.size)).toJSON.collect())
  }
}

/** Rows per second of each codegen kernel: a noop-sink projection of the
  * kernel over the generated corpus (traced runs only). */
object Kernels {
  def measure(s: SparkSession, tracer: Tracer, rec: Harness.Record, corpus: String): Unit = {
    val docs = s.read.parquet(s"$corpus/documents.parquet").localCheckpoint()
    val vecs = s.read.parquet(s"$corpus/embeddings.parquet").localCheckpoint()
    val n = docs.count().toDouble
    val nv = vecs.count().toDouble
    val kernels = Seq(
      ("minhash_md5", docs, "minhash_md5(split(text, ' '), 64)", n),
      ("simhash64", docs, "simhash64(split(text, ' '))", n),
      ("window_hash61", docs, "window_hash61(text)", n),
      ("vector_quantize", vecs, "vector_quantize(embedding)", nv),
      ("dot_long", vecs, "dot_long(vector_quantize(embedding), vector_quantize(embedding))", nv),
      ("kmv_sketch", docs, "kmv_sketch(xxhash64(text), 256)", n),
      ("cms_sketch", docs, "cms_sketch(transform(array(1, 2, 3, 4), " +
        "d -> pmod(xxhash64(text, d), 256)), 4, 256)", n))
    kernels.foreach { case (name, df, e, rows) =>
      val plan = if (name.endsWith("sketch")) df.selectExpr(e) else df.selectExpr(s"$e as k")
      noop(plan) // warm: codegen compile
      val ms = (1 to 3).map { _ =>
        tracer.newOp()
        val t0 = System.nanoTime()
        tracer.span(s"kernel.$name", "functions")(noop(plan))
        (System.nanoTime() - t0) / 1e6
      }.sorted.apply(1)
      rec.put(s"kernel.$name.rows_per_s", rows / (ms / 1000.0))
    }
    docs.unpersist(); vecs.unpersist()
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

