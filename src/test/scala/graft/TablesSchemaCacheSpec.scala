package graft

/** Pins the r22 footer-schema cache (`Tables.readParquetCached` — the
  * catalog seam behind `Tables`, `ArtifactStore` and the `Versioned`
  * read paths): (1) a cached read is value- and schema-identical to a
  * plain footer-inferred read; (2) the cache is METADATA only — a
  * rewrite of the files under the same path is seen immediately
  * (fingerprint = file listing, so staleness is impossible by
  * construction, the ArtifactStore discipline); (3) a schema CHANGE
  * under the same path resolves to the new schema, never the cached
  * one.
  */
class TablesSchemaCacheSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("cached read ≡ plain read: schema and values") {
    val plain = spark.read.parquet(s"$sfDir/customer.parquet")
    val cached = Tables(spark, sfDir, "customer")
    assert(cached.schema == plain.schema)
    assert(cached.count() == plain.count())
    assert(cached.exceptAll(plain).isEmpty && plain.exceptAll(cached).isEmpty)
  }

  test("a rewrite under the same path is read fresh: new values AND new schema") {
    val dir = java.nio.file.Files.createTempDirectory("tables_cache").toFile
    val p = s"${dir.getAbsolutePath}/t.parquet"
    try {
      spark.range(5).toDF("id").write.parquet(p)
      val first = Tables.readParquetCached(spark, p)
      assert(first.schema.fieldNames.toSeq == Seq("id"))
      assert(first.count() == 5)
      // rewrite with MORE rows and a DIFFERENT schema under the same path
      spark.range(7).toDF("id")
        .withColumn("extra", lit("x"))
        .write.mode("overwrite").parquet(p)
      val second = Tables.readParquetCached(spark, p)
      assert(second.count() == 7, "stale data served after rewrite")
      assert(second.schema.fieldNames.toSet == Set("id", "extra"),
        s"stale schema served after rewrite: ${second.schema.fieldNames.toSeq}")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete()
      }
      rm(dir)
    }
  }

  test("events loader still adapts ts through the cache") {
    val ev = Tables(spark, sfDir, "events")
    assert(ev.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    assert(ev.limit(1).count() == 1)
  }

  test("single flight: concurrent first reads run ONE footer job; a failed inference is retried") {
    import java.nio.file.{Files, Path}
    import java.util.concurrent.{Callable, CyclicBarrier, Executors, TimeUnit}
    val dir = Files.createTempDirectory("tables_single_flight")
    try {
      val p = s"$dir/t.parquet"
      spark.range(0, 50, 1, 2).toDF("id").write.parquet(p)
      val racers = 4
      val barrier = new CyclicBarrier(racers)
      val pool = Executors.newFixedThreadPool(racers)
      val (reads, _, jobs) = Profile.during(spark) {
        try (1 to racers).map(_ => pool.submit(new Callable[Int] {
            def call(): Int = {
              barrier.await(60, TimeUnit.SECONDS)
              Tables.readParquetCached(spark, p).schema.size
            }
          })).map(_.get(120, TimeUnit.SECONDS))
        finally pool.shutdownNow()
      }
      assert(reads == Seq.fill(racers)(1))
      assert(jobs.size == 1,
        "concurrent first reads of one path must share one footer job")

      // a corrupted footer fails inference; restoring the same bytes and
      // mtime restores the same cache key, which must infer afresh
      val q = s"$dir/u.parquet"
      spark.range(0, 30, 1, 1).toDF("id").write.parquet(q)
      val part: Path = {
        val ls = Files.list(java.nio.file.Paths.get(q))
        try ls.filter(_.getFileName.toString.startsWith("part-")).findFirst.get
        finally ls.close()
      }
      val bytes = Files.readAllBytes(part)
      val mtime = part.toFile.lastModified
      val key = Tables.fileFingerprint(spark, q)
      Files.write(part, new Array[Byte](bytes.length))
      part.toFile.setLastModified(mtime)
      assert(Tables.fileFingerprint(spark, q) == key)
      intercept[Exception](Tables.readParquetCached(spark, q))
      Files.write(part, bytes)
      part.toFile.setLastModified(mtime)
      assert(Tables.fileFingerprint(spark, q) == key)
      val (df, _, retried) = Profile.during(spark)(Tables.readParquetCached(spark, q))
      assert(retried.size == 1, "the retry must re-run the inference")
      assert(df.count() == 30)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete()
      }
      rm(dir.toFile)
    }
  }
}
