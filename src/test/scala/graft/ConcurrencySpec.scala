package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import graft.sources.Versioned
import graft.sources.Versioned.{ConcurrentTableModificationException,
  PublishRaceException, TableSpec}

/** Optimistic concurrency over the claim protocol: racing writers to
  * DISJOINT tables must all land (serialized, no lost update); a retry
  * whose inputs a concurrent writer changed must fail LOUDLY, never
  * replay a stale snapshot over the interloper's rows; a crashed claim
  * must bound the retries, not hang them. */
class ConcurrencySpec extends SparkSpec {
  import spark.implicits._

  private def mkBase() =
    Files.createTempDirectory("graft-conc").toString + "/lake"

  private def t(n: Int, tag: String) =
    spark.range(n).selectExpr("id", s"'$tag' AS tag")

  private def seed(base: String, tables: String*): Long =
    Versioned.publish(spark, base,
      tables.map(nm => TableSpec(nm, t(4, s"$nm-v1"))))

  test("tablesChangedBetween: exactly the written table, at zero I/O for carries") {
    val base = mkBase()
    seed(base, "x", "y")
    Versioned.appendPublish(spark, base, "x", t(2, "x-d2"))
    assert(Versioned.tablesChangedBetween(spark, base, 1L, 2L) == Set("x"))
    assert(Versioned.tablesChangedBetween(spark, base, 2L, 2L) == Set.empty)
    // GC'd history fails loudly instead of guessing
    Versioned.appendPublish(spark, base, "y", t(2, "y-d3"))
    Versioned.appendPublish(spark, base, "y", t(2, "y-d4"))
    intercept[RuntimeException](
      Versioned.tablesChangedBetween(spark, base, 1L, 4L))
  }

  test("race loser rebases and lands when the interloper touched other tables") {
    val base = mkBase()
    seed(base, "x", "y")
    var attempts = 0
    val v = Versioned.retryPublish(spark, base, readSet = Set("y")) {
      attempts += 1
      if (attempts == 1) {
        // the interloper wins the claim race for v2 (writes x only)...
        Versioned.appendPublish(spark, base, "x", t(3, "x-delta"))
        // ...and we observe exactly what the claim protocol reports
        throw new PublishRaceException("simulated claim loss")
      }
      Versioned.appendPublish(spark, base, "y", t(5, "y-delta"))
    }
    assert(v == 3L && attempts == 2)
    // both writers' rows are present — no lost update either way
    assert(Versioned.read(spark, base, "x").count() == 7)
    assert(Versioned.read(spark, base, "y").count() == 9)
  }

  test("retry refuses to replay a snapshot over a concurrent same-table write") {
    val base = mkBase()
    seed(base, "x", "y")
    val e = intercept[ConcurrentTableModificationException] {
      Versioned.retryPublish(spark, base, readSet = Set("x")) {
        Versioned.appendPublish(spark, base, "x", t(3, "interloper"))
        throw new PublishRaceException("simulated claim loss")
      }
    }
    assert(e.getMessage.contains("x") && e.getMessage.contains("v1"))
    // the interloper's commit survives untouched
    assert(Versioned.read(spark, base, "x").count() == 7)
    assert(Versioned.currentVersion(spark, base).contains(2L))
  }

  test("a history gap (>1 interleaved commits, GC'd baseline) is a conflict") {
    val base = mkBase()
    seed(base, "x", "y")
    intercept[ConcurrentTableModificationException] {
      Versioned.retryPublish(spark, base, readSet = Set("y")) {
        // two interleaved commits: v1's manifest is GC'd, so even a
        // disjoint-looking read set cannot be PROVEN disjoint
        Versioned.appendPublish(spark, base, "x", t(1, "i1"))
        Versioned.appendPublish(spark, base, "x", t(1, "i2"))
        throw new PublishRaceException("simulated claim loss")
      }
    }
  }

  test("a crashed publisher's claim bounds the retries and resurfaces its message") {
    val base = mkBase()
    seed(base, "x")
    val f = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.createNewFile(new Path(s"$base/_v", "claim-00000002")) // crashed writer
    val t0 = System.nanoTime()
    val e = intercept[PublishRaceException] {
      Versioned.retryPublish(spark, base, maxAttempts = 3, backoffMs = 10) {
        Versioned.appendPublish(spark, base, "x", t(1, "blocked"))
      }
    }
    assert(e.getMessage.contains("claim"), e.getMessage)
    assert(TimeUnit.NANOSECONDS.toSeconds(System.nanoTime() - t0) < 30,
      "bounded attempts must not spin")
    assert(Versioned.currentVersion(spark, base).contains(1L))
  }

  test("genuine failures are never retried") {
    val base = mkBase()
    seed(base, "x")
    var attempts = 0
    intercept[IllegalArgumentException] {
      Versioned.retryPublish(spark, base) {
        attempts += 1
        Versioned.appendPublish(spark, base, "nope", t(1, "z"))
      }
    }
    assert(attempts == 1, "an IllegalArgumentException must not be retried")
  }

  test("six genuinely racing appenders to disjoint tables all land") {
    val base = mkBase()
    val names = (0 until 6).map(i => s"t$i")
    Versioned.publish(spark, base,
      names.map(nm => TableSpec(nm, t(2, s"$nm-v1"))))
    val pool = Executors.newFixedThreadPool(6)
    val start = new CountDownLatch(1)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    names.foreach { nm =>
      pool.submit(new Runnable {
        def run(): Unit = {
          start.await()
          try Versioned.retryPublish(spark, base, maxAttempts = 40,
            backoffMs = 20) {
            Versioned.appendPublish(spark, base, nm, t(3, s"$nm-delta"))
          } catch { case th: Throwable => errs.add(th) }
        }
      })
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(300, TimeUnit.SECONDS), "racers timed out")
    assert(errs.isEmpty, s"racer failed: ${Option(errs.peek())}")
    assert(Versioned.currentVersion(spark, base).contains(7L),
      "six commits must serialize to v7")
    names.foreach { nm =>
      assert(Versioned.read(spark, base, nm).count() == 5,
        s"$nm lost rows in the race")
    }
  }

  test("racing publishers of one artifact leave one copy and no staging dir") {
    import scala.jdk.CollectionConverters._
    import graft.sources.ArtifactStore
    val root = Files.createTempDirectory("graft-art-race")
    val racers = 4
    def frame = spark.range(0, 240, 1, 3).selectExpr("id", "id % 7 AS k")
    def under(dir: String): Seq[java.nio.file.Path] = {
      val w = Files.walk(java.nio.file.Paths.get(dir))
      try w.iterator.asScala.toList finally w.close()
    }
    def partFiles(dir: String): Int =
      under(dir).count(_.getFileName.toString.startsWith("part-"))
    /** `racers` threads publish the same artifact at once: the build
      * waits on a barrier, so every racer has missed the _SUCCESS probe
      * and written its own staging dir before any promotes. */
    def race(publish: (=> DataFrame) => DataFrame): Seq[DataFrame] = {
      val barrier = new java.util.concurrent.CyclicBarrier(racers)
      val pool = Executors.newFixedThreadPool(racers)
      try (1 to racers).map(_ => pool.submit(
          new java.util.concurrent.Callable[DataFrame] {
            def call(): DataFrame =
              publish { barrier.await(60, TimeUnit.SECONDS); frame }
          })).map(_.get(300, TimeUnit.SECONDS))
      finally pool.shutdownNow()
    }
    def check(ref: DataFrame, refDir: String, out: String,
        reads: Seq[DataFrame]): Unit = {
      assert(partFiles(out) == partFiles(refDir),
        s"$out holds more than one set of part files: ${under(out)}")
      reads.foreach { r =>
        assert(r.count() == ref.count())
        assert(r.exceptAll(ref).isEmpty && ref.exceptAll(r).isEmpty)
      }
    }
    val plainRef = s"$root/plain-ref"
    val plainOut = s"$root/plain"
    check(ArtifactStore.readOrPublish(spark, plainRef)(frame), plainRef,
      plainOut, race(b => ArtifactStore.readOrPublish(spark, plainOut)(b)))
    val bucketRef = s"$root/bucketed-ref"
    val bucketOut = s"$root/bucketed"
    check(ArtifactStore.readOrPublishBucketed(spark, bucketRef, "k", 4)(frame),
      bucketRef, bucketOut, race(b =>
        ArtifactStore.readOrPublishBucketed(spark, bucketOut, "k", 4)(b)))
    val stray = under(root.toString)
      .filter(_.getFileName.toString.startsWith(".staging-"))
    assert(stray.isEmpty, s"lost racers' staging dirs leaked: $stray")
  }
}
