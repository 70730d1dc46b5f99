package graft

import org.apache.spark.sql.functions._

/** [[Profile.during]] counts exactly the jobs started while its block
  * runs — from any thread, never its own drain marker, once each under
  * nesting — and the counts repeat exactly for identical work. */
class ProfileSpec extends SparkSpec {

  /** One job, one stage, `parts` tasks. */
  private def oneJob(parts: Int = 3): Long =
    spark.sparkContext.parallelize(1 to 100, parts).count()

  test("jobs run on another thread during the block are counted") {
    val (n, c, props) = Profile.during(spark) {
      var out = 0L
      val t = new Thread(() => { out = oneJob() })
      t.start(); t.join()
      out
    }
    assert(n == 100)
    assert(c.jobs == 1 && c.stages == 1 && c.tasks == 3, c)
    assert(props.size == 1)
  }

  test("a job submitted but not awaited inside the block is counted") {
    // the scheduler posts the job's start event after the block returns;
    // only the ordered drain, not the block's own return, can see it
    val (pending, c, _) = Profile.during(spark)(
      spark.sparkContext.parallelize(1 to 100, 3).countAsync())
    assert(pending.get() == 100)
    assert(c.jobs == 1, c)
  }

  test("the marker job is never counted") {
    val (_, c, props) = Profile.during(spark)(())
    assert(c == Profile.Counts(), c)
    assert(props.isEmpty)
  }

  test("two identical runs give identical jobs, stages, tasks and input bytes") {
    val dir = java.nio.file.Files.createTempDirectory("graft-profile").toString
    spark.range(0, 5000, 1, 4)
      .select(col("id"), (col("id") % 7).as("g"), concat(lit("v"), col("id")).as("s"))
      .write.parquet(s"$dir/t")
    def run() = Profile.during(spark)(
      spark.read.parquet(s"$dir/t").groupBy("g").agg(count(lit(1)), max("s"))
        .write.format("noop").mode("overwrite").save())._2
    run() // warm
    val (a, b) = (run(), run())
    assert(a.inputBytes > 0 && a.jobs >= 1, a)
    assert((a.jobs, a.stages, a.tasks, a.inputBytes) ==
      (b.jobs, b.stages, b.tasks, b.inputBytes), s"$a vs $b")
  }

  test("nested and back-to-back calls do not double-count") {
    val (inner, outer, _) = Profile.during(spark) {
      val in = Profile.during(spark)(oneJob(2))._2
      oneJob(1)
      in
    }
    assert(inner.jobs == 1 && inner.tasks == 2, inner)
    assert(outer.jobs == 2 && outer.stages == 2 && outer.tasks == 3, outer)
    val first = Profile.during(spark)(oneJob(2))._2
    val second = Profile.during(spark)(oneJob(2))._2
    assert(first == second && first.jobs == 1 && first.tasks == 2, s"$first $second")
  }
}
