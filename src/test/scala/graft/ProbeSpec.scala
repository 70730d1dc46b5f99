package graft

import org.json4s.JsonAST.{JInt, JString, JValue}
import org.json4s.jackson.JsonMethods.parse

/** [[Probe.run]] on the shared session (no `main`, no `spark.stop()`):
  * each cell prints its lines, and a bad query name is an entry, not a
  * crash. */
class ProbeSpec extends SparkSpec {

  private def run(cell: String, names: String*): Seq[String] = {
    val out = Seq.newBuilder[String]
    Probe.run(spark, cell, sfDir, names)(out += _)
    out.result()
  }

  private def long(j: JValue): Long = j match {
    case JInt(n) => n.toLong
    case other => fail(s"not an integer: $other")
  }

  test("queries: one JSON line per query with the profile fields; an unknown query is an error entry") {
    val lines = run("queries", "q1_agg", "q18_minhash_lsh", "nope")
    assert(lines.size == 3, lines)
    val Seq(q1, q18, nope) = lines.map(parse(_))
    val fields = Profile.Counts().fields.map(_._1)
    for ((j, name) <- Seq(q1 -> "q1_agg", q18 -> "q18_minhash_lsh")) {
      assert(j \ "query" == JString(name))
      for (k <- Seq("cold_ms", "construct_ms", "exec_ms"))
        assert((j \ k).values.isInstanceOf[Double], s"$name $k: ${j \ k}")
      for (run <- Seq("cold", "warm"); f <- fields)
        assert(long(j \ run \ f) >= 0, s"$name $run.$f")
      assert(long(j \ "warm" \ "jobs") >= 1 && long(j \ "cold" \ "jobs") >= 1, lines)
    }
    assert(nope \ "query" == JString("nope"))
    assert((nope \ "error").isInstanceOf[JString], lines(2))
  }

  test("shapes and plan print their lines for q1_agg") {
    val Seq(shape) = run("shapes", "q1_agg")
    assert(shape.startsWith("SHAPE q1_agg scans=1 "), shape)
    val Seq(plan) = run("plan", "q1_agg")
    assert(plan.startsWith("===== PLAN q1_agg =====\n"), plan)
    assert(plan.contains("== Physical Plan ==") && plan.contains("lineitem"), plan)
  }
}
