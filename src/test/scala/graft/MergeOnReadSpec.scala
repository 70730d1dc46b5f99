package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import graft.sources.Versioned
import graft.sources.Versioned.TableSpec

/** Merge-on-read over the versioned lake: appends and removals must
  * write bytes ∝ the change (standing data files untouched, proven by
  * file identity), while every read path — plain, time-travel, and
  * zone-map-pruned — serves exactly the rows a copy-on-write rewrite
  * would. Compaction must then erase the read-path debt without
  * changing a value. */
class MergeOnReadSpec extends SparkSpec {
  import spark.implicits._

  private def mkBase() =
    Files.createTempDirectory("graft-mor").toString + "/lake"

  private def facts(lo: Int, hi: Int) =
    spark.range(lo, hi).select(col("id").as("k"),
      (col("id") * 10).as("v"))

  private def collectSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSet

  test("appendPublish adds rows without touching a standing byte") {
    val base = mkBase()
    Versioned.publish(spark, base, Seq(
      TableSpec("t", facts(0, 100)),
      TableSpec("dim", Seq((1, "a")).toDF("id", "nm"))))
    val standing = Versioned.tableFiles(spark, base, "t", 1L)
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mtimes = standing.map(p => p -> fs.getFileStatus(new Path(p))
      .getModificationTime).toMap

    val v2 = Versioned.appendPublish(spark, base, "t", facts(100, 150), Seq("k"))
    assert(v2 == 2L)
    assert(Versioned.read(spark, base, "t").count() == 150)
    assert(collectSet(Versioned.read(spark, base, "t"))
      == collectSet(facts(0, 150)))
    // the standing dir's files are the SAME files — listed by the new
    // version, byte-identical (mtime unchanged), nothing rewritten
    val after = Versioned.tableFiles(spark, base, "t", 2L)
    assert(standing.toSet.subsetOf(after.toSet))
    standing.foreach(p => assert(fs.getFileStatus(new Path(p))
      .getModificationTime == mtimes(p), s"standing file rewritten: $p"))
    // dim carried by reference too
    assert(Versioned.tableFiles(spark, base, "dim", 1L)
      == Versioned.tableFiles(spark, base, "dim", 2L))
    // time travel: v1 still the 100-row shape
    assert(Versioned.readAt(spark, base, "t", 1L).count() == 100)
  }

  test("appendPublish refuses a key clash; keyless appends skip the check") {
    val base = mkBase()
    Versioned.publish(spark, base, Seq(TableSpec("t", facts(0, 100))))
    val e = intercept[Exception] {
      Versioned.appendPublish(spark, base, "t", facts(90, 110), Seq("k"))
    }
    assert(e.getMessage.contains("disjoint"))
    assert(Versioned.currentVersion(spark, base).contains(1L),
      "a refused append must commit nothing")
    // remove the orphaned claim the loud failure left behind, as its
    // message instructs, then verify a keyless append of the same rows
    // goes through (event-stream posture: duplicates are the caller's
    // semantics)
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(base, "_v/claim-00000002"), false)
    Versioned.appendPublish(spark, base, "t", facts(90, 110))
    assert(Versioned.read(spark, base, "t").count() == 120)
  }

  test("removePublish hides rows by tombstone only; time travel still serves them") {
    val base = mkBase()
    Versioned.publish(spark, base, Seq(TableSpec("t", facts(0, 100))))
    val standing = Versioned.tableFiles(spark, base, "t", 1L)

    val v2 = Versioned.removePublish(spark, base, "t",
      spark.range(0, 100, 7).select(col("id").as("k")))
    assert(v2 == 2L)
    val expect = facts(0, 100).filter(col("k") % 7 =!= 0)
    assert(collectSet(Versioned.read(spark, base, "t")) == collectSet(expect))
    // no data file touched — the new version lists the identical files
    assert(Versioned.tableFiles(spark, base, "t", 2L) == standing)
    // the removed rows still exist at v1 (takedown ≠ history rewrite;
    // GC retires v1 one publish later)
    assert(Versioned.readAt(spark, base, "t", 1L).count() == 100)
  }

  test("MOR merge ≡ COW merge, and a re-added key is never masked") {
    val cow = mkBase(); val mor = mkBase()
    val delta = Seq((5L, 999L), (200L, 2000L)).toDF("k", "v")
    Versioned.publish(spark, cow, Seq(TableSpec("t", facts(0, 100))))
    Versioned.publish(spark, mor, Seq(TableSpec("t", facts(0, 100))))
    Versioned.mergePublish(spark, cow, "t", delta, Seq("k"))
    Versioned.mergePublish(spark, mor, "t", delta, Seq("k"), rewrite = false)
    assert(collectSet(Versioned.read(spark, cow, "t"))
      == collectSet(Versioned.read(spark, mor, "t")))
    assert(Versioned.read(spark, mor, "t")
      .filter(col("k") === 5L).head.getLong(1) == 999L,
      "the updated row must serve the delta's value")

    // remove k=5, then MOR-merge it back: the later append must win
    // over the earlier tombstone (ordered-fold semantics)
    Versioned.removePublish(spark, mor, "t",
      Seq(5L).toDF("k"))
    assert(Versioned.read(spark, mor, "t").filter(col("k") === 5L).isEmpty)
    Versioned.mergePublish(spark, mor, "t",
      Seq((5L, 555L)).toDF("k", "v"), Seq("k"), rewrite = false)
    assert(Versioned.read(spark, mor, "t")
      .filter(col("k") === 5L).head.getLong(1) == 555L,
      "a re-added key must not be masked by an older tombstone")
  }

  test("schema evolution rides an append; old rows read null") {
    val base = mkBase()
    Versioned.publish(spark, base, Seq(TableSpec("t", facts(0, 10))))
    Versioned.appendPublish(spark, base, "t",
      Seq((100L, 1000L, "fresh")).toDF("k", "v", "note"), Seq("k"))
    val t = Versioned.read(spark, base, "t")
    assert(t.columns.toSeq == Seq("k", "v", "note"))
    assert(t.filter(col("note").isNull).count() == 10)
    assert(t.filter(col("note") === "fresh").count() == 1)
  }

  test("compaction materializes the chain: one dir, removals applied, values identical") {
    val base = mkBase()
    Versioned.publish(spark, base,
      Seq(TableSpec("t", facts(0, 100), statsCols = Seq("k"))))
    Versioned.appendPublish(spark, base, "t", facts(100, 200), Seq("k"))
    Versioned.removePublish(spark, base, "t",
      spark.range(0, 200, 3).select(col("id").as("k")))
    val beforeCompact = collectSet(Versioned.read(spark, base, "t"))

    Versioned.compactPublish(spark, base, "t", Seq("k"), files = 4)
    val v = Versioned.currentVersion(spark, base).get
    assert(collectSet(Versioned.read(spark, base, "t")) == beforeCompact)
    // single clean data dir: every served file lives under ONE dir
    val dirs = Versioned.tableFiles(spark, base, "t", v)
      .map(p => p.substring(0, p.lastIndexOf('/'))).distinct
    assert(dirs.size == 1, s"compaction left ${dirs.size} data dirs")
    // and the removed keys stay gone even though the tombstone entry
    // no longer exists in the compacted ref
    assert(Versioned.read(spark, base, "t")
      .filter(col("k") % 3 === 0).isEmpty)
  }

  test("pruned reads engage per appended dir and never resurrect a tombstone") {
    val base = mkBase()
    // both generations sorted on k → tight per-file bounds in each dir
    Versioned.publish(spark, base, Seq(TableSpec("t",
      facts(0, 400).repartitionByRange(4, col("k")), statsCols = Seq("k"))))
    Versioned.appendPublish(spark, base, "t",
      facts(400, 800).repartitionByRange(4, col("k")), Seq("k"))
    // tombstone part of the probe range, inside the SECOND dir
    Versioned.removePublish(spark, base, "t",
      spark.range(500, 520).select(col("id").as("k")))

    val sel = Versioned.prunedSelectionAt(spark, base, "t", 3L, "k", 450L, 560L)
    assert(sel.size == 2, "two data dirs expected")
    val Seq((_, Some((s1, t1))), (_, Some((s2, t2)))) = sel
    assert(t1 == 4 && s1.isEmpty, "range misses dir 1 entirely")
    assert(t2 == 4 && s2.size < t2 && s2.nonEmpty, "dir 2 prunes to a subset")

    val pruned = Versioned.readPruned(spark, base, "t", "k", 450L, 560L)
    val full = Versioned.read(spark, base, "t")
      .filter(col("k").between(450, 560))
    assert(collectSet(pruned) == collectSet(full))
    assert(pruned.filter(col("k").between(500, 519)).isEmpty,
      "pruned read must still apply tombstones")
  }

  test("GC collects tombstone dirs with their manifests; shared dirs survive") {
    val base = mkBase()
    Versioned.publish(spark, base, Seq(TableSpec("t", facts(0, 100))))
    Versioned.removePublish(spark, base, "t", Seq(1L).toDF("k")) // v2
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tombDir = new Path(base, "_data/t-00000002.del")
    assert(fs.exists(tombDir))
    // two more publishes retire v2's manifest (GC keeps cur+prev) —
    // the tombstone dir goes with it, the shared v1 data dir survives
    Versioned.appendPublish(spark, base, "t", facts(100, 101), Seq("k")) // v3
    assert(fs.exists(tombDir), "v3 still references the tombstone via its chain")
    Versioned.compactPublish(spark, base, "t", Seq("k"), files = 1)      // v4
    Versioned.appendPublish(spark, base, "t", facts(101, 102), Seq("k")) // v5
    assert(!fs.exists(tombDir),
      "no surviving manifest references the tombstone — GC must collect it")
    assert(Versioned.read(spark, base, "t").count() == 101)
  }

  test("merge-on-read on a pre-manifest table fails loudly, nothing committed") {
    val base = mkBase()
    // hand-build a legacy (pre-manifest) lake: self-contained v1 dir
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    facts(0, 10).write.parquet(s"$base/v1/t")
    fs.mkdirs(new Path(base, "_v"))
    fs.createNewFile(new Path(base, "_v/00000001"))
    assert(Versioned.read(spark, base, "t").count() == 10)
    val e = intercept[Exception] {
      Versioned.appendPublish(spark, base, "t", facts(10, 20), Seq("k"))
    }
    assert(e.getMessage.contains("pre-manifest"))
    assert(Versioned.currentVersion(spark, base).contains(1L))
  }

  test("compactTail merges only the small tail; the base's files never move") {
    val base = mkBase()
    Versioned.publish(spark, base,
      Seq(TableSpec("t", facts(0, 5000), statsCols = Seq("k")),
        TableSpec("dim", Seq((1, "a")).toDF("id", "nm"))))
    Versioned.appendPublish(spark, base, "t", facts(5000, 5050), Seq("k"))
    Versioned.appendPublish(spark, base, "t",
      facts(5050, 5090).withColumn("note", lit("late")), Seq("k"))
    Versioned.appendPublish(spark, base, "t", facts(5090, 5100), Seq("k"))
    val vPre = Versioned.currentVersion(spark, base).get
    val before = collectSet(Versioned.read(spark, base, "t"))
    val baseDirFiles = Versioned.tableFiles(spark, base, "t", vPre)
      .filter(_.contains("/t-00000001/")).toSet
    assert(baseDirFiles.nonEmpty)
    // threshold between the deltas (small) and the base (big): at test
    // scale the 128 MB default would sweep the base into the tail too
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val baseBytes = fs.getContentSummary(
      new Path(s"$base/_data/t-00000001")).getLength

    val v = Versioned.compactTailPublish(spark, base, "t", sortBy = Seq("k"),
      smallBytes = baseBytes)
    assert(v == vPre + 1)
    // value identity, evolved schema included (nulls where 'note' absent)
    assert(collectSet(Versioned.read(spark, base, "t")) == before)
    assert(Versioned.read(spark, base, "t")
      .filter(col("note") === "late").count() == 40)
    val after = Versioned.tableFiles(spark, base, "t", v)
    // the base dir is carried by reference: identical physical files
    assert(baseDirFiles.subsetOf(after.toSet), "base files were rewritten")
    // the three delta dirs collapsed into one: exactly two dirs serve t
    val dirs = after.map(p => p.substring(0, p.lastIndexOf('/'))).distinct
    assert(dirs.size == 2, s"expected base + one compacted tail dir: $dirs")
    // pruned reads still engage over the compacted tail's sidecar
    assert(collectSet(Versioned.readPruned(spark, base, "t", "k", 5060L, 5095L))
      == before.filter(r => { val k = r.head.asInstanceOf[Long]
        k >= 5060L && k <= 5095L }))
  }

  test("full and tail compaction of one history serve identical rows") {
    val (full, tail) = (mkBase(), mkBase())
    for (b <- Seq(full, tail)) {
      Versioned.publish(spark, b,
        Seq(TableSpec("t", facts(0, 5000), statsCols = Seq("k"))))
      for (i <- 0 until 3)
        Versioned.appendPublish(spark, b, "t",
          facts(5000 + 10 * i, 5010 + 10 * i), Seq("k"))
    }
    val fs = new Path(tail).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val baseBytes = fs.getContentSummary(
      new Path(s"$tail/_data/t-00000001")).getLength
    Versioned.compactPublish(spark, full, "t", Seq("k"), files = 4)
    val v = Versioned.compactTailPublish(spark, tail, "t", sortBy = Seq("k"),
      smallBytes = baseBytes)
    assert(v == 5L, "publish + three appends + the tail compaction")
    assert(collectSet(Versioned.read(spark, full, "t"))
      == collectSet(Versioned.read(spark, tail, "t")))
  }

  test("compactTail stops at a tombstone and is a no-op below two tail dirs") {
    val base = mkBase()
    Versioned.publish(spark, base,
      Seq(TableSpec("t", facts(0, 100))))
    Versioned.appendPublish(spark, base, "t", facts(100, 120), Seq("k"))
    Versioned.removePublish(spark, base, "t",
      spark.range(0, 50).select(col("id").as("k")))
    // only ONE data dir after the tombstone: nothing to merge — no-op
    Versioned.appendPublish(spark, base, "t", facts(120, 140), Seq("k"))
    val v0 = Versioned.currentVersion(spark, base).get
    assert(Versioned.compactTailPublish(spark, base, "t") == v0,
      "a single post-tombstone dir must not trigger a publish")
    // a second post-tombstone append makes the tail mergeable; the
    // tombstone must survive the compaction and keep its fold position
    Versioned.appendPublish(spark, base, "t", facts(140, 160), Seq("k"))
    val before = collectSet(Versioned.read(spark, base, "t"))
    val v = Versioned.compactTailPublish(spark, base, "t")
    assert(v == Versioned.currentVersion(spark, base).get && v > v0)
    assert(collectSet(Versioned.read(spark, base, "t")) == before)
    assert(Versioned.read(spark, base, "t")
      .filter(col("k") < 50).isEmpty, "tombstoned keys resurrected")
    // rows appended before the tombstone but ≥50 still survive it
    assert(Versioned.read(spark, base, "t")
      .filter(col("k").between(50, 119)).count() == 70)
  }

  test("auto-compaction bounds fold depth over a long upsert chain, values identical") {
    val base = mkBase()
    Versioned.publish(spark, base, Seq(TableSpec("t", facts(0, 100))))
    Versioned.setAutoCompact(spark, base, 6)
    assert(Versioned.autoCompactThreshold(spark, base) == 6)
    // 12 MoR upserts, disjoint 5-key slices with v bumped — without
    // the policy the chain would reach 25 entries (a tombstone + a
    // data dir each); with it, every crossing's WRITER compacts the
    // tail, so the observed depth never exceeds the threshold + the
    // 2 entries the triggering publish itself added
    (0 until 12).foreach { i =>
      Versioned.mergePublish(spark, base, "t",
        facts(i * 5, i * 5 + 5).withColumn("v", col("v") + 1),
        Seq("k"), rewrite = false)
      val cur = Versioned.currentVersion(spark, base).get
      assert(Versioned.entryChainAt(spark, base, "t", cur).size <= 6,
        s"fold depth unbounded after upsert $i")
    }
    // value identity vs the replayed history: keys < 60 took an upsert
    val expected = collectSet(spark.range(0, 100).select(
      col("id").as("k"),
      (col("id") * 10 + when(col("id") < 60, 1).otherwise(0)).as("v")))
    assert(collectSet(Versioned.read(spark, base, "t")) == expected)
    // threshold 0 disables the policy: chains grow freely again
    Versioned.setAutoCompact(spark, base, 0)
    val v0 = Versioned.currentVersion(spark, base).get
    val d0 = Versioned.entryChainAt(spark, base, "t", v0).size
    Versioned.mergePublish(spark, base, "t",
      facts(0, 5).withColumn("v", col("v") + 2), Seq("k"), rewrite = false)
    val v1 = Versioned.currentVersion(spark, base).get
    assert(v1 == v0 + 1, "disabled policy must not publish a compaction")
    assert(Versioned.entryChainAt(spark, base, "t", v1).size == d0 + 2)
  }

  test("compactMorTail folds across tombstones; prefix rows still tombstoned") {
    val base = mkBase()
    // big-ish base we keep by reference, then a mixed t/d tail
    Versioned.publish(spark, base, Seq(TableSpec("t", facts(0, 100))))
    Versioned.setAutoCompact(spark, base, 0) // manual compaction here
    // capture the base layout now — v1's manifest may be GC'd later,
    // but its data dir survives by refcount
    val baseFiles = Versioned.tableFiles(spark, base, "t", 1L).toSet
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // keep the base dir out of the tail: its byte size is the cutoff
    val baseBytes = fs.getContentSummary(
      new Path(s"$base/_data/t-00000001")).getLength
    import spark.implicits._
    Versioned.removePublish(spark, base, "t", Seq(1L, 2L).toDF("k"))
    Versioned.appendPublish(spark, base, "t", facts(100, 110), Seq("k"))
    Versioned.removePublish(spark, base, "t", Seq(105L, 50L).toDF("k"))
    // 105 was just tombstoned, so re-adding it is append-legal; its
    // fold position AFTER the tombstone must survive the compaction
    Versioned.appendPublish(spark, base, "t", facts(105, 106)
      .withColumn("v", col("v") + 7), Seq("k"))
    val before = collectSet(Versioned.read(spark, base, "t"))
    val v = Versioned.compactMorTailPublish(spark, base, "t",
      smallBytes = baseBytes)
    assert(v == Versioned.currentVersion(spark, base).get)
    val chain = Versioned.entryChainAt(spark, base, "t", v)
    assert(chain.size == 3 && chain.map(_._1) == Seq('d', 't', 'd'),
      s"expected base + merged tombstone + folded tail, got $chain")
    // value identity through the fold rewrite, including: prefix keys
    // 1, 2, 50 stay tombstoned; 105 re-added AFTER its tombstone
    // survives with the updated v
    assert(collectSet(Versioned.read(spark, base, "t")) == before)
    assert(Versioned.read(spark, base, "t")
      .filter(col("k").isin(1L, 2L, 50L)).isEmpty)
    assert(Versioned.read(spark, base, "t").filter(col("k") === 105L)
      .head.getLong(1) == 1057L)
    // base files untouched — carried by reference
    assert(baseFiles.subsetOf(
      Versioned.tableFiles(spark, base, "t", v).toSet))
    // a tail whose tombstones disagree on key columns stops at the
    // incompatible one (it cannot union into one anti-join frame)
    Versioned.removePublish(spark, base, "t",
      Seq((3L, 30L)).toDF("k", "v"))
    Versioned.appendPublish(spark, base, "t", facts(200, 205), Seq("k"))
    Versioned.removePublish(spark, base, "t", Seq(201L).toDF("k"))
    Versioned.appendPublish(spark, base, "t", facts(205, 210), Seq("k"))
    val before2 = collectSet(Versioned.read(spark, base, "t"))
    val v2 = Versioned.compactMorTailPublish(spark, base, "t",
      smallBytes = baseBytes)
    val chain2 = Versioned.entryChainAt(spark, base, "t", v2)
    // the (k,v)-keyed tombstone is the boundary: everything after it
    // folds, it and the prefix stay put
    assert(chain2.map(_._1).count(_ == 't') >= 2,
      s"incompatible tombstone must survive as a boundary: $chain2")
    assert(collectSet(Versioned.read(spark, base, "t")) == before2)
  }

  test("compactTail skips big dirs: an all-big tail is a no-op") {
    val base = mkBase()
    Versioned.publish(spark, base, Seq(TableSpec("t", facts(0, 100))))
    Versioned.appendPublish(spark, base, "t", facts(100, 200), Seq("k"))
    Versioned.appendPublish(spark, base, "t", facts(200, 300), Seq("k"))
    val v0 = Versioned.currentVersion(spark, base).get
    // a 1-byte threshold disqualifies every dir
    assert(Versioned.compactTailPublish(spark, base, "t",
      smallBytes = 1L) == v0)
  }
}
