package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.SimHash64.simhash64

/** Near-duplicate detection for LLM-data pipelines: MinHash+LSH,
  * SimHash, n-gram Jaccard. The MinHash path is deliberately built on
  * MD5-string minima (lexicographic min over seeded `md5` values) so
  * the whole signature pipeline — shingle → minhash → band — is
  * reproducible in ANSI SQL and DuckDB-oracle-checkable, not just
  * "runs without error".
  *
  * Scale shape: signatures are computed array-native per row (narrow,
  * codegen, no shuffle); the only shuffle is the band-key groupBy,
  * whose fan-in is bounded by band cardinality. Candidate pairs are
  * generated per-bucket, so cost is Σ bucket² not N² — the standard
  * LSH cost model (Broder; Leskovec et al., "Mining of Massive
  * Datasets" ch. 3).
  */
object Dedup {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")

  val NumHashes = 8
  val BandSize = 2 // 4 bands of 2 minhashes

  /** Word 3-gram shingles over a PRE-SPLIT token array column `_ws`
    * (0-based Spark `[]`). Two load-bearing details:
    *  - `_ws` must be its own column, never `split(text, …)` inlined
    *    into the lambda: an expression inside `transform` re-evaluates
    *    PER ELEMENT, so the inlined form regex-split the whole text 3×
    *    per shingle — O(tokens²) work per document (the dominant cost
    *    of the old signature pipeline, ~17 s alone at sf0.1);
    *  - guarded for <3-token documents: `sequence(0, size-3)` counts
    *    DOWN when size-3 < 0 (step inferred −1), and the resulting
    *    negative array index is a hard `INVALID_ARRAY_INDEX` under
    *    Spark 4's default ANSI mode — a real corpus WILL contain
    *    1–2-token docs, so short docs get an empty shingle set
    *    (⇒ null minhashes/bands, which LSH then never buckets). */
  private[queries] val shinglesExpr =
    """CASE WHEN size(_ws) >= 3 THEN
      |  transform(sequence(0, size(_ws) - 3),
      |    i -> concat_ws(' ', _ws[i], _ws[i+1], _ws[i+2]))
      |ELSE array() END""".stripMargin

  /** The signature pipeline over any `(doc_id, text)` frame — split out
    * of [[q18MinhashLsh]] so the short-document guard is testable on
    * crafted inputs. All minhashes come from ONE fused pass
    * ([[graft.functions.MinHashMd5]] — value-identical to the
    * `array_min(transform(sh, x -> md5('i#' || x)))` family the DuckDB
    * oracle reproduces, but ~10× cheaper: the composed HOF form is
    * CodegenFallback and re-walked the shingles once per seed per
    * reference). Band keys use null-propagating `concat` (NOT
    * `concat_ws`) so a short doc's null minhashes yield null bands —
    * exactly what `mh0 || '|' || mh1` does in the DuckDB oracle. */
  def minhashSignatures(docsDf: DataFrame): DataFrame = {
    import graft.functions.MinHashMd5.minhash_md5
    val withMh = docsDf
      .withColumn("_ws", split(col("text"), "\\s+"))
      .withColumn("_mh", minhash_md5(expr(shinglesExpr), NumHashes))
    val mhCols = (0 until NumHashes).map(i => col("_mh")(i).as(s"mh$i"))
    val bandCols = (0 until NumHashes / BandSize).map { b =>
      val parts = (0 until BandSize).map(j => col("_mh")(b * BandSize + j))
      val joined = parts.tail.foldLeft(parts.head)((acc, c) =>
        concat(acc, lit("|"), c))
      md5(joined).as(s"band$b")
    }
    withMh.select(col("doc_id") +: (mhCols ++ bandCols): _*)
  }

  // --------------------------------------------------------------- q18
  /** MinHash signatures + LSH band keys per document. Band keys are
    * md5 of adjacent minhash pairs; equal band key ⇒ candidate pair.
    * Emitted per-doc (deterministic, N rows) — pair generation is the
    * groupBy in [[minhashCandidatePairs]]. Always computes directly
    * (it IS the index builder's definition); every other family
    * member reads the persisted [[signatureIndex]]. */
  def q18MinhashLsh(spark: SparkSession, dir: String): DataFrame =
    minhashSignatures(graft.operators.Spread.byKey(docs(spark, dir), col("doc_id")))
      .orderBy(col("doc_id"))

  /** Root for persisted signature indexes (override:
    * `SPARK_GRAFT_INDEX_DIR`). Outside the read-only corpus dirs. */
  private[graft] val indexBase: String =
    sys.env.getOrElse("SPARK_GRAFT_INDEX_DIR",
      sys.props.getOrElse("java.io.tmpdir", "/tmp").stripSuffix("/") +
        "/graft-sigindex")

  /** The corpus signature/band index as a PERSISTED parquet table —
    * the thing q76's scaladoc says a production pipeline maintains,
    * now maintained: built once per corpus, read by every dedup-family
    * consumer (q72/q73/q76/q78/q81/q86 via [[minhashCandidatePairs]]),
    * instead of each query re-running the shingle→minhash→band pass.
    *
    * Content-addressed publication: the index path is keyed by the md5
    * of the corpus files' (path, length, mtime) metadata — a changed
    * corpus gets a NEW path, so staleness is impossible by
    * construction and the check costs one file listing, never a scan.
    * Publish is write-staging + atomic rename (the [[graft.sources
    * .Lake]] swap discipline); a lost race or crashed attempt is
    * detected by the missing `_SUCCESS` marker and retried. Content is
    * exactly [[minhashSignatures]] — md5-deterministic, so persisted
    * vs recomputed frames are value-identical and every oracle is
    * unaffected.
    *
    * Scale shape: N rows × 13 narrow columns, written once per corpus
    * version; consumers re-scan parquet (columnar, pruned) rather than
    * pinning corpus-sized state in executor memory. At 100 TB this is
    * the persisted band index every ingest and every dedup query
    * shares — the LSH pass runs once per corpus, not once per query. */
  private[graft] def signatureIndex(spark: SparkSession, dir: String)
      : DataFrame = {
    val key = graft.Tables.fileFingerprint(spark, s"$dir/documents.parquet")
    // bucketed on doc_id (layout folded into the address): the verify
    // joins read this table TWICE per pair pass (sigA/sigB) and the
    // delta probes semi-join it by id — with the layout declared, the
    // candidate-pair side shuffles, the |corpus|-sized signature scans
    // never do (aliases preserve the partitioning through the renames)
    graft.sources.ArtifactStore.readOrPublishBucketed(
      spark, s"$indexBase/sig-b$IndexBuckets-$key", "doc_id", IndexBuckets)(
      // spread the one-time build (the bucketed write re-partitions by
      // doc_id anyway, so the published layout is unchanged)
      minhashSignatures(graft.operators.Spread.byKey(docs(spark, dir), col("doc_id"))))
  }

  /** LSH candidate pairs: docs sharing any band bucket, verified with
    * estimated Jaccard (fraction of equal minhashes). The production
    * dedup entry point; exercised with planted near-dups in tests.
    *
    * Signatures come MATERIALIZED from the persisted
    * [[signatureIndex]], and this is load-bearing twice over: (1)
    * minhash/band expressions are higher-order-function trees
    * (`transform` lambdas), which Spark evaluates interpreted and
    * EXCLUDES from codegen subexpression elimination — left lazy, the
    * 4-branch band union referenced the full shingle→md5 pipeline 8×
    * across the self-join, and the join's derived `isnotnull(bucket)`
    * pushdown re-evaluated it once more per row (measured: 51 s for a
    * 5k-doc corpus; materialized: under 2 s); (2) the index is built
    * ONCE PER CORPUS and shared by the whole dedup family, so the LSH
    * pass itself no longer re-runs per query. */
  def minhashCandidatePairs(spark: SparkSession, dir: String,
      threshold: Double = 0.5): DataFrame =
    candidatePairsFrom(signatureIndex(spark, dir), None, threshold)
      .orderBy("doc_a", "doc_b")

  /** The LSH band-join + verify over an ARBITRARY signature frame —
    * [[minhashCandidatePairs]] generalized for the incremental family:
    * `restrictTo = Some(ids)` confines the band join's LEFT side to
    * those doc_ids, yielding exactly the pairs with at least one
    * endpoint in the set (a delta batch) at |ids|·bucket-occupancy
    * cost instead of Σ bucket² over the whole corpus — the standing
    * corpus is probed, never re-paired against itself. */
  private[graft] def candidatePairsFrom(sig: DataFrame,
      restrictTo: Option[DataFrame] = None,
      threshold: Double = 0.5): DataFrame = {
    val pairs = restrictTo match {
      case None => bandCandidatePairs(sig)
      case Some(ids) =>
        // one scan per side, not 4 (bandCandidatePairs' explode note)
        val bands = sig.select(col("doc_id"), explode(array(
            (0 until NumHashes / BandSize).map(b => col(s"band$b")): _*))
          .as("bucket"))
        val deltaBands = bands.join(
          ids.select(col("doc_id")), Seq("doc_id"), "left_semi")
        deltaBands.as("a").join(bands.as("b"),
            col("a.bucket") === col("b.bucket") &&
              col("a.doc_id") =!= col("b.doc_id"))
          .select(
            least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
            greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
          .distinct()
    }
    val sigA = sig.select((col("doc_id").as("doc_a") +:
      (0 until NumHashes).map(i => col(s"mh$i").as(s"a_mh$i"))): _*)
    val sigB = sig.select((col("doc_id").as("doc_b") +:
      (0 until NumHashes).map(i => col(s"mh$i").as(s"b_mh$i"))): _*)
    val est = (0 until NumHashes)
      .map(i => when(col(s"a_mh$i") === col(s"b_mh$i"), 1).otherwise(0))
      .reduce(_ + _).cast("double") / lit(NumHashes.toDouble)
    pairs.join(sigA, "doc_a").join(sigB, "doc_b")
      .withColumn("est_jaccard", est)
      .filter(col("est_jaccard") >= threshold)
      .select("doc_a", "doc_b", "est_jaccard")
  }

  // --------------------------------------------------------------- q19
  /** SimHash near-dup fingerprints via the native [[SimHash64]]
    * Catalyst expression (codegen'd). Oracle-checked: the FNV-1a/lane
    * voting pipeline is reproduced in DuckDB SQL with HUGEINT
    * mod-2^64 arithmetic (see `oracle`), plus DedupSpec planted-pair
    * tests. */
  def q19Simhash(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(
      col("doc_id"),
      simhash64(split(col("text"), "\\s+")).as("simhash"),
      hex(simhash64(split(col("text"), "\\s+"))).as("simhash_hex"))
      .orderBy(col("doc_id"))

  /** SimHash near-dup pairs: 16-bit band blocking, then exact Hamming
    * distance ≤ maxHamming via bit_count(a XOR b). */
  def simhashNearDupPairs(spark: SparkSession, dir: String,
      maxHamming: Int = 6): DataFrame = {
    val sig = docs(spark, dir).select(col("doc_id"),
      simhash64(split(col("text"), "\\s+")).as("simhash"))
    // ONE scan per join side (r22 — bandCandidatePairs' r21 explode
    // rewrite applied to its simhash twin, the r21 "not yet" #4): the
    // 4-way unionByName planned FOUR scans of the corpus per side,
    // each recomputing the simhash kernel; exploding the band array
    // reads it once per side and generates the same rows (band_no is
    // posexplode's position).
    val banded = sig.select(col("doc_id"), col("simhash"),
      posexplode(expr(
        "transform(sequence(0, 3), b -> (shiftrightunsigned(simhash, b * 16) & 65535))"))
        .as(Seq("band_no", "band")))
    banded.as("a").join(banded.as("b"),
        col("a.band_no") === col("b.band_no") &&
        col("a.band") === col("b.band") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  // --------------------------------------------------------------- q20
  /** n-gram (word-set) Jaccard between each doc and its successor —
    * the verification kernel of near-dup dedup, with linear output so
    * it stays oracle-checkable at any scale. */
  def q20NgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
      .select(col("doc_id"), array_distinct(split(col("text"), "\\s+")).as("w"))
    d.as("a").join(d.as("b"), col("b.doc_id") === col("a.doc_id") + 1)
      .select(
        col("a.doc_id").as("doc_id"),
        col("b.doc_id").as("next_doc_id"),
        size(array_intersect(col("a.w"), col("b.w"))).as("n_shared"),
        (size(col("a.w")) + size(col("b.w"))
          - size(array_intersect(col("a.w"), col("b.w")))).as("n_union"),
        (size(array_intersect(col("a.w"), col("b.w"))).cast("double") /
          (size(col("a.w")) + size(col("b.w"))
            - size(array_intersect(col("a.w"), col("b.w")))).cast("double"))
          .as("jaccard"))
      .orderBy(col("doc_id"))
  }

  // --------------------------------------------------------------- q41
  /** Duplicate CLUSTERS: transitive closure over the MinHash candidate
    * pairs via [[graft.operators.ConnectedComponents]] — A≈B and B≈C
    * put {A,B,C} in one cluster even when A,C never share a bucket.
    * `cluster_id` = min doc_id in the cluster; singletons map to
    * themselves, so the output is always one row per document
    * (deterministic and oracle-checkable even on a dup-free corpus —
    * planted transitive chains are exercised in DedupSpec). */
  def q41DupClusters(spark: SparkSession, dir: String): DataFrame = {
    val pairs = minhashCandidatePairs(spark, dir)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val verts = docs(spark, dir).select(col("doc_id").as("id"))
    graft.operators.ConnectedComponents.run(spark, verts, pairs)
      .select(col("id").as("doc_id"), col("component").as("cluster_id"))
      .orderBy("doc_id")
  }

  // --------------------------------------------------------------- q42
  /** The corpus after near-dup removal: one representative per cluster
    * (the lowest doc_id — deterministic; a quality-ranked variant
    * would order by [[TextOps]] quality score instead). Emits
    * `md5(text)` rather than the text itself so the result stays
    * narrow at any scale. */
  def q42DedupCorpus(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .join(q41DupClusters(spark, dir)
        .filter(col("doc_id") === col("cluster_id")).select("doc_id"),
        "doc_id")
      .select(col("doc_id"), md5(col("text").cast("binary")).as("text_md5"))
      .orderBy("doc_id")

  // --------------------------------------------------------------- q52
  /** Quality-ranked dedup representative (the policy q42's scaladoc
    * names): per duplicate cluster keep the member with the HIGHEST
    * q14 quality score, tie-break lowest doc_id — a training pipeline
    * keeps the best-written copy, not the first-seen one. One join +
    * argmax-struct (map-side partial agg); no window sort over the
    * corpus, no text dragged through the shuffle. */
  def q52DedupRanked(spark: SparkSession, dir: String): DataFrame = {
    val quality = graft.queries.TextOps
      .withQuality(graft.operators.Spread.byKey(docs(spark, dir), col("doc_id")))
      .select(col("doc_id"), col("quality_score"))
    q41DupClusters(spark, dir).join(quality, "doc_id")
      .groupBy(col("cluster_id"))
      .agg(
        max(struct(col("quality_score"), (-col("doc_id")).as("neg_id")))
          .as("best"),
        count(lit(1)).as("n_members"))
      .select(col("cluster_id"),
        (-col("best.neg_id")).as("rep_doc_id"),
        col("best.quality_score").as("quality_score"),
        col("n_members"))
      .orderBy("cluster_id")
  }

  // --------------------------------------------------------------- q69
  /** Leakage-safe train/val/test split: the split key is hashed from
    * the duplicate CLUSTER id (q41's transitive closure), not the
    * document id — so near-duplicates land in the same split BY
    * CONSTRUCTION, and the held-out sets can never contain near-copies
    * of training documents (the contamination mode that silently
    * inflates eval numbers; Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better", measure exactly this
    * train/test leak). 90/5/5 via the ONE md5-uniform key definition
    * ([[TextOps.uniformKeyOf]], q54's): first 8 md5 hex digits over 2^32 —
    * exact in IEEE double, reproducible across engines, runs, and
    * cluster layouts.
    *
    * Scale shape: q41's clustering plus one narrow per-row projection
    * — no additional shuffle, no window; the split of a trillion-doc
    * corpus costs one md5 per row on top of the dedup pass the
    * pipeline already runs. */
  def q69ClusterSplit(spark: SparkSession, dir: String): DataFrame = {
    val key = TextOps.uniformKeyOf(col("cluster_id")).as("split_key")
    q41DupClusters(spark, dir)
      .select(col("doc_id"), col("cluster_id"), key)
      .withColumn("split",
        when(col("split_key") < 0.90, "train")
          .when(col("split_key") < 0.95, "val")
          .otherwise("test"))
      .orderBy("doc_id")
  }

  // --------------------------------------------------------------- q72
  /** Near-dup DEGREE per document — how many verified near-dup
    * partners each doc has. Degree is the template detector duplicate
    * clustering can't give you: a boilerplate page duplicated 10,000×
    * and a chain of 10,000 pairwise-distinct drafts can land in
    * equal-sized clusters, but the template's members have degree
    * ~10,000 while the chain's have degree ~2. High-degree hubs are
    * what a crawl-cleanup pipeline samples for template review.
    *
    * Scale shape: the pair stream is the LSH-bounded Σ bucket² (never
    * N²); degree is one hash-agg over an explode of BOTH endpoints in
    * a single pass — a unionAll of two projections would plan the
    * whole verify pipeline twice; the corpus joins the degree table
    * on doc_id and fills 0 — no window, no self-join beyond the
    * bucketed one already paid. */
  def q72DupDegree(spark: SparkSession, dir: String): DataFrame = {
    val deg = minhashCandidatePairs(spark, dir)
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("degree"))
    docs(spark, dir).select(col("doc_id"))
      .join(deg, Seq("doc_id"), "left")
      .na.fill(0L, Seq("degree"))
      .orderBy(col("doc_id"))
  }

  // --------------------------------------------------------------- q73
  /** Per-source duplication rate: the fraction of each source's
    * documents that sit in a multi-document near-dup cluster. A
    * source whose dup rate jumps is a crawler re-fetching the same
    * pages or a template site — the per-source health signal that
    * decides whether a source's weight in the corpus mixture ([[
    * TextOps.q54SampleMix]]) needs cutting before training.
    *
    * Scale shape: cluster sizes are a re-aggregate of q41's (doc_id,
    * cluster_id) assignment — never the text; the assignment is
    * `localCheckpoint`'d so its two consumers (sizes + join) read the
    * materialized table instead of each re-running the LSH pipeline;
    * the per-source rollup is a count over the assignment joined to
    * the corpus's (doc_id, source) projection. The dominant cost
    * stays the ONE LSH pass the dedup already paid. */
  def q73SourceDupRate(spark: SparkSession, dir: String): DataFrame = {
    val clusters = q41DupClusters(spark, dir).localCheckpoint()
    // cluster size via a cluster_id-partitioned window (r21): the
    // groupBy-sizes + join-back form planned TWO exchanges of the
    // assignment plus a SortMergeJoin; the window is ONE exchange +
    // sort over the same rows, same values (count over the partition
    // ≡ the joined count), and cluster_id is high-cardinality so the
    // partitioning parallelizes at any corpus size
    import org.apache.spark.sql.expressions.Window
    clusters
      .withColumn("_csize",
        count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
      .join(docs(spark, dir).select(col("doc_id"), col("source")), "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("_csize") > 1, 1)).as("n_dup_docs"))
      .select(col("source"), col("n_docs"), col("n_dup_docs"),
        (col("n_dup_docs").cast("double") / col("n_docs").cast("double"))
          .as("dup_rate"))
      .orderBy(col("source"))
  }

  // --------------------------------------------------------------- q99
  /** Duplicate-cluster cohesion: per cluster, the verified edge count
    * and the min/mean/max estimated Jaccard over its edges — the
    * threshold-tuning evidence the dedup family was missing. A min
    * hugging the 0.5 threshold means the cluster is held together by
    * borderline edges (it would split under a stricter threshold); a
    * high mean with few edges is a chain (transitive merge of
    * pairwise drafts), many edges a template hub — the same shapes
    * q72's degree separates, now with the similarity mass attached.
    *
    * Cross-engine exactness: est-Jaccard values are dyadic rationals
    * (k/8 — exact IEEE doubles), and sums of dyadic rationals with
    * numerator < 2⁵³ are exact at ANY accumulation order, so
    * `mean = SUM(est)/n` is one division over bit-identical operands
    * in both engines — the one case where a float mean is hash-safe.
    *
    * Scale shape: one pass over the verified pair stream (Σ bucket²,
    * via the persisted signature index), keyed to clusters by a
    * narrow join against the checkpointed assignment (both endpoints
    * share a cluster by construction — components were built from
    * these edges — so ONE endpoint join suffices); the rollup is
    * ≤ |multi-member clusters| rows. */
  def q99ClusterCohesion(spark: SparkSession, dir: String): DataFrame = {
    // ONE verified-pair pass (r21): the pairs feed BOTH the transitive
    // closure and the per-cluster edge aggregate — composed as
    // q41 + minhashCandidatePairs they planned and RAN the whole
    // band-join+verify pipeline twice per invocation (10 index scans
    // in one plan). est-Jaccard values are unchanged; q41's
    // presentation orderBy was never observable behind the aggregate.
    val pairs = candidatePairsFrom(signatureIndex(spark, dir))
      .localCheckpoint()
    val verts = docs(spark, dir).select(col("doc_id").as("id"))
    val clusters = graft.operators.ConnectedComponents.run(spark, verts,
        pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")))
      .select(col("id").as("doc_id"), col("component").as("cluster_id"))
      .localCheckpoint()
    val sizes = clusters.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"))
    pairs
      .join(clusters.select(col("doc_id").as("doc_a"), col("cluster_id")),
        "doc_a")
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_edges"),
        min(col("est_jaccard")).as("min_est"),
        (sum(col("est_jaccard")) / count(lit(1))).as("mean_est"),
        max(col("est_jaccard")).as("max_est"))
      .join(sizes, "cluster_id")
      .select(col("cluster_id"), col("n_members"), col("n_edges"),
        col("min_est"), col("mean_est"), col("max_est"))
      .orderBy(col("cluster_id"))
  }

  // --------------------------------------------------------------- q76
  /** Incremental (delta) dedup: an incoming batch checked against the
    * standing corpus WITHOUT re-pairing the corpus against itself —
    * the ingest-time shape of LSH dedup. The "batch" is the ~10% of
    * documents whose md5-uniform key ([[TextOps.uniformKeyOf]], the
    * ONE definition) falls below 0.1 — a deterministic stand-in for
    * "today's crawl"; the remaining 90% is the reference corpus. Each
    * batch doc reports its LSH candidate count against the corpus,
    * whether any candidate verifies at est-Jaccard ≥ 0.5, and the
    * smallest matching corpus doc (its canonical duplicate target).
    * In scope: batch-vs-corpus only — two NEW docs duplicating each
    * other are deliberately not flagged here; within-batch dedup is
    * the self-join pipeline's job (q41, or [[graft.streaming
    * .StreamingDedup]] at ingest).
    *
    * Scale shape — why this is THE 100 TB dedup pattern: the corpus
    * side of the band join is a precomputed signature/band index (N
    * rows × 12 narrow columns — the thing a production pipeline
    * persists once and reuses every ingest); per ingest you compute
    * signatures for the DELTA only and join band-to-band, so cost is
    * |delta bands| × matching buckets, never corpus × corpus and
    * never a re-cluster of the standing corpus. Signatures are
    * `localCheckpoint`'d for the same HOF-re-evaluation reason as
    * [[minhashCandidatePairs]]. */
  def q76DeltaDedup(spark: SparkSession, dir: String): DataFrame = {
    val sig = signatureIndex(spark, dir)
      .withColumn("_delta", TextOps.uniformKeyOf(col("doc_id")) < lit(0.1))
    flagAgainstIndex(sig.filter(col("_delta")).drop("_delta"),
      sig.filter(!col("_delta")).drop("_delta"))
      .orderBy(col("doc_id"))
  }

  /** Flag every doc in `batchSigs` against the standing corpus band
    * index `corpusSigs` (both in [[minhashSignatures]] layout): LSH
    * candidate count, verified-dup flag (est-Jaccard ≥ 0.5), and the
    * smallest matching corpus doc. ONE definition shared by the batch
    * [[q76DeltaDedup]] and the streaming ingest filter
    * ([[graft.streaming.StreamingDeltaDedup]]) — the same
    * batch≡stream guarantee the quality/decontam/mixer seams make. */
  private[graft] def flagAgainstIndex(batchSigs: DataFrame,
      corpusSigs: DataFrame): DataFrame = {
    def bandsOf(df: DataFrame): DataFrame =
      // one scan per side, not 4 (bandCandidatePairs' explode note)
      df.select(col("doc_id"), explode(array(
          (0 until NumHashes / BandSize).map(b => col(s"band$b")): _*))
        .as("bucket"))
    val cand = bandsOf(batchSigs).as("d")
      .join(bandsOf(corpusSigs).as("c"),
        col("d.bucket") === col("c.bucket"))
      .select(col("d.doc_id").as("doc_id"), col("c.doc_id").as("ref_id"))
      .distinct()
    val sigD = batchSigs.select((col("doc_id") +:
      (0 until NumHashes).map(i => col(s"mh$i").as(s"a_mh$i"))): _*)
    val sigR = corpusSigs.select((col("doc_id").as("ref_id") +:
      (0 until NumHashes).map(i => col(s"mh$i").as(s"b_mh$i"))): _*)
    val est = (0 until NumHashes)
      .map(i => when(col(s"a_mh$i") === col(s"b_mh$i"), 1).otherwise(0))
      .reduce(_ + _).cast("double") / lit(NumHashes.toDouble)
    val verified = cand.join(sigD, "doc_id").join(sigR, "ref_id")
      .withColumn("_est", est).filter(col("_est") >= 0.5)
      .groupBy(col("doc_id")).agg(min(col("ref_id")).as("dup_of"))
    val nCand = cand.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_candidates"))
    batchSigs.select(col("doc_id"))
      .join(nCand, Seq("doc_id"), "left")
      .join(verified, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_candidates"))
      .select(col("doc_id"), col("n_candidates"),
        col("dup_of").isNotNull.cast("long").as("is_dup"), col("dup_of"))
  }

  // --------------------------------------------------------------- q81
  /** Cross-source duplication matrix: verified near-dup pairs rolled
    * up by unordered source pair. The diagonal (same source twice) is
    * template/re-crawl duplication inside one source; off-diagonal
    * cells are syndication — the same content arriving through two
    * feeds — which per-source dup rate (q73) cannot distinguish.
    * High off-diagonal mass means dedup must run globally, not
    * per-source partition; that is a pipeline-topology decision this
    * matrix is the evidence for.
    *
    * Cross-engine exactness: pure integer pair counts; the unordered
    * key is `least/greatest` on the source strings — one total order,
    * both engines.
    *
    * Scale shape: reuses the one LSH pass ([[minhashCandidatePairs]]
    * — Σ bucket², never N²); sources attach by two joins against the
    * narrow (doc_id, source) projection, and the rollup aggregates
    * |pairs| rows down to ≤ |sources|² cells. */
  def q81SourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val src = docs(spark, dir).select(col("doc_id"), col("source"))
    minhashCandidatePairs(spark, dir)
      .join(src.select(col("doc_id").as("doc_a"),
        col("source").as("_sa")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"),
        col("source").as("_sb")), "doc_b")
      .select(least(col("_sa"), col("_sb")).as("source_x"),
        greatest(col("_sa"), col("_sb")).as("source_y"))
      .groupBy(col("source_x"), col("source_y"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("source_x"), col("source_y"))
  }

  // --------------------------------------------------------------- q78
  /** Asymmetric n-gram CONTAINMENT on LSH candidate pairs:
    * |S_a ∩ S_b| / |S_a| and / |S_b| over distinct word-3-gram sets.
    * Jaccard (q20) misses the excerpt/quote case — a short doc fully
    * contained in a long one has low Jaccard but containment ≈ 1 on
    * the short side, which is how a pipeline catches boilerplate
    * embedded in larger pages and near-total quotations (Broder's
    * original resemblance/containment pair, 1997).
    *
    * Cross-engine exactness: set sizes are integers (Spark
    * `array_distinct`/`array_intersect` both dedup, DuckDB
    * `list_distinct`/`list_intersect` match), divided in ONE IEEE
    * expression per side.
    *
    * Scale shape: containment is computed ONLY on LSH candidate pairs
    * (Σ bucket², never N²); the distinct-shingle sets are one narrow
    * derived table joined twice — the text crosses the shuffle once
    * as a shingle array, not re-shingled per pair. */
  def q78Containment(spark: SparkSession, dir: String): DataFrame = {
    val sig = signatureIndex(spark, dir)
    val pairs = bandCandidatePairs(sig)
    val sets = graft.operators.Spread.byKey(docs(spark, dir), col("doc_id"))
      .withColumn("_ws", split(col("text"), "\\s+"))
      .select(col("doc_id"),
        array_distinct(expr(shinglesExpr)).as("sh"))
      .localCheckpoint()
    pairs
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("_sa")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("_sb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(col("_sa")).cast("long").as("n_a"),
        size(col("_sb")).cast("long").as("n_b"),
        size(array_intersect(col("_sa"), col("_sb"))).cast("long")
          .as("n_common"))
      .withColumn("containment_a",
        col("n_common").cast("double") / col("n_a").cast("double"))
      .withColumn("containment_b",
        col("n_common").cast("double") / col("n_b").cast("double"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Band-bucket candidate pairs from a [[minhashSignatures]] frame:
    * documents sharing ANY LSH band bucket, emitted once (doc_a <
    * doc_b, distinct). The Σ bucket² pair generator every verify
    * kernel downstream (est-Jaccard, containment, BoW cosine) shares. */
  private def bandCandidatePairs(sig: DataFrame): DataFrame = {
    // ONE index scan (r21): the 4-way unionByName planned 4 separate
    // scans of the signature index per side; exploding the band array
    // reads (doc_id, band0..band3) once and generates the same rows.
    // explode keeps null ELEMENTS (short docs' null bands), exactly as
    // the union kept null-bucket rows — both vanish in the equi-join.
    val bands = sig.select(col("doc_id"), explode(array(
        (0 until NumHashes / BandSize).map(b => col(s"band$b")): _*))
      .as("bucket"))
    bands.as("a").join(bands.as("b"),
        col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  // --------------------------------------------------------------- q85
  /** Distinct part-name vocabulary with entity counts and block key —
    * the ONE corpus-scale scan+aggregate the whole ER family (q85,
    * q94) shares; the tiny result is materialized and everything
    * downstream runs at |V| scale. Block key = LAST token (the head
    * noun of "<modifier…> <noun>" names): `element_at(…, -1)` is
    * total — a one-word name blocks on itself rather than vanishing
    * behind a NULL key, matching the oracle's `list_extract(…, -1)`. */
  private def partNames(spark: SparkSession, dir: String): DataFrame =
    nameVocabOf(Tables(spark, dir, "part")).localCheckpoint()

  /** The `(p_name, n_parts, blk)` vocabulary of any part-shaped frame
    * — split from [[partNames]] so the streaming ingest
    * ([[graft.streaming.StreamingEntityCanon]]) derives its per-batch
    * vocabulary with the SAME block-key definition. */
  private[graft] def nameVocabOf(parts: DataFrame): DataFrame =
    parts.groupBy(col("p_name")).agg(count(lit(1)).as("n_parts"))
      .withColumn("blk", element_at(split(col("p_name"), " "), -1))

  /** The q85 match kernel over a prepared `(p_name, n_parts, blk)`
    * vocabulary: blocked self-join, Levenshtein ≤ 3 survivors. */
  private def fuzzyMatchPairs(names: DataFrame): DataFrame = {
    val a = names.select(col("blk"), col("p_name").as("name_a"),
      col("n_parts").as("n_parts_a"))
    val b = names.select(col("blk"), col("p_name").as("name_b"),
      col("n_parts").as("n_parts_b"))
    a.join(b, "blk")
      .filter(col("name_a") < col("name_b"))
      .withColumn("lev_dist",
        levenshtein(col("name_a"), col("name_b")).cast("long"))
      .filter(col("lev_dist") <= 3)
      .select("name_a", "name_b", "lev_dist", "n_parts_a", "n_parts_b")
  }

  /** Catalog entity resolution: fuzzy-match the part-name VOCABULARY
    * with blocked Levenshtein distance. Classic record linkage
    * (Fellegi–Sunter blocking + edit-distance compare): names are
    * first collapsed to distinct normalized strings with their entity
    * counts ([[partNames]]), candidate pairs are generated only inside
    * a block (the head noun — the last token), and survivors are pairs
    * within edit distance ≤ 3 ("red gear" ≈ "hot gear", but never
    * "small gear" ≈ "large gear").
    *
    * Cross-engine exactness: `levenshtein` is the same unit-cost
    * insert/delete/substitute integer in Spark and DuckDB; block key
    * and the `<` pair ordering are plain ASCII string comparisons.
    *
    * Scale shape: resolution runs on the DISTINCT-name vocabulary
    * (|V| ≪ N rows — the first groupBy is the only corpus-sized
    * shuffle), so the quadratic compare is Σ block² over vocabulary
    * blocks, not rows; the match table that comes out is tiny and
    * broadcasts back onto the corpus for canonicalization. */
  def q85FuzzyMatch(spark: SparkSession, dir: String): DataFrame =
    fuzzyMatchPairs(partNames(spark, dir))
      .orderBy("name_a", "name_b")

  // --------------------------------------------------------------- q86
  /** Bag-of-words cosine verification of LSH candidate pairs in PURE
    * INTEGER arithmetic: with term-frequency vectors a, b the keep
    * test cos(a,b) ≥ 0.8 is cross-multiplied to
    * `25·(a·b)² ≥ 16·|a|²·|b|²` — counts in, BIGINT comparison out,
    * so no sqrt/division ever runs and the decision is bit-identical
    * in any engine. Complements the set-based kernels: Jaccard (q20)
    * ignores repetition, containment (q78) is asymmetric — tf-cosine
    * is the kernel that treats "spam spam spam" ≠ "spam".
    *
    * Exactness domain: the comparison operands are widened (decimal
    * on the Spark side, HUGEINT in the oracle), exact while
    * 25·dot² < 10³⁸ — i.e. per-document Σtf² below ~10¹⁸, unreachable
    * for real documents (a 10⁵-token doc is ~10¹⁰).
    *
    * Scale shape: tf vectors live as a (doc_id, token, tf) long table
    * built map-side (explode → partial-agg); dots are two hash joins
    * against candidates (Σ bucket² pairs, never N²) followed by a
    * pair-keyed partial agg. Norms are one more agg over the same tf
    * table — the text itself never crosses a shuffle. */
  def q86BowCosine(spark: SparkSession, dir: String): DataFrame = {
    val sig = signatureIndex(spark, dir)
    // two consumers (dot join + final assembly): materialize so the
    // Σ bucket² band self-join runs once, not once per consumer
    val cand = bandCandidatePairs(sig).localCheckpoint()
    val tf = graft.operators.Spread.byKey(docs(spark, dir), col("doc_id"))
      .select(col("doc_id"),
        explode(split(col("text"), "\\s+")).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint() // 3 consumers (norms + both dot sides): one scan
    bowCosineVerify(cand, tf).orderBy("doc_a", "doc_b")
  }

  /** The q86 decision kernel over prepared frames — `cand(doc_a,
    * doc_b)` candidates and `tf(doc_id, token, tf)` term frequencies —
    * split out so crafted tf vectors can exercise the integer
    * cross-multiplication directly (repetition-sensitivity, the
    * zero-overlap left-join path). */
  private[graft] def bowCosineVerify(cand: DataFrame, tf: DataFrame): DataFrame = {
    val norms = tf.groupBy(col("doc_id"))
      .agg(sum(col("tf") * col("tf")).as("norm2"))
    val dots = cand
      .join(tf.select(col("doc_id").as("doc_a"), col("token"),
        col("tf").as("_tfa")), "doc_a")
      .join(tf.select(col("doc_id").as("doc_b"), col("token"),
        col("tf").as("_tfb")), Seq("doc_b", "token"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(col("_tfa") * col("_tfb")).as("dot"))
    val d19 = (c: Column) => c.cast("decimal(19,0)")
    cand
      .join(dots, Seq("doc_a", "doc_b"), "left")
      .na.fill(0L, Seq("dot"))
      .join(norms.select(col("doc_id").as("doc_a"),
        col("norm2").as("norm2_a")), "doc_a")
      .join(norms.select(col("doc_id").as("doc_b"),
        col("norm2").as("norm2_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("dot"),
        col("norm2_a"), col("norm2_b"),
        (d19(lit(25)) * d19(col("dot")) * d19(col("dot")) >=
          d19(lit(16)) * d19(col("norm2_a")) * d19(col("norm2_b")))
          .cast("long").as("is_dup"))
  }

  // --------------------------------------------------------------- q94
  /** Entity canonicalization — the record-linkage pipeline completed:
    * q85's blocked fuzzy-match pairs become edges, transitive closure
    * ([[graft.operators.ConnectedComponents]]) merges chains
    * ("red gear" ≈ "hot gear" ≈ "hot gearx" even if the ends never
    * pair directly), and every name maps to its cluster's
    * lexicographic-min member as the canonical key — the surrogate a
    * warehouse would store on the dimension.
    *
    * Cross-engine exactness: ids are `row_number` over the sorted
    * vocabulary, so min-id ≡ min-name and the oracle's recursive
    * reachability + `MIN(name)` reproduces the component contract
    * exactly.
    *
    * Scale shape: everything after the first groupBy runs at
    * VOCABULARY scale — the id window, the edge joins, the closure
    * (whose driver union-find fast path is bounded by the pair count)
    * and the size rollup; the resulting canonical map is tiny and
    * broadcasts back onto the corpus-sized dimension. */
  def q94EntityCanon(spark: SparkSession, dir: String): DataFrame = {
    // ONE corpus scan: pairs and ids both derive from the same
    // materialized vocabulary
    val canon = canonMapOf(spark, partNames(spark, dir))
      .localCheckpoint() // two consumers: size rollup + output join
    canon.join(canon.groupBy(col("canon_name"))
        .agg(count(lit(1)).as("n_cluster_names")), "canon_name")
      .select("p_name", "canon_name", "n_cluster_names")
      .orderBy("p_name")
  }

  /** q94's closure as a reusable kernel: a `(p_name, n_parts, blk)`
    * vocabulary → its `(p_name, canon_name)` canonical map (fuzzy
    * pairs → transitive closure → lexicographic-min member). ONE
    * definition shared by the full rebuild ([[q94EntityCanon]]) and
    * the incremental path ([[q97DeltaEntityCanon]] /
    * [[graft.streaming.StreamingEntityCanon]]), which matches new
    * names against THIS standing map. */
  private[graft] def canonMapOf(spark: SparkSession, names: DataFrame)
      : DataFrame = {
    val pairs = fuzzyMatchPairs(names)
      .select(col("name_a"), col("name_b"))
    // unpartitioned window, BOUNDED: the distinct part-name vocabulary
    // (dictionary-sized, not corpus-sized) — adjudicated-benign
    // single-partition warning (r19 #3)
    val ids = names.select(col("p_name"))
      .withColumn("id",
        row_number().over(Window.orderBy(col("p_name"))).cast("long"))
      .localCheckpoint() // vocab-sized; three consumers below
    val edges = pairs
      .join(ids.select(col("p_name").as("name_a"), col("id").as("src")),
        "name_a")
      .join(ids.select(col("p_name").as("name_b"), col("id").as("dst")),
        "name_b")
      .select("src", "dst")
    graft.operators.ConnectedComponents
      .run(spark, ids.select(col("id")), edges)
      .join(ids, "id")
      .join(ids.select(col("id").as("component"),
        col("p_name").as("canon_name")), "component")
      .select(col("p_name"), col("canon_name"))
  }

  // --------------------------------------------------------------- q97
  /** Incremental entity canonicalization: q76's `flagAgainstIndex`
    * pattern applied to the ER family. New part names (the ~10% of
    * the vocabulary whose md5-uniform key — seeded by the NAME, so
    * "never seen before" is well-defined — falls below 0.1, a
    * deterministic stand-in for today's catalog feed) are matched
    * against the STANDING vocabulary with the q85 blocked-Levenshtein
    * kernel, and each resolves to the standing catalog's canonical
    * key ([[canonMapOf]] over the standing names) or, unmatched, to
    * itself — the surrogate the ingest path writes without
    * re-clustering the catalog.
    *
    * Scope mirrors q76: batch-vs-catalog only — two NEW names that
    * match each other but nothing standing each canonicalize to
    * themselves; merging them is the next full rebuild's job (q94).
    * A new name bridging two standing clusters resolves to the
    * lexicographic-min canon (deterministic); the bridge itself also
    * waits for the rebuild — the classic incremental-vs-batch ER
    * tradeoff (Fellegi–Sunter linkage run incrementally).
    *
    * Cross-engine exactness: same levenshtein/blocking/string-order
    * contracts as q85/q94; the uniform split key is the ONE md5
    * definition ([[TextOps.uniformKeyOf]]).
    *
    * Scale shape: everything runs at VOCABULARY scale behind the one
    * corpus-sized name groupBy ([[partNames]], shared scan); the
    * delta side is |new names| × block peers — never a re-closure of
    * the standing catalog, whose canon map a production pipeline
    * persists and reuses every feed (exactly q76's persisted band
    * index, for entities). */
  def q97DeltaEntityCanon(spark: SparkSession, dir: String): DataFrame = {
    val names = partNames(spark, dir)
      .withColumn("_delta",
        TextOps.uniformKeyOf(col("p_name")) < lit(0.1))
    val fresh = names.filter(col("_delta")).drop("_delta")
    val standing = names.filter(!col("_delta")).drop("_delta")
      .localCheckpoint() // two consumers: canon map + block join
    flagAgainstCatalog(fresh, standing, canonMapOf(spark, standing))
      .orderBy(col("p_name"))
  }

  /** Flag new entity names against a standing catalog: block-peer
    * candidate count, verified-match flag (Levenshtein ≤ 3), and the
    * canonical key (min standing canon, else the name itself). ONE
    * definition shared by the batch [[q97DeltaEntityCanon]] and the
    * streaming ingest ([[graft.streaming.StreamingEntityCanon]]) —
    * the same batch≡stream guarantee as [[flagAgainstIndex]]. */
  private[graft] def flagAgainstCatalog(freshNames: DataFrame,
      standingNames: DataFrame, standingCanon: DataFrame): DataFrame = {
    val blocked = freshNames.select(col("blk"), col("p_name"))
      .join(standingNames.select(col("blk"), col("p_name").as("ref_name")),
        "blk")
    val nCand = blocked.groupBy(col("p_name"))
      .agg(count(lit(1)).as("n_candidates"))
    val verified = blocked
      .filter(levenshtein(col("p_name"), col("ref_name")) <= 3)
      .join(standingCanon.select(col("p_name").as("ref_name"),
        col("canon_name")), "ref_name")
      .groupBy(col("p_name"))
      .agg(min(col("canon_name")).as("_match_canon"))
    freshNames.select(col("p_name"))
      .join(nCand, Seq("p_name"), "left")
      .join(verified, Seq("p_name"), "left")
      .na.fill(0L, Seq("n_candidates"))
      .select(col("p_name"), col("n_candidates"),
        col("_match_canon").isNotNull.cast("long").as("is_known"),
        coalesce(col("_match_canon"), col("p_name")).as("canon_name"))
  }

  // --------------------------------------------------------------- q105
  /** ExactSubstr-style duplicated-window mass (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better" — the
    * suffix-array pass, re-expressed relationally): for each document,
    * how many of its sliding K-char windows occur verbatim in at least
    * one OTHER document. Near-dup LSH (q18) scores whole documents;
    * this localizes verbatim REGIONS — boilerplate, license blocks,
    * quoted passages — inside otherwise-distinct documents.
    *
    * Plan: map-side window explode (array-native, no per-row UDF), one
    * shuffle to pre-aggregate (window, doc) — the combine that bounds
    * the exchange by DISTINCT windows, not positions — a groupBy on
    * the window string for its distinct-doc degree (partial aggregation
    * absorbs a degenerate hot window map-side; a count-over-window here
    * would pin the hot window's whole partition on one task, and AQE
    * skew handling does not split window partitions), a semi-join back,
    * then a per-doc sum. Σ work is O(total chars); nothing is doc×doc. At
    * 100 TB the shuffle key would be an 8-byte rolling hash of the
    * window (collision-checked on the survivors) instead of the raw
    * 40-char string — 5× less exchange payload; the raw string here
    * keeps the DuckDB oracle byte-exact. */
  val WindowChars = 40
  def q105DupWindowMass(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val k = WindowChars
    val base = docs(spark, dir).select($"doc_id",
      greatest(length($"text") - (k - 1), lit(0)).cast("long").as("n_windows"))
    val grams = graft.operators.Spread.byKey(docs(spark, dir), col("doc_id"))
      .select($"doc_id", explode(expr(windowArraySql)).as("w"))
    val perDoc = grams.groupBy($"w", $"doc_id").agg(count(lit(1)).as("cnt"))
    // degree via agg + semi-join (q106's shape): rows of the (w, doc)
    // pre-agg per w == distinct docs containing w
    val dupW = perDoc.groupBy($"w").agg(count(lit(1)).as("nd"))
      .filter($"nd" >= 2).select($"w")
    val dupPerDoc = perDoc
      .join(dupW, Seq("w"), "left_semi")
      .groupBy($"doc_id").agg(sum($"cnt").as("dup_windows"))
    base
      .join(dupPerDoc, Seq("doc_id"), "left")
      .na.fill(0L, Seq("dup_windows"))
      .orderBy($"doc_id")
  }

  // --------------------------------------------------------------- q106
  /** Duplicated-SPAN coverage — q105's companion: not how many windows
    * are duplicated but how many CHARACTERS sit under at least one
    * duplicated window, i.e. the text mass an ExactSubstr pass would
    * actually cut. Union-of-intervals without an interval structure:
    * duplicated positions sorted per doc, each contributes
    * min(next_pos − pos, K) chars (K for the last) — a lead() window
    * per doc, everything integer-exact.
    *
    * Scale shape: the heavy part (window → distinct-doc degree) is the
    * same bounded shuffle as q105; the coverage pass adds one
    * partition-local window per doc (keyed by doc_id — no global
    * sort). */
  def q106DupSpanCoverage(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val k = WindowChars
    val pos = graft.operators.Spread.byKey(docs(spark, dir), col("doc_id")).select($"doc_id",
      posexplode(expr(windowArraySql)).as(Seq("pos", "w")))
    val dupW = pos.groupBy($"w")
      .agg(count_distinct($"doc_id").as("nd"))
      .filter($"nd" >= 2)
      .select($"w")
    val lw = Window.partitionBy($"doc_id").orderBy($"pos")
    val cov = pos.join(dupW, Seq("w"))
      .select($"doc_id", $"pos")
      .withColumn("nxt", lead($"pos", 1).over(lw))
      .groupBy($"doc_id")
      .agg(sum(least(coalesce($"nxt" - $"pos", lit(k)), lit(k)))
        .cast("long").as("covered_chars"))
    docs(spark, dir)
      .select($"doc_id", length($"text").cast("long").as("n_chars"))
      .join(cov, Seq("doc_id"), "left")
      .na.fill(0L, Seq("covered_chars"))
      .orderBy($"doc_id")
  }

  /** Sliding K-char window array over `text` — shared by the
    * ExactSubstr family (q105/q106/q107). Guarded for short docs like
    * [[shinglesExpr]] (negative-length sequence is fatal under ANSI). */
  private def windowArraySql: String =
    s"""CASE WHEN length(text) >= $WindowChars
       |THEN transform(sequence(0, length(text) - $WindowChars),
       |               i -> substring(text, i + 1, $WindowChars))
       |ELSE array() END""".stripMargin

  /** Distinct verbatim windows of the STANDING (non-delta) corpus —
    * the probe set for incremental ExactSubstr, persisted
    * content-addressed like [[signatureIndex]] (namespaced `win-` so
    * the two artifact families never collide on a fingerprint). */
  private[graft] def windowIndex(spark: SparkSession, dir: String)
      : DataFrame =
    // the path folds in every parameter the artifact's VALUE OR LAYOUT
    // depends on (window width, delta-split fraction, bucket count) so
    // changing any can never silently reuse a stale persisted index
    // across JVM runs. Bucketed by the window itself: the probe join
    // (massAgainstWindowIndex) then shuffles the BATCH side only — at
    // 100 TB the index is the big side, and this layout is what keeps
    // a daily delta probe |batch|-shaped instead of |index|-shaped.
    graft.sources.ArtifactStore.readOrPublishBucketed(
      spark, windowIndexPath(spark, dir), "w", IndexBuckets)(
      distinctWindowsOf(graft.operators.Spread.byKey(docs(spark, dir)
        .filter(!(TextOps.uniformKeyOf(col("doc_id")) < DeltaFracLit)),
        col("doc_id"))))

  /** Published location of [[windowIndex]]. */
  private def windowIndexPath(spark: SparkSession, dir: String)
      : String = {
    val key = graft.Tables.fileFingerprint(spark, s"$dir/documents.parquet")
    s"$indexBase/win$WindowChars-p$DeltaPermille-b$IndexBuckets-$key"
  }

  /** Bucket count for bucketed index artifacts — part of every such
    * artifact's content address (a layout change is a new artifact).
    * Sized for the test corpus; a deployment sizes it to target
    * file sizes (index bytes / ~256 MB). */
  private[graft] val IndexBuckets = 16

  /** Fresh-batch split fraction shared by the delta family (q107 and
    * [[windowIndex]]'s standing-corpus complement), expressed once so
    * the artifact key and both filters can never drift apart. */
  private[graft] val DeltaFrac = 0.1
  private[graft] val DeltaPermille: Int = (DeltaFrac * 1000).round.toInt
  private[graft] def DeltaFracLit = lit(DeltaFrac)

  /** Distinct K-char windows of any documents frame — the probe-set
    * builder behind [[windowIndex]] and the streaming scorer's
    * in-memory index. */
  private[graft] def distinctWindowsOf(d: DataFrame): DataFrame =
    d.select(explode(expr(windowArraySql)).as("w")).distinct()

  // --------------------------------------------------------------- q107
  /** Incremental ExactSubstr — q105 at the ingest seam, completing the
    * delta quartet (q76 text LSH / q97 entities / q103 embeddings /
    * verbatim windows): the fresh batch (md5-uniform 10% split) is
    * scored ONLY against the standing corpus's persisted
    * [[windowIndex]] — |batch| × index probe, never a corpus re-scan,
    * and the index is built once per corpus version and shared by
    * every subsequent batch. A fresh doc's window counts as duplicated
    * when it occurs verbatim anywhere in the standing corpus. */
  def q107DeltaWindowMass(spark: SparkSession, dir: String): DataFrame =
    massAgainstWindowIndex(
      graft.operators.Spread.byKey(docs(spark, dir)
        .filter(TextOps.uniformKeyOf(col("doc_id")) < DeltaFracLit),
        col("doc_id")),
      windowIndex(spark, dir))
      .orderBy(col("doc_id"))

  /** Window-mass of `batch` (any frame with doc_id + text) against a
    * standing distinct-window set `idx`. ONE definition shared by the
    * batch [[q107DeltaWindowMass]] and the streaming ingest scorer
    * ([[graft.streaming.StreamingWindowMass]]) — the same
    * batch ≡ stream guarantee as [[flagAgainstIndex]]. */
  private[graft] def massAgainstWindowIndex(batch: DataFrame,
      idx: DataFrame): DataFrame = {
    val dupPerDoc = batch
      .select(col("doc_id"), explode(expr(windowArraySql)).as("w"))
      .join(idx, Seq("w"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("dup_windows"))
    batch
      .select(col("doc_id"),
        greatest(length(col("text")) - (WindowChars - 1), lit(0))
          .cast("long").as("n_windows"))
      .join(dupPerDoc, Seq("doc_id"), "left")
      .na.fill(0L, Seq("dup_windows"))
  }

  // --------------------------------------------------------------- q108
  /** q105 on the hashed shuffle key — [[graft.functions.WindowHash61]]
    * turns each 40-char window into an 8-byte Rabin-Karp rolling hash
    * inside whole-stage codegen, so the exchange carries longs instead
    * of strings (the production posture for the ExactSubstr family:
    * ≈5× less shuffle payload, O(1)-per-position window pass instead
    * of O(K) substring materialization). Results are identical to q105
    * up to hash collisions (~2⁻⁶¹ per pair); the oracle replays the
    * same polynomial, so cross-engine equality is exact regardless. */
  def q108HashedWindowMass(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.WindowHash61
    val base = docs(spark, dir).select($"doc_id",
      greatest(length($"text") - (WindowChars - 1), lit(0))
        .cast("long").as("n_windows"))
    val grams = graft.operators.Spread.byKey(docs(spark, dir), col("doc_id"))
      .select($"doc_id", explode(WindowHash61.windowHash61($"text")).as("h"))
    val perDoc = grams.groupBy($"h", $"doc_id").agg(count(lit(1)).as("cnt"))
    // same de-skewed degree shape as q105: agg + semi-join, no window
    val dupH = perDoc.groupBy($"h").agg(count(lit(1)).as("nd"))
      .filter($"nd" >= 2).select($"h")
    val dupPerDoc = perDoc
      .join(dupH, Seq("h"), "left_semi")
      .groupBy($"doc_id").agg(sum($"cnt").as("dup_windows"))
    base
      .join(dupPerDoc, Seq("doc_id"), "left")
      .na.fill(0L, Seq("dup_windows"))
      .orderBy($"doc_id")
  }

  // --------------------------------------------------------------- q113
  /** Incremental maintenance of the verbatim-window index over a
    * VERSIONED corpus — the composition the artifact layer was missing:
    * every content-addressed index so far was rebuilt from scratch per
    * corpus version, which at 100 TB with a daily ingest is a full
    * corpus re-scan per day. Here `index(v) = merge(index(v−1),
    * windows(delta v−1→v))`: the maintenance pass reads the PREVIOUS
    * index artifact plus the new version's change table only — the
    * corpus itself is never re-scanned (asserted file-exact and
    * bytes-measured in the spec). The artifact is BUCKETED on `w` and
    * the merge is bucket-aligned (one full-outer join against the
    * bucketed standing side — [[incrementalWindowFrame]]), so a
    * version bump shuffles O(|delta windows|) only: the standing
    * index flows from bucket files to bucket files without crossing
    * an exchange (measured: 43 MB vs the pre-alignment 238 MB ≈
    * O(|index|) at the 10× corpus — SCALE.md). Set semantics are
    * additive: an append-only ingest, the
    * versioned-lake posture ([[graft.sources.Versioned]]); removals
    * would need tombstones in the change table.
    *
    * The oracle proves VALUE-IDENTITY with the from-scratch build: it
    * computes the distinct-window digest directly from the full corpus
    * — the incremental path must land on exactly that set.
    * Economics tie-in: the reference's idempotent re-run
    * (etl/03_transform_and_load.py:134-156) exists to not redo work on
    * re-ingest; this is that idea applied to derived indexes. */
  def q113IncrWindowIndex(spark: SparkSession, dir: String): DataFrame = {
    val base = versionedCorpus(spark, dir)
    windowIndexAt(spark, base, 1L) // ensure v1's artifact exists (cached)
    val idx = windowIndexAt(spark, base, 2L) // the incremental merge
    // digest over the md5-prefix long of each window — the same
    // engine-neutral key family as q109/q112, so DuckDB replays it
    // exactly; all BIGINT (hk < 2^32, |index| ≪ 2^31 ⇒ sum < 2^63)
    val hk = conv(substring(md5(col("w")), 1, 8), 16, 10).cast("long")
    idx.select(hk.as("hk"))
      .agg(
        count(lit(1)).as("n_windows"),
        sum(col("hk")).as("sum_hk"),
        min(col("hk")).as("min_hk"),
        max(col("hk")).as("max_hk"))
  }

  /** Scratch versioned lake derived from the corpus by the standard
    * md5-uniform split: v1 = the standing (1−[[DeltaFrac]]) corpus,
    * v2 = the full corpus, each published WITH its change table
    * (`documents_delta` = the docs new in that version) — the
    * change-data-feed contract an ingest pipeline provides for free,
    * and what lets index maintenance read delta bytes only.
    * Content-addressed by the corpus fingerprint, so a regenerated
    * corpus gets a fresh lake and re-runs are idempotent (version
    * already committed ⇒ publish skipped; the claim protocol makes a
    * genuine race fail loudly rather than corrupt). */
  private[graft] def versionedCorpus(spark: SparkSession, dir: String)
      : String = {
    import graft.sources.Versioned
    val key = graft.Tables.fileFingerprint(spark, s"$dir/documents.parquet")
    val base = s"$indexBase/lake-win$WindowChars-p$DeltaPermille-$key"
    val all = docs(spark, dir)
    val fresh = TextOps.uniformKeyOf(col("doc_id")) < DeltaFracLit
    if (Versioned.currentVersion(spark, base).isEmpty)
      Versioned.publish(spark, base, Seq(
        Versioned.TableSpec("documents", all.filter(!fresh)),
        Versioned.TableSpec("documents_delta", all.filter(!fresh))))
    if (Versioned.currentVersion(spark, base).contains(1L))
      Versioned.publish(spark, base, Seq(
        Versioned.TableSpec("documents", all),
        Versioned.TableSpec("documents_delta", all.filter(fresh))))
    base
  }

  /** Artifact path for the window index of lake version `v` — the lake
    * base is already corpus-fingerprinted and parameter-keyed; the
    * bucket count joins the address (a layout change is a new
    * artifact, the [[graft.sources.ArtifactStore]] contract) and the
    * (immutable once committed) version number keeps the whole family
    * content-addressed. */
  private[graft] def windowIndexArtifact(lakeBase: String, v: Long): String =
    s"$lakeBase-idx-b$IndexBuckets-v$v"

  /** The distinct-window index of the lake's documents AT version `v`,
    * incrementally maintained ([[q113IncrWindowIndex]]'s engine) and
    * published BUCKETED on `w` with the merge BUCKET-ALIGNED: the
    * previous artifact is read through its bucketed registration
    * (partitioning advertised, no exchange), the delta's windows are
    * hashed into the same 16 buckets (the only shuffle — O(|delta|)),
    * and the prealigned publish writes each partition straight to its
    * bucket file. The standing index never crosses an exchange on a
    * version bump — the residual SCALE.md named at r14 (238 MB ≈
    * O(|index|) merge shuffle) closed. */
  private[graft] def windowIndexAt(spark: SparkSession, lakeBase: String,
      v: Long): DataFrame =
    graft.sources.ArtifactStore.readOrPublishBucketed(
      spark, windowIndexArtifact(lakeBase, v), "w", IndexBuckets,
      prealigned = true)(
      incrementalWindowFrame(spark, lakeBase, v))

  /** The un-persisted maintenance frame behind [[windowIndexAt]]:
    * previous artifact present ⇒ bucket-aligned merge with the delta
    * table's windows; absent ⇒ full build from the version's corpus.
    * EVERY branch returns a frame whose partitions are aligned to the
    * artifact's bucket layout (hashpartitioning(w, [[IndexBuckets]])),
    * honoring the prealigned-publish contract. Exposed separately so
    * the spec can assert exactly WHICH FILES the incremental path
    * reads (prev artifact + delta, never the corpus). */
  private[graft] def incrementalWindowFrame(spark: SparkSession,
      lakeBase: String, v: Long): DataFrame = {
    import graft.sources.{ArtifactStore, Versioned}
    ArtifactStore.readIfPresentBucketed(spark,
        windowIndexArtifact(lakeBase, v - 1), "w", IndexBuckets)
      match {
        // merge branch needs BOTH the prior artifact and a published
        // change table — a version published without its delta (or a
        // gap in the artifact chain) falls back to the full build
        // rather than silently under-indexing. Tombstones force the
        // same fallback: a distinct-window SET cannot subtract a
        // removed doc's windows (no refcount — a window shared with a
        // surviving doc must stay), so appending past a removal
        // version would silently OVER-index; q126's doc-keyed grain
        // chain is the one that removes exactly
        case Some(prev)
            if Versioned.tableExists(spark, lakeBase, "documents_delta", v)
              && !Versioned.tableExists(
                spark, lakeBase, "documents_removed", v) =>
          // set union as ONE bucket-aligned full-outer join: both
          // sides hold distinct w (prev by construction, the delta by
          // its distinct pass), so FULL OUTER on w emits each window
          // exactly once — prev ∪ Δ with a SINGLE scan of the
          // standing side, no distinct pass, no union. The delta's
          // bucket hash is the only exchange (O(|delta|)); the join
          // output inherits hashpartitioning(w, buckets), so the
          // write appends bucket files without re-exchanging the
          // index. (An anti-join + union would be equivalent but
          // scans prev twice.)
          val deltaW = distinctWindowsOf(
            Versioned.readAt(spark, lakeBase, "documents_delta", v))
            .repartition(IndexBuckets, col("w"))
          prev.join(deltaW, Seq("w"), "full_outer").select(col("w"))
        case _ => distinctWindowsOf(
          Versioned.readAt(spark, lakeBase, "documents", v))
          .repartition(IndexBuckets, col("w"))
      }
  }

  // --------------------------------------------------------------- q114
  /** Incremental maintenance of the SIGNATURE index — [[q113IncrWindowIndex]]'s
    * pattern applied to the second artifact family the r13 verdict
    * named. Simpler than the window case because the signature table
    * is doc-KEYED, one row per document: with an additive corpus
    * (disjoint doc_ids per delta — the versioned-lake ingest contract)
    * the merge is a pure APPEND, `index(v) = index(v−1) ∪
    * signatures(delta)`, no distinct pass at all. Cost per version:
    * the shingle→minhash→band pipeline runs over DELTA rows only
    * (map-only, no shuffle), plus rewriting the artifact — and since
    * nothing de-duplicates, even the rewrite could become an
    * append-only partition add under the same index root at scale;
    * write-once artifacts are kept here because they make version
    * time-travel trivial. Oracle: q18's signature SQL verbatim — the
    * from-scratch table over the full corpus, row-for-row. */
  def q114IncrSignatureIndex(spark: SparkSession, dir: String): DataFrame = {
    val base = versionedCorpus(spark, dir)
    signatureIndexAt(spark, base, 1L) // v1 first — see q113
    signatureIndexAt(spark, base, 2L).orderBy(col("doc_id"))
  }

  private[graft] def signatureIndexArtifact(lakeBase: String, v: Long)
      : String = s"$lakeBase-sig-v$v"

  /** The signature index of the lake's documents AT version `v`,
    * incrementally maintained ([[q114IncrSignatureIndex]]'s engine). */
  private[graft] def signatureIndexAt(spark: SparkSession, lakeBase: String,
      v: Long): DataFrame =
    graft.sources.ArtifactStore.readOrPublish(
      spark, signatureIndexArtifact(lakeBase, v))(
      incrementalSignatureFrame(spark, lakeBase, v))

  /** Maintenance frame behind [[signatureIndexAt]] — append of the
    * delta's signatures (see [[q114IncrSignatureIndex]]) and, like
    * the grain chain (q126), tombstoned REMOVAL: the signature table
    * is one doc-keyed row per document, so anti-joining a version's
    * `documents_removed` table deletes a removed doc's entire LSH
    * presence — it can never again band-collide with anything. Same
    * fallback discipline as [[incrementalWindowFrame]]. */
  private[graft] def incrementalSignatureFrame(spark: SparkSession,
      lakeBase: String, v: Long): DataFrame = {
    import graft.sources.{ArtifactStore, Versioned}
    val hasDelta = Versioned.tableExists(spark, lakeBase, "documents_delta", v)
    val hasRemoved =
      Versioned.tableExists(spark, lakeBase, "documents_removed", v)
    ArtifactStore.readIfPresent(spark, signatureIndexArtifact(lakeBase, v - 1))
      match {
        case Some(prev) if hasDelta || hasRemoved =>
          val kept = if (hasRemoved)
            prev.join(
              Versioned.readAt(spark, lakeBase, "documents_removed", v)
                .select(col("doc_id")), Seq("doc_id"), "left_anti")
          else prev
          if (hasDelta)
            kept.unionByName(minhashSignatures(
              Versioned.readAt(spark, lakeBase, "documents_delta", v)))
          else kept
        case _ => minhashSignatures(
          Versioned.readAt(spark, lakeBase, "documents", v))
      }
  }

  // --------------------------------------------------------------- q119
  /** Incremental maintenance of the duplicate-CLUSTER assignment —
    * the q113/q114/q115 composition extended to the one derived
    * artifact that is neither a set union nor an append: a transitive
    * closure. The maintenance law exploits that contracting each
    * existing component to its root preserves connectivity:
    * `clusters(v) = CC(star(clusters(v−1)) ∪ pairs(Δv))`, where
    * `star` re-encodes the previous assignment as doc→root edges
    * (every cluster_id IS a member doc's id, so min-label over the
    * contracted graph equals min-label over the full history of
    * edges), and `pairs(Δv)` are the LSH pairs with at least one
    * endpoint in the delta — standing↔standing pairs were all found in
    * earlier versions, so the band join probes the signature index
    * with the delta batch only (|Δ|·occupancy, never Σ bucket² over
    * the corpus). A delta doc similar to members of TWO previously
    * separate clusters correctly MERGES them — the case a naive
    * "assign new docs to nearest existing cluster" maintenance gets
    * wrong, pinned by a planted-bridge spec. Signatures come from the
    * incrementally-maintained [[signatureIndexAt]] chain, so the whole
    * path reads artifacts + the change table — the corpus is never
    * re-scanned (file-exact in the spec). Fallback discipline as the
    * rest of the family: no previous assignment or no change table ⇒
    * full rebuild, never silent under-clustering. */
  def q119IncrClusters(spark: SparkSession, dir: String): DataFrame = {
    val base = versionedCorpus(spark, dir)
    clusterAssignmentAt(spark, base, 1L) // v1 first — see q113
    clusterAssignmentAt(spark, base, 2L).orderBy(col("doc_id"))
  }

  private[graft] def clusterArtifact(lakeBase: String, v: Long): String =
    s"$lakeBase-cc-v$v"

  /** The cluster assignment of the lake's documents AT version `v`,
    * incrementally maintained ([[q119IncrClusters]]'s engine). */
  private[graft] def clusterAssignmentAt(spark: SparkSession,
      lakeBase: String, v: Long): DataFrame =
    graft.sources.ArtifactStore.readOrPublish(
      spark, clusterArtifact(lakeBase, v))(
      incrementalClusterFrame(spark, lakeBase, v))

  /** Maintenance frame behind [[clusterAssignmentAt]] — star-contract
    * the previous assignment, add the delta's pairs, re-run connected
    * components on the contracted graph (see [[q119IncrClusters]]). */
  private[graft] def incrementalClusterFrame(spark: SparkSession,
      lakeBase: String, v: Long): DataFrame = {
    import graft.sources.{ArtifactStore, Versioned}
    val sig = signatureIndexAt(spark, lakeBase, v)
    ArtifactStore.readIfPresent(spark, clusterArtifact(lakeBase, v - 1))
      match {
        // tombstones force the full rebuild: removing a doc can SPLIT
        // a cluster it bridged, and star-contraction is exactly the
        // operation that cannot undo a merge — appending past a
        // removal version would silently keep the removed doc's
        // connectivity (and its id as a possible min-label)
        case Some(prev)
            if Versioned.tableExists(spark, lakeBase, "documents_delta", v)
              && !Versioned.tableExists(
                spark, lakeBase, "documents_removed", v) =>
          val delta = Versioned.readAt(spark, lakeBase, "documents_delta", v)
            .select(col("doc_id"))
          val newPairs = candidatePairsFrom(sig, Some(delta))
            .select(col("doc_a").as("src"), col("doc_b").as("dst"))
          val starEdges = prev.filter(col("doc_id") =!= col("cluster_id"))
            .select(col("doc_id").as("src"), col("cluster_id").as("dst"))
          val verts = prev.select(col("doc_id").as("id"))
            .unionByName(delta.select(col("doc_id").as("id"))).distinct()
          graft.operators.ConnectedComponents.run(spark, verts,
              starEdges.unionByName(newPairs))
            .select(col("id").as("doc_id"), col("component").as("cluster_id"))
        case _ =>
          val pairs = candidatePairsFrom(sig)
            .select(col("doc_a").as("src"), col("doc_b").as("dst"))
          val verts = Versioned.readAt(spark, lakeBase, "documents", v)
            .select(col("doc_id").as("id"))
          graft.operators.ConnectedComponents.run(spark, verts, pairs)
            .select(col("id").as("doc_id"), col("component").as("cluster_id"))
      }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q18_minhash_lsh"   -> (q18MinhashLsh _),
    "q19_simhash"       -> (q19Simhash _),
    "q20_ngram_jaccard" -> (q20NgramJaccard _),
    "q41_dup_clusters"  -> (q41DupClusters _),
    "q42_dedup_corpus"  -> (q42DedupCorpus _),
    "q52_dedup_ranked"  -> (q52DedupRanked _),
    "q69_cluster_split" -> (q69ClusterSplit _),
    "q72_dup_degree"    -> (q72DupDegree _),
    "q73_source_dup_rate" -> (q73SourceDupRate _),
    "q76_delta_dedup"   -> (q76DeltaDedup _),
    "q78_containment"   -> (q78Containment _),
    "q81_source_overlap" -> (q81SourceOverlap _),
    "q85_fuzzy_match"   -> (q85FuzzyMatch _),
    "q86_bow_cosine"    -> (q86BowCosine _),
    "q94_entity_canon"  -> (q94EntityCanon _),
    "q97_delta_entity_canon" -> (q97DeltaEntityCanon _),
    "q99_cluster_cohesion" -> (q99ClusterCohesion _),
    "q105_dup_window_mass" -> (q105DupWindowMass _),
    "q106_dup_span_coverage" -> (q106DupSpanCoverage _),
    "q107_delta_window_mass" -> (q107DeltaWindowMass _),
    "q108_hashed_window_mass" -> (q108HashedWindowMass _),
    "q113_incr_window_index" -> (q113IncrWindowIndex _),
    "q114_incr_signature_index" -> (q114IncrSignatureIndex _),
    "q119_incr_clusters" -> (q119IncrClusters _))

  private val mhSelect = (0 until NumHashes).map(i =>
    s"list_min(list_transform(sh, x -> md5('$i#' || x))) AS mh$i").mkString(",\n |  ")

  /** The full shingle→minhash→band signature table in DuckDB — q18's
    * oracle, shared verbatim by q114 (whose Spark side must land on
    * exactly these rows through the incremental path). */
  private val q18OracleSql =
    s"""WITH w AS (
      | SELECT doc_id, string_split_regex(text, '\\s+') AS ws FROM documents),
      |sh AS (
      | SELECT doc_id, list_transform(range(1, len(ws) - 1),
      |   i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS sh FROM w),
      |mh AS (
      | SELECT doc_id,
      |  $mhSelect
      | FROM sh)
      |SELECT doc_id, mh0, mh1, mh2, mh3, mh4, mh5, mh6, mh7,
      | md5(mh0 || '|' || mh1) AS band0,
      | md5(mh2 || '|' || mh3) AS band1,
      | md5(mh4 || '|' || mh5) AS band2,
      | md5(mh6 || '|' || mh7) AS band3
      |FROM mh ORDER BY doc_id""".stripMargin

  /** Shared CTE chain for the cluster oracles: the full q18 signature
    * pipeline → band-bucket candidate pairs → estimated-Jaccard verify
    * (exactly [[minhashCandidatePairs]]) → undirected edges → recursive
    * reachability (`reach(a,b)` = b reachable from a; UNION dedups, so
    * the recursion terminates). min(b) per a IS the component. */
  private val clusterCtes: String = {
    val est = (0 until NumHashes)
      .map(i => s"(CASE WHEN sa.mh$i = sb.mh$i THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""w AS (
      | SELECT doc_id, string_split_regex(text, '\\s+') AS ws FROM documents),
      |sh AS (
      | SELECT doc_id, list_transform(range(1, len(ws) - 1),
      |   i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS sh FROM w),
      |mh AS (
      | SELECT doc_id,
      |  $mhSelect
      | FROM sh),
      |sig AS (
      | SELECT doc_id, mh0, mh1, mh2, mh3, mh4, mh5, mh6, mh7,
      |  md5(mh0 || '|' || mh1) AS band0, md5(mh2 || '|' || mh3) AS band1,
      |  md5(mh4 || '|' || mh5) AS band2, md5(mh6 || '|' || mh7) AS band3
      | FROM mh),
      |bands AS (
      | SELECT doc_id, band0 AS bucket FROM sig UNION ALL
      | SELECT doc_id, band1 FROM sig UNION ALL
      | SELECT doc_id, band2 FROM sig UNION ALL
      | SELECT doc_id, band3 FROM sig),
      |cand AS (
      | SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      | FROM bands a JOIN bands b
      |   ON a.bucket = b.bucket AND a.doc_id < b.doc_id),
      |pairs AS (
      | SELECT doc_a, doc_b FROM cand
      |  JOIN sig sa ON sa.doc_id = cand.doc_a
      |  JOIN sig sb ON sb.doc_id = cand.doc_b
      | WHERE ($est) / 8.0 >= 0.5),
      |edges AS (
      | SELECT doc_a AS s, doc_b AS d FROM pairs
      | UNION ALL SELECT doc_b, doc_a FROM pairs),
      |reach(a, b) AS (
      | SELECT doc_id, doc_id FROM documents
      | UNION
      | SELECT r.a, e.d FROM reach r JOIN edges e ON e.s = r.b)"""
      .stripMargin
  }

  /** The full closure replay — q41's oracle, shared verbatim by q119
    * (whose incremental path must land on exactly these rows). */
  private val q41OracleSql: String =
    s"""WITH RECURSIVE $clusterCtes
      |SELECT a AS doc_id, CAST(min(b) AS BIGINT) AS cluster_id
      |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin

  /** Estimated-Jaccard term over aliases `sa`/`sb` — shared by the
    * clusterCtes verify and the q76 delta verify. */
  private val estSql = (0 until NumHashes)
    .map(i => s"(CASE WHEN sa.mh$i = sb.mh$i THEN 1 ELSE 0 END)")
    .mkString(" + ")

  val oracle: Map[String, String] = Map(
    // q85: DuckDB levenshtein = Spark levenshtein (unit-cost edit
    // distance); blocking key = LAST token, total on one-word names
    "q85_fuzzy_match" ->
      """WITH nm AS (
        | SELECT p_name,
        |  list_extract(string_split(p_name, ' '), -1) AS blk,
        |  COUNT(*) AS n_parts
        | FROM part GROUP BY p_name)
        |SELECT a.p_name AS name_a, b.p_name AS name_b,
        | CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS lev_dist,
        | a.n_parts AS n_parts_a, b.n_parts AS n_parts_b
        |FROM nm a JOIN nm b ON a.blk = b.blk AND a.p_name < b.p_name
        |WHERE levenshtein(a.p_name, b.p_name) <= 3
        |ORDER BY name_a, name_b""".stripMargin,
    // q99: the shared cluster CTE chain + per-pair est recomputed from
    // the sig CTE; mean is SUM/COUNT over exact dyadic rationals
    "q99_cluster_cohesion" ->
      s"""WITH RECURSIVE $clusterCtes,
        |c AS (
        | SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a),
        |pe AS (
        | SELECT p.doc_a, p.doc_b, ($estSql) / 8.0 AS est
        | FROM pairs p
        | JOIN sig sa ON sa.doc_id = p.doc_a
        | JOIN sig sb ON sb.doc_id = p.doc_b),
        |sz AS (
        | SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members
        | FROM c GROUP BY cluster_id)
        |SELECT c.cluster_id, sz.n_members,
        | CAST(COUNT(*) AS BIGINT) AS n_edges,
        | MIN(pe.est) AS min_est,
        | SUM(pe.est) / COUNT(*) AS mean_est,
        | MAX(pe.est) AS max_est
        |FROM pe
        |JOIN c ON c.doc_id = pe.doc_a
        |JOIN sz USING (cluster_id)
        |GROUP BY c.cluster_id, sz.n_members
        |ORDER BY c.cluster_id""".stripMargin,
    // q97: closure over the STANDING names only (the md5-uniform
    // name-seeded split), then the delta's block join + lev verify
    "q97_delta_entity_canon" ->
      s"""WITH RECURSIVE nm AS (
        | SELECT p_name,
        |  list_extract(string_split(p_name, ' '), -1) AS blk
        | FROM part GROUP BY p_name),
        |fresh AS (
        | SELECT p_name, blk FROM nm
        | WHERE (${TextOps.md5UniformSql("p_name")}) < 0.1),
        |standing AS (
        | SELECT p_name, blk FROM nm
        | WHERE NOT ((${TextOps.md5UniformSql("p_name")}) < 0.1)),
        |m AS (
        | SELECT a.p_name AS s, b.p_name AS d
        | FROM standing a JOIN standing b
        |   ON a.blk = b.blk AND a.p_name < b.p_name
        | WHERE levenshtein(a.p_name, b.p_name) <= 3),
        |edges AS (
        | SELECT s, d FROM m UNION ALL SELECT d, s FROM m),
        |reach(a, b) AS (
        | SELECT p_name, p_name FROM standing
        | UNION
        | SELECT r.a, e.d FROM reach r JOIN edges e ON e.s = r.b),
        |c AS (
        | SELECT a AS p_name, MIN(b) AS canon_name FROM reach GROUP BY a),
        |blocked AS (
        | SELECT f.p_name, s.p_name AS ref_name
        | FROM fresh f JOIN standing s ON f.blk = s.blk),
        |ncand AS (
        | SELECT p_name, CAST(COUNT(*) AS BIGINT) AS n_candidates
        | FROM blocked GROUP BY p_name),
        |verified AS (
        | SELECT blocked.p_name, MIN(c.canon_name) AS match_canon
        | FROM blocked JOIN c ON c.p_name = blocked.ref_name
        | WHERE levenshtein(blocked.p_name, blocked.ref_name) <= 3
        | GROUP BY blocked.p_name)
        |SELECT f.p_name,
        | CAST(COALESCE(n.n_candidates, 0) AS BIGINT) AS n_candidates,
        | CAST(CASE WHEN v.p_name IS NULL THEN 0 ELSE 1 END AS BIGINT)
        |   AS is_known,
        | COALESCE(v.match_canon, f.p_name) AS canon_name
        |FROM fresh f
        |LEFT JOIN ncand n USING (p_name)
        |LEFT JOIN verified v USING (p_name)
        |ORDER BY f.p_name""".stripMargin,
    // q94: the q85 match CTE as edges, recursive reachability, MIN
    // over the component = the row_number-min contract
    "q94_entity_canon" ->
      """WITH RECURSIVE nm AS (
        | SELECT p_name,
        |  list_extract(string_split(p_name, ' '), -1) AS blk
        | FROM part GROUP BY p_name),
        |m AS (
        | SELECT a.p_name AS s, b.p_name AS d
        | FROM nm a JOIN nm b ON a.blk = b.blk AND a.p_name < b.p_name
        | WHERE levenshtein(a.p_name, b.p_name) <= 3),
        |edges AS (
        | SELECT s, d FROM m UNION ALL SELECT d, s FROM m),
        |reach(a, b) AS (
        | SELECT p_name, p_name FROM nm
        | UNION
        | SELECT r.a, e.d FROM reach r JOIN edges e ON e.s = r.b),
        |c AS (
        | SELECT a AS p_name, MIN(b) AS canon_name FROM reach GROUP BY a)
        |SELECT c.p_name, c.canon_name,
        | CAST(cnt.n AS BIGINT) AS n_cluster_names
        |FROM c JOIN (
        | SELECT canon_name, COUNT(*) AS n FROM c GROUP BY canon_name) cnt
        | USING (canon_name)
        |ORDER BY c.p_name""".stripMargin,
    // q86: shared candidate CTE; tf from the same regex split as the
    // shingle chain; HUGEINT cross-multiplication mirrors Spark's
    // decimal(38,0) — both exact in the documented domain
    "q86_bow_cosine" ->
      s"""WITH RECURSIVE $clusterCtes,
        |tf AS (
        | SELECT doc_id, token, COUNT(*) AS tf
        | FROM (SELECT doc_id, unnest(ws) AS token FROM w)
        | GROUP BY doc_id, token),
        |nrm AS (
        | SELECT doc_id, CAST(SUM(tf * tf) AS BIGINT) AS norm2
        | FROM tf GROUP BY doc_id),
        |dots AS (
        | SELECT cand.doc_a, cand.doc_b,
        |  CAST(SUM(a.tf * b.tf) AS BIGINT) AS dot
        | FROM cand
        | JOIN tf a ON a.doc_id = cand.doc_a
        | JOIN tf b ON b.doc_id = cand.doc_b AND b.token = a.token
        | GROUP BY cand.doc_a, cand.doc_b)
        |SELECT cand.doc_a, cand.doc_b, COALESCE(d.dot, 0) AS dot,
        | na.norm2 AS norm2_a, nb.norm2 AS norm2_b,
        | CAST(CASE WHEN 25 * CAST(COALESCE(d.dot, 0) AS HUGEINT)
        |                   * COALESCE(d.dot, 0)
        |        >= 16 * CAST(na.norm2 AS HUGEINT) * nb.norm2
        |      THEN 1 ELSE 0 END AS BIGINT) AS is_dup
        |FROM cand
        |LEFT JOIN dots d ON d.doc_a = cand.doc_a AND d.doc_b = cand.doc_b
        |JOIN nrm na ON na.doc_id = cand.doc_a
        |JOIN nrm nb ON nb.doc_id = cand.doc_b
        |ORDER BY cand.doc_a, cand.doc_b""".stripMargin,
    // q76: the q18 signature chain, split 10/90 by the ONE md5-uniform
    // key, delta bands joined to corpus bands only — the unreferenced
    // bands/cand/pairs/edges/reach CTEs in the shared chain are never
    // executed
    "q76_delta_dedup" ->
      s"""WITH $clusterCtes,
        |spl AS (
        | SELECT sig.*, (${TextOps.md5UniformSql("doc_id")}) < 0.1 AS is_delta
        | FROM sig),
        |dbands AS (
        | SELECT doc_id, band0 AS bucket FROM spl WHERE is_delta UNION ALL
        | SELECT doc_id, band1 FROM spl WHERE is_delta UNION ALL
        | SELECT doc_id, band2 FROM spl WHERE is_delta UNION ALL
        | SELECT doc_id, band3 FROM spl WHERE is_delta),
        |cbands AS (
        | SELECT doc_id, band0 AS bucket FROM spl WHERE NOT is_delta UNION ALL
        | SELECT doc_id, band1 FROM spl WHERE NOT is_delta UNION ALL
        | SELECT doc_id, band2 FROM spl WHERE NOT is_delta UNION ALL
        | SELECT doc_id, band3 FROM spl WHERE NOT is_delta),
        |candd AS (
        | SELECT DISTINCT d.doc_id AS doc_id, c.doc_id AS ref_id
        | FROM dbands d JOIN cbands c ON d.bucket = c.bucket),
        |verd AS (
        | SELECT candd.doc_id, MIN(candd.ref_id) AS dup_of
        | FROM candd
        |  JOIN spl sa ON sa.doc_id = candd.doc_id
        |  JOIN spl sb ON sb.doc_id = candd.ref_id
        | WHERE ($estSql) / 8.0 >= 0.5
        | GROUP BY candd.doc_id),
        |ncd AS (
        | SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_candidates
        | FROM candd GROUP BY doc_id)
        |SELECT s.doc_id,
        | CAST(COALESCE(ncd.n_candidates, 0) AS BIGINT) AS n_candidates,
        | CAST(verd.dup_of IS NOT NULL AS BIGINT) AS is_dup,
        | verd.dup_of
        |FROM spl s
        | LEFT JOIN ncd ON ncd.doc_id = s.doc_id
        | LEFT JOIN verd ON verd.doc_id = s.doc_id
        |WHERE s.is_delta ORDER BY s.doc_id""".stripMargin,
    // q81: the shared chain's VERIFIED pairs (est >= 0.5, exactly
    // minhashCandidatePairs' default), rolled up by unordered source
    "q81_source_overlap" ->
      s"""WITH $clusterCtes,
        |sp AS (SELECT doc_id, source FROM documents)
        |SELECT least(a.source, b.source) AS source_x,
        | greatest(a.source, b.source) AS source_y,
        | CAST(COUNT(*) AS BIGINT) AS n_pairs
        |FROM pairs
        | JOIN sp a ON a.doc_id = pairs.doc_a
        | JOIN sp b ON b.doc_id = pairs.doc_b
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q78: candidate pairs from the shared chain, exact distinct-3-gram
    // containment per side
    "q78_containment" ->
      s"""WITH $clusterCtes,
        |sets AS (
        | SELECT doc_id, list_distinct(sh) AS s FROM sh)
        |SELECT cand.doc_a, cand.doc_b,
        | CAST(len(sa.s) AS BIGINT) AS n_a,
        | CAST(len(sb.s) AS BIGINT) AS n_b,
        | CAST(len(list_intersect(sa.s, sb.s)) AS BIGINT) AS n_common,
        | CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
        |   / CAST(len(sa.s) AS DOUBLE) AS containment_a,
        | CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
        |   / CAST(len(sb.s) AS DOUBLE) AS containment_b
        |FROM cand
        | JOIN sets sa ON sa.doc_id = cand.doc_a
        | JOIN sets sb ON sb.doc_id = cand.doc_b
        |ORDER BY cand.doc_a, cand.doc_b""".stripMargin,
    "q18_minhash_lsh" -> q18OracleSql,
    // q114 shares q18's oracle VERBATIM: the from-scratch signature
    // table over the full corpus. The Spark side arrives at the same
    // rows via index(2) = append(index(1), signatures(delta)), so the
    // row-for-row hash check proves the incremental signature
    // maintenance is value-identical to a full rebuild.
    "q114_incr_signature_index" -> q18OracleSql,
    // FNV-1a 64 + lane voting, exactly SimHash64.hash64: token bytes come
    // from hex(encode(tok)) (true UTF-8 octets, not codepoints); the
    // mod-2^64 multiply stays exact because h < 2^64 and the 41-bit FNV
    // prime keep the product under HUGEINT's 2^127 ceiling. The final
    // HUGEINT→BIGINT reinterpretation mirrors the JVM's signed 64-bit
    // overflow.
    "q19_simhash" ->
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS ws FROM documents),
        |h AS (
        |  SELECT doc_id, list_transform(ws, tok ->
        |    list_reduce(
        |      list_prepend(14695981039346656037::HUGEINT,
        |        list_transform(range(1, octet_length(encode(tok)) + 1),
        |          i -> (16*(strpos('0123456789ABCDEF', substr(hex(encode(tok)), 2*i-1, 1))-1)
        |                 + strpos('0123456789ABCDEF', substr(hex(encode(tok)), 2*i, 1))-1)::HUGEINT)),
        |      (acc, b) -> (xor(acc::UBIGINT, b::UBIGINT)::HUGEINT * 1099511628211::HUGEINT)
        |                   % 18446744073709551616::HUGEINT)) AS hs
        |  FROM w),
        |lanes AS (
        |  SELECT doc_id, b.b AS b,
        |    sum(CASE WHEN ((th.h::UBIGINT >> b.b) & 1) = 1 THEN 1 ELSE -1 END) AS lane
        |  FROM h, unnest(h.hs) AS th(h), range(0, 64) AS b(b)
        |  GROUP BY doc_id, b.b),
        |sim AS (
        |  SELECT doc_id,
        |    sum(CASE WHEN lane > 0 THEN (1::UBIGINT << b)::HUGEINT ELSE 0::HUGEINT END) AS u
        |  FROM lanes GROUP BY doc_id)
        |SELECT doc_id,
        |  CAST(CASE WHEN u >= 9223372036854775808::HUGEINT
        |       THEN u - 18446744073709551616::HUGEINT ELSE u END AS BIGINT) AS simhash,
        |  hex(CAST(u AS UBIGINT)) AS simhash_hex
        |FROM sim ORDER BY doc_id""".stripMargin,
    "q20_ngram_jaccard" ->
      """WITH d AS (
        | SELECT doc_id, list_distinct(string_split_regex(text, '\s+')) AS w
        | FROM documents)
        |SELECT a.doc_id AS doc_id, b.doc_id AS next_doc_id,
        | len(list_filter(a.w, x -> list_contains(b.w, x))) AS n_shared,
        | len(a.w) + len(b.w) - len(list_filter(a.w, x -> list_contains(b.w, x))) AS n_union,
        | CAST(len(list_filter(a.w, x -> list_contains(b.w, x))) AS DOUBLE)
        |  / CAST(len(a.w) + len(b.w) - len(list_filter(a.w, x -> list_contains(b.w, x))) AS DOUBLE) AS jaccard
        |FROM d a JOIN d b ON b.doc_id = a.doc_id + 1
        |ORDER BY doc_id""".stripMargin,
    "q41_dup_clusters" -> q41OracleSql,
    // q119: the incremental chain must land on exactly the full
    // recompute, so the oracle IS q41's from-scratch definition — the
    // whole transitive closure rebuilt over the complete corpus
    // (shared val, the q18/q48/q101 can't-drift-apart discipline)
    "q119_incr_clusters" -> q41OracleSql,
    "q42_dedup_corpus" ->
      s"""WITH RECURSIVE $clusterCtes,
        |clus AS (SELECT a, min(b) AS m FROM reach GROUP BY a)
        |SELECT d.doc_id, md5(d.text) AS text_md5
        |FROM documents d JOIN clus ON clus.a = d.doc_id
        |WHERE clus.a = clus.m ORDER BY d.doc_id""".stripMargin,
    // q14's quality score inlined (same stopword list, same rational
    // arithmetic); argmax per cluster via row_number(score DESC, id).
    "q52_dedup_ranked" ->
      s"""WITH RECURSIVE $clusterCtes,
        |clus AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a),
        |qs AS (
        | SELECT doc_id,
        |  (1.0 - CAST(len(list_filter(t.w, x -> x IN ('the','a','and','of','to','in','is','it'))) AS DOUBLE)
        |         / CAST(len(t.w) AS DOUBLE))
        |    * (CAST(least(len(t.w), 100) AS DOUBLE) / 100.0) AS quality_score
        | FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS w
        |       FROM documents) t),
        |r AS (
        | SELECT clus.cluster_id, qs.doc_id, qs.quality_score,
        |  ROW_NUMBER() OVER (PARTITION BY clus.cluster_id
        |    ORDER BY qs.quality_score DESC, qs.doc_id) AS rn,
        |  COUNT(*) OVER (PARTITION BY clus.cluster_id) AS n_members
        | FROM clus JOIN qs ON qs.doc_id = clus.doc_id)
        |SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
        | CAST(doc_id AS BIGINT) AS rep_doc_id, quality_score,
        | CAST(n_members AS BIGINT) AS n_members
        |FROM r WHERE rn = 1 ORDER BY cluster_id""".stripMargin,
    // the ONE md5-uniform key replay (TextOps.md5UniformSql), seeded
    // from the CLUSTER id
    "q69_cluster_split" ->
      s"""WITH RECURSIVE $clusterCtes,
        |clus AS (SELECT a AS doc_id, CAST(min(b) AS BIGINT) AS cluster_id
        |         FROM reach GROUP BY a),
        |k AS (
        | SELECT doc_id, cluster_id,
        |  ${TextOps.md5UniformSql("cluster_id")} AS split_key
        | FROM clus)
        |SELECT doc_id, cluster_id, split_key,
        | CASE WHEN split_key < 0.90 THEN 'train'
        |      WHEN split_key < 0.95 THEN 'val' ELSE 'test' END AS split
        |FROM k ORDER BY doc_id""".stripMargin,
    // degree over the shared verified-pair CTE (reach goes unused and
    // unplanned); COALESCE(…, 0) mirrors Spark's left-join + fill
    "q72_dup_degree" ->
      s"""WITH RECURSIVE $clusterCtes,
        |deg AS (
        | SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS degree FROM (
        |  SELECT doc_a AS doc_id FROM pairs
        |  UNION ALL SELECT doc_b FROM pairs)
        | GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(deg.degree, 0) AS degree
        |FROM documents d LEFT JOIN deg ON deg.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "q73_source_dup_rate" ->
      s"""WITH RECURSIVE $clusterCtes,
        |clus AS (SELECT a AS doc_id, min(b) AS cluster_id
        |         FROM reach GROUP BY a),
        |sizes AS (SELECT cluster_id, COUNT(*) AS csize
        |          FROM clus GROUP BY cluster_id)
        |SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        | CAST(COUNT(CASE WHEN s.csize > 1 THEN 1 END) AS BIGINT)
        |   AS n_dup_docs,
        | CAST(COUNT(CASE WHEN s.csize > 1 THEN 1 END) AS DOUBLE)
        |   / CAST(COUNT(*) AS DOUBLE) AS dup_rate
        |FROM documents d
        |JOIN clus ON clus.doc_id = d.doc_id
        |JOIN sizes s ON s.cluster_id = clus.cluster_id
        |GROUP BY d.source ORDER BY d.source""".stripMargin,
    // q105: same sliding-window relational plan, 1-based substr; pd is
    // already one row per (w, doc), so its count(*) IS the
    // distinct-doc degree
    "q105_dup_window_mass" ->
      """WITH g AS (
        | SELECT doc_id, unnest(list_transform(
        |   range(1, greatest(length(text) - 39, 0) + 1),
        |   i -> substr(text, i, 40))) AS w
        | FROM documents),
        |pd AS (
        | SELECT w, doc_id, count(*) AS cnt FROM g GROUP BY w, doc_id),
        |nd AS (SELECT w FROM pd GROUP BY w HAVING count(*) >= 2),
        |dp AS (
        | SELECT pd.doc_id, SUM(pd.cnt) AS dup_windows
        | FROM pd JOIN nd USING (w) GROUP BY pd.doc_id)
        |SELECT d.doc_id,
        | CAST(greatest(length(d.text) - 39, 0) AS BIGINT) AS n_windows,
        | CAST(coalesce(dp.dup_windows, 0) AS BIGINT) AS dup_windows
        |FROM documents d LEFT JOIN dp USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // q106: positions are 1-based here, 0-based in Spark — only
    // DIFFERENCES (nxt − i) enter the arithmetic, so the bases cancel
    "q106_dup_span_coverage" ->
      """WITH p AS (
        | SELECT doc_id, text,
        |  unnest(range(1, greatest(length(text) - 39, 0) + 1)) AS i
        | FROM documents),
        |g AS (SELECT doc_id, i, substr(text, i, 40) AS w FROM p),
        |nd AS (
        | SELECT w FROM (SELECT w, doc_id FROM g GROUP BY w, doc_id)
        | GROUP BY w HAVING count(*) >= 2),
        |dp AS (SELECT g.doc_id, g.i FROM g JOIN nd USING (w)),
        |cov AS (
        | SELECT doc_id,
        |  SUM(least(coalesce(nxt - i, 40), 40)) AS covered
        | FROM (SELECT doc_id, i,
        |        lead(i) OVER (PARTITION BY doc_id ORDER BY i) AS nxt
        |       FROM dp)
        | GROUP BY doc_id)
        |SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS n_chars,
        | CAST(coalesce(cov.covered, 0) AS BIGINT) AS covered_chars
        |FROM documents d LEFT JOIN cov USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // q107: the md5-uniform split (TextOps.md5UniformSql, the shared
    // cross-engine key) partitions documents; the standing side
    // collapses to DISTINCT windows — exactly the persisted index —
    // and fresh positions count via the join
    "q107_delta_window_mass" ->
      s"""WITH keyed AS (
        | SELECT doc_id, text,
        |  (${TextOps.md5UniformSql("doc_id")}) < 0.1 AS is_fresh
        | FROM documents),
        |sw AS (
        | SELECT DISTINCT unnest(list_transform(
        |   range(1, greatest(length(text) - 39, 0) + 1),
        |   i -> substr(text, i, 40))) AS w
        | FROM keyed WHERE NOT is_fresh),
        |fg AS (
        | SELECT doc_id, unnest(list_transform(
        |   range(1, greatest(length(text) - 39, 0) + 1),
        |   i -> substr(text, i, 40))) AS w
        | FROM keyed WHERE is_fresh),
        |dp AS (
        | SELECT fg.doc_id, count(*) AS dup_windows
        | FROM fg JOIN sw USING (w) GROUP BY fg.doc_id)
        |SELECT f.doc_id,
        | CAST(greatest(length(f.text) - 39, 0) AS BIGINT) AS n_windows,
        | CAST(coalesce(dp.dup_windows, 0) AS BIGINT) AS dup_windows
        |FROM (SELECT doc_id, text FROM keyed WHERE is_fresh) f
        |LEFT JOIN dp USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // q108: the rolling hash replayed positionally — Σ ord·B^(K−1−j)
    // mod 2^61−1 per window, HUGEINT intermediates (terms < 2^82, sum
    // < 2^88), powers inlined from the SAME Scala constants
    "q108_hashed_window_mass" ->
      s"""WITH g AS (
        | SELECT doc_id, unnest(list_transform(
        |   range(1, greatest(length(text) - 39, 0) + 1),
        |   i -> substr(text, i, 40))) AS w
        | FROM documents),
        |h AS (
        | SELECT doc_id,
        |  CAST(list_sum(list_transform(range(1, 41),
        |    j -> (${graft.functions.WindowHash61.duckdbPowersLiteral}[j]
        |          * CAST(ord(substr(w, j, 1)) AS HUGEINT))
        |         % 2305843009213693951))
        |   % 2305843009213693951 AS BIGINT) AS hw
        | FROM g),
        |pd AS (
        | SELECT hw, doc_id, count(*) AS cnt FROM h GROUP BY hw, doc_id),
        |nd AS (SELECT hw FROM pd GROUP BY hw HAVING count(*) >= 2),
        |dp AS (
        | SELECT pd.doc_id, SUM(pd.cnt) AS dup_windows
        | FROM pd JOIN nd USING (hw) GROUP BY pd.doc_id)
        |SELECT d.doc_id,
        | CAST(greatest(length(d.text) - 39, 0) AS BIGINT) AS n_windows,
        | CAST(coalesce(dp.dup_windows, 0) AS BIGINT) AS dup_windows
        |FROM documents d LEFT JOIN dp USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // q113: the oracle IS the from-scratch definition — the distinct-
    // window digest computed directly over the FULL corpus. The Spark
    // side arrives at the same set via index(2) = merge(index(1),
    // windows(delta)), so hash equality here proves the incremental
    // maintenance is value-identical to a full rebuild. hk is the
    // md5-prefix long (q109/q112's engine-neutral key family).
    "q113_incr_window_index" ->
      """WITH w AS (
        | SELECT DISTINCT unnest(list_transform(
        |   range(1, greatest(length(text) - 39, 0) + 1),
        |   i -> substr(text, i, 40))) AS w
        | FROM documents),
        |h AS (
        | SELECT CAST(list_sum(list_transform(range(1, 9),
        |   i -> (strpos('0123456789abcdef', substr(md5(w), i, 1)) - 1)
        |        * (1::BIGINT << (4 * (8 - i))))) AS BIGINT) AS hk
        | FROM w)
        |SELECT CAST(count(*) AS BIGINT) AS n_windows,
        | CAST(sum(hk) AS BIGINT) AS sum_hk,
        | CAST(min(hk) AS BIGINT) AS min_hk,
        | CAST(max(hk) AS BIGINT) AS max_hk
        |FROM h""".stripMargin)
}
