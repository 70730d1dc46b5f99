package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * Always parquet + explicit path; schema comes from the files'
  * footers (columnar, self-describing) so scans get column pruning
  * and predicate pushdown for free. At 100 TB these would be
  * catalog tables partitioned on their date keys — the loader is the
  * single seam where that swap happens.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else readParquetCached(spark, s"$dir/$name.parquet")

  /** Footer-schema cache — the catalog seam the scaladoc above names,
    * applied to schema resolution. A bare-path `spark.read.parquet`
    * pays a footer-read JOB per plan for schema inference; across a
    * suite pass that is hundreds of ~50 ms jobs re-inferring schemas
    * that never change (guide §6 — the same reason catalog tables
    * resolve schema from the metastore, and §1.2 "per-task work": the
    * job floor, not the scan, is the cost at bench grain). Caches
    * METADATA ONLY (a StructType), keyed by the table's file listing
    * (path:length:mtime — [[fileFingerprint]], the ArtifactStore
    * staleness discipline): a regenerated table misses the key and
    * re-reads its footer. Every action still scans the parquet files;
    * results and file listings are never cached here. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, SchemaSlot]

  /** One key's footer schema, inferred at most once at a time: the
    * single flight is this slot's monitor, never the map's bin lock —
    * `computeIfAbsent` would hold that lock for the whole inference
    * JOB, so a miss on any key hashing to the same bin would wait
    * behind it (the [[graft.queries.TextOps]] memo's r15 finding).
    * Concurrent misses on one key run one job; different keys never
    * block each other; an inference that throws leaves the slot empty,
    * so the next call retries instead of caching the failure. */
  private final class SchemaSlot {
    private var schema: org.apache.spark.sql.types.StructType = _
    def get(infer: => org.apache.spark.sql.types.StructType)
        : org.apache.spark.sql.types.StructType = synchronized {
      if (schema == null) schema = infer
      schema
    }
  }

  /** Shared by the table loaders above and the artifact/lake readers
    * ([[graft.sources.ArtifactStore]]): one fingerprint-guarded schema
    * per path per JVM, fresh reader every call. */
  private[graft] def readParquetCached(spark: SparkSession, path: String)
      : DataFrame = {
    val key = s"$path@${fileFingerprint(spark, path)}"
    val schema = schemaCache.computeIfAbsent(key, _ => new SchemaSlot)
      .get(spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  /** `events.ts` has shipped in two generations of the testdata:
    * TIMESTAMP(NANOS) (which Spark's vectorized reader rejects — µs is
    * its max precision — so the legacy conf reads it as a raw nanos
    * long) and plain timestamp[us]. Branch on the type the footer
    * actually resolves to, not on an assumption: a long is nanos and
    * gets truncated to µs (matching DuckDB's µs semantics), a
    * timestamp passes through. Either way callers see one contract:
    * `ts: TimestampType` at µs precision. */
  private def events(spark: SparkSession, dir: String): DataFrame = {
    // the legacy conf must be live BEFORE schema resolution (it decides
    // whether a nanos ts resolves to long), and stays set for the scan
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventsTs(readParquetCached(spark, s"$dir/events.parquet"))
  }

  /** ts-layout adaptation shared by the batch and streaming loaders. */
  private[graft] def normalizeEventsTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // integer `div`, not `/`: ns epochs (~1.7e18) overflow double precision
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampType => df
      case _ =>
        // TIMESTAMP_NTZ: same µs instants; every session here runs UTC,
        // so the cast is a re-tag, not a clock shift
        df.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
    }

  /** Streaming twin of `events`: `readStream` needs an explicit schema,
    * so borrow the batch reader's footer-resolved one, then apply the
    * same ts adaptation. `path` may be the parquet file itself (file
    * streams list a directory, so a file streams its parent under a
    * glob) or a directory of arriving files. */
  def eventsStream(spark: SparkSession, path: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val f = new java.io.File(path)
    val (base, glob) =
      if (f.isFile) (f.getParent, Some(f.getName)) else (path, None)
    val schema = spark.read.parquet(path).schema
    val reader = spark.readStream.schema(schema)
    normalizeEventsTs(
      glob.fold(reader)(g => reader.option("pathGlobFilter", g)).parquet(base))
  }

  /** Register every table as a temp view so `spark.sql` queries and the
    * DuckDB oracle share one set of table names. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => apply(spark, dir, n).createOrReplaceTempView(n))

  /** Metadata fingerprint of a table path — md5 over every file's
    * (path, length, mtime). The content-address key for derived
    * artifacts (signature index, subword vocabulary): a changed table
    * produces a new key, so staleness is impossible by construction
    * and the check costs one listing, never a scan. */
  def fileFingerprint(spark: SparkSession, path: String): String = {
    import org.apache.hadoop.fs.Path
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val statuses =
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).sortBy(_.getPath.toString)
      else Array(fs.getFileStatus(p))
    val s = statuses
      .map(st => s"${st.getPath}:${st.getLen}:${st.getModificationTime}")
      .mkString("\n")
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }
}
