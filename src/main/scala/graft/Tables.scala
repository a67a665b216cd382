package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver testdata star schema (TESTDATA.md).
  *
  * Reference analog: the raw-zone reads in `jobs/vdt1.py:32-38` (CSV + ORC from a
  * lakeFS branch). Here everything is parquet at rest; CSV/ORC scan capabilities are
  * exercised by round-trip queries in [[graft.ops.Relational]].
  */
object Tables {
  /** Inferred schemas of the (immutable, read-only) testdata files, one
    * footer-inference pass per path per JVM (r22, guide §1 "know your
    * data" — the same class as the fixed DV-parquet schema): every
    * subsequent read passes the schema explicitly, so Spark never re-runs
    * the per-read schema-inference job these loaders paid on EVERY call.
    * Metadata only (a StructType keyed by path), dies with the process —
    * no result or row ever crosses runs. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val cached = schemaCache.get(path)
    if (cached != null) spark.read.schema(cached).parquet(path)
    else {
      val df = spark.read.parquet(path)
      schemaCache.putIfAbsent(path, df.schema)
      df
    }
  }

  def region(s: SparkSession, d: String): DataFrame     = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = t(s, d, "lineitem")
  /** events.parquet has shipped with two physical `ts` layouts across driver
    * testdata generations: TIMESTAMP(NANOS) — which Spark 4 refuses by
    * default, so we read nanos as long (legacy conf) and rebuild microseconds,
    * the same truncation DuckDB applies — and plain timestamp[us], which Spark
    * reads natively (as NTZ when the parquet lacks isAdjustedToUTC). Normalize
    * both to a session-UTC TimestampType column so every downstream window /
    * as-of / resample query sees one type regardless of the data generation. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventsTs(t(s, d, "events"))
  }

  /** Normalize the `ts` column to TimestampType (see [[events]]); under the
    * UTC session zone the NTZ→LTZ cast is value-preserving. */
  def normalizeEventsTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampType}
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => df
      case _ => df.withColumn("ts", col("ts").cast(TimestampType)) // NTZ layout
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")

  /** Round-robin spread for CPU-heavy per-row kernels (shingling, minhash,
    * token windows, tokenize+explode) over frames that often arrive as 1-2
    * input splits: AT LEAST one partition per core — so the per-byte work
    * never serializes on a couple of cores — and GROWING with input size
    * (~64 MB per task, bounded) so the partition count is scale-adaptive
    * rather than a core-count constant (guide §2.2/§2.5: a fixed
    * `repartition(defaultParallelism)` puts ~TBs into each task at 100 TB,
    * and a task is the unit of retry/straggler mitigation). The size comes
    * from the optimizer's driver-side estimate (file sizes for scans —
    * free); an UNKNOWN estimate (Catalyst's Long.MaxValue default
    * propagates multiplicatively through joins) falls back to the per-core
    * floor rather than minting millions of empty tasks. */
  private[graft] def spreadForCompute(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val unknown = bytes <= 0 || bytes >= BigInt(Long.MaxValue) / 4
    val perTask = 64L << 20
    val byData =
      if (unknown) 1L
      else ((bytes + perTask - 1) / perTask).min(BigInt(1 << 18)).toLong
    df.repartition(math.max(sc.defaultParallelism.toLong, byData).toInt)
  }

  /** This JVM's scratch root, `<tmpdir>/graft_scratch/<pid>-<random>`, so two
    * JVMs on one tmpdir never delete each other's tables; removed at exit. */
  private lazy val scratchRoot: java.nio.file.Path = {
    val p = java.nio.file.Paths.get(sys.props.getOrElse("java.io.tmpdir", "/tmp"),
      "graft_scratch", s"${ProcessHandle.current.pid}-${java.util.UUID.randomUUID.toString.take(8)}")
    sys.addShutdownHook(scala.util.Try(deleteRecursively(p)))
    p
  }

  /** Scratch dir for sink round-trips and versioned-table roots (one path per
    * name within a JVM). Deletes any stale dir from an earlier use so Spark's
    * default ErrorIfExists mode (and our versioned-table layer, which requires
    * a fresh root) never collides with leftover state. */
  def scratch(name: String): String = {
    val p = scratchRoot.resolve(name)
    deleteRecursively(p)
    java.nio.file.Files.createDirectories(p.getParent)
    p.toString
  }

  /** Delete `p` and everything under it. Retried for up to a second: the
    * killed tasks of a just-failed write job can still be creating or
    * removing their attempt files under `p` while the walk runs. */
  def deleteRecursively(p: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    def attempt(left: Int): Unit =
      try if (Files.exists(p)) {
        val stream = Files.walk(p)
        try stream.sorted(java.util.Comparator.reverseOrder())
          .forEach(f => Files.deleteIfExists(f))
        finally stream.close()
      } catch {
        case _: java.io.IOException | _: java.io.UncheckedIOException if left > 0 =>
          Thread.sleep(50); attempt(left - 1)
      }
    attempt(20)
  }
}
