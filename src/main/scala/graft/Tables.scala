package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Loaders for the driver-generated TPC-H-ish corpus (TESTDATA.md).
  *
  * All queries read straight from parquet so Catalyst can push filters and
  * prune columns at the scan (verified via `.explain("formatted")`); nothing
  * is cached driver-side, so the same code paths hold at 100 TB.
  *
  * The loaders are defensive about testdata regeneration: critical column
  * types are asserted at load with one clear "testdata schema changed"
  * message, and `events.ts` adapts to either encoding the driver has shipped
  * (legacy parquet TIMESTAMP(NANOS) vs current timestamp[us]).
  */
object Tables {
  val all: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** How `events.ts` is physically encoded on disk. */
  sealed trait TsEncoding
  /** Parquet TIMESTAMP(NANOS): Spark's reader rejects it unless
    * spark.sql.legacy.parquet.nanosAsLong=true maps it to a nanosecond
    * long. */
  case object TsLegacyNanos extends TsEncoding
  /** A type the default reader accepts (timestamp[us] → Timestamp(NTZ)Type,
    * or a plain int64 if a future regen writes raw longs). */
  final case class TsNative(t: DataType) extends TsEncoding

  /** Probe the on-disk encoding of `ts` by asking the default reader for
    * the schema (footer-only — no data read). Only the NANOS rejection is
    * caught; any other failure (missing file, corrupt footer) propagates. */
  def eventsTsEncoding(spark: SparkSession, path: String): TsEncoding =
    try {
      val schema = spark.read.parquet(path).schema
      val f = schema.find(_.name == "ts").getOrElse(throw new IllegalStateException(
        s"testdata schema changed: events at $path has no `ts` column " +
          s"(found ${schema.fieldNames.mkString(", ")})"))
      TsNative(f.dataType)
    } catch {
      case e: Exception if Option(e.getMessage).exists(m =>
          m.contains("NANOS") || m.contains("PARQUET_TYPE_ILLEGAL")) =>
        TsLegacyNanos
    }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = loadRaw(spark, dir, name)
    if (kernelTables(name))
      parallelizeSmallScan(spark, df, s"$dir/$name.parquet", None)
    else if (factTables.contains(name))
      parallelizeSmallScan(spark, df, s"$dir/$name.parquet",
        Some(factTables(name)))
    else df
  }

  /** Fact tables whose scans spread by HASH on the primary key instead of
    * round-robin: same adaptive condition, but a keyed exchange skips the
    * sort-before-repartition a round-robin pays (SPARK-23207 determinism
    * sort — measured +0.9 s on q17 when 600 k lineitem rows sorted on one
    * scan task) while staying deterministic under task retries. */
  private val factTables = Map("lineitem" -> "l_orderkey",
    "orders" -> "o_orderkey")

  /** [[load]] without the scan-spread exchange — for the measured
    * exceptions whose pipelines are exchange-bound rather than
    * scan-CPU-bound (the as-of/session-window operators, whose tagged
    * lineage re-executes per consumer, and the typed-codec image path):
    * there the extra exchange is pure overhead (s05 +0.4 s, s03 +0.1 s,
    * p63 +0.3..1.3 s measured at sf0.1) while every scan-kernel consumer
    * wins. At production scale both loaders behave identically — the
    * spread condition never fires past the byte threshold. */
  def loadRaw(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df =
      if (name == "events") loadEvents(spark, dir)
      else spark.read.parquet(s"$dir/$name.parquet")
    checkSchema(name, df)
    df
  }

  /** Tables whose consumers run expensive per-row kernels (shingling +
    * md5 per word position, JSON parsing, 64-lane vector folds) — the
    * scans where one unsplittable row group serializes real CPU on one
    * core. The relational tables stay as-read: their queries are
    * codegen'd filter/agg pipelines that are bandwidth-bound at the scan,
    * and an extra exchange there is pure overhead (measured: q17
    * +0.9 s from a lineitem round-robin vs p03 −0.7 s from this one). */
  private val kernelTables = Set("documents", "events", "embeddings")

  /** Scale-adaptive scan parallelization (optimization guide §2.5, "input
    * skew: one huge unsplittable file ... repartition immediately after the
    * read"). Parquet splits at row-group boundaries, so a table written as
    * one row group scans as ONE task no matter how many cores the session
    * has — at bench scale every corpus table is exactly that, and the
    * per-row kernels (shingling, md5, JSON parse) serialize on a single
    * core while 31 idle. When the table's on-disk footprint cannot yield
    * at least `defaultParallelism` natural splits AND is small enough that
    * one extra round-robin exchange is provably cheap (below
    * `spark.graft.scan.parallelizeMaxBytes`, default 1 GB), append a
    * repartition to a data-derived target (bytes / bytesPerTask, clamped
    * to [max(8, cores/4), cores]). At production scale
    * this is a structural no-op: any table worth shuffling has thousands
    * of natural splits and trips neither condition. Deterministic
    * predicates and column pruning still reach the parquet scan below the
    * exchange (PlanShapeSpec pins PushedFilters/ReadSchema on q01/q02).
    * Tables under 64 KB (broadcast dims) are left alone — for them the
    * exchange is pure latency. Set parallelizeMaxBytes=0 to disable. */
  private def parallelizeSmallScan(spark: SparkSession, df: DataFrame,
      path: String, hashKey: Option[String]): DataFrame = {
    val maxBytes = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.graft.scan.parallelizeMaxBytes", "1g"))
    val f = new java.io.File(path)
    val dataFiles =
      if (f.isDirectory)
        Option(f.listFiles()).map(_.filter(x =>
          x.isFile && !x.getName.startsWith("_")).toSeq).getOrElse(Nil)
      else Seq(f)
    val bytes = dataFiles.map(_.length()).sum
    val splitBytes = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.files.maxPartitionBytes", "128m"))
    val cores = spark.sparkContext.defaultParallelism
    // each file is at least one split, so a directory of many small parts
    // already scans in parallel (r19: the bytes/splitBytes estimate alone
    // undercounted splits for multi-file dirs and fired a useless exchange)
    val naturalSplits = math.max(dataFiles.size.toLong,
      (bytes + splitBytes - 1) / math.max(1L, splitBytes))
    // r19 (verdict ask #4): the target is DATA-derived, not a core
    // fraction — max(8, cores/4) capped kernel stages at 8 tasks on a
    // 32-core session no matter how much data there was. Now: enough
    // bytes per task that task overhead stays amortized (kernel tables
    // ~1 MB compressed ≈ a few hundred ms of shingle/JSON/vector CPU;
    // fact tables 4 MB — their consumers are codegen'd scans where the
    // spread only buys decode+partial-agg parallelism), floored at the
    // old max(8, cores/4) so small inputs keep yesterday's shape (every
    // sf0.1 table still lands exactly on 8 — the driver's bench stays
    // comparable, q02's documented cost unchanged), and clamped at the
    // session's cores. Past parallelizeMaxBytes the whole spread stays a
    // structural no-op as before.
    val perTask = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.graft.scan.bytesPerTask",
        if (hashKey.isDefined) "4m" else "1m"))
    val target = spark.conf.get("spark.graft.scan.parallelizePartitions",
      spreadTarget(bytes, perTask, cores).toString).toInt
    if (bytes >= 65536L && bytes < maxBytes && naturalSplits < target)
      hashKey match {
        case Some(k) =>
          df.repartition(target, org.apache.spark.sql.functions.col(k))
        case None => df.repartition(target)
      }
    else df
  }

  /** The data-derived spread width: one task per `perTask` bytes, clamped
    * to [max(8, cores/4), max(floor, cores)] — the floor keeps small
    * inputs on the r18 shape (every sf0.1 table lands on exactly 8), the
    * cap keeps the width at the session's real parallelism. */
  private[graft] def spreadTarget(bytes: Long, perTask: Long, cores: Int): Int = {
    val floor = math.max(8, cores / 4)
    val byData = ((bytes + perTask - 1) / math.max(1L, perTask)).toInt
    math.min(math.max(floor, byData), math.max(floor, cores))
  }

  /** Normalize `events.ts` to TIMESTAMP_NTZ microseconds regardless of the
    * on-disk encoding — the same ns→µs truncation DuckDB applies when
    * casting TIMESTAMP_NS to TIMESTAMP, so oracle comparisons line up.
    * The legacy nanosAsLong flag is only touched when the file actually is
    * TIMESTAMP(NANOS); the current timestamp[us] path is side-effect free.
    */
  private def loadEvents(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val path = s"$dir/events.parquet"
    eventsTsEncoding(spark, path) match {
      case TsNative(TimestampType) | TsNative(TimestampNTZType) =>
        spark.read.parquet(path)
          .withColumn("ts", col("ts").cast("timestamp_ntz"))
      case TsNative(LongType) =>
        // raw nanosecond longs (integer div: double division would lose
        // precision at 1e18 ns)
        spark.read.parquet(path)
          .withColumn("ts",
            timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz"))
      case TsNative(other) =>
        throw new IllegalStateException(
          s"testdata schema changed: events.ts is $other, expected a " +
            "timestamp or a nanosecond long")
      case TsLegacyNanos =>
        val key = "spark.sql.legacy.parquet.nanosAsLong"
        val prev = spark.conf.getOption(key)
        spark.conf.set(key, "true")
        try spark.read.parquet(path)
          .withColumn("ts",
            timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz"))
        finally prev match {
          case Some(v) => spark.conf.set(key, v)
          case None => spark.conf.unset(key)
        }
    }
  }

  /** Critical (table, column) → acceptable types the query pack relies on.
    * Checked on every load so a testdata regeneration that shifts a type
    * fails with ONE obvious message instead of dozens of scattered
    * analysis errors (the r6 failure mode). Only load-bearing columns are
    * pinned; additive schema changes stay non-fatal. */
  private val expectedTypes: Map[String, Seq[(String, DataType => Boolean, String)]] = {
    def is(t: DataType) = (d: DataType) => d == t
    val ts = (d: DataType) =>
      d == TimestampType || d == TimestampNTZType
    Map(
      "region" -> Seq(("r_regionkey", is(IntegerType), "int"),
        ("r_name", is(StringType), "string")),
      "nation" -> Seq(("n_nationkey", is(IntegerType), "int"),
        ("n_regionkey", is(IntegerType), "int")),
      "customer" -> Seq(("c_custkey", is(LongType), "bigint"),
        ("c_acctbal", is(DoubleType), "double")),
      "supplier" -> Seq(("s_suppkey", is(LongType), "bigint")),
      "part" -> Seq(("p_partkey", is(LongType), "bigint"),
        ("p_retailprice", is(DoubleType), "double")),
      "orders" -> Seq(("o_orderkey", is(LongType), "bigint"),
        ("o_totalprice", is(DoubleType), "double"),
        ("o_orderdate", ts, "timestamp")),
      "lineitem" -> Seq(("l_orderkey", is(LongType), "bigint"),
        ("l_quantity", is(DoubleType), "double"),
        ("l_extendedprice", is(DoubleType), "double"),
        ("l_shipdate", ts, "timestamp")),
      "events" -> Seq(("event_id", is(LongType), "bigint"),
        ("ts", is(TimestampNTZType), "timestamp_ntz (post-normalization)"),
        ("user_id", is(LongType), "bigint"),
        ("value", is(DoubleType), "double"),
        ("props", is(StringType), "string")),
      "documents" -> Seq(("doc_id", is(LongType), "bigint"),
        ("text", is(StringType), "string")),
      "embeddings" -> Seq(("vec_id", is(LongType), "bigint"),
        ("embedding", {
          case ArrayType(FloatType, _) => true
          case _ => false
        }: DataType => Boolean, "array<float>")))
  }

  private def checkSchema(name: String, df: DataFrame): Unit =
    expectedTypes.getOrElse(name, Nil).foreach { case (colName, ok, want) =>
      df.schema.find(_.name == colName) match {
        case None => throw new IllegalStateException(
          s"testdata schema changed: $name is missing column `$colName` " +
            s"(found ${df.schema.fieldNames.mkString(", ")})")
        case Some(f) if !ok(f.dataType) => throw new IllegalStateException(
          s"testdata schema changed: $name.$colName is ${f.dataType.sql}, " +
            s"expected $want")
        case _ => ()
      }
    }

  /** Register every table as a temp view (idempotent). Each table is
    * registered independently: one broken loader must not take down queries
    * that never touch it (the r6 cascade). Failures are NOT swallowed — all
    * collected errors are rethrown after the good tables are registered, so
    * a caller that can tolerate a partial registry must catch explicitly. */
  def registerAll(spark: SparkSession, dir: String): Unit = {
    val failures = all.flatMap { n =>
      try { load(spark, dir, n).createOrReplaceTempView(n); None }
      catch { case e: Exception => Some(n -> e) }
    }
    failures.headOption.foreach { case (_, first) =>
      val names = failures.map(_._1).mkString(", ")
      throw new IllegalStateException(
        s"failed to register table(s): $names (others registered fine)", first)
    }
  }

  /** Register only the tables `query` references (word match against the
    * corpus table names — a referenced table must appear literally in the
    * SQL, so false negatives are impossible; a false positive merely
    * registers an extra healthy view). A broken loader therefore only
    * fails the queries that actually read it, loudly. */
  def registerReferenced(spark: SparkSession, dir: String, query: String): Unit = {
    val lower = query.toLowerCase
    all.filter(n => ("""\b""" + n + """\b""").r.findFirstIn(lower).isDefined)
      .foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
  }
}
