package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  *
  * All queries take the scale-factor directory at call time so the same
  * plan runs against sf0.001 → sf0.1 locally and a 100 TB lake in
  * production — nothing here hard-codes a path or collects to the driver.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def region(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "region")
  def nation(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "nation")
  def customer(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "part")
  def orders(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "orders")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "lineitem")

  /** `events.ts` arrives in two parquet flavors depending on the data
    * generator: TIMESTAMP(NANOS), which Spark only reads as a long
    * (`spark.sql.legacy.parquet.nanosAsLong`, set in every graft
    * session), or TIMESTAMP(MICROS) without timezone, which Spark reads
    * natively as TIMESTAMP_NTZ. Branch on the loaded dtype and
    * normalize both to a session-timezone (UTC) microsecond timestamp —
    * DuckDB also holds timestamps at microsecond precision, so oracle
    * comparisons agree either way.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val raw = load(spark, sfDir, "events")
    val ts = raw.schema("ts").dataType match {
      case LongType => timestamp_micros((col("ts") / 1000L).cast("long"))
      case _: TimestampNTZType | _: TimestampType => col("ts").cast(TimestampType)
      case other =>
        throw new IllegalStateException(s"events.ts: unsupported parquet dtype $other")
    }
    raw.withColumn("ts", ts)
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "embeddings")
}

/** One place to build a correctly-configured session for local runs and
  * tests. AQE on (runtime re-plan, skew-join handling), shuffle
  * partitions sized to cores not the 200 default — at cluster scale the
  * same code relies on AQE coalescing instead of a hand-tuned constant.
  */
object GraftSession {

  /** Entries in Spark's JVM-wide cache of compiled whole-stage classes
    * (`spark.sql.codegen.cache.maxEntries`, a static conf that
    * `CodeGenerator` reads once, when it first initializes, so it is set
    * here, before any session exists).
    *
    * Spark's default of 100 is below graft's working set, so a JVM that
    * ran the same plans again recompiled almost all of them: the LRU
    * cache had evicted each class before its next use. Distinct classes
    * one cold JVM compiles with an unbounded cache (Spark 4.1.2, 4 vCPUs):
    *  - one `corpus run` of an 11-stage curation chain (html_strip …
    *    dedup_near … chunk) over 4,000 docs: 189;
    *  - one `dump create --file` with a 10% FK subset, then `dump restore`: 67;
    *  - one graft.Bench run at sf0.001 (warm-up, then two passes over its
    *    172 queries): 2,074.
    * 4096 holds the largest twice over. graft.Bench walks its queries in
    * the same order every pass, so a cache smaller than its working set
    * misses on every class: it compiled 7,441 classes at 100 and 2,070
    * at 4096, and its metaspace at exit went from 205 to 218 MB. A
    * repeated run of the corpus chain compiled 180 classes at 100 and
    * 0-8 at 4096.
    *
    * Who gains: every JVM that runs the same plans more than once —
    * `corpus stream` and `--continuous` micro-batches, graft.Bench, the
    * test JVM and a repeating benchmark loop. A one-shot `corpus run`
    * compiles each class once either way.
    */
  private val CodegenCacheEntries = 4096

  /** This JVM's scratch root, `<java.io.tmpdir>/graft-<pid>`, deleted
    * with everything under it when the JVM exits. It holds the
    * managed-table warehouse for bucketed layouts (ops.Bucketing) and the
    * files the query entries write and read back lazily. Per process,
    * so concurrent test/bench/verify JVMs never race on the same
    * directory. The in-memory catalog that names the managed tables dies
    * with the JVM too, and `Bucketing.writeBucketedOnce` rebuilds them in
    * a new one; production replaces the warehouse with a real one and a
    * persistent metastore.
    */
  lazy val processDir: Path = {
    val dir = Paths.get(System.getProperty("java.io.tmpdir"), s"graft-${ProcessHandle.current().pid()}")
    sys.addShutdownHook(FileUtils.deleteQuietly(dir.toFile))
    dir
  }

  /** A new directory under [[processDir]]. */
  def scratchDir(prefix: String): Path =
    Files.createTempDirectory(Files.createDirectories(processDir), prefix)

  def builder(master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]") = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
      .config("spark.sql.warehouse.dir", processDir.resolve("warehouse").toString)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
  }

  def get(): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
