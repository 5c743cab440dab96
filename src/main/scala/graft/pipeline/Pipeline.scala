package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ingest.{DumpReader, DumpSink}
import graft.model.{SourceFilters, SubsetConfig, TableRef, TransformerBinding}
import graft.store.Datastore
import graft.subset.Subset
import graft.transform.Transformers
import graft.model.FkEdge

/** The end-to-end jobs — the Spark re-expression of the reference's
  * `FullDumpTask`/`FullRestoreTask` (`replibyte/src/tasks/full_dump.rs`,
  * `full_restore.rs`).
  *
  * dump:    tables → skip/only filters (F1/F2) → optional FK subset →
  *          per-column transformers → statement re-synthesis → chunked
  *          compressed/encrypted datastore write + catalog entry.
  * restore: each stored chunk decoded and split once into a pinned
  *          statement frame → one listing job → per-table DataFrames
  *          read from the pin → caller-chosen writer (parquet/JDBC/
  *          console) → pin released.
  *
  * The reference's producer/consumer threads with a depth-1 channel
  * (`tasks/full_dump.rs:47-70`) exist to overlap parse and upload under
  * a memory bound — in Spark that's the scheduler's job: each partition
  * parses and uploads within one task, memory bounded by chunk size ×
  * task slots.
  */
object Pipeline {

  final case class DumpJobConfig(
      tables: Seq[String],
      database: String = "public",
      filters: SourceFilters = SourceFilters(),
      bindings: Seq[TransformerBinding] = Nil,
      subset: Option[SubsetConfig] = None,
      fkEdges: Seq[FkEdge] = Nil,
      compressed: Boolean = true,
      encryptionKey: Option[String] = None,
      // original CREATE TABLE statements by table, when the source
      // carries them (the dump-file path): stored WITH the data so a
      // live restore recreates the source's true column types — the
      // reference pipes the whole transformed dump, DDL included, into
      // psql (destination/postgres.rs:76-95); without this, restore
      // DDL synthesized from frame schemas collapses bytea/timestamp/
      // date to text (caught by the r17 live exotic-types e2e)
      ddl: Map[String, String] = Map.empty)

  /** F1/F2: source-level table pruning — tables the filter excludes are
    * never scanned (the Spark analog of pushing `--ignore-table` /
    * `--table` into the dump tool, `source/mysql.rs:128-136`,
    * `source/postgres.rs:132-139`).
    */
  def selectTables(all: Seq[String], database: String, filters: SourceFilters): Seq[String] = {
    val skip = filters.skipTables.collect { case TableRef(d, t) if d == database => t }.toSet
    val only = filters.onlyTables.collect { case TableRef(d, t) if d == database => t }.toSet
    // A table in BOTH lists is a config contradiction refused at
    // SourceFilters construction (reference commands/dump.rs:115-128),
    // so here skip and only can only be disjoint: skip removes, only
    // restricts — never a silent intersection of conflicting entries.
    all.filter(t => !skip.contains(t) && (only.isEmpty || only.contains(t)))
  }

  /** Build the transformed per-table DataFrames of a dump job (the
    * logical plan; nothing executes until a sink runs).
    */
  def dumpPlan(
      load: String => DataFrame,
      config: DumpJobConfig): Map[String, DataFrame] = {
    // Loud mismatch guard (ADVICE r15): a filter or binding entry that
    // matches no dumped (database, table) is almost always a namespace
    // typo, and its failure mode is data that should have been masked
    // or excluded going out untouched — warn rather than silently no-op
    // (the reference ignores such entries; a warning diverges only on
    // stderr, never in output).
    val known = config.tables.map(t => (config.database, t)).toSet
    (config.filters.skipTables ++ config.filters.onlyTables)
      .filterNot(r => known((r.database, r.table)))
      .foreach(r => Console.err.println(
        s"WARN graft: skip/only entry '${r.qualified}' matches no dumped table " +
          s"(job database is '${config.database}')"))
    config.bindings.filterNot(b => known((b.database, b.table)))
      .foreach(b => Console.err.println(
        s"WARN graft: transformer binding '${b.key}' matches no dumped table — " +
          s"NO masking will be applied for it (job database is '${config.database}')"))
    val tables = selectTables(config.tables, config.database, config.filters)
    val base: Map[String, DataFrame] = config.subset match {
      case Some(sc) =>
        val subsetted = Subset.run(
          load, config.fkEdges, sc.table, sc.seedKey, sc.percent, sc.passthroughTables)
        // Reference semantics (subset/src/postgres.rs:256-281): a
        // subsetted dump emits ONLY the seed sample + its FK closure +
        // the passthrough tables (Subset.run returns exactly those);
        // every other table contributes ZERO rows (schema kept). The
        // pre-r17 fallback loaded unreached tables FULLY, which the
        // live-postgres e2e exposed as an FK-violating restore: full
        // child tables pointing at a subsetted parent.
        tables.map(t => t -> subsetted.getOrElse(t, load(t).limit(0))).toMap
      case None => tables.map(t => t -> load(t)).toMap
    }
    base.map { case (t, df) =>
      val bindings = config.bindings.filter(b => b.database == config.database && b.table == t)
      t -> Transformers.applyBindings(df, bindings)
    }
  }

  /** Run a dump job into the datastore as re-synthesized statements. */
  def dump(
      spark: SparkSession,
      load: String => DataFrame,
      store: Datastore,
      dumpName: String,
      config: DumpJobConfig): Unit = {
    import spark.implicits._
    val plan = dumpPlan(load, config)
    // sqlSafe: binary → pg hex-literal text, nested (Mongo-inferred)
    // → JSON — types a SQL literal can't self-describe, which the raw
    // row stringifier would otherwise corrupt (JDBC/Mongo sources)
    val inserts = plan.map { case (t, df) =>
      DumpSink.toInsertStatements(DumpSink.sqlSafe(df), config.database, t)
    }.reduce(_.unionByName(_))
    // the source's own CREATE TABLE statements (only for tables that
    // made the plan) ride along in the stored dump — restore parsing
    // filters by statement kind, so data consumers are unaffected and
    // live restores regain the true column types. EVERY table without
    // source DDL gets one synthesized from the ORIGINAL frame schema
    // (r19; r18 synthesized only for binary-bearing tables): restores
    // then take the single-pass DDL-typed parse instead of the 2-pass
    // whole-dump type inference — at scale that halves restore parse
    // CPU — and the restored types are SOURCE-exact (a decimal(10,2)
    // column comes back decimal(10,2), not a re-inferred double; a
    // text column holding digit strings stays text instead of widening
    // to bigint). Live restores get true server types for all tables,
    // binary included (hex text -> true bytea). Synthesized DDL is
    // deliberately UNQUALIFIED: config.database is the SOURCE's
    // database/catalog name, not a namespace the destination should
    // recreate — a pg restore of a dump from JDBC database "mydb" must
    // land in the destination's default schema (public), exactly like
    // r17 did, not in a freshly created schema "mydb". Namespace
    // qualifiers are reserved for DDL that actually came from the
    // source dump (config.ddl), where the schema is real.
    val ddl = plan.keys.toSeq.sorted.map { t =>
      config.ddl.getOrElse(t,
        graft.ingest.PgLive.createTableSql(t, plan(t).schema))
    }
    // every engine-written dump declares its string-literal dialect up
    // front, exactly like pg_dump does: DumpSink synthesis is
    // pg-semantics ('' doubling, backslashes literal), and the marker
    // lets ANY consumer — ours or a plain psql restore of the stored
    // text — scan the strings correctly. Header and DDL take one
    // partition, so they store as one part: a local relation would
    // spread them over defaultParallelism tiny parts, each compressed
    // and encrypted on its own.
    val header = Seq("SET standard_conforming_strings = on;")
    val statements = spark.createDataset(header ++ ddl).coalesce(1).unionByName(inserts)
    store.write(dumpName, statements, config.compressed, config.encryptionKey)
  }

  /** Restore: parse a stored dump once and pin it for `body`, which
    * gets the per-table frames and the stored CREATE TABLE statements
    * by table (empty when the dump predates DDL storage or the source
    * had none). One job lists the dump and builds the pin; a dump
    * stored as fewer parts than the cluster has cores is spread over
    * `defaultParallelism` partitions in that job
    * ([[DumpReader.readFiles]]), so each frame reads on every core and
    * the frames are independent writes a caller may run concurrently.
    * The frames read the pin, so they must not outlive `body`.
    */
  def restore[A](
      store: Datastore,
      dumpName: String,
      encryptionKey: Option[String] = None)(
      body: (Map[String, DataFrame], Map[String, String]) => A): A =
    DumpReader.withParsed(store.statements(dumpName, encryptionKey)) { dump =>
      val refs = dump.listing.insertRefs ++ dump.listing.copyRefs
      body(refs.map { case (db, t) => t -> dump.table(db, t) }.toMap, dump.listing.ddl)
    }
}
