package graft.model

/** Core data model for the graft engine.
  *
  * Mirrors the reference's fundamental abstractions (see SURVEY.md §1):
  *   - a row unit (`Statement`) — reference `replibyte/src/types.rs:17-24`
  *   - a table reference (`TableRef`)
  *   - an FK edge (`FkEdge`) — reference `subset/src/lib.rs:106-123`
  *   - the datastore catalog (`IndexFile`/`DumpMeta`) — reference
  *     `replibyte/src/datastore/mod.rs:120-170`
  *
  * Everything here is a plain case class; DataFrames carry the data.
  */

/** A single SQL statement flowing through a dump pipeline, plus its
  * 0-based position in the dump (positional index drives header/footer
  * slicing and range pruning — reference `subset/src/postgres.rs:31-38`).
  */
/** `pgStrings`: the string-literal dialect the statement's dump
  * declared (see `StatementSplitter.pgStrings`) — true = backslash is
  * literal inside strings (pg_dump 9.1+, engine-written dumps), false
  * = MySQL backslash escapes apply. Value parsing must match or a
  * string ending in a backslash mis-scans.
  */
final case class Statement(idx: Long, kind: String, database: String,
                           table: String, sql: String,
                           pgStrings: Boolean = false)

object StatementKind {
  val InsertInto = "insert_into"
  val CreateTable = "create_table"
  val AlterTable = "alter_table"
  val CommentLine = "comment"
  /** A whole `COPY … FROM stdin;` block: header + tab-separated data
    * lines + the `\.` terminator, kept as ONE statement (pg_dump's
    * default data format).
    */
  val CopyBlock = "copy_block"
  val Other = "other"
}

/** `(database, table)` pair; database may be a schema name ("public"). */
final case class TableRef(database: String, table: String) {
  def qualified: String = s"$database.$table"
}

/** Foreign-key edge: `fromTable.fromCol REFERENCES toTable.toCol`.
  * Reference `SubsetTableRelation`, `subset/src/lib.rs:106-123`.
  */
final case class FkEdge(
    fromDatabase: String,
    fromTable: String,
    fromCol: String,
    toDatabase: String,
    toTable: String,
    toCol: String)

/** One stored dump in the datastore catalog.
  * Reference `Dump`, `replibyte/src/datastore/mod.rs:162-170`.
  */
final case class DumpMeta(
    directoryName: String,
    size: Long,
    createdAt: Long, // epoch millis
    compressed: Boolean,
    encrypted: Boolean,
    // payload format: None / Some("sql") = re-synthesized statement
    // chunks (the SQL-source flow); Some("mongo-archive") = the
    // TRANSFORMED mongodump archive itself (the reference's Mongo flow
    // stores the archive, never a text re-encoding — BSON types
    // survive byte-exactly). Absent in pre-r18 catalogs; the Catalog
    // migration normalizes it to None (= sql).
    format: Option[String] = None)

/** The datastore index (`metadata.json`).
  * Reference `IndexFile`, `replibyte/src/datastore/mod.rs:120-160`.
  */
final case class IndexFile(v: String, dumps: Seq[DumpMeta]) {
  def findLatest: Option[DumpMeta] =
    if (dumps.isEmpty) None else Some(dumps.maxBy(_.createdAt))
  def findByName(name: String): Option[DumpMeta] =
    dumps.find(_.directoryName == name)
}

/** Transformer binding: which transformer applies to which column.
  * Reference config `replibyte/src/config.rs:267-296`; lookup keyed
  * `db.table.column` (`source/postgres.rs:229-237`).
  */
final case class TransformerBinding(
    database: String,
    table: String,
    column: String,
    transformerId: String,
    options: Map[String, String] = Map.empty) {
  def key: String = s"$database.$table.$column"
}

/** Subset strategy — reference `SubsetStrategy`,
  * `subset/src/postgres.rs:40-56`: deterministic systematic sampling of a
  * seed table at a percentage, then FK-closure.
  */
final case class SubsetConfig(
    database: String,
    table: String,
    seedKey: String,
    percent: Double,
    passthroughTables: Seq[String] = Nil)

/** Source-side row filters — reference `config.rs:233-253`. */
final case class SourceFilters(
    skipTables: Seq[TableRef] = Nil,
    onlyTables: Seq[TableRef] = Nil) {
  // Reference parity (commands/dump.rs:115-128): both lists may be set
  // together — skip removes, only restricts — but the SAME table in
  // both is a config contradiction refused up front, before any scan.
  private def conflict = skipTables.toSet.intersect(onlyTables.toSet)
  require(
    conflict.isEmpty,
    conflict.toSeq.map(r => s""""${r.database}.${r.table}"""").sorted.mkString(
      "table(s) ", ", ",
      " cannot be both in only_tables and in skip_tables at the same time (reference commands/dump.rs:115-128)"))
}
