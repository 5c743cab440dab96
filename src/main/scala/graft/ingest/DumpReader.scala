package graft.ingest

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

import graft.Pins
import graft.model.{FkEdge, Statement, StatementKind}

/** S4/S5 Spark integration: `.sql` dump ingestion as a DataFrame
  * pipeline.
  *
  * Scale design: a dump "file" at production scale is a directory of
  * chunk parts (the reference chunks at 100 MB,
  * `tasks/full_dump.rs:72-77`), so *whole-file-per-task* is the natural
  * parallel unit — each part is split into statements independently,
  * which is correct because chunk boundaries in the reference's own
  * format always fall between statements. An input of fewer parts than
  * the cluster has cores (one large file) is spread by byte range over
  * `defaultParallelism` partitions in the same pass ([[readFiles]]), so
  * a single-file dump still parses, types and writes on every core.
  * Statement parsing, typing, and transformation then run distributed;
  * nothing touches the driver except the (tiny) DDL header/footer, the
  * per-partition table listing and the sample-free type bounds of a
  * table without DDL (one O(#columns) aggregation).
  */
object DumpReader {

  /** Number of low idx bits reserved for the within-chunk statement
    * position; the high bits carry the chunk (file/partition) rank, so
    * `idx` is globally monotonic in dump order without any coordination
    * between tasks. 2^40 statements per 100 MB chunk is unreachable.
    */
  private[ingest] val ChunkShift = 40

  /** Driver-side NAME-only listing of dump part files, sorted by the
    * *decoded path component* (`java.net.URI.getPath`), so names with
    * spaces/%-chars rank the same on every filesystem. A directory's
    * hidden members (`.`/`_` prefixes: checksums, `_SUCCESS` markers)
    * are skipped, as Spark's file sources skip them.
    */
  private[ingest] def rankedFiles(spark: SparkSession, path: String): Seq[FileStatus] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    // globStatus handles plain files, directories, AND glob patterns
    // (getFileStatus would throw on '/dumps/*.sql')
    val matched = Option(fs.globStatus(p)).filter(_.nonEmpty).getOrElse(
      throw new java.io.FileNotFoundException(s"no files match: $path"))
    matched
      .flatMap(st =>
        if (st.isDirectory) fs.listStatus(st.getPath)
          .filter(f => f.isFile && !f.getPath.getName.startsWith(".") &&
            !f.getPath.getName.startsWith("_"))
        else Array(st))
      .sortBy(_.getPath.toUri.getPath)
      .toSeq
  }

  /** String-literal dialect of one dump file. `forced` when the caller
    * knows the provenance (engine-written datastore dumps are always
    * pg: DumpSink synthesis uses '' doubling with raw backslashes).
    * Otherwise the file's own header decides: pg_dump declares
    * standard_conforming_strings in every dump file's header, and its
    * absence means MySQL escape rules (mysqldump emits no such marker).
    * `firstPg` is the floor a chunked dump's FIRST part sets for its
    * headerless siblings (a pg dump split at 100 MB boundaries carries
    * the header only in part 0, ADVICE r17); it never covers a file
    * that carries mysqldump's own banner, which is a standalone MySQL
    * dump in a mixed-source directory (ADVICE r18).
    */
  private[ingest] final case class Dialect(forced: Option[Boolean], firstPg: Boolean) {
    def pg(blob: String): Boolean = forced.getOrElse(
      StatementSplitter.pgStrings(blob) || (firstPg && !StatementSplitter.mysqlHeader(blob)))
  }

  /** The header rule over ranked files: the first file's header (its
    * first 64 KB, read on the driver) sets the floor.
    */
  private[ingest] def headerDialect(spark: SparkSession, files: Seq[String]): Dialect =
    Dialect(None, files.headOption.exists { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      val in = p.getFileSystem(spark.sessionState.newHadoopConf()).open(p)
      val head = try in.readNBytes(1 << 16) finally in.close()
      StatementSplitter.pgStrings(new String(head, java.nio.charset.StandardCharsets.UTF_8))
    })

  /** Split one decoded dump blob into classified statements, with
    * `idx = rank << ChunkShift | position`.
    */
  private[ingest] def splitBlob(blob: String, rank: Int, pg: Boolean): Iterator[Statement] = {
    val base = rank.toLong << ChunkShift
    StatementSplitter.split(blob, Some(pg)).iterator.zipWithIndex.map { case (raw, i) =>
      val (db, table) = if (raw.kind == StatementKind.CommentLine) ("", "")
      else StatementSplitter.tableRef(raw.text).getOrElse(("", ""))
      Statement(base | i.toLong, raw.kind, db, table, raw.text, pg)
    }
  }

  /** Read one dump file whole, decode its bytes and split it once. A
    * compressed file (`.gz`, `.bz2`, … by extension, as Spark's text
    * source reads it) is inflated first.
    */
  private[ingest] def readFile(conf: Configuration, file: String, rank: Int,
                               decode: Array[Byte] => Array[Byte],
                               dialect: Dialect): Iterator[Statement] = {
    val p = new org.apache.hadoop.fs.Path(file)
    val raw = p.getFileSystem(conf).open(p)
    val in = Option(new CompressionCodecFactory(conf).getCodec(p))
      .fold[java.io.InputStream](raw)(_.createInputStream(raw))
    val bytes = try in.readAllBytes() finally in.close()
    val blob = new String(decode(bytes), java.nio.charset.StandardCharsets.UTF_8)
    splitBlob(blob, rank, dialect.pg(blob))
  }

  /** The one dump reader: `files` in rank order, each read whole,
    * decoded and split once. Partitions take consecutive files by
    * Spark's file-source packing rule (`spark.sql.files.maxPartitionBytes`,
    * each file costing `openCostInBytes` on top of its length), so
    * partition order is dump order, a large file gets a partition of its
    * own and small chunks share one. `pgStrings` forces the dialect;
    * None applies the header rule of [[Dialect]].
    *
    * Fewer packs than `defaultParallelism` (one large file, say) would
    * leave every downstream frame on that many tasks, so the same pass
    * spreads the statements over `defaultParallelism` equal byte ranges
    * of the input: each statement's range is its file's starting byte
    * plus its proportional offset within the file, and one RDD shuffle
    * (no Dataset exchange, which AQE would run as a job of its own)
    * sorts each range by `idx`. Ranges follow dump order, so partition
    * order is still dump order and `idx` is unchanged.
    */
  private[graft] def readFiles(spark: SparkSession, files: Seq[FileStatus],
                               decode: Array[Byte] => Array[Byte],
                               pgStrings: Option[Boolean]): Dataset[Statement] = {
    import spark.implicits._
    val dialect = pgStrings.fold(headerDialect(spark, files.map(_.getPath.toString)))(pg =>
      Dialect(Some(pg), firstPg = false))
    val sql = spark.sessionState.conf
    val open = sql.filesOpenCostInBytes
    val cores = spark.sparkContext.defaultParallelism
    val split = math.min(sql.filesMaxPartitionBytes, math.max(open,
      files.map(_.getLen + open).sum / cores))
    val starts = files.scanLeft(0L)(_ + _.getLen)
    val total = starts.last
    val packs = Vector.newBuilder[Vector[InputFile]]
    var pack = Vector.empty[InputFile]
    var packBytes = 0L
    files.zipWithIndex.foreach { case (f, rank) =>
      if (pack.nonEmpty && packBytes + f.getLen > split) { packs += pack; pack = Vector.empty; packBytes = 0L }
      pack :+= InputFile(f.getPath.toString, rank, starts(rank), f.getLen)
      packBytes += f.getLen + open
    }
    val parts = (packs += pack).result()
    val conf = new SerializableConfiguration(spark.sessionState.newHadoopConf())
    val read = spark.sparkContext.parallelize(parts, parts.size)
    if (parts.size >= cores)
      spark.createDataset(read.flatMap(_.iterator.flatMap(f =>
        readFile(conf.value, f.path, f.rank, decode, dialect))))
    else
      spark.createDataset(read.flatMap(_.iterator.flatMap { f =>
        val stmts = readFile(conf.value, f.path, f.rank, decode, dialect).toVector
        val chars = math.max(1L, stmts.iterator.map(_.sql.length.toLong).sum)
        var seen = 0L
        stmts.iterator.map { s =>
          val at = f.start + f.len * (seen.toDouble / chars)
          seen += s.sql.length
          ((math.min(cores - 1, (at / total * cores).toInt), s.idx), s)
        }
      }).repartitionAndSortWithinPartitions(new ByteRanges(cores)).values)
  }

  /** One input file of [[readFiles]]: its rank, and where its bytes
    * start in the concatenated input.
    */
  private final case class InputFile(path: String, rank: Int, start: Long, len: Long)

  /** Partitions `(range, idx)` keys by their range. */
  private final class ByteRanges(ranges: Int) extends org.apache.spark.Partitioner {
    def numPartitions: Int = ranges
    def getPartition(key: Any): Int = key.asInstanceOf[(Int, Long)]._1
  }

  /** Read dump file(s) into a Dataset of classified statements.
    * `idx` is globally monotonic in dump order: high bits are the rank
    * of the file in name order — matching the reference's
    * part-enumeration order on restore
    * (`datastore/local_disk.rs:183-207`) — low bits the statement
    * position within the file. Ranking is a driver-side listing of file
    * *names* only; no data is read for it.
    */
  def statements(spark: SparkSession, path: String): Dataset[Statement] =
    readFiles(spark, rankedFiles(spark, path), identity, pgStrings = None)

  /** Split already-isolated statement strings (one per row) — used when
    * statements were produced upstream (e.g. re-synthesis roundtrips).
    * Each partition is joined back into one blob so the splitter (not
    * the upstream row boundaries) decides statement boundaries, and its
    * index is the blob's rank. `pgStrings` forces the dialect; None
    * detects each partition's own marker, which only the partition
    * holding the header sees.
    */
  def statementsFromStrings(spark: SparkSession, stmts: Dataset[String],
                            pgStrings: Option[Boolean] = None): Dataset[Statement] = {
    import spark.implicits._
    val dialect = Dialect(pgStrings, firstPg = false)
    // mapPartitionsWithIndex on the RDD, not TaskContext.getPartitionId
    // in a Dataset mapPartitions: a downstream coalesce() merges
    // partitions into one task, and the *task* id would rebase every
    // chunk to 0 — the RDD split index survives coalescing because the
    // merged task iterates parent partitions with their original ids.
    spark.createDataset(stmts.rdd.mapPartitionsWithIndex { (pid, it) =>
      val blob = it.mkString("\n")
      splitBlob(blob, pid, dialect.pg(blob))
    })
  }

  /** G1 over a dump: per-table stats in one distributed pass — reference
    * `table_stats_by_database_and_table_name`
    * (`subset/src/postgres.rs:499-570`).
    */
  def tableStats(stmts: Dataset[Statement]): DataFrame = {
    import stmts.sparkSession.implicits._
    // total_rows counts ROWS, not statements: an extended INSERT
    // carries one row per VALUES group, a COPY block one per data line
    val rowCounts = stmts.flatMap { s =>
      val n = s.kind match {
        case StatementKind.InsertInto =>
          InsertParser.parseMulti(s.sql, s.pgStrings).map(_.size.toLong).getOrElse(0L)
        case StatementKind.CopyBlock =>
          // header + data lines + terminator
          math.max(0L, s.sql.split("\n", -1).length.toLong - 2L)
        case _ => 0L
      }
      if (n > 0) Some((s.database, s.table, s.idx, n)) else None
    }.toDF("database", "table", "idx", "n_rows")
    rowCounts
      .groupBy(col("database"), col("table"))
      .agg(
        sum(col("n_rows")).as("total_rows"),
        min(col("idx")).as("first_insert_idx"),
        max(col("idx")).as("last_insert_idx"))
  }

  /** A2/A3: header (everything before the first INSERT) and footer
    * (everything after the last) — reference `dump_header`/`dump_footer`
    * (`subset/src/postgres.rs:431-497`).
    */
  def headerFooter(stmts: Dataset[Statement]): (DataFrame, DataFrame) = {
    val inserts = stmts.toDF().filter(col("kind") === StatementKind.InsertInto)
    val bounds = inserts.agg(
      min(col("idx")).as("first_idx"), max(col("idx")).as("last_idx"))
    val header = stmts.toDF().join(bounds, col("idx") < col("first_idx"), "left_semi")
    val footer = stmts.toDF().join(bounds, col("idx") > col("last_idx"), "left_semi")
    (header, footer)
  }

  /** What the dump commands need to know about a parsed dump before
    * loading any table: the (database, table) refs of its INSERT and
    * COPY data, its CREATE TABLE text by table, and its FK edges.
    */
  final case class Listing(
      insertRefs: Set[(String, String)],
      copyRefs: Set[(String, String)],
      ddl: Map[String, String],
      fkEdges: Seq[FkEdge])

  /** [[Listing]] of a parsed dump in ONE job, like the reference's
    * single streaming pass in `table_stats_by_database_and_table_name`.
    * Each partition keeps its distinct (kind, database, table) data refs
    * and its CREATE/ALTER TABLE statements whole; the driver merges
    * them (O(#tables + #DDL) rows, no shuffle) and replays the DDL in
    * dump order, so a later CREATE TABLE of a name wins.
    */
  def listing(stmts: Dataset[Statement]): Listing = {
    import stmts.sparkSession.implicits._
    val rows = stmts.mapPartitions { it =>
      val seen = collection.mutable.HashSet[(String, String, String, Long, String)]()
      it.foreach { s =>
        s.kind match {
          case StatementKind.InsertInto | StatementKind.CopyBlock =>
            seen += ((s.kind, s.database, s.table, -1L, ""))
          case StatementKind.CreateTable | StatementKind.AlterTable =>
            seen += ((s.kind, s.database, s.table, s.idx, s.sql))
          case _ => ()
        }
      }
      seen.iterator
    }.collect().distinct.sortBy(_._4)
    def refs(kind: String): Set[(String, String)] =
      rows.collect { case (k, db, t, _, _) if k == kind => (db, t) }.toSet
    Listing(
      insertRefs = refs(StatementKind.InsertInto),
      copyRefs = refs(StatementKind.CopyBlock),
      ddl = rows.collect { case (StatementKind.CreateTable, _, t, _, sql) => t -> sql }.toMap,
      fkEdges = rows.toSeq.collect { case (StatementKind.AlterTable, _, _, _, sql) => sql }
        .flatMap(Ddl.foreignKey))
  }

  /** A parsed dump, pinned for the length of one [[withParsed]] scope:
    * its statements and their [[Listing]]. Every table frame reads the
    * pin, so the dump is read and split once per command.
    */
  final class Parsed private[DumpReader] (stmts: Dataset[Statement], val listing: Listing) {

    /** One table's rows, typed by its CREATE TABLE when the dump has
      * one: its INSERT rows, its COPY rows, or both unioned. A table
      * with no data gets the (empty, DDL-typed) INSERT frame.
      */
    def table(database: String, table: String): DataFrame = {
      val ref = (database, table)
      val ddl = listing.ddl.get(table)
      val copies = listing.copyRefs(ref)
      Seq(
        if (listing.insertRefs(ref) || !copies) Some(tableFromDump(stmts, database, table, ddl)) else None,
        if (copies) Some(tableFromCopy(stmts, database, table, ddl)) else None)
        .flatten.reduce(_.unionByName(_))
    }
  }

  /** Pin `stmts`, list them in one job and run `body` over the
    * result, in a [[graft.Pins]] scope of its own: the pin, and every
    * pin `body` takes, is released however `body` ends. The listing's
    * job builds the pin, so a spread read ([[readFiles]]) shuffles once
    * and every table frame reads the spread partitions. Frames taken
    * from the [[Parsed]] must not outlive `body`.
    */
  def withParsed[A](stmts: Dataset[Statement])(body: Parsed => A): A = Pins.scoped {
    val pinned = Pins.persist(stmts, "dump.statements")
    body(new Parsed(pinned, listing(pinned)))
  }

  /** S10 over a dump: the FK edge list (drives the subset engine). The
    * ALTER TABLE footer is tiny — collect is over DDL, never data.
    */
  def foreignKeys(stmts: Dataset[Statement]): Seq[FkEdge] = {
    import stmts.sparkSession.implicits._
    stmts.filter(_.kind == StatementKind.AlterTable)
      .map(_.sql).collect().toSeq
      .flatMap(Ddl.foreignKey)
  }

  /** Typed per-table frame from a parsed dump. When the table's CREATE
    * TABLE statement is supplied, its declared types decide the schema
    * with NO driver-side sampling and rows align to the DDL column
    * order even if INSERTs list columns differently; without DDL, the
    * schema is inferred from ONE distributed min/max type-tag
    * aggregation over ALL rows (map-side-combined, O(#columns) result)
    * — no driver sample, so a wider literal first appearing deep in the
    * dump still widens its column.
    */
  def tableFromDump(
      stmts: Dataset[Statement],
      database: String,
      table: String,
      ddl: Option[String] = None): DataFrame = {
    import stmts.sparkSession.implicits._
    val rows: Dataset[(Vector[String], Vector[String], Vector[Int])] = stmts
      .filter(s => s.kind == StatementKind.InsertInto &&
        s.database == database && s.table == table)
      .flatMap { s =>
        // parseMulti: one element per row group, so mysqldump-style
        // extended INSERTs (`VALUES (…), (…), …`) contribute ALL rows
        InsertParser.parseMulti(s.sql, s.pgStrings).getOrElse(Vector.empty).map { ins =>
          (ins.columns,
            ins.values.map(v => if (v == InsertParser.SqlNull) null else v.render),
            ins.values.map(typeTag))
        }
      }
      .filter(_._2.nonEmpty)

    assemble(rows, database, table, ddl, sqlQuoted = true,
      noColsHint = "INSERTs without column lists; pass the CREATE TABLE ddl for positional alignment")
  }

  /** COPY-format ingestion (pg_dump's DEFAULT data layout, which the
    * reference never consumes — its source forces `--column-inserts`):
    * each `COPY … FROM stdin;` block contributes its tab-separated
    * lines; `\N` is null, backslash escapes are decoded, and types come
    * from the DDL or shape inference like [[tableFromDump]].
    */
  def tableFromCopy(
      stmts: Dataset[Statement],
      database: String,
      table: String,
      ddl: Option[String] = None): DataFrame = {
    import stmts.sparkSession.implicits._
    val rows: Dataset[(Vector[String], Vector[String], Vector[Int])] = stmts
      .filter(s => s.kind == StatementKind.CopyBlock &&
        s.database == database && s.table == table)
      .flatMap { s =>
        val allLines = s.sql.split("\n", -1).map(_.stripSuffix("\r"))
        // the splitter trims blocks, so a terminated block's last line
        // is exactly `\.` — anything else is a truncated dump, which
        // must fail, not silently ingest partial rows
        if (allLines.isEmpty || allLines.last != "\\.")
          throw new IllegalArgumentException(
            s"unterminated COPY block for $database.$table (truncated dump?)")
        val cols = copyHeaderColumns(allLines.head)
        // every line between header and terminator is data — an empty
        // line IS a row (single-column empty string)
        allLines.iterator.drop(1).takeWhile(_ != "\\.").map { line =>
          val vals = line.split("\t", -1).toVector
            .map(v => if (v == "\\N") null else DumpSink.unescapeCopy(v))
          (cols, vals, vals.map(copyTypeTag))
        }
      }
    assemble(rows, database, table, ddl, sqlQuoted = false,
      noColsHint = "COPY blocks without column lists; pass the CREATE TABLE ddl for positional alignment")
  }

  /** Column names of a `COPY db.table (a, b, c) FROM stdin;` header
    * (empty when the column list is omitted — table order applies).
    */
  private def copyHeaderColumns(header: String): Vector[String] = {
    // the column list is the paren group BEFORE the FROM keyword;
    // `COPY t FROM stdin WITH (FORMAT text);` has options parens but
    // no column list, and lastIndexOf(')') would swallow options
    val fromPos = "(?i)\\bFROM\\b".r.findFirstMatchIn(header).map(_.start).getOrElse(header.length)
    val open = header.indexOf('(')
    val close = if (open < 0) -1 else InsertParser.matchingParen(header, open)
    if (open < 0 || open > fromPos || close <= open) Vector.empty
    else InsertParser.splitTop(header.substring(open + 1, close))
      .map(c => StatementSplitter.unquoteIdent(c.trim)).toVector
  }

  private def copyTypeTag(v: String): Int =
    if (v == null) TagNull
    else if (v.matches("[+-]?\\d+"))
      if (v.length < 19 || (try { v.toLong; true } catch { case _: NumberFormatException => false })) TagLong
      else TagDecimal
    else if (v.matches("[+-]?\\d*\\.\\d+([eE][+-]?\\d+)?")) TagDouble
    else if (v == "t" || v == "f" || v == "true" || v == "false") TagBool
    else TagString

  /** Shared DDL-or-inference assembly over (columns, rendered values,
    * type tags) rows from either statement format.
    */
  private def assemble(
      rows: Dataset[(Vector[String], Vector[String], Vector[Int])],
      database: String,
      table: String,
      ddl: Option[String],
      sqlQuoted: Boolean,
      noColsHint: String): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    ddl.map(Ddl.createTableColumnTypes).filter(_.nonEmpty) match {
      case Some(colTypes) =>
        val names = colTypes.map(_._1)
        val aligned = rows.map { case (cols, vals, _) =>
          if (cols == names) vals
          else if (cols.isEmpty) {
            // positional rows: the DDL order IS the column order; a
            // width mismatch is corrupt input, not something to
            // null-pad quietly
            if (vals.length == names.length) vals
            else throw new IllegalArgumentException(
              s"row without column list has ${vals.length} values, DDL declares ${names.length} columns")
          } else {
            val byName = cols.iterator.zip(vals.iterator).toMap
            names.map(byName.getOrElse(_, null))
          }
        }
        typedProjection(aligned.toDF("vals"), names, colTypes.map(_._2), sqlQuoted)
      case None =>
        // r20: the inference path drives several consumers over the
        // parsed rows (the column-list scan, the type-bounds
        // aggregation, and the final typed projection) — unpinned, each
        // re-ran the INSERT/COPY parse over the whole dump. One eager pin
        // parses once; the DDL branch has a single consumer and stays
        // lazy.
        // r21 (ADVICE r20): probe emptiness on the UNPINNED rows first —
        // limit(1) early-outs after the first parsed row, so an empty
        // dump returns without paying the full parse+materialization the
        // pin below commits to.
        if (rows.limit(1).collect().isEmpty) return spark.emptyDataFrame
        val pinned = Pins.checkpoint(rows, s"dump.rows.$database.$table")
        // Every distinct column list, with its first position in dump
        // order, from the pinned rows in one aggregation (O(#variants)
        // keys). The first row's list names the columns; rows listing
        // the same columns in another order are aligned by name below,
        // as the DDL branch does. The scan is EXACT, not sample-bounded:
        // a row hiding past a sample would land values in the wrong
        // columns.
        val variants = pinned.rdd.mapPartitionsWithIndex { (pid, it) =>
          it.zipWithIndex.map { case ((cols, _, _), i) => (cols, (pid.toLong << ChunkShift) | i) }
        }.reduceByKey(math.min(_, _)).collect().sortBy(_._2).map(_._1)
        // without DDL, rows lacking a column list are unusable (names
        // unknown) — fail loudly instead of returning a partial frame
        if (variants.exists(_.isEmpty)) throw new IllegalArgumentException(
          s"$database.$table has $noColsHint")
        val columns = variants.head
        variants.find(_.sorted != columns.sorted).foreach { other =>
          throw new IllegalArgumentException(
            s"$database.$table rows list different columns (${columns.mkString(", ")}) and " +
              s"(${other.mkString(", ")}); pass the CREATE TABLE ddl to align them")
        }
        val aligned = pinned.map { case (cols, vals, tags) =>
          if (cols == columns) (vals, tags)
          else {
            val pos = columns.map(cols.indexOf(_))
            (pos.map(vals), pos.map(tags))
          }
        }
        // Sample-free inference: min/max non-null tag per column over
        // ALL rows, one distributed aggregation (the shuffle carries at
        // most #columns rows after map-side combine). The tag order
        // makes the type decidable from the (lo, hi) bounds alone:
        // all-numeric iff the bounds sit inside [Long, Double], and hi
        // is then the widest numeric seen.
        val bounds: Map[Int, (Int, Int)] = aligned
          .flatMap(_._2.iterator.zipWithIndex
            .collect { case (t, i) if t != TagNull => (i, t) })
          .toDF("i", "tag")
          .groupBy(col("i"))
          .agg(min(col("tag")).as("lo"), max(col("tag")).as("hi"))
          .collect().map(r => r.getInt(0) -> (r.getInt(1), r.getInt(2))).toMap
        val types: Vector[DataType] = columns.indices.map { i =>
          bounds.get(i) match {
            case None => StringType // no non-null value anywhere
            case Some((TagBool, TagBool)) => BooleanType
            case Some((lo, hi)) if lo >= TagLong && hi <= TagDouble => hi match {
              // numeric promotion: Double > Decimal(38,0) > Long
              case TagLong => LongType
              case TagDecimal => DecimalType(38, 0)
              case _ => DoubleType
            }
            case _ => StringType
          }
        }.toVector
        typedProjection(aligned.map(_._1).toDF("vals"), columns, types, sqlQuoted)
    }
  }

  private def typedProjection(
      df: DataFrame,
      columns: Vector[String],
      types: Vector[DataType],
      sqlQuoted: Boolean): DataFrame = {
    val cols = columns.zipWithIndex.map { case (name, i) =>
      val raw = col("vals").getItem(i)
      // strip SQL quoting ONLY from quoted literals — unquoted dump
      // literals must pass verbatim (STRING columns can hold either)
      def unquoted = when(raw.isNull, lit(null))
        .when(raw.startsWith("'") && raw.endsWith("'") && length(raw) >= 2,
          regexp_replace(expr(s"substring(vals[$i], 2, length(vals[$i]) - 2)"), "''", "'"))
        .otherwise(raw)
      val typed = types(i) match {
        case StringType if sqlQuoted => unquoted
        case StringType => raw // COPY values are already raw text
        // non-string columns can ALSO carry quoted literals in a real
        // dump — pg_dump emits 'Infinity'/'-Infinity'/'NaN' for special
        // floats (and PG accepts quoted numerics generally), so the
        // quotes must come off BEFORE the cast; casting the rendered
        // `'Infinity'` token failed ANSI ingestion (caught by the r17
        // live exotic-types e2e)
        case dt if sqlQuoted => unquoted.cast(dt)
        case dt => raw.cast(dt)
      }
      typed.as(name)
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** G4: order-sensitive CRC64-ECMA per (database, table), over each
    * statement's bytes in idx order — reference recomputes
    * `crc64::checksum_ecma` per rewritten Mongo collection
    * (`dump-parser/src/mongodb/mod.rs:213-233`).
    *
    * CRC is sequential per group but rows never need to co-exist in
    * memory: hash-repartition on the group key puts each table's whole
    * stream in one partition, sortWithinPartitions puts it in idx
    * order, and a mapPartitions fold streams statement-by-statement —
    * one running Long per group, O(#tables) state, no `collect_list`
    * buffer (a skewed table would otherwise become one giant
    * aggregation row).
    */
  def collectionCrc64(stmts: Dataset[Statement]): DataFrame = {
    val spark = stmts.sparkSession
    import spark.implicits._
    stmts
      .filter(_.kind == StatementKind.InsertInto)
      .map(s => (s.database, s.table, s.idx, s.sql))
      .toDF("database", "table", "idx", "sql")
      .repartition(col("database"), col("table"))
      .sortWithinPartitions(col("database"), col("table"), col("idx"))
      .as[(String, String, Long, String)]
      .mapPartitions { it =>
        // rows arrive grouped and idx-sorted; emit one row per group
        val done = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        var db: String = null
        var table: String = null
        var crc = 0L
        for ((d, t, _, sql) <- it) {
          if (db != null && (d != db || t != table)) {
            done += ((db, table, crc)); crc = 0L
          }
          db = d; table = t
          crc = graft.store.Crc64.update(crc, (sql + "\n").getBytes("UTF-8"))
        }
        if (db != null) done += ((db, table, crc))
        done.iterator
      }
      .toDF("database", "table", "crc64")
  }

  private val TagNull = 0
  private val TagLong = 1
  private val TagDecimal = 2
  private val TagDouble = 3
  private val TagBool = 4
  private val TagString = 5

  private def typeTag(v: InsertParser.SqlValue): Int = v match {
    case InsertParser.SqlNull => TagNull
    case _: InsertParser.SqlLong => TagLong
    case _: InsertParser.SqlDecimal => TagDecimal
    case _: InsertParser.SqlDouble => TagDouble
    case _: InsertParser.SqlBool => TagBool
    case _ => TagString
  }
}
