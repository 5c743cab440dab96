package graft

import org.apache.spark.sql.SparkSession

import graft.config.GraftConfig
import graft.pipeline.Pipeline
import graft.store.Datastore

/** CLI mirroring the reference's command tree (`replibyte/src/cli.rs:
  * 20-134`, dispatch `main.rs:167-199`):
  *
  *   graft -c conf.yaml dump create [name]
  *   graft -c conf.yaml dump list
  *   graft -c conf.yaml dump delete <name> | --older-than <days> | --keep-last <n>
  *   graft -c conf.yaml dump restore <name|latest>
  *   graft -c conf.yaml source schema
  *   graft -c conf.yaml transformer list
  *
  * Run via `sbt "runMain graft.Cli -c conf.yaml dump create"` or a
  * spark-submit of the assembled jar.
  */
object Cli {

  def main(args: Array[String]): Unit = {
    // X6: local-only, default-off usage telemetry
    sys.env.get("GRAFT_TELEMETRY_FILE").foreach(Telemetry.enable)
    val spark = GraftSession.get()
    try {
      val code = run(args.toSeq, spark, Console.out.println(_: String))
      if (code != 0) sys.exit(code)
    } finally spark.stop()
  }

  /** Testable entry: returns an exit code, prints through `out`.
    * `stdin` backs `dump create -i` and is injectable for tests. The
    * command runs in one [[Pins]] scope: every pin it takes is released
    * when it returns.
    */
  def run(args: Seq[String], spark: SparkSession, out: String => Unit,
          stdin: java.io.InputStream = System.in): Int = Pins.scoped {
    val (confPath, rest) = args match {
      case Seq("-c", p, tail @ _*) => (Some(p), tail)
      case other => (None, other)
    }
    def config: GraftConfig = GraftConfig.load(confPath.getOrElse(
      throw new IllegalArgumentException("missing -c <config.yaml>")))

    Telemetry.capture("cli_command", Map("command" -> rest.take(2).mkString(" ")))
    rest match {
      case Seq("transformer", "list") =>
        // reference `transformer list` (`commands/transformer.rs`)
        graft.transform.Transformers.ids.foreach(out)
        0

      case Seq("corpus", "run", path) =>
        // the LLM-ops surface behind the reference's config-file UX:
        // declare the stage chain in YAML, get a parquet artifact out
        graft.pipeline.CorpusPipeline.run(
          spark, graft.pipeline.CorpusPipeline.load(path), out)
        0

      case Seq("corpus", "run", path, "--into", prior) =>
        // incremental admission: the config's input_dir is a NEW shard,
        // admitted against the prior run's output + its persisted
        // fingerprint/LSH artifacts; survivors append, corpus text is
        // never re-read
        graft.pipeline.CorpusPipeline.runIncremental(
          spark, graft.pipeline.CorpusPipeline.load(path), prior, out)
        0

      case Seq("corpus", "explain", path) =>
        // dry-run plan review: per-stage scan/Exchange counts + the
        // final formatted plan, nothing corpus-sized executed
        graft.pipeline.CorpusPipeline.explain(
          spark, graft.pipeline.CorpusPipeline.load(path), out)
        0

      case Seq("corpus", "stats", path) =>
        // first-look corpus profile: per-language doc counts, token
        // mass, mean quality, exact-dup rate — ONE map-side-combined
        // aggregation pass plus one fingerprint distinct; the numbers
        // an operator reads before choosing a stage chain. `path` is a
        // conf yaml (so input_format/id/text column mappings apply).
        val cp = graft.pipeline.CorpusPipeline.load(path)
        graft.pipeline.CorpusPipeline.stats(spark, cp, out)
        0

      case Seq("corpus", "compact", path, tail @ _*) =>
        // after N incremental admissions the output and every artifact
        // dir carry N file groups — rewrite each to a few right-sized
        // files (duplicates collapsed), admission semantics unchanged.
        // `--into <prior>` names an admission target that differs from
        // the config's output_dir, mirroring run/stream.
        val target = tail match {
          case Seq() => None
          case Seq("--into", p) => Some(p)
          case other => throw new IllegalArgumentException(
            s"unrecognized corpus compact argument(s): ${other.mkString(" ")}")
        }
        graft.pipeline.CorpusPipeline.compact(
          spark, graft.pipeline.CorpusPipeline.load(path), out, targetDir = target)
        0

      case Seq("corpus", "stream", path, tail @ _*) =>
        // watched-JSONL ingest: stateless stages → corpus admission →
        // exactly-once parquet append. Flags compose in ANY order —
        // silently dropping a trailing `--into` would run the wrong
        // (non-admitting) pipeline against the corpus:
        //   --into <prior>            incremental artifact-backed admission
        //   --continuous [interval]   keep ONE query alive across drops
        //                             (default: process backlog, stop)
        var into: Option[String] = None
        var continuous: Option[String] = None
        var rest = tail.toList
        while (rest.nonEmpty) rest = rest match {
          case "--into" :: p :: t => into = Some(p); t
          case "--continuous" :: iv :: t if !iv.startsWith("--") =>
            continuous = Some(iv); t
          case "--continuous" :: t => continuous = Some("10 seconds"); t
          case bad :: _ => throw new IllegalArgumentException(
            s"unrecognized corpus stream argument: $bad")
        }
        val cp = graft.pipeline.CorpusPipeline.load(path)
        def ckpt = cp.checkpoint_dir.map(GraftConfig.substituteEnvVar).getOrElse(
          throw new IllegalArgumentException("corpus stream needs checkpoint_dir"))
        (into, continuous) match {
          case (Some(prior), None) =>
            graft.pipeline.CorpusPipeline.runStreamIncremental(spark, cp, prior, ckpt, out)
          case (Some(prior), Some(interval)) =>
            graft.pipeline.CorpusPipeline.startStreamIncremental(spark, cp, prior, ckpt,
              out, org.apache.spark.sql.streaming.Trigger.ProcessingTime(interval))
              .awaitTermination()
          case (None, None) =>
            graft.pipeline.CorpusPipeline.runStream(spark, cp, ckpt,
              cp.corpus_dir, cp.watermark.getOrElse("6 hours"), out)
          case (None, Some(interval)) =>
            graft.pipeline.CorpusPipeline.startStream(spark, cp, ckpt,
              cp.corpus_dir, cp.watermark.getOrElse("6 hours"), out,
              org.apache.spark.sql.streaming.Trigger.ProcessingTime(interval))
              .awaitTermination()
        }
        0

      case Seq("source", "schema") =>
        // reference `source schema` (`commands/source.rs:10-56`) — live
        // JDBC source when connection_uri is set, parquet dir otherwise
        val c = config
        c.sourceMongo match {
          // live Mongo leg: mongodump the archive and print the
          // INFERRED schemas — the reference's read_and_parse_schema
          // over the same stream (source/mongodb.rs:28-63). The tool's
          // stdout spools to a file (O(copy buffer) on the driver) and
          // executors decode/infer distributedly (r16).
          case Some((uri, db)) =>
            val spool = mongoSpool(uri, db, spark, c.datastore.map(_.rootUri))
            // schemas are inferred EAGERLY inside readDistributed, so
            // once printed the spool has been fully consumed — delete
            // it now (it holds unmasked data)
            try graft.ingest.MongoArchive.readDistributed(spark, spool).toSeq.sortBy(_._1)
              .foreach { case (prefix, df) =>
                out(s"table: $prefix")
                out(df.schema.treeString)
              }
            finally deleteSpool(spool, spark)
            return 0
          case None => ()
        }
        c.sourceJdbc match {
          // live-SQL TOOL leg: pg_dump/mysqldump spools once, the
          // DDL-typed frames come from the same parser the dump-file
          // path uses (the reference's read_and_parse_schema over the
          // identical stream, source/postgres.rs:85-110 /
          // source/mysql.rs:60-98)
          case Some(conn) if sqlToolsMode(spark, conn.url) =>
            val spool = chunkedSqlSpool(spark, c.datastore.map(_.rootUri),
              pgToolsMode(spark, conn.url))(o =>
              if (pgToolsMode(spark, conn.url))
                graft.ingest.PgLive.dumpToStream(pgConn(conn), o,
                  cmd = toolCmd(spark, "pg_dump"))
              else
                graft.ingest.MySqlLive.dumpToStream(mysqlConn(conn), o,
                  cmd = toolCmd(spark, "mysqldump")))
            try graft.ingest.DumpReader.withParsed(
              graft.ingest.DumpReader.statements(spark, spool)) { dump =>
              dump.listing.ddl.keys.toSeq.sorted.foreach { t =>
                out(s"table: ${c.sourceConf.db}.$t")
                out(dump.table(c.sourceConf.db, t).schema.treeString)
              }
            } finally deleteSpool(spool, spark)
          case Some(conn) =>
            val schema = c.sourceConf.jdbcSchema
            val ts = c.sourceConf.tables.getOrElse(
              graft.ingest.Jdbc.tableNames(conn.url, schema, creds = conn.sparkOptions))
            ts.foreach { t =>
              out(s"table: ${c.sourceConf.db}.$t")
              out(graft.ingest.Jdbc.readTable(spark, conn.url,
                schema.fold(t)(sc => s"$sc.$t"), options = conn.sparkOptions)
                .schema.treeString)
            }
          case None =>
            tableNames(c, spark).foreach { t =>
              out(s"table: ${c.sourceConf.db}.$t")
              out(Tables.load(spark, c.tablesDir, t).schema.treeString)
            }
        }
        0

      // reference `dump create -i` (`cli.rs:100-114` dispatch
      // `commands/dump.rs:171-206`): the headline `pg_dump … | graft`
      // flow. stdin is an inherently sequential byte stream (one
      // process, one pipe — same bound the reference has), so it is
      // spooled to a local temp file once, then everything downstream is
      // the identical distributed --file path.
      case Seq("dump", "create", rest1 @ _*) if rest1.contains("-i") =>
        val name = rest1.toList match {
          case List(n, "-i") => n
          case List("-i", n) => n
          case List("-i") => s"dump-${System.currentTimeMillis()}"
          case other =>
            out(s"malformed dump create -i arguments: ${other.mkString(" ")}")
            return 1
        }
        val c = config
        val spooled = spoolStdin(stdin, spark, datastoreUri(c))
        val fs = spooled.getFileSystem(spark.sparkContext.hadoopConfiguration)
        try dumpCreateFromFile(name, spooled.toString, c, spark, out)
        finally fs.delete(spooled, true)

      // reference `dump create -f <dump file>` (`cli.rs:100-114`): the
      // primary flow — ingest a SQL dump file, transform, store. The
      // loader is the dump parser itself (DDL-typed frames), everything
      // downstream is the same pipeline the parquet path uses.
      case Seq("dump", "create", rest1 @ _*) if rest1.contains("--file") =>
        // accepted forms: `dump create <name> --file <path>` and
        // `dump create --file <path>` (auto-named) — anything else with
        // --file is malformed and must not fall through to the parquet
        // branch (which would silently ignore the file)
        val (name, dumpPath) = rest1.toList match {
          case List(n, "--file", p) => (n, p)
          case List("--file", p) => (s"dump-${System.currentTimeMillis()}", p)
          case other =>
            out(s"malformed dump create --file arguments: ${other.mkString(" ")}")
            return 1
        }
        dumpCreateFromFile(name, dumpPath, config, spark, out)

      case Seq("dump", "create", nameArgs @ _*) =>
        val c = config
        val name = nameArgs.headOption.getOrElse(s"dump-${System.currentTimeMillis()}")
        val store = new Datastore(datastoreUri(c), spark)
        // live-database source (S1/S2) when source.connection_uri is
        // set — partitioned JDBC range scans; mongodb:// URIs spawn
        // mongodump (S3 live leg, reference source/mongodb.rs:66-101);
        // parquet tables_dir otherwise
        // the Mongo spool (if any) is read LAZILY by the frames all the
        // way through Pipeline.dump, so its eager delete sits in the
        // finally AFTER the dump write completes
        var spoolPath: Option[String] = None
        val (tables, fkEdges, load) = c.sourceMongo match {
          case Some((uri, db)) =>
            // spooled to a file and decoded on the executors (r16) —
            // the driver never holds a collection; inferred schemas,
            // "db.coll" prefixes → bare table names
            val spool = mongoSpool(uri, db, spark, Some(datastoreUri(c)))
            spoolPath = Some(spool)
            val frames = graft.ingest.MongoArchive
              .readDistributed(spark, spool)
              .map { case (prefix, df) => prefix.split("\\.", 2).last -> df }
            (frames.keys.toSeq.sorted, Nil,
              (t: String) => frames.getOrElse(t,
                throw new IllegalArgumentException(s"collection not in archive: $t")))
          case None => c.sourceJdbc match {
          // live-SQL TOOL leg (reference source/postgres.rs:121-151 /
          // source/mysql.rs:100-163): pg_dump --column-inserts or
          // mysqldump --skip-extended-insert --complete-insert spools
          // once (O(copy buffer) driver memory), then the run IS the
          // distributed --file pipeline — parse → filters/transforms/
          // subset → store. skip/only push down to the tool like the
          // reference's --table=/--ignore-table= args (the downstream
          // filters still enforce them exactly).
          case Some(conn) if sqlToolsMode(spark, conn.url) =>
            val spool = chunkedSqlSpool(spark, Some(datastoreUri(c)),
              pgToolsMode(spark, conn.url))(o =>
              if (pgToolsMode(spark, conn.url))
                graft.ingest.PgLive.dumpToStream(pgConn(conn), o,
                  // schema-qualified patterns, exactly the reference's
                  // --table={db}.{table} (source/postgres.rs:133-137);
                  // the db part of a TableRef IS the pg schema
                  onlyTables = c.filters.onlyTables.map(r => s"${r.database}.${r.table}"),
                  cmd = toolCmd(spark, "pg_dump"))
              else
                graft.ingest.MySqlLive.dumpToStream(mysqlConn(conn), o,
                  skipTables = c.filters.skipTables.map(_.table),
                  onlyTables = c.filters.onlyTables.map(_.table),
                  cmd = toolCmd(spark, "mysqldump")))
            try return dumpCreateFromFile(name, spool, c, spark, out)
            finally deleteSpool(spool, spark)
          case Some(conn) =>
            // scope listing + reads to source.schema — a multi-schema
            // database would otherwise enumerate foreign-schema tables
            // and read whichever one search_path resolves
            val schema = c.sourceConf.jdbcSchema
            val ts = c.sourceConf.tables.getOrElse(
              graft.ingest.Jdbc.tableNames(conn.url, schema, creds = conn.sparkOptions))
            (ts,
              graft.ingest.Jdbc.foreignKeys(conn.url, schema, creds = conn.sparkOptions),
              (t: String) => graft.ingest.Jdbc.readTable(
                spark, conn.url, schema.fold(t)(s => s"$s.$t"), options = conn.sparkOptions))
          case None =>
            (tableNames(c, spark), Nil,
              (t: String) => Tables.load(spark, c.tablesDir, t))
        }}
        // filters/bindings/subset key on (database, table): for a Mongo
        // source the namespace is the URI's database, NOT the SQL-side
        // default ("public") — GraftConfig.defaultDb applies the same
        // namespace to BARE skip/only/transformer/subset entries, so an
        // unqualified `skip_tables: [users]` excludes livedb.users
        // instead of silently matching nothing (ADVICE r15)
        val job = Pipeline.DumpJobConfig(
          tables = tables,
          database = c.defaultDb,
          filters = c.filters,
          bindings = c.bindings,
          subset = c.subsetConfig,
          fkEdges = fkEdges,
          compressed = c.datastore.flatMap(_.compression).getOrElse(true),
          encryptionKey = c.encryptionKey)
        try {
          if (c.sourceMongo.isDefined) {
            // Mongo sources store the TRANSFORMED ARCHIVE itself (the
            // reference's flow, tasks/full_dump.rs + source/mongodb.rs)
            // rather than re-synthesized SQL text: BSON types — dates,
            // Decimal128, BinData, nested documents — survive
            // byte-exactly through the datastore. The frames below are
            // already filtered/masked/subsetted (dumpPlan); writeTables
            // encodes them back to BSON on the executors.
            val plan = Pipeline.dumpPlan(load, job)
            store.writeBlob(name,
              o => { graft.ingest.MongoArchive.writeTables(
                o, c.defaultDb, plan.toSeq.sortBy(_._1)); () },
              format = "mongo-archive",
              compressed = job.compressed,
              encryptionKey = job.encryptionKey)
          } else Pipeline.dump(spark, load, store, name, job)
          out(s"dump created: $name")
        } finally spoolPath.foreach(deleteSpool(_, spark))
        0

      case Seq("dump", "list") =>
        // reference `dump list` sorts most-recent-first (`commands/dump.rs:37-65`)
        val store = new Datastore(datastoreUri(config), spark)
        store.catalogOps.list().foreach { d =>
          out(s"${d.directoryName}\t${d.size}\t${d.createdAt}\t" +
            s"compressed=${d.compressed}\tencrypted=${d.encrypted}\t" +
            s"format=${d.format.getOrElse("sql")}")
        }
        0

      case Seq("dump", "delete", "--older-than", days) =>
        val store = new Datastore(datastoreUri(config), spark)
        val threshold = System.currentTimeMillis() - days.toLong * 24L * 3600 * 1000
        store.catalogOps.deleteOlderThan(threshold).foreach(n => out(s"deleted: $n"))
        0

      case Seq("dump", "delete", "--keep-last", n) =>
        val store = new Datastore(datastoreUri(config), spark)
        store.catalogOps.keepLast(n.toInt).foreach(x => out(s"deleted: $x"))
        0

      case Seq("dump", "delete", name) =>
        val store = new Datastore(datastoreUri(config), spark)
        store.catalogOps.delete(name)
        out(s"deleted: $name")
        0

      // D4 analog: the reference spins up an ephemeral dockerized
      // database, restores into it, and tears it down on Ctrl-C
      // (`destination/docker.rs:1-150`, `commands/dump.rs:233-412`).
      // Containers aren't part of a Spark engine's surface; the same
      // developer loop — "give me a scratch database with this dump
      // loaded" — is served with an embedded Derby instance: created on
      // the spot, loaded over plain JDBC (exercising the D1/D2 sink),
      // gone when the directory is deleted.
      case Seq("dump", "restore", "ephemeral", nameArg) =>
        val c = config
        val store = new Datastore(datastoreUri(c), spark)
        val name =
          if (nameArg == "latest")
            store.catalogOps.latest().map(_.directoryName).getOrElse {
              out("no dumps in catalog"); return 1
            }
          else nameArg
        val dbDir = java.nio.file.Files.createTempDirectory("graft-ephemeral-").resolve("db")
        val url = s"jdbc:derby:$dbDir;create=true"
        withRestoreFrames(c, store, name, spark) { (tables, _) =>
          tables.foreach { case (t, df) =>
            // persist: the table's typing would otherwise run twice —
            // once for the JDBC write, once for the count
            val pinned = Pins.persist(df, s"restore.$t")
            graft.ingest.Jdbc.writeTable(pinned, url, t)
            out(s"restored: $t (${pinned.count()} rows)")
            Pins.release(pinned)
          }
        }
        out(s"ephemeral database ready: $url")
        out(s"teardown: delete $dbDir")
        0

      case Seq("dump", "restore", nameArg) =>
        val c = config
        val store = new Datastore(datastoreUri(c), spark)
        val name =
          if (nameArg == "latest")
            store.catalogOps.latest().map(_.directoryName).getOrElse {
              out("no dumps in catalog"); return 1
            }
          else nameArg
        val dest = c.destination.getOrElse(
          throw new IllegalArgumentException("config requires a destination section"))
        val isArchive = store.catalogOps.byName(name)
          .exists(_.format.contains("mongo-archive"))
        // archive-format dump → LIVE MONGO destination: the stored
        // (already transformed) archive bytes stream STRAIGHT THROUGH
        // decode → mongorestore stdin — byte-exact, no frame decode,
        // the reference's own restore shape (destination/mongodb.rs)
        if (isArchive) c.destinationMongo match {
          case Some((uri, db)) =>
            graft.ingest.MongoLive.restore(uri, db,
              (o: java.io.OutputStream) => store.readBlobTo(name, o, c.encryptionKey),
              wipe = dest.wipe.getOrElse(true),
              cmd = toolCmd(spark, "mongorestore"))
            out(s"restored: $name (archive passthrough)")
            return 0
          case None => ()
        }
        // archive-format dump → any other destination: spool the
        // decoded archive once (same owner-only convention as the live
        // sources) and decode it into typed frames on the executors;
        // statement dumps parse once into a pin. The frames read the
        // spool or the pin, so both live until the destination writes
        // end.
        withRestoreFrames(c, store, name, spark) { (tables, storedDdl) =>
        c.destinationMongo match {
          // live MongoDB restore (D3 live leg) of a STATEMENT dump:
          // frames re-encode to archive bytes piped into mongorestore's
          // stdin (reference destination/mongodb.rs:31-52); encoding
          // runs distributed (MongoArchive.writeTables), the pipe
          // itself is the tool's own bound
          case Some((uri, db)) =>
            // streamed straight into the tool's stdin (never the whole
            // archive on the driver); wipe → --drop, same idempotent-
            // re-run default as the JDBC leg's truncate-overwrite
            graft.ingest.MongoLive.restore(uri, db,
              (o: java.io.OutputStream) => {
                graft.ingest.MongoArchive.writeTables(o, db, tables.toSeq.sortBy(_._1))
                ()
              },
              wipe = dest.wipe.getOrElse(true),
              cmd = toolCmd(spark, "mongorestore"))
            tables.keys.toSeq.sorted.foreach(t => out(s"restored: $t"))
            return 0
          case None => ()
        }
        c.destinationJdbc match {
          // live-Postgres TOOL restore (reference destination/postgres
          // .rs:70-110): SQL text streamed into psql's stdin — the
          // dump's ORIGINAL CREATE TABLE when it was stored (true
          // column types: bytea stays bytea, timestamps stay
          // timestamps — the reference pipes the dump's own DDL the
          // same way), else DDL synthesized from the frame schema;
          // then the data as COPY blocks one partition at a time
          // (toLocalIterator; never the whole dump on the driver).
          // COPY, not per-row INSERTs (r17 verdict #2): it is psql's
          // native bulk path and pg_dump's own default data layout —
          // one statement parse per table instead of one per row.
          // wipe=true is the reference's DROP SCHEMA public CASCADE
          // re-create; false appends (synthesized IF NOT EXISTS only —
          // original DDL would collide with the surviving table).
          // ON_ERROR_STOP makes a failed statement fail the command
          // loudly.
          case Some(conn) if pgToolsMode(spark, conn.url) =>
            val wipePg = dest.wipe.getOrElse(true)
            val qi = graft.ingest.PgLive.quoteIdent _
            // per-table resolution (rules unchanged from the
            // single-pipe leg):
            //  - stored DDL only when its dialect can run under psql
            //    (ADVICE r17: a mysql-sourced dump carries backticked
            //    ENGINE= DDL that dies under ON_ERROR_STOP) — a
            //    confirmed mismatch falls back to synthesized DDL
            //  - the data stream follows the stored DDL's OWN schema
            //    qualifier (ADVICE r17: hardcoding public broke
            //    non-public pg schemas after the public-only wipe);
            //    synthesized DDL targets public
            val resolved = tables.toSeq.sortBy(_._1).map { case (t, df0) =>
              val stored = storedDdl.get(t).filter(_ => wipePg)
                .filter(d => graft.ingest.Ddl.dialect(d).forall(_ == "pg"))
              val ns = stored.flatMap(d => graft.ingest.StatementSplitter
                .tableRefExplicit(d).flatMap(_._1)).getOrElse("public")
              (t, df0, stored, ns)
            }
            // phase A (one pipe): every table's DDL, declared before any
            // data pipe opens
            val ddlWriter = (o: java.io.OutputStream) => {
              val w = new java.io.OutputStreamWriter(o,
                java.nio.charset.StandardCharsets.UTF_8)
              resolved.foreach { case (t, df0, stored, ns) =>
                if (ns != "public")
                  // the wipe only drops public — recreate the foreign
                  // schema and clear the table so re-runs stay
                  // idempotent there too
                  w.write(s"CREATE SCHEMA IF NOT EXISTS ${qi(ns)};\n" +
                    s"DROP TABLE IF EXISTS ${qi(ns)}.${qi(t)};\n")
                w.write(stored.map(_.stripSuffix(";") + ";")
                  .getOrElse(graft.ingest.PgLive.createTableSql(s"public.$t", df0.schema)))
                w.write("\n")
              }
              w.flush()
            }
            // phase B (one pipe PER TABLE, parallel — r19 verdict #5):
            // tables are row-independent and no FK constraint exists
            // yet (this leg replays per-table CREATEs only), so the
            // single psql pipe's throughput — the reference's bound —
            // multiplies by the concurrent pipe count
            val dataWriters = resolved.map { case (t, df0, _, ns) =>
              t -> ((o: java.io.OutputStream) => {
                val w = new java.io.OutputStreamWriter(o,
                  java.nio.charset.StandardCharsets.UTF_8)
                // archive-sourced frames can carry true binary/nested
                // columns: the data stream hex/JSON-encodes them
                // (sqlSafe — identity for statement-dump frames) while
                // the synthesized DDL keeps the ORIGINAL schema, so a
                // binary column declares bytea and the COPY hex text
                // restores as real bytea on the server
                val df = graft.ingest.DumpSink.sqlSafe(df0)
                val it = graft.ingest.DumpSink
                  .toCopyText(df, ns, t, quoted = true).toLocalIterator()
                while (it.hasNext) { w.write(it.next()); w.write("\n") }
                w.flush()
              })
            }
            graft.ingest.PgLive.restoreParallel(pgConn(conn), ddlWriter, dataWriters,
              wipe = wipePg, cmd = toolCmd(spark, "psql"),
              parallelism = restoreParallelism(spark))
            tables.keys.toSeq.sorted.foreach(t => out(s"restored: $t"))

          // live-MySQL TOOL restore (reference destination/mysql.rs:
          // 59-79): SQL text streamed into the mysql client's stdin,
          // same partition-at-a-time bound as the psql leg, as
          // EXTENDED INSERTs (mysqldump's own default data layout —
          // one statement per ~1000 rows instead of per row, r17
          // verdict #2). wipe=true emits DROP TABLE IF EXISTS before
          // each CREATE (the reference gets the same idempotency from
          // mysqldump's --add-drop-table); false appends.
          case Some(conn) if mysqlToolsMode(spark, conn.url) =>
            val mc = mysqlConn(conn)
            val wipe = dest.wipe.getOrElse(true)
            // frame values are LOGICAL strings; the mysql client
            // re-interprets backslash escapes inside literals (unlike
            // psql under standard_conforming_strings), so backslashes
            // and NULs must re-encode on the way out — raw newlines and
            // other control chars are legal inside a literal and pass
            // through the pipe untouched. Non-finite floats become NULL
            // (ADVICE r17): MySQL's DOUBLE has no NaN/Infinity
            // representation, so the quoted-pg rendering fails
            // mid-stream on a real server.
            def mysqlSafe(df: org.apache.spark.sql.DataFrame) = {
              import org.apache.spark.sql.functions.{abs, col, isnan, lit, regexp_replace, when}
              import org.apache.spark.sql.types.{DoubleType, FloatType, StringType}
              df.select(df.schema.fields.map { f =>
                f.dataType match {
                  case StringType =>
                    regexp_replace(
                      regexp_replace(col(f.name), "\\\\", "\\\\\\\\"),
                      "\u0000", "\\\\0").as(f.name)
                  case DoubleType | FloatType =>
                    when(isnan(col(f.name)) ||
                        abs(col(f.name)) === lit(Double.PositiveInfinity),
                      lit(null)).otherwise(col(f.name)).as(f.name)
                  case _ => col(f.name)
                }
              }.toIndexedSeq: _*)
            }
            graft.ingest.MySqlLive.restore(mc, o => {
              val w = new java.io.OutputStreamWriter(o,
                java.nio.charset.StandardCharsets.UTF_8)
              tables.toSeq.sortBy(_._1).foreach { case (t, df0) =>
                // archive-sourced binary/nested columns degrade to hex
                // text / JSON on the mysql leg (documented: mysql has
                // no server to verify a blob-literal path against);
                // the synthesized DDL follows the SAFE schema so the
                // declared and streamed types agree
                val df = graft.ingest.DumpSink.sqlSafe(df0)
                val qi = graft.ingest.MySqlLive.quoteIdent _
                if (wipe) w.write(s"DROP TABLE IF EXISTS ${qi(mc.db)}.${qi(t)};\n")
                // stored source DDL when its dialect can run under the
                // mysql client AND it doesn't qualify a foreign
                // namespace (mysql resolves `public.t` as database
                // `public` — ADVICE r17); else synthesized from the
                // frame schema. mysqldump's own DDL is unqualified, so
                // the r17 type-fidelity path is unaffected.
                val stored = storedDdl.get(t).filter(_ => wipe)
                  .filter(d => graft.ingest.Ddl.dialect(d).forall(_ == "mysql"))
                  .filter(d => graft.ingest.StatementSplitter
                    .tableRefExplicit(d).flatMap(_._1).forall(_ == mc.db))
                w.write(stored.map(_.stripSuffix(";") + ";")
                  .getOrElse(graft.ingest.MySqlLive.createTableSql(s"${mc.db}.$t", df.schema)))
                w.write("\n")
                w.flush()
                val it = graft.ingest.DumpSink
                  .toExtendedInsertStatements(mysqlSafe(df), mc.db, t, quoted = true)
                  .toLocalIterator()
                while (it.hasNext) { w.write(it.next()); w.write("\n") }
                w.flush()
              }
              w.flush()
            }, cmd = toolCmd(spark, "mysql"))
            tables.keys.toSeq.sorted.foreach(t => out(s"restored: $t"))

          // live-database restore (D1/D2) when destination.connection_uri
          // is set — batched JDBC writes, one connection per partition.
          // wipe defaults TRUE (matching the parquet sink's overwrite and
          // the reference's wipe-before-restore, destination/postgres.rs:
          // 100-110) so re-running a restore is idempotent instead of
          // silently doubling every row; truncate-overwrite keeps the
          // existing table DDL. `wipe: false` appends deliberately.
          case Some(conn) =>
            val wipe = dest.wipe.getOrElse(true)
            val mode = if (wipe) org.apache.spark.sql.SaveMode.Overwrite
                       else org.apache.spark.sql.SaveMode.Append
            val opts = conn.sparkOptions ++
              (if (wipe) Map("truncate" -> "true") else Map.empty)
            tables.foreach { case (t, df) =>
              graft.ingest.Jdbc.writeTable(df, conn.url, t, mode = mode, options = opts)
              out(s"restored: $t")
            }
          case None =>
            val outDir = dest.output_dir.map(GraftConfig.substituteEnvVar).getOrElse(
              throw new IllegalArgumentException("destination.output_dir is required"))
            tables.foreach { case (t, df) =>
              dest.format.getOrElse("parquet") match {
                case "parquet" => df.write.mode("overwrite").parquet(s"$outDir/$t")
                case "console" => df.show(20, truncate = false) // D5 stdout sink
                case f => throw new IllegalArgumentException(s"unsupported destination format: $f")
              }
              out(s"restored: $t")
            }
        }
        }
        0

      case other =>
        out(s"unknown command: ${other.mkString(" ")}")
        out("usage: graft -c conf.yaml " +
          "(dump create [name] | dump list | dump delete <name|--older-than d|--keep-last n> | " +
          "dump restore <name|latest> | source schema | transformer list) | " +
          "graft corpus run|stream|compact|explain|stats <conf.yaml> [--into prior] [--continuous [interval]]")
        1
    }
  }

  /** The `dump create --file` / `dump create -i` body: ingest a SQL
    * dump (DDL-typed frames), transform, store — everything downstream
    * of the parse is the same pipeline the parquet path uses
    * (reference `commands/dump.rs:171-232`).
    */
  private def dumpCreateFromFile(name: String, dumpPath: String, c: GraftConfig,
                                 spark: SparkSession, out: String => Unit): Int = {
    val store = new Datastore(datastoreUri(c), spark)
    val db = c.sourceConf.db
    graft.ingest.DumpReader.withParsed(graft.ingest.DumpReader.statements(spark, dumpPath)) { dump =>
      val listing = dump.listing
      // the loaders filter on the config database — a dump whose
      // statements live in another schema would otherwise produce
      // empty tables that LOOK like a successful dump
      val foreignDbs = (listing.insertRefs ++ listing.copyRefs).map(_._1).filter(_ != db)
      val dumpTables = (listing.insertRefs ++ listing.copyRefs).map(_._2).toSeq.sorted
      if (foreignDbs.nonEmpty) {
        out(s"dump file uses database(s) ${foreignDbs.mkString(", ")} but config " +
          s"source.database is '$db' — set source.database to match")
        1
      } else if (dumpTables.isEmpty) {
        out(s"no INSERT or COPY data found in $dumpPath — nothing to dump")
        1
      } else {
        val job = Pipeline.DumpJobConfig(
          tables = dumpTables,
          database = db,
          filters = c.filters,
          bindings = c.bindings,
          subset = c.subsetConfig,
          fkEdges = listing.fkEdges,
          compressed = c.datastore.flatMap(_.compression).getOrElse(true),
          encryptionKey = c.encryptionKey,
          // the dump's own CREATE TABLE statements travel with the data
          // so a live restore recreates the source's true column types
          ddl = listing.ddl)
        Pipeline.dump(spark, dump.table(db, _), store, name, job)
        out(s"dump created from file: $name (${dumpTables.size} tables)")
        0
      }
    }
  }

  /** Spool a dump piped on stdin into the datastore's filesystem
    * (reference `source/postgres_stdin.rs:24-43` reads the pipe into its
    * parser the same way — a pipe has no random access, so one
    * sequential copy is the floor). The spool target is the datastore
    * FS, NOT java.io.tmpdir: executors must be able to open the path,
    * and on a multi-node cluster a driver-local temp file exists on the
    * driver only. 1 MiB chunked copy; never holds the stream in memory;
    * a failed copy deletes its partial file instead of orphaning it.
    */
  private[graft] def spoolStdin(in: java.io.InputStream, spark: SparkSession,
                                rootUri: String): org.apache.hadoop.fs.Path = {
    val dir = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(rootUri, ".spool"),
      s"graft-stdin-${java.util.UUID.randomUUID()}")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var ok = false
    try {
      // chunk parts at statement boundaries so the downstream parse is
      // one task per part (same seam as the live tool legs); the
      // dialect is detected from the piped dump's own header, since a
      // pipe doesn't say which tool wrote it. Part streams close inside
      // ChunkedSpool.write — on object stores the close completes the
      // upload, so a close failure is a failed copy and lands here.
      graft.ingest.ChunkedSpool.write(hadoopPartWriter(fs, dir),
        pg = None, chunkBytes = spoolChunkBytes(spark)) { o =>
        val buf = new Array[Byte](1 << 20)
        var n = in.read(buf)
        while (n >= 0) {
          o.write(buf, 0, n)
          n = in.read(buf)
        }
      }
      ok = true
    } finally {
      if (!ok) fs.delete(dir, true) // partial UNMASKED spool
    }
    dir
  }

  /** Run `body` over a restore's frames and stored DDL, by stored
    * format: statement dumps parse once into a pin
    * ([[Pipeline.restore]]); `mongo-archive` dumps spool the decoded
    * archive once (owner-only, same convention as the live sources)
    * and decode into TYPED frames on the executors. The frames read
    * the pin or the spool lazily, so both are released only when
    * `body` ends.
    */
  private def withRestoreFrames[A](c: GraftConfig, store: Datastore, name: String,
                                   spark: SparkSession)(
      body: (Map[String, org.apache.spark.sql.DataFrame], Map[String, String]) => A): A =
    if (store.catalogOps.byName(name).exists(_.format.contains("mongo-archive"))) {
      val spool = liveSpool(spark, c.datastore.map(_.rootUri),
        "archive-restore", ".archive")(o =>
        store.readBlobTo(name, o, c.encryptionKey))
      try body(graft.ingest.MongoArchive.readDistributed(spark, spool)
        .map { case (prefix, df) => prefix.split("\\.", 2).last -> df }, Map.empty)
      finally deleteSpool(spool, spark)
    } else Pipeline.restore(store, name, c.encryptionKey)(body)

  /** Tool invocation for the live Mongo legs: `spark.graft.<tool>Cmd`
    * overrides the binary (space-split — tests point it at stub
    * scripts, deployments at non-PATH installs); default is the bare
    * tool name resolved from PATH, like the reference.
    */
  private def toolCmd(spark: SparkSession, tool: String): Seq[String] =
    spark.conf.getOption(s"spark.graft.${tool}Cmd")
      .map(_.split("\\s+").toSeq).getOrElse(Seq(tool))

  /** mongodump the live database to a spool file and return its path —
    * the frames built over it read LAZILY, so callers must
    * [[deleteSpool]] only AFTER the last action that reads them
    * (eager delete, not deleteOnExit: the spool is the UNMASKED
    * pre-transform dump and must not linger for the JVM's lifetime,
    * ADVICE r16). O(copy buffer) driver memory; decode happens on the
    * executors (MongoArchive.readDistributed), so the spool must land
    * where THEY can open it: on a local master that's a 0600 temp file
    * (created by nio with owner-only perms, written through a
    * truncate-in-place FileOutputStream that preserves them); on a
    * real cluster a driver-local path would be a silent per-task
    * FileNotFoundException, so the spool goes under the datastore root
    * (a Hadoop-FS URI executors already reach, same convention as
    * [[spoolStdin]]) or, with no datastore configured, fails fast.
    */
  private def mongoSpool(uri: String, db: String, spark: SparkSession,
                         storeRoot: Option[String]): String =
    liveSpool(spark, storeRoot, "mongodump", ".archive")(o =>
      graft.ingest.MongoLive.dumpToStream(uri, db, o, toolCmd(spark, "mongodump")))

  /** Spool a live SQL-tool dump (pg_dump / mysqldump stdout) as a
    * DIRECTORY of statement-boundary chunk parts
    * ([[graft.ingest.ChunkedSpool]]) instead of one file: a single-file
    * spool parses as ONE whole-file task, so a large dump would funnel
    * the entire parse through one executor thread — chunk parts parse
    * one task per part (the r18 verdict's dump-create throughput seam).
    * Placement + permissions follow [[liveSpool]]: owner-only temp dir
    * on a local master, the datastore's `.spool` dir on a cluster.
    * `spark.graft.spoolChunkMb` overrides the 100 MB default (tests).
    */
  private def chunkedSqlSpool(spark: SparkSession, storeRoot: Option[String],
                              pg: Boolean)(
                              writeTo: java.io.OutputStream => Unit): String = {
    val chunkBytes = spoolChunkBytes(spark)
    if (spark.sparkContext.isLocal) {
      val dir = java.nio.file.Files.createTempDirectory("graft-sqldump-")
      var ok = false
      try {
        graft.ingest.ChunkedSpool.write(i => {
          val p = dir.resolve(f"part-$i%05d.sql")
          java.nio.file.Files.createFile(p,
            java.nio.file.attribute.PosixFilePermissions.asFileAttribute(
              java.nio.file.attribute.PosixFilePermissions.fromString("rw-------")))
          new java.io.FileOutputStream(p.toFile)
        }, Some(pg), chunkBytes)(writeTo)
        ok = true
        dir.toString
      } finally if (!ok) deleteSpool(dir.toString, spark) // partial UNMASKED spool
    } else storeRoot match {
      case Some(root) =>
        val dir = new org.apache.hadoop.fs.Path(
          new org.apache.hadoop.fs.Path(root, ".spool"),
          s"graft-sqldump-${java.util.UUID.randomUUID()}")
        val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        var ok = false
        try {
          graft.ingest.ChunkedSpool.write(hadoopPartWriter(fs, dir),
            Some(pg), chunkBytes)(writeTo)
          ok = true
          dir.toString
        } finally if (!ok) fs.delete(dir, true)
      case None =>
        throw new IllegalStateException(
          "live sqldump source on a non-local master needs a datastore to spool " +
          "under: executors cannot open a driver-local temp file")
    }
  }

  /** Spool a live-tool dump stream to a file executors can read, with
    * owner-only permissions on both paths (the spool is UNMASKED
    * pre-transform data): a 0600 nio temp file on a local master
    * (truncate-in-place write preserves the perms), the datastore's
    * `.spool` dir (mode 600 via Hadoop-FS create) on a real cluster —
    * where a driver-local temp path would be a silent per-task
    * FileNotFoundException — or fail fast with no datastore to reach.
    */
  private def liveSpool(spark: SparkSession, storeRoot: Option[String],
                        tag: String, suffix: String)(
                        writeTo: java.io.OutputStream => Unit): String =
    if (spark.sparkContext.isLocal) {
      val spool = java.nio.file.Files.createTempFile(s"graft-$tag-", suffix)
      val fos = new java.io.FileOutputStream(spool.toFile)
      var ok = false
      try { writeTo(fos); ok = true }
      finally {
        fos.close()
        // a failed tool run must not orphan a partial (unmasked) spool
        if (!ok) java.nio.file.Files.deleteIfExists(spool)
      }
      spool.toString
    } else storeRoot match {
      case Some(root) =>
        val p = new org.apache.hadoop.fs.Path(
          new org.apache.hadoop.fs.Path(root, ".spool"),
          s"graft-$tag-${java.util.UUID.randomUUID()}$suffix")
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val os = org.apache.hadoop.fs.FileSystem.create(fs, p,
          new org.apache.hadoop.fs.permission.FsPermission("600"))
        var ok = false
        try { writeTo(os); ok = true }
        finally {
          try os.close() catch { case _: Throwable if !ok => () } // keep the root cause
          if (!ok) fs.delete(p, false)
        }
        p.toString
      case None =>
        throw new IllegalStateException(
          s"live $tag source on a non-local master needs a datastore to spool " +
          "under: executors cannot open a driver-local temp file")
    }

  /** True when a postgres connection should go through the NATIVE
    * client tools (pg_dump source / psql destination — the reference's
    * own mechanism, source/postgres.rs + destination/postgres.rs)
    * instead of the engine's default partitioned-JDBC path:
    * `spark.graft.pgMode=tools` forces it, `=jdbc` forbids it, and
    * unset falls back to tools exactly when no postgresql JDBC driver
    * is registered on the classpath — the engine stays usable on
    * installations that have the ubiquitous client binaries but no
    * driver jar.
    */
  private def toolsMode(spark: SparkSession, url: String,
                        scheme: String, confKey: String): Boolean =
    url.startsWith(scheme) && (
      spark.conf.getOption(confKey) match {
        case Some("tools") => true
        case Some("jdbc") => false
        // a typo ('tool', 'auto') must not silently force the JDBC
        // path — on a driver-less install that fails later with an
        // unrelated driver error instead of naming the bad conf
        // (ADVICE r17)
        case Some(other) => throw new IllegalArgumentException(
          s"$confKey must be 'tools' or 'jdbc' (or unset for auto), got '$other'")
        case None =>
          try { java.sql.DriverManager.getDriver(url); false }
          catch { case _: java.sql.SQLException => true }
      })

  private def pgToolsMode(spark: SparkSession, url: String): Boolean =
    toolsMode(spark, url, "jdbc:postgresql:", "spark.graft.pgMode")

  private def mysqlToolsMode(spark: SparkSession, url: String): Boolean =
    toolsMode(spark, url, "jdbc:mysql:", "spark.graft.mysqlMode")

  private def sqlToolsMode(spark: SparkSession, url: String): Boolean =
    pgToolsMode(spark, url) || mysqlToolsMode(spark, url)

  private def pgConn(conn: graft.config.JdbcConnection): graft.ingest.PgLive.Conn =
    graft.ingest.PgLive.Conn.fromJdbcUrl(conn.url, conn.user, conn.password)

  private def mysqlConn(conn: graft.config.JdbcConnection): graft.ingest.MySqlLive.Conn =
    graft.ingest.MySqlLive.Conn.fromJdbcUrl(conn.url, conn.user, conn.password)

  /** `spark.graft.spoolChunkMb` override of the 100 MB chunked-spool
    * part size (tests set it small) — one parse for the three spool
    * writers. Clamped to Int.MaxValue and required positive (ADVICE
    * r19): 2048+ MB used to overflow to a negative Int, which made
    * `ChunkedSpool.rollIfDue` fire on every byte — full-buffer rescans
    * and one part per statement instead of 100 MB parts.
    */
  private[graft] def spoolChunkBytes(spark: SparkSession): Int =
    spark.conf.getOption("spark.graft.spoolChunkMb")
      .map { m =>
        val bytes = math.min(m.toDouble * 1024 * 1024, Int.MaxValue.toDouble).toInt
        require(bytes > 0, s"spark.graft.spoolChunkMb must be > 0, got: $m")
        bytes
      }
      .getOrElse(graft.ingest.ChunkedSpool.DefaultChunkBytes)

  /** `spark.graft.restoreParallelism` — concurrent per-table psql data
    * pipes in the tool restore leg (r19 verdict #5). Default 4: the
    * pipes contend on the destination server's write path, not on
    * Spark, so a small constant captures most of the multiple before
    * the server saturates; 1 restores the single-pipe shape.
    */
  private[graft] def restoreParallelism(spark: SparkSession): Int = {
    val n = spark.conf.getOption("spark.graft.restoreParallelism")
      .map(_.toInt).getOrElse(4)
    require(n > 0, s"spark.graft.restoreParallelism must be > 0, got: $n")
    n
  }

  /** Part-file opener for Hadoop-FS chunked spools: owner-only
    * `part-%05d.sql` under `dir`.
    */
  private def hadoopPartWriter(fs: org.apache.hadoop.fs.FileSystem,
                               dir: org.apache.hadoop.fs.Path): Int => java.io.OutputStream =
    i => org.apache.hadoop.fs.FileSystem.create(fs,
      new org.apache.hadoop.fs.Path(dir, f"part-$i%05d.sql"),
      new org.apache.hadoop.fs.permission.FsPermission("600"))

  /** Best-effort eager removal of a live-leg spool file. A failed
    * delete must not fail the (already complete) command, but it must
    * be LOUD: the spool holds unmasked pre-transform data, and the
    * eager-delete rationale on [[liveSpool]] is void if the file
    * silently lingers (ADVICE r17).
    */
  private def deleteSpool(path: String, spark: SparkSession): Unit =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      // recursive: a chunked SQL spool is a directory of parts
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      ()
    } catch {
      case e: Throwable => Console.err.println(
        s"WARNING: failed to delete spool $path — it holds UNMASKED " +
          s"pre-transform data; remove it manually (${e.getClass.getSimpleName}: ${e.getMessage})")
    }

  private def datastoreUri(c: GraftConfig): String =
    c.datastore.map(_.rootUri).getOrElse(
      throw new IllegalArgumentException("config requires a datastore section"))

  private def tableNames(c: GraftConfig, spark: SparkSession): Seq[String] =
    c.sourceConf.tables.getOrElse {
      // driver-side *name* listing via the Hadoop FS API, so tables_dir
      // may be local, s3a://, or gs:// alike
      val p = new org.apache.hadoop.fs.Path(c.tablesDir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).map(_.getPath.getName).toSeq
        .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).sorted
    }
}
